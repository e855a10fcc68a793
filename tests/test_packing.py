"""Sequence packing vs a sequential Python referee.

The referee is the obvious single-threaded concat-and-chunk loop; the
operator is a two-phase distributed prefix sum.  Agreement across
arbitrary token-count multisets and bucket counts is the proof that
bucketing never perturbs the global order.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.packing import (
    chunk_documents,
    chunk_fill_stats,
    global_token_starts,
    pack_training_chunks,
)


def ref_pack(toks_by_id: dict[int, int], budget: int) -> set[tuple[int, int, int, int]]:
    """(doc_id, chunk_id, doc_off, seg_len) via the sequential loop."""
    out, pos = set(), 0
    for doc_id in sorted(toks_by_id):
        t = toks_by_id[doc_id]
        if t <= 0:
            continue
        off = 0
        while off < t:
            chunk = (pos + off) // budget
            take = min(t - off, (chunk + 1) * budget - (pos + off))
            out.add((doc_id, chunk, off, take))
            off += take
        pos += t
    return out


def _df(spark, toks_by_id):
    return spark.createDataFrame(
        [(k, v) for k, v in toks_by_id.items()], "doc_id long, toks long"
    )


def test_fixed_small(spark):
    toks = {0: 3, 1: 5, 2: 4, 3: 10, 7: 1}
    got = {
        tuple(r)
        for r in pack_training_chunks(_df(spark, toks), "toks", budget=4).collect()
    }
    assert got == ref_pack(toks, 4)


def test_zero_token_docs_dropped(spark):
    toks = {0: 0, 1: 5, 2: 0, 3: 3}
    got = {
        tuple(r)
        for r in pack_training_chunks(_df(spark, toks), "toks", budget=8).collect()
    }
    assert got == ref_pack(toks, 8)
    assert all(r[0] in (1, 3) for r in got)


def test_chunk_fill_exact_except_last(spark):
    toks = {i: 7 for i in range(40)}  # 280 tokens, budget 32 -> 8 full + tail
    chunks = pack_training_chunks(_df(spark, toks), "toks", budget=32)
    fills = {r.chunk_id: r.fill for r in chunk_fill_stats(chunks).collect()}
    last = max(fills)
    assert all(f == 32 for c, f in fills.items() if c != last)
    assert fills[last] == 280 - 32 * last


def test_starts_are_exclusive_prefix_sums(spark):
    toks = {i: (i * 13) % 9 + 1 for i in range(50)}
    got = {
        r.doc_id: r._start
        for r in global_token_starts(
            _df(spark, toks), "toks", n_buckets=5
        ).collect()
    }
    acc = 0
    for i in sorted(toks):
        assert got[i] == acc
        acc += toks[i]


@settings(max_examples=20, deadline=None)
@given(
    toks=st.dictionaries(
        st.integers(min_value=-50, max_value=10_000),
        st.integers(min_value=0, max_value=40),
        min_size=1,
        max_size=30,
    ),
    budget=st.integers(min_value=1, max_value=17),
    n_buckets=st.integers(min_value=1, max_value=9),
)
def test_matches_referee_any_buckets(spark, toks, budget, n_buckets):
    got = {
        tuple(r)
        for r in pack_training_chunks(
            _df(spark, toks), "toks", budget=budget, n_buckets=n_buckets
        ).collect()
    }
    assert got == ref_pack(toks, budget)


def test_segments_reassemble_docs(spark):
    toks = {i: (i * 7) % 23 + 1 for i in range(60)}
    segs = pack_training_chunks(_df(spark, toks), "toks", budget=16)
    per_doc = (
        segs.groupBy("doc_id")
        .agg(
            F.sum("seg_len").alias("tot"),
            F.min("doc_off").alias("first_off"),
            (F.max(F.col("doc_off") + F.col("seg_len"))).alias("end"),
        )
        .collect()
    )
    for r in per_doc:
        assert r.first_off == 0 and r.tot == toks[r.doc_id] == r.end


# ------------------------------------------- sliding-window chunking


def _ref_chunks(tokens, max_len, stride):
    out = []
    for s in range(0, len(tokens), stride):
        win = tokens[s : s + max_len]
        out.append((s // stride, len(win), " ".join(win)))
    return out


def _tok_df(spark, docs):
    return spark.createDataFrame(
        [(i, list(tk)) for i, tk in docs.items()],
        "doc_id LONG, tokens ARRAY<STRING>",
    )


@given(
    docs=st.dictionaries(
        st.integers(0, 30),
        st.lists(st.sampled_from(["a", "bb", "ccc", "dddd"]), max_size=25),
        min_size=1,
        max_size=8,
    ),
    max_len=st.integers(1, 9),
    overlap=st.integers(0, 8),
)
@settings(max_examples=12, deadline=None)
def test_chunk_documents_matches_referee(spark, docs, max_len, overlap):
    stride = max(1, max_len - overlap)
    got = {}
    rows = chunk_documents(_tok_df(spark, docs), max_len, stride).collect()
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens, r.chunk_text))
    for d in got.values():
        d.sort()
    want = {
        i: _ref_chunks(tk, max_len, stride) for i, tk in docs.items() if tk
    }
    assert got == want


def test_chunk_documents_disjoint_default_and_empty_docs(spark):
    df = _tok_df(spark, {0: [str(i) for i in range(10)], 1: []})
    rows = chunk_documents(df, max_len=4).collect()
    assert {r.doc_id for r in rows} == {0}  # empty doc emits nothing
    texts = [r.chunk_text for r in sorted(rows, key=lambda r: r.chunk_idx)]
    # default stride == max_len: disjoint cover, short tail
    assert texts == ["0 1 2 3", "4 5 6 7", "8 9"]
    assert [r.n_tokens for r in sorted(rows, key=lambda r: r.chunk_idx)] == [4, 4, 2]


def test_chunk_documents_zero_shuffle_plan(spark):
    df = _tok_df(spark, {0: ["a", "b", "c"]})
    p = (
        chunk_documents(df, 2, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p


# ------------------------------------------------- budget_select


def _scored(spark, n=300):
    # deterministic skewed quality/token table: quality collides a lot
    # (mod 7) so the (quality desc, id asc) tiebreak actually matters
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(7)) * 100).cast("long").alias("quality_milli"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40)) + 1).cast("long").alias("n_tokens"),
    )


def _budget_referee(rows, budget):
    order = sorted(rows, key=lambda r: (-r.quality_milli, r.doc_id))
    out, cum = [], 0
    for r in order:
        if cum + r.n_tokens > budget:
            break
        cum += r.n_tokens
        out.append((r.doc_id, cum))
    return out


def test_budget_select_matches_greedy_referee(spark):
    from crawler_apple_podcast_spark.operators.packing import budget_select

    df = _scored(spark)
    rows = df.collect()
    for budget in (1, 137, 2000, 10**9):
        got = sorted(
            (r.doc_id, r.cum_tokens)
            for r in budget_select(df, "n_tokens", budget, "quality_milli").collect()
        )
        assert got == sorted(_budget_referee(rows, budget)), budget


def test_budget_select_is_exact_prefix(spark):
    """Everything kept outranks everything dropped under the global
    (quality desc, id asc) order, and the budget is never exceeded."""
    from crawler_apple_podcast_spark.operators.packing import budget_select

    df = _scored(spark)
    budget = 1500
    kept = budget_select(df, "n_tokens", budget, "quality_milli").collect()
    kept_ids = {r.doc_id for r in kept}
    assert sum(r.n_tokens for r in kept) <= budget
    order = sorted(df.collect(), key=lambda r: (-r.quality_milli, r.doc_id))
    seen_drop = False
    for r in order:
        if r.doc_id in kept_ids:
            assert not seen_drop  # a kept doc after a dropped one = not a prefix
        else:
            seen_drop = True


def test_budget_select_guard_refuses_bad_quality(spark):
    """The order-key fold assumes integer per-mille quality: fractional
    per-UNIT quality (0.9) long-truncates to 0 and would silently
    collapse the order to pure id — the guard must refuse it, along
    with NULL quality and out-of-range values, each with a ValueError
    (never a TypeError from comparing None)."""
    import pytest

    from crawler_apple_podcast_spark.operators.packing import budget_select

    def run(rows, schema="doc_id LONG, n_tokens LONG, q DOUBLE"):
        df = spark.createDataFrame(rows, schema)
        return budget_select(df, "n_tokens", 100, "q").collect()

    with pytest.raises(ValueError, match="fractional"):
        run([(1, 10, 0.9), (2, 10, 0.5)])
    with pytest.raises(ValueError, match="NULL"):
        run([(1, 10, None), (2, 10, 500.0)])
    with pytest.raises(ValueError, match="per-mille"):
        run([(1, 10, 1001.0), (2, 10, 500.0)])
    with pytest.raises(ValueError, match="non-negative"):
        run([(-1, 10, 500.0)])
    # in-range integral doubles are fine
    assert {r.doc_id for r in run([(1, 10, 900.0), (2, 10, 100.0)])} == {1, 2}


def test_budget_select_refuses_null_ids(spark):
    """A NULL id would NULL the packed order key and the bucket join
    would silently drop the row from the selection — refuse instead,
    including when EVERY id is NULL (which must not masquerade as
    empty input)."""
    import pytest

    from crawler_apple_podcast_spark.operators.packing import budget_select

    df = spark.createDataFrame(
        [(None, 10, 900.0), (2, 10, 500.0)],
        "doc_id LONG, n_tokens LONG, q DOUBLE",
    )
    with pytest.raises(ValueError, match="non-NULL integer"):
        budget_select(df, "n_tokens", 100, "q").collect()
    all_null = spark.createDataFrame(
        [(None, 10, 900.0)], "doc_id LONG, n_tokens LONG, q DOUBLE"
    )
    with pytest.raises(ValueError, match="non-NULL integer"):
        budget_select(all_null, "n_tokens", 100, "q").collect()


def test_budget_select_refuses_order_key_overflow(spark):
    """The fold ``(1000 - quality) * (max id + 1) + id`` must fit a
    long: a max id that overflows it is refused, while the same ids at
    quality 1000 (whose keys are the ids themselves) still select."""
    import pytest

    from crawler_apple_podcast_spark.operators.packing import budget_select

    schema = "doc_id LONG, n_tokens LONG, q LONG"
    big = spark.createDataFrame([(0, 10, 500), (1 << 62, 10, 500)], schema)
    with pytest.raises(ValueError, match="overflows"):
        budget_select(big, "n_tokens", 100, "q").collect()
    top = spark.createDataFrame([(0, 10, 1000), (1 << 62, 10, 1000)], schema)
    got = sorted((r.doc_id, r.cum_tokens) for r in budget_select(top, "n_tokens", 100, "q").collect())
    assert got == [(0, 10), (1 << 62, 20)]


def test_budget_select_refuses_fractional_id_above_2_pow_53(spark):
    """A fractional decimal id above 2^53 casts to an integral double,
    so an integrality check through double lets it pass, and the long
    cast then collides it with its integer neighbour."""
    from decimal import Decimal

    import pytest

    from crawler_apple_podcast_spark.operators.packing import budget_select

    df = spark.createDataFrame(
        [(Decimal("9007199254740993.5"), 10, 500.0), (Decimal("9007199254740993"), 10, 500.0)],
        "doc_id DECIMAL(20,1), n_tokens LONG, q DOUBLE",
    )
    with pytest.raises(ValueError, match="integral"):
        budget_select(df, "n_tokens", 100, "q").collect()
