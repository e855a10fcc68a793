"""Physical-plan regression tests: the scale properties the operators
claim (pushdown, pruning, bounded shuffle counts, broadcast placement)
are asserted on the optimized plans, not just prose in docstrings.

These use sf0.001 parquet so scans are real parquet scans (pushdown /
pruning only exist at a file source)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import crawler_apple_podcast_spark.queries as catalog

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return catalog.queries()


def test_filter_and_projection_reach_parquet(spark, qs):
    p = _plan(qs["p1_filter_project"](spark, SF))
    assert "PushedFilters: [EqualTo(event_type,click)" in p
    # column pruning: the events scan must not read the wide props/ts
    scan = p[p.index("FileScan") :]
    schema = scan.split("ReadSchema")[1][:400]
    assert "props" not in schema and "ts" not in schema


def test_tpch_q3_broadcasts_the_dim_side(spark, qs):
    p = _plan(qs["tpch_q3_top_orders"](spark, SF))
    assert "BroadcastHashJoin" in p
    # the big fact join must not be a cartesian / nested loop
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_boilerplate_strip_shuffle_budget(spark, qs):
    # line-df agg + host counts + flag join + doc reassembly: the plan
    # must stay a bounded handful of exchanges, none of them global
    # single-partition.
    p = _plan(qs["text_boilerplate_strip"](spark, SF))
    assert p.count("Exchange") <= 6
    assert "SinglePartition" not in p


def test_budget_apportion_never_globally_windows_the_host_table(spark, qs):
    # the ONLY single-partition exchange allowed is over the tiny
    # bucket-count frame (<= n_buckets rows), never the scored table:
    # assert the host-table aggregate (partial_sum over scores) does
    # not sit under a SinglePartition exchange.
    from crawler_apple_podcast_spark.operators.budget import apportion_budget

    scores = (
        spark.range(10_000)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
            (F.pmod("id", F.lit(97)) + 1).cast("long").alias("score"),
        )
    )
    p = _plan(apportion_budget(scores, 1_000_000))
    single = [
        seg for seg in p.split("Exchange") if seg.startswith(" SinglePartition")
    ]
    # window over bucket counts is fine; ranking rows must ride
    # hashpartitioning(_bkt)
    assert "hashpartitioning(_bkt" in p
    for seg in single:
        assert "xxhash" not in seg  # no full-table single-partition pass


def test_trap_detect_single_aggregate_shuffle(spark, qs):
    p = _plan(qs["crawl_trap_detect"](spark, SF))
    # expand-based multi-distinct: aggregates shuffle on (host,
    # template) only; no join, no window
    assert "Window" not in p and "SortMergeJoin" not in p


def test_revisit_schedule_reuses_window_partitioning(spark, qs):
    p = _plan(qs["crawl_revisit_schedule"](spark, SF))
    assert p.count("Exchange") == 1


def test_minhash_probe_touches_corpus_via_semi_join(spark):
    import crawler_apple_podcast_spark.operators.similarity as S

    d = spark.read.parquet(f"{SF}/documents.parquet")
    old = d.where(F.pmod("doc_id", F.lit(10)) != 0)
    new = d.where(F.pmod("doc_id", F.lit(10)) == 0)
    idx = S.lsh_band_buckets(
        S.minhash_signatures_from_hashes(
            S.shingle_hashes(old, "doc_id", "text", 3), 36
        ),
        12,
        3,
    )
    pairs, _ = S.minhash_probe_new(new, idx, d, "doc_id", "text", 3, 500)
    p = _plan(pairs)
    assert "LeftSemi" in p  # old corpus text read only for candidates


def test_classifier_broadcasts_weights_one_doc_shuffle(spark, qs):
    # weight table rides a broadcast join; the only corpus-wide
    # exchanges are the doc-keyed aggregation (+AQE coalesce reads);
    # never a sort-merge join against the model.
    p = _plan(qs["quality_classifier_score"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "SinglePartition" not in p


def test_importance_weight_join_is_broadcast(spark, qs):
    p = _plan(qs["corpus_importance_scores"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_nfc_normalize_is_a_narrow_map(spark):
    # the normalizer must add ZERO exchanges: it scales exactly like
    # the scan (ArrowEvalPython over the parquet read, nothing else).
    from crawler_apple_podcast_spark.operators import unicode_norm as UN

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(UN.normalize_nfc(d, "text"))
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p


def test_semantic_dedup_joins_on_cell_never_cartesian(spark, qs):
    # SemDeDup's pair stage must be an equi-join on the cluster cell,
    # never an all-pairs product over the corpus.
    p = _plan(qs["dedup_semantic"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_containment_shares_shingle_equijoin(spark, qs):
    # candidate generation is the shingle equi-join (same machinery as
    # Jaccard); directed expansion adds no extra join of the corpus.
    p = _plan(qs["dedup_containment"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_drift_histogram_aggregates_before_joining(spark, qs):
    # both snapshots reduce to bounded bucket tables BEFORE any join;
    # the totals ride 1-row broadcast nested loops (allowed), but the
    # corpus itself is only ever under HashAggregate.
    p = _plan(qs["corpus_drift_histogram"](spark, SF))
    assert "CartesianProduct" not in p
    # partial aggregation happens at the scan side (map-side combine)
    assert p.count("HashAggregate") >= 4


def test_chunk_windows_zero_exchange_from_parquet(spark, qs):
    p = _plan(qs["text_chunk_windows"](spark, SF))
    assert "Exchange" not in p


def test_content_history_single_url_exchange(spark, qs):
    p = _plan(qs["crawl_content_history"](spark, SF))
    assert p.count("Exchange") == 1
    assert "SinglePartition" not in p


def test_compaction_plan_single_part_exchange(spark, qs):
    p = _plan(qs["maint_compaction_plan"](spark, SF))
    assert p.count("Exchange") == 1
    assert "SinglePartition" not in p


def test_sniff_and_feed_parse_are_narrow_maps(spark, qs):
    # byte sniffing and xpath feed parsing must stay zero-exchange
    # projections all the way from the parquet scan
    for name in ("content_sniff_route", "rss_feed_items"):
        p = _plan(qs[name](spark, SF))
        assert "Exchange" not in p, name
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_redirect_resolution_round_count_is_logarithmic(spark, job_group):
    # the pointer-doubling claim: ceil(log2(max_hops)) composition
    # rounds (+1 base mapping), NOT one join per hop.  Each round is one
    # local checkpoint, so every round adds the same number of jobs:
    # 32 hops take 5 rounds more than 1 hop (reach 1,2,4,8,16 -> 32).
    from crawler_apple_podcast_spark.operators.redirects import resolve_redirects

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(40)], "src_url STRING, dst_url STRING"
    )
    jobs = {}
    for max_hops in (1, 2, 32):
        with job_group(f"redirect-rounds-{max_hops}") as n:
            out = resolve_redirects(edges, max_hops=max_hops)
            jobs[max_hops] = n()
    per_round = jobs[2] - jobs[1]
    assert per_round > 0, jobs
    assert jobs[32] - jobs[1] == 5 * per_round, jobs
    p = _plan(out)
    assert "CartesianProduct" not in p and "SinglePartition" not in p


def test_inverted_index_window_and_group_share_term_exchange(spark, qs):
    # The df cutoff must reach the posting branch as a BROADCAST join
    # (stopword rows die before any term-keyed shuffle), and the
    # row_number cap + final groupBy(term) must share ONE term-only
    # exchange.  Budget: 2x (doc_id,term) distinct (deliberate diamond,
    # see operators/index.py) + 1 term exchange + broadcasts + the
    # scalar doc-count = 6.
    p = _plan(qs["text_inverted_index"](spark, SF))
    assert p.count("Exchange") <= 6
    assert "HashedRelationBroadcastMode" in p
    import re
    term_only = [
        m for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "doc_id" not in m.group(1)
    ]
    assert len(term_only) == 1, term_only
    assert "Window" in p and "collect_list" in p


def test_canonical_edges_codegen_live_single_html_scan(spark):
    # Regression for the janino 64KB fallback (VERDICT r4 #1): with
    # expression-heavy url/html inputs (as the catalog query feeds),
    # the html regex scan must stay behind the Generate fence — never
    # re-inlined into pushed-down filters — and the whole plan must
    # COMPILE: fallback=false turns any silent interpreted fallback
    # into a hard error.
    from crawler_apple_podcast_spark.operators.canonical import canonical_edges

    d = spark.range(2000)
    i = F.col("id")
    url = F.concat(
        F.lit("https://h"), F.pmod(i, F.lit(7)).cast("string"),
        F.lit(".ex/p/"), i.cast("string"),
    )
    href = F.when(
        F.pmod(i, F.lit(3)) == 1, F.concat(F.lit("/p/"), (i + 1).cast("string"))
    ).when(F.pmod(i, F.lit(6)) == 0, url)
    html = F.when(href.isNull(), F.lit("<html><body>none</body></html>")).otherwise(
        F.concat(F.lit('<link rel="canonical" href="'), href, F.lit('">body'))
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    edges = canonical_edges(pages)
    old = spark.conf.get("spark.sql.codegen.fallback")
    try:
        spark.conf.set("spark.sql.codegen.fallback", "false")
        n = edges.count()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert n > 0
    p = edges._jdf.queryExecution().executedPlan().toString()
    # the Generate fence survived optimization
    assert "Generate explode" in p
    # the html tag scan is not fanned out across filter branches: the
    # rel-attribute regex appears a bounded number of times (the one
    # generator expression; nullif/coalesce may print a couple of
    # textual copies), nowhere near the dozens the inline form emits
    assert p.count("canonical\\b") <= 4


def test_incremental_cc_committed_table_never_shuffles(spark, tmp_path, monkeypatch):
    """The committed label table must STREAM through the incremental
    fold — inner join against the broadcast wave verts, broadcast
    mapping relabel — never shuffle.  A broadcast hint on the LEFT of
    a left outer join is silently dropped (BroadcastHashJoin cannot
    build the outer side) and the plan degrades to a sort-merge join
    shuffling the whole corpus-sized table: the regression this test
    exists to catch.  Auto-broadcast is disabled so only explicit
    hints can win, and every localCheckpoint materialization is spied
    (the found-stage plan never appears in the final plan)."""
    import pyspark.sql.dataframe as D
    from pyspark.sql import functions as F

    from crawler_apple_podcast_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    old_edges = spark.range(2000).where(F.pmod("id", F.lit(4)) != 3).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    path = str(tmp_path / "cc_committed")
    connected_components(old_edges).write.mode("overwrite").parquet(path)
    committed = spark.read.parquet(path)
    new_edges = spark.range(2000, 2100).select(
        F.col("id").alias("doc_a"), (F.col("id") - 1000).alias("doc_b")
    )

    captured = []
    orig = D.DataFrame.localCheckpoint

    def spy(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager)

    monkeypatch.setattr(D.DataFrame, "localCheckpoint", spy)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = connected_components_incremental(committed, new_edges)
        final = out._jdf.queryExecution().executedPlan().toString()
        out.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

    # every plan that reads the committed parquet — the found-stage
    # checkpoint and the final relabel union — must be broadcast-only
    touching = [p for p in captured + [final] if "FileScan parquet" in p]
    assert touching, "committed scan not found in any captured plan"
    for p in touching:
        assert "SortMergeJoin" not in p, p
        assert "Exchange hashpartitioning" not in p, p
        assert "BroadcastHashJoin" in p, p


@pytest.mark.parametrize("wave_seconds", [3600, 20])
def test_wave_loop_jobs_per_wave(spark, corpus, tmp_path, job_group, wave_seconds):
    """Each wave ranks its frontier once (one local checkpoint split into
    scheduled and deferred) and reads its commit back with the recorded
    schemas, so a wave stays near 22 Spark jobs; ranking lazily per use
    and inferring each read-back's schema cost 46-50.  ``wave_seconds``
    20 makes waves defer."""
    from crawler_apple_podcast_spark.plans.snapshots import SnapshotStore
    from crawler_apple_podcast_spark.plans.wave_loop import WaveConfig, run_crawl

    pages, seeds = corpus
    store = SnapshotStore(spark, str(tmp_path / "snap"))
    with job_group(f"crawl-{wave_seconds}") as jobs:
        out = run_crawl(spark, pages, seeds, WaveConfig(wave_seconds=wave_seconds), store=store)
        n = jobs()
    assert out.n_waves > 0
    assert n <= 30 * out.n_waves, (n, out.n_waves)


@pytest.mark.parametrize(
    "name",
    [
        "u3_cuckoo_gated_dedupe",
        "e2_seed_discovery",
        "dedup_minhash_lsh",
        "dedup_minhash_incremental",
        "dedup_simhash",
        "mm_ahash_near_pairs",
        "dedup_semantic",
        "crawl_redirect_resolve",
        "crawl_canonical_alias",
    ],
)
def test_catalog_entry_leaves_no_persisted_frame(spark, qs, persisted_frames, name):
    """Operators local-checkpoint what they materialize, so collecting a
    catalog entry leaves no persisted frame behind and nobody has to
    release one."""
    before = persisted_frames()
    qs[name](spark, SF).collect()
    assert persisted_frames() == before
