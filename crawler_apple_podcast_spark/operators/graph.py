"""Connected components over near-duplicate pair graphs.

Pairwise near-dup output (doc_a, doc_b) under-specifies dedup policy:
chains a~b~c need a CANONICAL representative per component (keep the
min doc_id, drop the rest), which is graph connectivity, not a join.
This is the standard last stage of a web-scale dedup pipeline (the
reference crawler never needs it — its dedupe is exact-URL point
lookups, ``/root/reference/handler/google_api.py:76-81`` — but any
corpus-level near-dup dedup does).

Spark shape: iterative min-label propagation — labels start as the
vertex id; each round every vertex takes the min of its own label and
its neighbors' labels; stop at fixpoint.  Per round: one shuffle join
(edges x labels) + one groupBy-min — the textbook Pregel step
expressed as DataFrame ops.  Rounds = graph diameter.  Near-dup
components are short chains/cliques (diameter a handful), so the loop
runs 2-4 rounds; a pathological high-diameter graph would want
large-star/small-star (alternating pointer-doubling) which halves
diameter per round — noted, not needed for this workload.  Lineage is
truncated per round with ``localCheckpoint`` (the loop would otherwise
stack an unbounded plan).

The fixpoint check (`changed == 0`) reads an ``Observation`` on the
frame each round checkpoints, so a round is one checkpoint and no
separate count — driver-bounded control flow over distributed data,
the same pattern as the crawl wave loop (``plans/wave_loop.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# Label-propagation rounds before ``connected_components`` stops; a
# round per unit of graph diameter.
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """(id, component) for every vertex appearing in ``edges``;
    ``component`` = min vertex id reachable (deterministic canonical
    representative).  Undirected: edges are symmetrized here."""
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(MAX_ROUNDS):
        nb = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("label").alias("nb_label"))
        )
        # The round's changed-label count rides on its checkpoint job.
        obs = Observation()
        labels = (
            labels.join(nb, labels["id"] == nb["id2"], "left")
            .observe(obs, F.sum((F.col("nb_label") < F.col("label")).cast("long")).alias("changed"))
            # least skips a NULL nb_label (a vertex with no in-edges)
            .select("id", F.least("label", "nb_label").alias("label"))
            .localCheckpoint()
        )
        if not obs.get["changed"]:  # NULL for a round over no rows
            break
    return labels.select(F.col("id"), F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
    damping_permille: int = 850,
) -> DataFrame:
    """Integer-arithmetic PageRank over a directed host/link graph:
    ``(node, rank_scaled)`` after ``iterations`` power-iteration steps.

    Host-level PageRank is the canonical crawl-frontier prioritizer
    (what the reference's fixed seed list never needed, and what a
    web-scale frontier ranks by).  All arithmetic is scaled-integer —
    scores live in units of ``1/scale``, every division is floor
    division — so sums are associative and the result is bit-equal
    across engines and partitionings (float PageRank would hash-diverge
    on reduction order).  Update rule per iteration::

        new(v) = (  (1000-d) * (scale div n)
                  + d * ( sum_{u->v} score(u) div outdeg(u)
                         + dangling_total div n ) ) div 1000

    where dangling_total is the summed score of nodes with no
    out-edges (their mass is spread uniformly, the standard fix).

    Spark shape per iteration: one join (edges x scores, both keyed on
    the src node — co-partitioned across iterations since the key never
    changes), one groupBy-sum on dst (map-side combinable), and a
    broadcast of the single-row dangling aggregate — no driver-side
    collect in the loop.  ``localCheckpoint`` truncates the otherwise
    unbounded iterative lineage.  At 10^8 hosts this is the textbook
    Pregel-on-DataFrames plan; node count ``n`` is one scalar action up
    front (driver-bounded, like the wave loop's control flow).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    base = scale // n
    outdeg = e.groupBy("src").agg(F.count("*").alias("_od"))
    d = damping_permille
    scores = nodes.select("node", F.lit(base).cast("long").alias("sc"))
    for _ in range(iterations):
        per_src = scores.join(outdeg, scores["node"] == outdeg["src"], "left")
        contrib = (
            per_src.where(F.col("_od").isNotNull())
            .join(e, "src")
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum(F.expr("sc div _od")).alias("inc"))
        )
        dangling = per_src.where(F.col("_od").isNull()).agg(
            F.coalesce(F.sum("sc"), F.lit(0)).cast("long").alias("dang")
        )
        scores = (
            nodes.join(contrib, nodes["node"] == contrib["node2"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1000 - d) * base).cast("long")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("inc"), F.lit(0)).cast("long")
                        + F.expr(f"dang div {n}")
                    )
                ).alias("_numer"),
            )
            .select("node", F.expr("_numer div 1000").alias("sc"))
            .localCheckpoint()
        )
    return scores.select("node", F.col("sc").alias("rank_scaled"))


def connected_components_incremental(
    committed: DataFrame,
    new_edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "id",
    comp_col: str = "component",
    broadcast_delta: bool = True,
) -> DataFrame:
    """Fold a NEW wave's near-dup edges into COMMITTED component
    labels without rescanning any old pair: the steady-state crawl
    twin of ``connected_components``, completing the incremental
    family (T37 MinHash index probe, T81 window-hash index probe).

    Correctness rests on the star equivalence: a committed component
    {ids labeled L} is connectivity-equivalent to a star around L
    (L is itself a member — the component min), so the union graph
    (old edges + new edges) has exactly the components of (committed
    stars + new edges).  The algorithm therefore:

    1. resolves each new-edge endpoint to its committed label (its own
       id if never seen) — the committed table STREAMS through one
       INNER join against the broadcast wave vertex set, so it is
       scanned but never shuffled.  (The join must be inner-with-
       broadcast-right: a broadcast hint on the LEFT side of a left
       outer join is silently dropped — BroadcastHashJoin cannot
       build the outer side — and the plan degrades to a sort-merge
       join that shuffles the whole committed table.  Never-seen
       vertices are recovered as ``verts`` minus the inner-join hits,
       a wave-sized anti join, instead of outer-join NULLs);
    2. projects new edges into LABEL space and drops same-label edges
       (intra-component confirmations — the dominant case in a crawl
       re-encountering known mirrors — cost nothing);
    3. runs ``connected_components`` on the label graph, whose size is
       bounded by touched components + new docs, NOT the corpus;
    4. relabels: committed rows pass through a broadcast join with the
       (old label -> final label) mapping — touched components move,
       everything else is untouched — and brand-new vertices resolve
       through the same mapping.

    Equality with batch CC over the edge union is exact, including
    cross-wave merges (one new edge fusing two old components) and a
    new doc id undercutting an old component min (the whole component
    relabels to it).  pytest asserts it; the bench leg measures that
    waves never reread old pairs.  ``committed`` must be a complete
    label table (every old vertex exactly once, ``comp_col`` = min
    reachable id).  ``broadcast_delta=False`` switches the two delta
    joins to shuffle joins for waves too large to broadcast — at that
    point batch relabeling is usually the better plan anyway."""
    bcast = F.broadcast if broadcast_delta else (lambda df: df)
    # NULL endpoints carry no connectivity information but would
    # otherwise leak through the anti join (NULL never matches) as an
    # (id=NULL, component=NULL) row corrupting the label table for
    # every later wave — drop them at the door, like the NULL-key
    # routing in operators/bloom.py.  Same for a NULL committed id.
    e = new_edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    committed = committed.where(F.col(id_col).isNotNull())
    verts = (
        e.select(F.col("src").alias("vid"))
        .union(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    com = committed.select(
        F.col(id_col).alias("vid"), F.col(comp_col).alias("_c")
    )
    # committed streams (build side = broadcast wave verts); zero
    # Exchange on the committed side — plan-shape-pinned in
    # tests/test_plan_shapes.py
    found = (
        com.join(bcast(verts), "vid", "inner")
        # the coalesce heals a contract-violating NULL component to the
        # vertex's own id (the old outer-join form tolerated this;
        # without it a NULL label nulls the src!=dst edge filter and
        # silently DROPS every wave edge touching that vertex)
        .select("vid", F.coalesce(F.col("_c"), F.col("vid")).alias("lbl"))
        .localCheckpoint()
    )
    fresh = (
        verts.join(bcast(found.select("vid")), "vid", "left_anti")
        .select("vid", F.col("vid").alias("lbl"))
        .localCheckpoint()
    )
    lab = found.unionByName(fresh)
    la = lab.select(F.col("vid").alias("src"), F.col("lbl").alias("_la"))
    lb = lab.select(F.col("vid").alias("dst"), F.col("lbl").alias("_lb"))
    lbl_edges = (
        e.join(bcast(la), "src")
        .join(bcast(lb), "dst")
        .select(F.col("_la").alias("src_lbl"), F.col("_lb").alias("dst_lbl"))
        .where(F.col("src_lbl") != F.col("dst_lbl"))
        .distinct()
    )
    merged = connected_components(lbl_edges, "src_lbl", "dst_lbl")
    mapping = merged.select(
        F.col("id").alias("_from"), F.col("component").alias("_to")
    ).localCheckpoint()
    # same NULL-component heal as `found`: a NULL label would both
    # miss the mapping join and survive into the output
    healed = F.coalesce(F.col(comp_col), F.col(id_col))
    updated_committed = (
        committed.join(bcast(mapping), healed == F.col("_from"), "left")
        .select(
            F.col(id_col).alias(id_col),
            F.coalesce(F.col("_to"), healed).alias(comp_col),
        )
    )
    new_verts = (
        # fresh already IS verts-not-in-committed — derived from the
        # inner-join hits, so no anti join ever touches the committed
        # table
        fresh.join(bcast(mapping), F.col("lbl") == F.col("_from"), "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce(F.col("_to"), F.col("lbl")).alias(comp_col),
        )
    )
    return updated_committed.unionByName(new_verts)


def dedup_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Canonical-representative dedup over near-dup pairs: every doc in
    a non-trivial component mapped to its component id (= min doc_id in
    the component).  Docs in no pair are implicitly their own
    representative and are not emitted."""
    return connected_components(pairs, src_col, dst_col).select(
        F.col("id").alias("doc_id"), "component"
    )


def anchor_text_agg(
    links: DataFrame,
    page_col: str = "page_url",
    target_col: str = "target_url",
    anchor_col: str = "anchor",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` anchor texts per link target:
    ``(target_url, anchor, n_pages, rk)``.

    Anchor text is the classic off-page relevance/quality signal (it
    describes the TARGET, written by the linker); a corpus engine
    aggregates it per target URL for ranking, title recovery, and
    spam triage.  A page voting twice for the same (target, anchor)
    counts once — ``distinct`` over (page, target, anchor) BEFORE the
    count, so the heavy shuffle carries deduplicated triples; the
    per-target top-k window is partitioned by target (distributed),
    never global.  Tie-break: count desc, anchor asc.
    """
    triples = links.select(page_col, target_col, anchor_col).distinct()
    counts = triples.groupBy(target_col, anchor_col).agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    w = Window.partitionBy(target_col).orderBy(
        F.desc("n_pages"), F.asc(anchor_col)
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(target_col, anchor_col, "n_pages", "rk")
    )


def select_component_representatives(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-priority canonical selection: for each near-dup
    component, keep the member with the HIGHEST score (tie -> smallest
    id), not the smallest id.  Min-id selection (``dedup_components``)
    is arbitrary; when members differ (truncated mirrors, boilerplate
    variants), a corpus wants the best copy.

    ``components`` is ``dedup_components`` output; ``scores`` supplies
    ``(id_col, score_col)`` for AT LEAST the component members (inner
    join — at scale this is the near-dup fraction, not the corpus).
    Returns ``(doc_id, component, keep)``: one ``keep=true`` row per
    component via ``max_by`` (tie-broken by negated id inside the max
    struct — deterministic, no window over skewed components).
    """
    j = components.join(
        scores.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("_s")),
        "doc_id",
    )
    best = j.groupBy("component").agg(
        F.max(F.struct(F.col("_s"), (-F.col("doc_id")).alias("_nid"))).alias("_b")
    )
    return (
        j.join(best, "component")
        .select(
            "doc_id",
            "component",
            (
                (F.col("_s") == F.col("_b._s"))
                & (F.col("doc_id") == -F.col("_b._nid"))
            ).alias("keep"),
        )
    )
