"""Redirect resolution (operators/redirects.py): referee parity on
random functional graphs, cap/cycle semantics, determinism of the
functional-graph collapse, and that no persisted frame outlives a call."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.redirects import resolve_redirects


def _referee(edges, max_hops):
    """Follow one hop at a time (what requests/curl do, with
    --max-redirs): resolved iff a terminal is reached within the cap."""
    nxt = {}
    for s, d in edges:
        nxt[s] = min(nxt.get(s, d), d)
    out = {}
    for s in nxt:
        cur, hops = s, 0
        while cur in nxt and hops < max_hops:
            cur, hops = nxt[cur], hops + 1
        if cur not in nxt and hops <= max_hops:
            out[s] = (cur, hops, "resolved")
        else:
            out[s] = (None, None, "truncated")
    return out


def _run(spark, edges, max_hops):
    df = spark.createDataFrame(edges, "src_url STRING, dst_url STRING")
    return {
        r.src_url: (r.final_url, r.hops, r.status)
        for r in resolve_redirects(df, max_hops=max_hops).collect()
    }


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 6),
)
def test_matches_referee_on_random_graphs(spark, pairs, max_hops):
    edges = [(f"u{a}", f"u{b}") for a, b in pairs]
    assert _run(spark, edges, max_hops) == _referee(edges, max_hops)


def test_chain_cycle_and_cap(spark):
    edges = (
        # 3-chain a0->a1->a2->a3 (terminal)
        [("a0", "a1"), ("a1", "a2"), ("a2", "a3")]
        # 2-cycle b0<->b1
        + [("b0", "b1"), ("b1", "b0")]
        # self-loop
        + [("c0", "c0")]
    )
    got = _run(spark, edges, max_hops=2)
    assert got["a1"] == ("a3", 2, "resolved")
    assert got["a2"] == ("a3", 1, "resolved")
    # 3 hops needed but cap is 2
    assert got["a0"] == (None, None, "truncated")
    for loopy in ("b0", "b1", "c0"):
        assert got[loopy] == (None, None, "truncated")


def test_duplicate_observations_collapse_to_min(spark):
    # same src seen with two Locations across fetch logs -> min(dst)
    got = _run(spark, [("s", "z2"), ("s", "z1")], max_hops=4)
    assert got["s"] == ("z1", 1, "resolved")


def test_module_cache_drains(spark, persisted_frames):
    """Every round is local-checkpointed, so resolving leaves no
    persisted frame for the caller to release."""
    df = spark.createDataFrame([("x", "y")], "src_url STRING, dst_url STRING")
    before = persisted_frames()
    resolve_redirects(df, max_hops=8).count()
    assert persisted_frames() == before
