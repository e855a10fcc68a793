"""URL-seen dedupe parity vs the sequential reference semantics
(google_api.py:68-95), incl. the empty-uid-matches-empty-uid quirk."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators.dedupe import (
    sequential_or_dedupe,
    skip_if_exists,
    two_key_or_anti_join,
)
from crawler_apple_podcast_spark.oracle import save_urls_to_db
from crawler_apple_podcast_spark.serde import parse_user_id_from_show_url

SHOW = "https://podcasts.apple.com/us/podcast"


def _url(i: int, show_id: str) -> str:
    slug = hashlib.md5(str(i).encode()).hexdigest()[:6]
    return f"{SHOW}/{slug}/id{show_id}"


def _run_engine(spark, seen_rows, candidates):
    seen = spark.createDataFrame(
        seen_rows or [("", "")], "url STRING, uid STRING"
    )
    if not seen_rows:
        seen = seen.limit(0)
    cand = spark.createDataFrame(
        [(i, u, parse_user_id_from_show_url(u)) for i, u in enumerate(candidates)],
        "ord BIGINT, url STRING, uid STRING",
    )
    out = sequential_or_dedupe(cand, seen).orderBy("ord").collect()
    return [(r.url, r.uid) for r in out]


def test_sequential_or_dedupe_matches_oracle_basic(spark):
    seen = [(_url(100, "555"), "555")]
    cands = [
        _url(1, "111"),            # new -> insert
        _url(1, "111"),            # exact url dup -> skip
        _url(2, "111"),            # same uid, new url -> skip
        _url(3, "555"),            # uid in seen -> skip
        _url(100, "555"),          # url in seen -> skip
        _url(4, "222") + "x",      # bad uid -> "" -> insert (first empty)
        _url(5, "333") + "y",      # bad uid -> "" -> SKIP (empty matches empty)
        _url(6, "444"),            # new -> insert
    ]
    assert _run_engine(spark, seen, cands) == save_urls_to_db(seen, cands)


def test_transitive_chain(spark):
    """A(urlX,uid7) kept; B(urlY,uid7) skipped by uid; C(urlY,uid8) KEPT
    because B never inserted — the case a naive window dedupe gets wrong.

    (B and C share a url string but different uid is impossible for real
    show urls, so emulate with uid-parse failures: C's url equals B's
    but C is checked after B was skipped.)
    """
    a = f"{SHOW}/aaa/id777"
    b = f"{SHOW}/bbb/id777"   # uid dup of A -> skipped
    c = f"{SHOW}/bbb/id778"   # fresh url+uid sharing B's slug -> kept
    cands = [a, b, c]
    assert _run_engine(spark, [], cands) == save_urls_to_db([], cands)
    assert len(_run_engine(spark, [], cands)) == 2


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9), st.booleans()),
        min_size=0,
        max_size=25,
    ),
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=5),
)
def test_sequential_or_dedupe_property(spark, cand_spec, seen_spec):
    """Random collision-heavy batches: engine == oracle, always."""
    seen = [(_url(s, str(500 + t)), str(500 + t)) for s, t in seen_spec]
    cands = [
        _url(s, str(500 + t)) + ("x" if bad else "") for s, t, bad in cand_spec
    ]
    assert _run_engine(spark, seen, cands) == save_urls_to_db(seen, cands)


def _sim_pairs(seen, cands):
    """Reference scan over explicit (url, uid) pairs."""
    urls = {u for u, _ in seen}
    uids = {d for _, d in seen}
    keep = []
    for i, (u, d) in enumerate(cands):
        if u in urls or d in uids:
            continue
        keep.append(i)
        urls.add(u)
        uids.add(d)
    return keep


def _run_pairs(spark, seen, cands):
    seen_df = spark.createDataFrame(seen or [("", "")], "url STRING, uid STRING")
    if not seen:
        seen_df = seen_df.limit(0)
    cand_df = spark.createDataFrame(
        [(i, u, d) for i, (u, d) in enumerate(cands)], "ord BIGINT, url STRING, uid STRING"
    )
    return sorted(r.ord for r in sequential_or_dedupe(cand_df, seen_df).collect())


def test_empty_uid_cross_url_cascade(spark):
    """The paths the analytic empty-uid handling adds: an empty-uid
    candidate url-blocked by an earlier non-empty survivor, the next
    empty row becoming the single survivor, its url killing a later
    non-empty row, and that kill freeing a uid for a yet-later row."""
    cands = [
        ("U1", "7"),   # kept
        ("U1", ""),    # url-blocked by row 0 -> dead
        ("U2", ""),    # first valid empty -> kept (e*)
        ("U3", ""),    # dead ('' matches e*)
        ("U2", "9"),   # killed by e*'s url
        ("U4", "9"),   # uid 9 freed by row 4's death -> kept
    ]
    assert _run_pairs(spark, [], cands) == _sim_pairs([], cands) == [0, 2, 5]


def test_empty_uid_seen_blocks_all(spark):
    """'' present in the seen table kills every empty-uid candidate."""
    cands = [("U1", ""), ("U2", ""), ("U3", "5")]
    seen = [("X", "")]
    assert _run_pairs(spark, seen, cands) == _sim_pairs(seen, cands) == [2]


def test_giant_empty_component_at_scale(spark):
    """10^5 rows, 90% empty uid: completes via the analytic path (the
    empty rows never enter a sequential scan task) and matches the
    reference scan exactly."""
    n = 100_000
    rows = []
    for i in range(n):
        if i % 10 == 0:
            rows.append((f"https://h/{i}", str(1000 + (i % 3000))))  # uid collisions
        else:
            rows.append((f"https://h/e{i % 70000}", ""))  # some url dups too
    want = _sim_pairs([], rows)
    got = _run_pairs(spark, [], rows)
    assert got == want
    n_empty_kept = sum(1 for i in got if rows[i][1] == "")
    assert n_empty_kept == 1


def test_null_keys_survive_as_singletons(spark):
    """NULL url/uid matches nothing (the reference's SQL `=` probe never
    matches NULL): such rows must survive unless blocked via their
    non-null key, and two NULL-uid rows never block each other."""
    cand = spark.createDataFrame(
        [
            (0, "U1", "7"),
            (1, "U2", None),   # NULL uid, fresh url -> kept
            (2, "U2", "8"),    # url-blocked by row 1 -> dead
            (3, None, "9"),    # NULL url, fresh uid -> kept
            (4, "U3", None),   # second NULL uid: NULL != NULL -> kept
            (5, None, "9"),    # NULL url, uid-blocked by row 3 -> dead
        ],
        "ord BIGINT, url STRING, uid STRING",
    )
    seen = spark.createDataFrame([], "url STRING, uid STRING")
    out = sorted(r.ord for r in sequential_or_dedupe(cand, seen).collect())
    assert out == [0, 1, 3, 4]


def test_dedupe_cache_release(spark, persisted_frames):
    """sequential_or_dedupe releases its internal caches and
    local-checkpoints its survivors, so a call leaves no persisted
    frame behind and the caller has nothing to release."""
    before = persisted_frames()
    cand = spark.createDataFrame(
        [(0, "U1", "1"), (1, "U1", "2"), (2, "U2", "2")],
        "ord BIGINT, url STRING, uid STRING",
    )
    seen = spark.createDataFrame([], "url STRING, uid STRING")
    out = sequential_or_dedupe(cand, seen)
    assert out.count() == 2
    assert persisted_frames() == before


def test_two_key_or_anti_join_set_semantics(spark):
    cand = spark.createDataFrame(
        [(1, "u1", "a"), (2, "u2", "b"), (3, "u3", "c")], "ord INT, url STRING, uid STRING"
    )
    seen = spark.createDataFrame([("u1", "z"), ("zz", "c")], "url STRING, uid STRING")
    out = sorted(r.ord for r in two_key_or_anti_join(cand, seen).collect())
    assert out == [2]


def test_skip_if_exists(spark):
    new = spark.createDataFrame([("a",), ("b",)], "id STRING")
    ledger = spark.createDataFrame([("a",)], "id STRING")
    assert [r.id for r in skip_if_exists(new, ledger).collect()] == ["b"]
