"""The ``politeness_gate`` defect that ``wave-crawl`` is sized to avoid.

``politeness_gate`` orders a host's rows by ``(priority, xxhash64(url),
url)`` and ignores its ``key_cols``, so rows with equal fetch URLs tie.
``scheduled`` and ``deferred`` are two lazy plans over the same ranking.
When the budget cut falls inside such a tie, the two evaluations may
order the tie differently; one row then lands in both outputs and
another in neither.  Every corpus chain ends on the same bare-base URL,
so any crawl whose waves defer can hit such a tie.  ``wave-crawl``
therefore has fewer chains than the smallest per-wave budget, and no
wave defers.

The test is a strict expected failure.  Once the gate breaks ties by its
key columns, the test passes and so fails the suite; ``wave-crawl`` can
then be given deferring budgets again.
"""

from __future__ import annotations

import pytest

from crawler_apple_podcast_spark.operators.politeness import politeness_gate

HOST = "amp-api.podcasts.apple.com"


@pytest.mark.xfail(strict=True, reason="politeness_gate orders tied fetch URLs "
                   "differently in scheduled and deferred")
def test_gate_partitions_tied_rows(sess):
    spark = sess.spark
    bare = f"https://{HOST}?l=en-US&offset=10"
    rows = [(i, bare, 1) for i in range(40)]
    rows += [(100 + i, f"https://{HOST}/p{i}?l=en-US&offset=10", 1) for i in range(20)]
    frontier = spark.createDataFrame(
        rows, "seed_index INT, fetch_url STRING, priority INT"
    ).repartition(4).localCheckpoint()
    budgets = spark.createDataFrame([(HOST, 25)], "host STRING, budget INT")
    want = sorted(r[0] for r in rows)
    # One evaluation pair breaks the tie differently about half the time.
    for _ in range(10):
        scheduled, deferred = politeness_gate(
            frontier, budgets, key_cols=["seed_index", "fetch_url"]
        )
        got = [r.seed_index for r in scheduled.collect() + deferred.collect()]
        assert sorted(got) == want
