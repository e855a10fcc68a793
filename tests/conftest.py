from __future__ import annotations

from contextlib import contextmanager

import pytest

from crawler_apple_podcast_spark.datagen import CorpusParams, generate_corpus
from crawler_apple_podcast_spark.datagen.corpus import to_spark
from crawler_apple_podcast_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdfs():
    return generate_corpus(CorpusParams(n_shows=8, max_pages_per_show=5))


@pytest.fixture(scope="session")
def corpus(spark, corpus_pdfs):
    pages_pdf, seeds_pdf = corpus_pdfs
    pages, seeds = to_spark(spark, pages_pdf, seeds_pdf)
    pages.cache().count()
    return pages, seeds


@pytest.fixture
def persisted_frames(spark):
    """``persisted_frames()`` counts the RDDs behind persisted
    DataFrames (Spark names them after their plan).  Unnamed ones, such
    as local checkpoints, are dropped by the context cleaner once
    nothing references them, so they are left out."""
    jsc = spark.sparkContext._jsc
    return lambda: sum(rdd.name() is not None for rdd in jsc.getPersistentRDDs().values())


class _GroupCounts:
    """What the jobs of one Spark job group ran, read from the status
    tracker: ``jobs()`` counts the jobs started so far, ``tasks()`` the
    tasks their stages completed.  A stage that several jobs list (a
    shuffle an earlier job wrote) is counted once."""

    def __init__(self, sc, name):
        self._tracker = sc.statusTracker()
        self._name = name

    def jobs(self) -> int:
        return len(self._tracker.getJobIdsForGroup(self._name))

    def tasks(self) -> int:
        stages = {
            sid
            for jid in self._tracker.getJobIdsForGroup(self._name)
            if (job := self._tracker.getJobInfo(jid)) is not None
            for sid in job.stageIds
        }
        return sum(
            st.numCompletedTasks
            for sid in stages
            if (st := self._tracker.getStageInfo(sid)) is not None
        )


@pytest.fixture
def job_group(spark):
    """``with job_group(name) as g:`` runs the block under the Spark
    job group ``name``; ``g.jobs()`` and ``g.tasks()`` count what it
    has run so far."""
    sc = spark.sparkContext

    @contextmanager
    def group(name):
        sc.setJobGroup(name, name)
        try:
            yield _GroupCounts(sc, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return group
