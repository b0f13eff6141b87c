from __future__ import annotations

import itertools
from contextlib import contextmanager

import pytest

from tf_idf_vectorizer_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


_job_groups = itertools.count()


@contextmanager
def spark_jobs(spark):
    """Run the block under a job group of its own and yield a list that,
    on exit, holds the ids of the Spark jobs the block launched from
    this thread.  The status store is fed asynchronously, so the
    listener bus is drained before the group's jobs are read."""
    sc = spark.sparkContext
    saved = {
        k: sc.getLocalProperty(k)
        for k in ("spark.jobGroup.id", "spark.job.description")
    }
    group = f"test-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def persisted_rdds(spark) -> int:
    """How many RDDs the session holds persisted: a cached relation
    counts once it has been materialized."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def force_wand_chunks(idx):
    """Force one-salt WAND chunks on ``idx`` (``META_COLLECT_MAX = 0``)
    and return a list that collects the ``salts`` argument of every
    block-metadata read the planner makes (None: every salt)."""
    idx.META_COLLECT_MAX = 0
    salts = []
    fetch = idx._fetch_blocks

    def spy(tids, cols, *a, **kw):
        if "max_tf" in cols:
            salts.append(kw.get("salts"))
        return fetch(tids, cols, *a, **kw)

    idx._fetch_blocks = spy
    return salts


def chunk_count(salts) -> int:
    """How many one-salt chunks the reads ``force_wand_chunks`` saw
    planned."""
    return sum(1 for s in salts if s is not None and len(s) == 1)
