from __future__ import annotations

import contextlib
import time
import uuid

import pytest

from pylluminator_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pylluminator_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` — ``jobs["n"]`` is then the
    number of Spark jobs launched inside the block, counted through a
    job group of its own (``statusTracker().getJobIdsForGroup``).
    Listener events arrive asynchronously, so the count is taken only
    once a sentinel job started after the block has been seen."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")

    @contextlib.contextmanager
    def counter():
        saved = {p: sc.getLocalProperty(p) for p in props}
        group, sentinel = (f"count-jobs-{uuid.uuid4().hex}" for _ in "ab")
        jobs: dict = {}
        sc.setJobGroup(group, "counted block")
        try:
            yield jobs
        finally:
            sc.setJobGroup(sentinel, "job count sentinel")
            sc.parallelize([0], 1).count()
            deadline = time.monotonic() + 30
            tracker = sc.statusTracker()
            while not tracker.getJobIdsForGroup(sentinel):
                assert time.monotonic() < deadline, "sentinel job unseen"
                time.sleep(0.05)
            jobs["n"] = len(tracker.getJobIdsForGroup(group))
            for p, v in saved.items():
                sc.setLocalProperty(p, v)

    return counter
