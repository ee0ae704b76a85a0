from __future__ import annotations

import os
import time
import uuid

import pytest

from strava_data_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Test-session sizing (r12, VERDICT task 2a — the suite must finish
# inside the driver's verification window): at sf0.001 every shuffle
# and state store is KB-sized, so 32-wide exchanges and 32 state-store
# instances per stateful operator per micro-batch are pure fixed cost,
# and each 32-slice parallelize of a tiny local frame costs one
# Python-worker round trip per slice. 8/8 keeps the same values (all
# query results are partitioning-independent, pinned by the DuckDB
# oracle under 8 and 32 cpus alike) at a fraction of the overhead.
# setdefault: an explicit outer env still wins.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
os.environ.setdefault("SPARK_GRAFT_DEFAULT_PARALLELISM", "8")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` calls ``fn()`` and returns how many Spark jobs
    it started. They are counted in a job group of their own once a
    marker job, run after ``fn`` in another group, shows in the status
    store: the store is fed asynchronously, but in order."""
    sc = spark.sparkContext

    def count(fn) -> int:
        probe, marker = f"probe-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
        try:
            sc.setJobGroup(probe, probe)
            fn()
            sc.setJobGroup(marker, marker)
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "the marker job never showed"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(probe))

    return count
