from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from arhivum_spark.session import get_spark  # noqa: E402

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def get_shared_spark():
    """Session-wide SparkSession for non-fixture consumers (hypothesis
    @given tests can't take pytest fixtures per-example). Cores come from
    SPARK_GRAFT_CPUS (the Tier-1 command exports it), else every host
    core (get_spark). Shuffle partitions stay 8 whatever the core count,
    so partition-dependent test inputs do not change with the host."""
    return get_spark("arhivum_spark_tests", shuffle_partitions=8)


def run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), read back from
    statusTracker() through a job group unique to this call (the way
    perfbench/harness.SparkCounters tags stages)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_shared_spark()
    yield s
    s.stop()
