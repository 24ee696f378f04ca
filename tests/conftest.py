from __future__ import annotations

import os
import sys

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


@pytest.fixture(scope="session")
def spark():
    s = get_shared_spark()
    yield s
    s.stop()
