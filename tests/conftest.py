from __future__ import annotations

import os
import uuid

import pytest

from java_iceberg_table_spark.oracle import duck_connect
from java_iceberg_table_spark.session import get_spark

# sf0.001 for fast local iteration; the driver's gate runs sf0.01.
# Override with SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` runs ``fn()`` and returns (the number of
    Spark jobs it started, its result), counted with ``statusTracker``
    in a job group of the test's own, before and after the call."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"

    def run(fn):
        sc.setJobGroup(group, "jobs_started")
        try:
            before = len(sc.statusTracker().getJobIdsForGroup(group))
            out = fn()
            return len(sc.statusTracker().getJobIdsForGroup(group)) - before, out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return run


@pytest.fixture
def dist_threshold(monkeypatch):
    """``dist_threshold(n)`` sets ``table.DIST_PLAN_MIN_MANIFEST_BYTES``,
    the manifest volume at which a manifest walk given a SparkSession
    runs on executors, to ``n`` for the rest of the test (None: back to
    the default). 0 sends every such walk to executors."""
    from java_iceberg_table_spark.table import table as table_mod

    default = table_mod.DIST_PLAN_MIN_MANIFEST_BYTES

    def set_threshold(n: int | None) -> None:
        monkeypatch.setattr(
            table_mod, "DIST_PLAN_MIN_MANIFEST_BYTES", default if n is None else n
        )

    return set_threshold


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from tests/slow_tests.txt (see
    pytest.ini): a data-driven list generated from a full
    --durations=0 run, so the default profile stays inside the
    external driver's verify budget."""
    listing = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(listing) as f:
            slow_ids = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace(os.sep, "/")
        if nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
