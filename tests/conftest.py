"""Shared fixtures: one local SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bicis_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import duck_views  # noqa: E402

SF_DIR = os.environ.get("BICIS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bicis_spark_tests", cores=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same parquet tables registered as views —
    mirrors the driver's oracle setup."""
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def new_job_ids(spark):
    """``with new_job_ids() as jobs:`` — after the block, ``jobs`` holds
    the ids of the Spark jobs (outside any job group) started inside it.

    Compares id SETS, not counts: the status tracker retains only the
    last ``spark.ui.retainedJobs`` (1000) job ids, so deep into a
    full-suite session old ids are evicted while the block runs and a
    before/after count delta undercounts. Eviction only drops old ids,
    so the set difference still isolates exactly the new jobs. The
    listener bus is drained first, so every job the block ran is
    registered with the tracker."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None) or [])

    @contextmanager
    def capture():
        before = job_ids()
        jobs: set[int] = set()
        yield jobs
        jobs.update(job_ids() - before)

    return capture
