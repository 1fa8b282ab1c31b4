"""Shared fixtures: one SparkSession per test run, the reference's 10-row
golden fixture (FIXTURES.md F1), and the driver testdata paths."""

from __future__ import annotations

import contextlib
import os
import types
from datetime import datetime

import pytest
from pyspark.sql import types as T

from datafusion_uwheel_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("uwheel-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` then ``jobs.n``: the Spark jobs
    the block launched — a set difference of the job ids outside any job
    group, so the status tracker's retention cap cannot hide new jobs."""
    tracker = spark.sparkContext.statusTracker()

    @contextlib.contextmanager
    def count():
        jobs = types.SimpleNamespace(n=None)
        before = set(tracker.getJobIdsForGroup(None) or [])
        yield jobs
        jobs.n = len(set(tracker.getJobIdsForGroup(None) or []) - before)

    return count


@pytest.fixture(scope="session")
def minimal_agg(spark):
    """The reference's canonical unit-test table: 10 rows, one per second
    from 2024-05-10T00:00:00Z, agg_col = 1..10 (``create_test_memtable``,
    reference ``lib.rs:1290-1318``)."""
    schema = T.StructType(
        [
            T.StructField("timestamp", T.TimestampType(), False),
            T.StructField("agg_col", T.DoubleType(), False),
        ]
    )
    rows = [
        (datetime(2024, 5, 10, 0, 0, i), float(i + 1)) for i in range(10)
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="session")
def sf_small_dir():
    assert os.path.isdir(SF_SMALL)
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium_dir():
    assert os.path.isdir(SF_MEDIUM)
    return SF_MEDIUM
