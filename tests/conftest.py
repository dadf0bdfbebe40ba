from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_distributed_systems_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@contextlib.contextmanager
def _job_group(sc):
    group = f"jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def jobs_started(spark):
    """`with jobs_started() as ids:` — after the block, `ids` holds the
    ids of the Spark jobs the block started."""
    return lambda: _job_group(spark.sparkContext)
