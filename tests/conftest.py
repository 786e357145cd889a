from __future__ import annotations

import itertools
import time

import pytest

from tfm_semisup_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tfm-semisup-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(action) -> int``: Spark jobs ``action()`` runs, read
    from the status tracker under a job group of its own once the
    listener bus has caught up."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(action) -> int:
        group = f"counted-jobs-{next(groups)}"
        sc.setJobGroup(group, "counted action")
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        seen, stable, deadline = -1, 0, time.time() + 30
        while stable < 3 and time.time() < deadline:
            time.sleep(0.2)
            n = len(tracker.getJobIdsForGroup(group))
            stable, seen = (stable + 1 if n == seen else 0), n
        return seen

    return count
