from __future__ import annotations

import itertools
import json
import os
import time

import pytest

from tfm_semisup_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


@pytest.fixture()
def strict_codegen(spark):
    """The session with janino compile failures fatal instead of a
    silent interpreted fallback (correct but ~10x slower at scale);
    the fallback value it found is restored afterwards."""
    key = "spark.sql.codegen.fallback"
    found = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, found)


def born_in(birth_round: int) -> list[str]:
    """Registered queries whose ``driver_history.json`` birth round is
    ``birth_round``."""
    from tfm_semisup_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    with open(os.path.join(_REPO, "driver_history.json")) as fh:
        hist = json.load(fh)
    return sorted(
        n for n, v in hist.items() if v.get("added") == birth_round and n in QUERIES
    )


def strict_codegen_sweep(birth_round: int):
    """The strict-codegen sweep of the queries born in ``birth_round``,
    as a test function for a round's module to bind to its test name:
    ``.count()`` executes every codegen stage and raises on a failed
    compile when fallback is off."""

    @pytest.mark.parametrize("name", born_in(birth_round))
    def test(strict_codegen, name):
        from tfm_semisup_spark.queries import QUERIES

        assert QUERIES[name](strict_codegen, SF_DIR).count() >= 0

    return test
