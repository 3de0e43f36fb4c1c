from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cassandra_spark.session import get_spark

    s = get_spark("pytest")
    # Tests run hundreds of tiny actions over KB-scale fixtures; 32
    # shuffle partitions means 32 tasks (and for stateful streaming
    # tests, 32 state-store files per epoch) per action where one would
    # do. 8 keeps every assertion meaningful (nothing in tests/ depends
    # on the partition count) while cutting per-action fixed costs —
    # part of making the full suite fit the verify budget (r12 verdict
    # item 2). Production parallelism is untouched: this is the TEST
    # session only, and bench.py/get_spark keep the core-derived value.
    s.conf.set(
        "spark.sql.shuffle.partitions",
        __import__("os").environ.get("CASSANDRA_SPARK_TEST_SHUFFLE", "8"),
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'"
        )
    yield con


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs()``: how many Spark jobs the application has started
    so far, from the status tracker once the listener bus has drained
    (so a job that just ran is counted). The id of the newest job, not a
    count of retained ones, so the UI's job-retention cap never hides
    new jobs. Take the difference around an action."""
    sc = spark.sparkContext

    def count() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1) + 1

    return count
