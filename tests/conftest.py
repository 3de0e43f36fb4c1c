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


@pytest.fixture()
def py4j_calls(spark):
    """``py4j_calls()``: how many Py4J commands the calling thread has
    sent to the JVM since the fixture started, counted at
    ``send_command`` of both connection classes (the client-server one
    PySpark pins by default, and the classic gateway one). Take the
    difference around a call. Python's cyclic garbage collector is
    paused while the fixture is live: a collection that happened to run
    inside the window would add the JVM-side deletes of whatever objects
    it freed. Other threads are not counted: the client-server
    connection's finalizer thread sends the deletes of objects freed
    earlier whenever it wakes, inside the window or not."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    gc.collect()
    gc.disable()
    sent = [0]
    patched = []
    caller = threading.current_thread()
    for cls in (ClientServerConnection, GatewayConnection):
        real = cls.send_command

        def send(self, command, *a, _real=real, **kw):
            if threading.current_thread() is caller:
                sent[0] += 1
            return _real(self, command, *a, **kw)

        patched.append((cls, real))
        cls.send_command = send
    yield lambda: sent[0]
    for cls, real in patched:
        cls.send_command = real
    gc.enable()
