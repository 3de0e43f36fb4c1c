"""Partition-pinned SELECTs are served by the driver-side reconciler
(``CqlTable.partition_frame``): a WHERE that pins every partition-key
component with = / IN, or a 2i probe's candidate partitions, reads only
those partitions' mutations — Bloom-gated per segment, like the
reference's single-partition read — and collects with no Spark job.
Counter tables read the same way. Whole-table scans run the same
per-partition reconcile in token-range Spark tasks (``snapshot``)."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_dml import CqlTable
from cassandra_spark.cql_session import CqlSession


@pytest.fixture()
def sess(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE ev (k text, c int, v text, tag text, "
        "PRIMARY KEY (k, c))"
    )
    s.execute("CREATE INDEX ON ev (tag)")
    t = s.table("ev")
    for seg in range(3):
        for i in range(8):
            k = f"p{(seg * 8 + i) % 10}"
            s.execute(
                f"INSERT INTO ev (k, c, v, tag) VALUES "
                f"('{k}', {seg * 8 + i}, 'v{i}', 't{i % 3}')"
            )
        t.flush()
    s.execute("DELETE FROM ev WHERE k = 'p1' AND c = 1")
    s.execute("INSERT INTO ev (k, c, v, tag) VALUES ('p2', 99, 'mem', 't9')")
    return s


READS = {
    "point": "SELECT c, v, tag FROM ev WHERE k = 'p2'",
    "slice": "SELECT c, v FROM ev WHERE k = 'p2' AND c >= 2 AND c < 50",
    "in": "SELECT k, c FROM ev WHERE k IN ('p1', 'p3', 'zzz')",
    "absent": "SELECT * FROM ev WHERE k = 'zzz'",
    "2i": "SELECT k, c, v FROM ev WHERE tag = 't9'",
}


@pytest.mark.parametrize("shape", sorted(READS))
def test_pinned_reads_collect_without_a_job(sess, spark_jobs, shape):
    stmt = READS[shape]
    sess.execute(stmt).collect()  # first read: compiles, warms caches
    j0 = spark_jobs()
    rows = sess.execute(stmt).collect()
    assert spark_jobs() == j0
    # same answer as the scan of the whole table, which the job counter
    # does see
    t = sess.table("ev")
    full = sess.execute("SELECT * FROM ev").collect()
    assert len(full) == 24 and spark_jobs() > j0
    want = {
        "point": [(r.c, r.v, r.tag) for r in full if r.k == "p2"],
        "slice": [(r.c, r.v) for r in full if r.k == "p2" and 2 <= r.c < 50],
        "in": [(r.k, r.c) for r in full if r.k in ("p1", "p3")],
        "absent": [],
        "2i": [(r.k, r.c, r.v) for r in full if r.tag == "t9"],
    }[shape]
    assert [tuple(r) for r in rows] == want
    assert t.bloom_stats["checked"] > 0



# Upper bounds on the Py4J commands a pinned read sends. The floor is
# building the partition's Arrow frame (``createDataFrame``: 21 commands
# on PySpark 4.1); the WHERE and the projection add one ``filter`` and
# one ``selectExpr`` over an already-typed frame, and the compile reads
# no schema from the JVM. ``collect()`` of a LocalRelation takes 7.
EXECUTE_CALLS = {"point": 32, "slice": 32, "absent": 24, "2i": 32}
COLLECT_CALLS = 7


@pytest.mark.parametrize("shape", sorted(EXECUTE_CALLS))
def test_pinned_read_py4j_calls(sess, py4j_calls, shape):
    stmt = READS[shape]
    sess.execute(stmt).collect()  # first read: compiles, warms caches
    n0 = py4j_calls()
    df = sess.execute(stmt)
    n1 = py4j_calls()
    df.collect()
    n2 = py4j_calls()
    assert n1 - n0 <= EXECUTE_CALLS[shape]
    assert n2 - n1 <= COLLECT_CALLS

def test_bloom_filters_skip_segments(sess):
    t = sess.table("ev")
    before = dict(t.bloom_stats)
    sess.execute("SELECT * FROM ev WHERE k = 'zzz'").collect()
    assert t.bloom_stats["checked"] - before["checked"] == 3
    assert t.bloom_stats["skipped"] - before["skipped"] == 3


def test_select_builds_only_the_named_table(sess, monkeypatch):
    """A write to table A must not make a read of table B rebuild A's
    snapshot plan: SELECT resolves only its FROM target."""
    sess.execute("CREATE TABLE other (k text PRIMARY KEY, v int)")
    sess.execute("INSERT INTO other (k, v) VALUES ('x', 1)")
    sess.execute("INSERT INTO ev (k, c, v) VALUES ('p7', 7, 'new')")
    calls = []
    real = CqlTable.snapshot

    def spy(self, *a, **kw):
        calls.append(self.schema.name)
        return real(self, *a, **kw)

    monkeypatch.setattr(CqlTable, "snapshot", spy)
    assert sess.execute("SELECT * FROM other").collect()[0].v == 1
    assert "ev" not in calls and "other" in calls


def test_point_read_trace_events(sess):
    """TRACING ON records the read path in the reference's wording; the
    activity sequence of a point read is deterministic."""
    sess.execute("TRACING ON")
    sess.execute("SELECT * FROM ev WHERE k = 'p4'").collect()
    sess.execute("TRACING OFF")
    acts = [e.activity for e in sess.trace_events().collect()]
    # p4 has one row in each of the first two segments (c = 4, 14); the
    # third segment's Bloom filter rules it out
    assert acts == [
        "Parsing SELECT",
        "Bloom filter allows skipping sstable 3",
        "Merged data from memtables and 2 sstables",
        "Read 2 live rows and 0 tombstone cells",
        "Executing statement",
    ]


def test_counter_read_is_pinned(spark, spark_jobs):
    """A counter table's pinned read sums on the driver like any other
    partition read: no Spark job, and the read path's trace events."""
    s = CqlSession(spark)
    s.execute("CREATE TABLE hits (k text PRIMARY KEY, n counter)")
    s.execute("UPDATE hits SET n = n + 2 WHERE k = 'a'")
    s.execute("UPDATE hits SET n = n + 5 WHERE k = 'a'")
    s.execute("UPDATE hits SET n = n + 1 WHERE k = 'b'")
    s.execute("SELECT n FROM hits WHERE k = 'a'").collect()  # warm
    s.execute("TRACING ON")
    j0 = spark_jobs()
    assert s.execute("SELECT n FROM hits WHERE k = 'a'").collect()[0].n == 7
    assert spark_jobs() == j0
    s.execute("TRACING OFF")
    acts = [e.activity for e in s.trace_events().collect()]
    assert acts == [
        "Parsing SELECT",
        "Merged data from memtables and 0 sstables",
        "Read 1 live rows and 0 tombstone cells",
        "Executing statement",
    ]


def test_int_partition_keys_have_one_spelling(spark):
    """'05' and 5 name one int partition: the key is stored in one
    spelling, so a pinned read and a partition delete both find it."""
    s = CqlSession(spark)
    s.execute("CREATE TABLE ik (k int, c int, v int, PRIMARY KEY (k, c))")
    s.execute("INSERT INTO ik (k, c, v) VALUES (05, 1, 1)")
    s.execute("INSERT INTO ik (k, c, v) VALUES ('5', 2, 2)")
    assert [r.c for r in s.execute("SELECT c FROM ik WHERE k = 5").collect()] == [1, 2]
    s.execute("DELETE FROM ik WHERE k = 5")
    assert s.execute("SELECT * FROM ik").collect() == []
