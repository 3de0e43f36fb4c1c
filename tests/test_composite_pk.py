"""Composite partition keys in the session FE: ``PRIMARY KEY ((a, b), c)``
end-to-end — DDL parse, DML under the full-equality gate, snapshot
re-typing, token() over the CompositeType framing, DESCRIBE round-trip,
ALTER RENAME, snapshot/restore, and the partial-restriction gate.
"""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession, parse_create_table
from cassandra_spark.operators import murmur3


@pytest.fixture()
def sess(spark):
    s = CqlSession(spark, None)
    s.execute(
        "CREATE KEYSPACE ks WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    )
    s.execute("USE ks")
    s.execute(
        "CREATE TABLE readings (sensor text, day int, ts bigint, "
        "val double, PRIMARY KEY ((sensor, day), ts))"
    )
    for i in range(6):
        s.execute(
            f"INSERT INTO readings (sensor, day, ts, val) VALUES "
            f"('s{i % 2}', {i % 3}, {100 + i}, {i * 1.5})"
        )
    return s


def test_parse_composite_pk():
    s = parse_create_table(
        "CREATE TABLE t (a text, b int, c bigint, v int, "
        "PRIMARY KEY ((a, b), c))"
    )
    assert s.partition_cols == ("a", "b")
    assert s.clustering == ("c",)
    assert s.pk_composite
    assert s.key_cols == ["a", "b", "c"]
    assert s.key_types == {"a": "string", "b": "int", "c": "bigint"}


def test_parse_single_pk_unchanged():
    s = parse_create_table(
        "CREATE TABLE t (a text, c bigint, v int, PRIMARY KEY ((a), c))"
    )
    assert s.partition_cols == ("a",)
    assert not s.pk_composite


def test_parse_rejects_dup_and_overlap():
    with pytest.raises(CQLError):
        parse_create_table(
            "CREATE TABLE t (a text, v int, PRIMARY KEY ((a, a)))"
        )
    with pytest.raises(CQLError):
        parse_create_table(
            "CREATE TABLE t (a text, b int, v int, PRIMARY KEY ((a, b), b))"
        )


def test_point_read_and_typed_snapshot(sess):
    df = sess.execute(
        "SELECT sensor, day, ts, val FROM readings "
        "WHERE sensor = 's0' AND day = 2 AND ts = 102"
    )
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.sensor, r.day, r.ts, r.val) == ("s0", 2, 102, 3.0)
    # typed: day reads back as int, ts as bigint
    types = dict(df.dtypes)
    assert types["day"] == "int" and types["ts"] == "bigint"


def test_partial_pk_needs_allow_filtering(sess):
    with pytest.raises(CQLError, match="partially restricted"):
        sess.execute("SELECT * FROM readings WHERE sensor = 's0'")
    assert (
        sess.execute(
            "SELECT ts FROM readings WHERE sensor = 's0' ALLOW FILTERING"
        ).count()
        == 3
    )


def test_update_delete_scoped_to_one_partition(sess):
    sess.execute(
        "UPDATE readings SET val = 99.0 "
        "WHERE sensor = 's1' AND day = 1 AND ts = 101"
    )
    # partition delete: only ('s0', 0) vanishes, not every sensor='s0'
    sess.execute("DELETE FROM readings WHERE sensor = 's0' AND day = 0")
    snap = sess.execute("SELECT sensor, day, ts, val FROM readings")
    vals = {(r.sensor, r.day, r.ts): r.val for r in snap.collect()}
    assert ("s0", 0, 100) not in vals
    assert vals[("s1", 1, 101)] == 99.0
    assert len(vals) == 5


def test_dml_requires_full_composite(sess):
    with pytest.raises(CQLError, match="partition key"):
        sess.execute(
            "INSERT INTO readings (sensor, ts, val) VALUES ('s9', 1, 1.0)"
        )
    with pytest.raises(CQLError, match="partition key"):
        sess.execute("DELETE FROM readings WHERE sensor = 's0'")


def test_token_matches_pure_python(sess):
    rows = sess.execute(
        "SELECT sensor, day, token(sensor, day) AS tok FROM readings"
    ).collect()
    assert rows
    for r in rows:
        exp = murmur3.token_of_composite(
            [r.sensor.encode(), int(r.day).to_bytes(4, "big", signed=True)]
        )
        assert r.tok == exp


def test_token_requires_full_pk_in_order(sess):
    with pytest.raises(CQLError, match="full partition key"):
        sess.execute("SELECT * FROM readings WHERE token(sensor) > 0")
    with pytest.raises(CQLError, match="full partition key"):
        sess.execute("SELECT * FROM readings WHERE token(day, sensor) > 0")


def test_token_range_read(sess):
    all_rows = sess.execute(
        "SELECT ts, token(sensor, day) AS tok FROM readings"
    ).collect()
    pos = {r.ts for r in all_rows if r.tok > 0}
    got = {
        r.ts
        for r in sess.execute(
            "SELECT ts FROM readings WHERE token(sensor, day) > 0"
        ).collect()
    }
    assert got == pos and pos


def test_describe_round_trip(sess):
    ddl = sess._table_ddl("readings")
    assert "PRIMARY KEY ((sensor, day), ts)" in ddl
    s2 = parse_create_table(ddl)
    assert s2.partition_cols == ("sensor", "day")
    assert s2.clustering == ("ts",)


def test_rename_pk_component(sess):
    sess.execute("ALTER TABLE readings RENAME day TO d")
    s = sess.table("readings").schema
    assert s.partition_cols == ("sensor", "d")
    assert s.key_types["d"] == "int"
    assert (
        sess.execute(
            "SELECT val FROM readings "
            "WHERE sensor = 's0' AND d = 2 AND ts = 102"
        ).count()
        == 1
    )


def test_pk_component_index_now_legal(sess):
    """Round 13 (cql55): a COMPONENT of a composite partition key is
    indexable — the old blanket rejection applies only to the sole
    partition-key column of a non-composite table."""
    sess.execute("CREATE INDEX ON readings (day)")
    assert sess.execute(
        "SELECT sensor, ts FROM readings WHERE day = 1"
    ).count() > 0
    sess.execute("CREATE TABLE solo_pk (pk int PRIMARY KEY, v int)")
    with pytest.raises(CQLError, match="only.*partition key"):
        sess.execute("CREATE INDEX ON solo_pk (pk)")


def test_snapshot_restore_round_trip(sess, spark, tmp_path):
    out = str(tmp_path / "snap")
    sess.snapshot_keyspace(out)
    fresh = CqlSession(spark, None)
    fresh.execute(
        "CREATE KEYSPACE ks WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    )
    fresh.execute("USE ks")
    fresh.restore_keyspace(out)
    s = fresh.table("readings").schema
    assert s.partition_cols == ("sensor", "day")
    assert (
        fresh.execute(
            "SELECT val FROM readings "
            "WHERE sensor = 's0' AND day = 2 AND ts = 102"
        ).count()
        == 1
    )


def test_in_guardrail_multiplies_components(sess):
    sess.set_guardrail("partition_keys_in_select", fail=5)
    with pytest.raises(CQLError, match="partition_keys_in_select"):
        sess.execute(
            "SELECT * FROM readings WHERE sensor IN ('s0', 's1', 's2') "
            "AND day IN (0, 1) AND ts = 100"
        )
    # 2 x 2 = 4 <= 5 passes
    sess.execute(
        "SELECT * FROM readings WHERE sensor IN ('s0', 's1') "
        "AND day IN (0, 1) AND ts = 100"
    )


def test_composite_pk_with_secondary_index(sess):
    # 2i on a regular column of a composite-pk table: the index stores
    # the log's joined-pk strings, so candidate pruning + the driver
    # partition read work unchanged
    sess.execute("CREATE INDEX ON readings (val)")
    rows = sess.execute(
        "SELECT sensor, day, ts FROM readings WHERE val = 3.0"
    ).collect()
    assert {(r.sensor, r.day, r.ts) for r in rows} == {("s0", 2, 102)}


def test_composite_pk_materialized_view(sess):
    # MV over a composite-pk base: the view key must contain every base
    # pk component; re-keyed reads filter on the new partition key
    sess.execute(
        "CREATE MATERIALIZED VIEW by_ts AS SELECT * FROM readings "
        "WHERE ts IS NOT NULL AND sensor IS NOT NULL AND day IS NOT NULL "
        "PRIMARY KEY (ts, sensor, day)"
    )
    rows = sess.execute("SELECT sensor, day FROM by_ts WHERE ts = 102")
    assert [(r.sensor, r.day) for r in rows.collect()] == [("s0", 2)]


def test_composite_pk_distinct_and_per_partition_limit(sess):
    # SELECT DISTINCT must name ALL partition-key columns
    got = {
        (r.sensor, r.day)
        for r in sess.execute(
            "SELECT DISTINCT sensor, day FROM readings"
        ).collect()
    }
    assert len(got) == 6
    with pytest.raises(CQLError, match="partition key"):
        sess.execute("SELECT DISTINCT sensor FROM readings")
    # PER PARTITION LIMIT partitions by the full composite
    n = sess.execute(
        "SELECT sensor, day, ts FROM readings PER PARTITION LIMIT 1 "
        "ALLOW FILTERING"
    ).count()
    assert n == 6


def test_composite_pk_static_columns(spark):
    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE cs (a text, b int, c bigint, v double, "
        "note text STATIC, PRIMARY KEY ((a, b), c))"
    )
    s.execute("INSERT INTO cs (a, b, c, v) VALUES ('x', 1, 10, 1.0)")
    s.execute("INSERT INTO cs (a, b, c, v) VALUES ('x', 1, 11, 2.0)")
    s.execute("INSERT INTO cs (a, b, note) VALUES ('x', 1, 'shared')")
    s.execute("INSERT INTO cs (a, b, c, v) VALUES ('x', 2, 10, 3.0)")
    rows = s.execute("SELECT a, b, c, v, note FROM cs").collect()
    by_key = {(r.a, r.b, r.c): r.note for r in rows}
    # the static is partition-scoped: both (x,1) rows see it, (x,2) not
    assert by_key[("x", 1, 10)] == "shared"
    assert by_key[("x", 1, 11)] == "shared"
    assert by_key[("x", 2, 10)] is None


def test_composite_pk_counter_table(spark):
    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE hits (site text, day int, n counter, "
        "PRIMARY KEY ((site, day)))"
    )
    s.execute("UPDATE hits SET n = n + 3 WHERE site = 'a' AND day = 1")
    s.execute("UPDATE hits SET n = n + 2 WHERE site = 'a' AND day = 1")
    s.execute("UPDATE hits SET n = n + 7 WHERE site = 'a' AND day = 2")
    rows = {(r.site, r.day): r.n for r in s.execute(
        "SELECT site, day, n FROM hits").collect()}
    assert rows == {("a", 1): 5, ("a", 2): 7}


def test_distinct_admits_static_columns(spark):
    """CASSANDRA-8087 lineage: SELECT DISTINCT may add STATIC columns to
    the (full) partition key — statics are per-partition values. Regular
    columns and partial partition keys stay rejected."""
    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE ds (a text, b int, c bigint, v double, "
        "note text STATIC, PRIMARY KEY ((a, b), c))"
    )
    s.execute("INSERT INTO ds (a, b, c, v) VALUES ('x', 1, 10, 1.0)")
    s.execute("INSERT INTO ds (a, b, c, v) VALUES ('x', 1, 11, 2.0)")
    s.execute("INSERT INTO ds (a, b, note) VALUES ('x', 1, 'shared')")
    s.execute("INSERT INTO ds (a, b, c, v) VALUES ('x', 2, 10, 3.0)")
    rows = {
        (r.a, r.b): r.note
        for r in s.execute("SELECT DISTINCT a, b, note FROM ds").collect()
    }
    # one row per partition; the static rides along (null where unset)
    assert rows == {("x", 1): "shared", ("x", 2): None}
    with pytest.raises(CQLError, match="static"):
        s.execute("SELECT DISTINCT a, b, v FROM ds")
    with pytest.raises(CQLError, match="partition key"):
        s.execute("SELECT DISTINCT a, note FROM ds")


def test_bulk_load_rejects_separator_in_composite_component(spark):
    """A string key component containing the reserved 0x1f separator
    would mis-split the joined log key and silently collide two distinct
    composite keys — the bulk path must reject it like pk_from_pairs
    does on the statement path."""
    from pyspark.sql import Row

    s = CqlSession(spark, None)
    s.execute(
        "CREATE TABLE bl (a text, b int, v double, PRIMARY KEY ((a, b)))"
    )
    bad = spark.createDataFrame(
        [Row(a="x\x1fy", b=1, v=1.0), Row(a="z", b=2, v=2.0)]
    )
    with pytest.raises(CQLError, match="0x1f"):
        s.table("bl").bulk_load(bad)
    ok = spark.createDataFrame([Row(a="z", b=2, v=2.0)])
    assert s.table("bl").bulk_load(ok) == 1
