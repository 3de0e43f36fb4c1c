"""CQL DML front-end semantics (cql_dml.py): the reference's write-path
visibility rules driven from real statement text."""

from __future__ import annotations

import os

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_dml import CqlTable, TableSchema
from tests.test_distributed_merge import _assert_token_sorted_run


@pytest.fixture()
def table(spark):
    return CqlTable(
        spark,
        TableSchema(
            name="t",
            partition_key="pk",
            clustering="ck",
            regular={"v": "int", "s": "string"},
        ),
    )


def rows(df):
    return {
        (r.pk, r.ck): (r.v, r.s) for r in df.collect()
    }


def test_insert_then_read(table):
    table.execute("INSERT INTO t (pk, ck, v, s) VALUES ('a', '1', 10, 'x')")
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('a', '2', 20)")
    assert rows(table.snapshot()) == {("a", "1"): (10, "x"), ("a", "2"): (20, None)}


def test_upsert_newest_wins_and_arrival_breaks_ties(table):
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('a', '1', 1)")
    table.execute("UPDATE t SET v = 2 WHERE pk = 'a' AND ck = '1'")
    assert rows(table.snapshot()) == {("a", "1"): (2, None)}
    # same explicit timestamp: later arrival wins among writes
    table.execute("UPDATE t USING TIMESTAMP 100 SET v = 7 WHERE pk = 'a' AND ck = '1'")
    table.execute("UPDATE t USING TIMESTAMP 100 SET v = 8 WHERE pk = 'a' AND ck = '1'")
    assert rows(table.snapshot())[("a", "1")][0] == 8


def test_using_timestamp_makes_writes_commute(table):
    table.execute("UPDATE t USING TIMESTAMP 200 SET v = 5 WHERE pk = 'a' AND ck = '1'")
    # arrives later, but timestamped earlier — must lose
    table.execute("UPDATE t USING TIMESTAMP 100 SET v = 9 WHERE pk = 'a' AND ck = '1'")
    assert rows(table.snapshot())[("a", "1")][0] == 5


def test_insert_marker_vs_update_visibility_quirk(table):
    """The classic reference quirk: an INSERTed row survives deletion of
    all its cells (row marker), an UPDATE-only row does not."""
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('ins', '1', 1)")
    table.execute("UPDATE t SET v = 1 WHERE pk = 'upd' AND ck = '1'")
    table.execute("DELETE v FROM t WHERE pk = 'ins' AND ck = '1'")
    table.execute("DELETE v FROM t WHERE pk = 'upd' AND ck = '1'")
    got = rows(table.snapshot())
    assert got == {("ins", "1"): (None, None)}


def test_delete_row_partition_and_resurrection(table):
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('a', '1', 1)")
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('a', '2', 2)")
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('b', '1', 3)")
    table.execute("DELETE FROM t WHERE pk = 'a' AND ck = '1'")  # row tombstone
    assert set(rows(table.snapshot())) == {("a", "2"), ("b", "1")}
    table.execute("DELETE FROM t WHERE pk = 'a'")  # partition tombstone
    assert set(rows(table.snapshot())) == {("b", "1")}
    # newer write resurrects the partition
    table.execute("INSERT INTO t (pk, ck, v) VALUES ('a', '9', 9)")
    assert set(rows(table.snapshot())) == {("a", "9"), ("b", "1")}


def test_equal_timestamp_delete_beats_write(table):
    table.execute("UPDATE t USING TIMESTAMP 50 SET v = 1 WHERE pk = 'a' AND ck = '1'")
    table.execute("DELETE v FROM t USING TIMESTAMP 50 WHERE pk = 'a' AND ck = '1'")
    assert rows(table.snapshot()) == {}
    # and symmetric arrival order
    t2 = CqlTable(table.spark, table.schema)
    t2.execute("DELETE v FROM t USING TIMESTAMP 50 WHERE pk = 'a' AND ck = '1'")
    t2.execute("UPDATE t USING TIMESTAMP 50 SET v = 1 WHERE pk = 'a' AND ck = '1'")
    assert rows(t2.snapshot()) == {}


def test_ttl_expires_cells_not_rows(table):
    table.execute(
        "INSERT INTO t (pk, ck, v, s) VALUES ('a', '1', 1, 'keep')"
    )
    table.execute(
        "UPDATE t USING TTL 5 SET v = 99 WHERE pk = 'a' AND ck = '1'"
    )
    wt = {r.ck: r["__writetime_v"] for r in table.snapshot().collect()}
    assert rows(table.snapshot(asof_us=wt["1"] + 1))[("a", "1")] == (99, "keep")
    # past the TTL horizon the cell is gone; the INSERTed row (and its
    # other cell) survive — but note v falls back to nothing, not 1,
    # because the TTL'd write still shadowed the older value until it
    # expired, and expiry deletes, it does not resurrect
    assert rows(table.snapshot(asof_us=wt["1"] + 6))[("a", "1")] == (None, "keep")


def test_batch_shares_one_timestamp(table):
    table.execute(
        "BEGIN BATCH "
        "INSERT INTO t (pk, ck, v) VALUES ('a', '1', 1); "
        "INSERT INTO t (pk, ck, v) VALUES ('a', '2', 2); "
        "UPDATE t SET s = 'b' WHERE pk = 'a' AND ck = '1'; "
        "APPLY BATCH"
    )
    snap = table.snapshot()
    wts = {
        (r.pk, r.ck): (r["__writetime_v"], r["__writetime_s"])
        for r in snap.collect()
    }
    flat = {w for pair in wts.values() for w in pair if w is not None}
    assert len(flat) == 1, f"batch did not share one writetime: {wts}"
    assert rows(snap) == {("a", "1"): (1, "b"), ("a", "2"): (2, None)}


def test_null_assignment_is_a_delete(table):
    table.execute("INSERT INTO t (pk, ck, v, s) VALUES ('a', '1', 1, 'x')")
    table.execute("UPDATE t SET s = null WHERE pk = 'a' AND ck = '1'")
    assert rows(table.snapshot()) == {("a", "1"): (1, None)}


def test_rejections(table):
    for bad in [
        "INSERT INTO wrong (pk, ck, v) VALUES ('a', '1', 1)",
        "INSERT INTO t (ck, v) VALUES ('1', 1)",  # missing pk
        "UPDATE t SET v = 1 WHERE pk = 'a'",  # missing ck
        "UPDATE t SET nope = 1 WHERE pk = 'a' AND ck = '1'",
        "DELETE FROM t WHERE v = 1",  # non-key WHERE
        "SELECT * FROM t",  # not DML
        "UPDATE t USING BANANAS 4 SET v = 1 WHERE pk = 'a' AND ck = '1'",
    ]:
        with pytest.raises(CQLError):
            table.execute(bad)


def test_fuzz_against_sequential_model(spark):
    """Mini-Harry at the CQL layer: a deterministic pseudo-random statement
    history applied through the parser must match a sequential dict model
    implementing the same visibility rules."""
    import random

    rng = random.Random(20260813)
    table = CqlTable(
        spark,
        TableSchema("t", "pk", "ck", {"v": "int"}),
    )
    # model state: cells[(pk,ck)] = (wt, seq, val_or_TOMB); markers alike;
    # row/part tombstones as max ts maps
    cells: dict[tuple[str, str], tuple] = {}
    markers: dict[tuple[str, str], tuple] = {}
    row_t: dict[tuple[str, str], int] = {}
    part_t: dict[str, int] = {}
    seq = 0

    def put(store, key, wt, is_tomb, val):
        nonlocal seq
        seq += 1
        cur = store.get(key)
        if cur is None or (wt, is_tomb, seq) > (cur[0], cur[1], cur[2]):
            store[key] = (wt, is_tomb, seq, val)

    for i in range(120):
        pk = rng.choice("abc")
        ck = rng.choice("123")
        ts = rng.randint(1, 40)
        op = rng.randrange(6)
        if op <= 1:
            v = rng.randint(0, 99)
            table.execute(
                f"INSERT INTO t (pk, ck, v) VALUES ('{pk}', '{ck}', {v}) "
                f"USING TIMESTAMP {ts}"
            )
            put(markers, (pk, ck), ts, 0, None)
            put(cells, (pk, ck), ts, 0, v)
        elif op <= 3:
            v = rng.randint(0, 99)
            table.execute(
                f"UPDATE t USING TIMESTAMP {ts} SET v = {v} "
                f"WHERE pk = '{pk}' AND ck = '{ck}'"
            )
            put(cells, (pk, ck), ts, 0, v)
        elif op == 4:
            table.execute(
                f"DELETE v FROM t USING TIMESTAMP {ts} "
                f"WHERE pk = '{pk}' AND ck = '{ck}'"
            )
            put(cells, (pk, ck), ts, 1, None)
        else:
            table.execute(
                f"DELETE FROM t USING TIMESTAMP {ts} WHERE pk = '{pk}' AND ck = '{ck}'"
            )
            row_t[(pk, ck)] = max(row_t.get((pk, ck), -1), ts)

    def live(store, key):
        got = store.get(key)
        if got is None or got[1] == 1:  # absent or tombstone won
            return None
        wt = got[0]
        if wt <= row_t.get(key, -1) or wt <= part_t.get(key[0], -1):
            return None
        return got

    want = {}
    for key in set(cells) | set(markers):
        c, mk = live(cells, key), live(markers, key)
        if c is None and mk is None:
            continue
        want[key] = c[3] if c else None

    got = {(r.pk, r.ck): r.v for r in table.snapshot().collect()}
    assert got == want


def test_insert_json(table):
    table.execute(
        'INSERT INTO t JSON \'{"pk": "j", "ck": "1", "v": 5, "s": "doc"}\''
    )
    assert rows(table.snapshot())[("j", "1")] == (5, "doc")
    # DEFAULT UNSET (the default): omitted columns untouched
    table.execute('INSERT INTO t JSON \'{"pk": "j", "ck": "1", "v": 6}\'')
    assert rows(table.snapshot())[("j", "1")] == (6, "doc")
    # DEFAULT NULL: omitted regular columns tombstoned
    table.execute(
        'INSERT INTO t JSON \'{"pk": "j", "ck": "1", "v": 7}\' DEFAULT NULL'
    )
    assert rows(table.snapshot())[("j", "1")] == (7, None)


def test_insert_json_lwt_and_rejections(table):
    assert table.execute(
        'INSERT INTO t JSON \'{"pk": "k", "ck": "1", "v": 1}\' IF NOT EXISTS'
    ) is True
    assert table.execute(
        'INSERT INTO t JSON \'{"pk": "k", "ck": "1", "v": 2}\' IF NOT EXISTS'
    ) is False
    import pytest as _pytest
    from cassandra_spark.cql import CQLError as _E
    with _pytest.raises(_E):  # not an object
        table.execute("INSERT INTO t JSON '[1, 2]'")
    with _pytest.raises(_E):  # malformed JSON
        table.execute("INSERT INTO t JSON '{\"pk\": }'")
    with _pytest.raises(_E):  # unknown column
        table.execute('INSERT INTO t JSON \'{"pk": "k", "ck": "1", "zz": 1}\'')


def test_bulk_load_matches_statement_path(spark, tmp_path):
    """bulk_load(df) must be indistinguishable from one INSERT per row at
    a shared writetime: same snapshot, and later statement-path writes
    win LWW over bulk cells exactly as over inserted cells."""
    from pyspark.sql import functions as F

    from cassandra_spark.cql_session import CqlSession

    rows = [(1, 10, "a"), (1, 11, "b"), (2, 20, None)]
    df = spark.createDataFrame(rows, "custkey long, okey long, v string")

    s1 = CqlSession(spark, spill_dir=str(tmp_path / "bulk"))
    s1.execute(
        "CREATE TABLE t (custkey bigint, okey bigint, v text, "
        "PRIMARY KEY (custkey, okey))"
    )
    t1 = s1.table("t")
    assert t1.bulk_load(df, timestamp=1000, n_segments=2) == 3
    assert t1._segments and not t1._log  # data lives in segments only
    for p in t1._segments:  # the same stamped runs a flush writes
        _assert_token_sorted_run(p)

    s2 = CqlSession(spark, spill_dir=str(tmp_path / "stmt"))
    s2.execute(
        "CREATE TABLE t (custkey bigint, okey bigint, v text, "
        "PRIMARY KEY (custkey, okey))"
    )
    for ck, ok, v in rows:
        cols, vals = "custkey, okey", f"{ck}, {ok}"
        if v is not None:
            cols, vals = cols + ", v", vals + f", '{v}'"
        s2.execute(
            f"INSERT INTO t ({cols}) VALUES ({vals}) USING TIMESTAMP 1000"
        )
    a = {tuple(r) for r in s1.execute("SELECT * FROM t").collect()}
    b = {tuple(r) for r in s2.execute("SELECT * FROM t").collect()}
    assert a == b
    # NULL payload = unset: the row exists via its marker, v reads NULL
    assert (None,) in {
        (r.v,)
        for r in s1.execute(
            "SELECT v FROM t WHERE custkey = 2 AND okey = 20"
        ).collect()
    }
    # LWW interop both directions
    s1.execute("UPDATE t USING TIMESTAMP 2000 SET v = 'new' "
               "WHERE custkey = 1 AND okey = 10")
    s1.execute("UPDATE t USING TIMESTAMP 1 SET v = 'old' "
               "WHERE custkey = 1 AND okey = 11")
    got = {
        (r.okey, r.v)
        for r in s1.execute("SELECT okey, v FROM t WHERE custkey = 1").collect()
    }
    assert got == {(10, "new"), (11, "b")}


def test_bulk_load_then_truncate_leaves_nothing_behind(spark, tmp_path):
    """bulk_load writes canonically named segments and nothing else, so
    TRUNCATE removes every file the load left in the spill dir."""
    from cassandra_spark.cql_session import CqlSession

    spill = tmp_path / "spill"
    s = CqlSession(spark, spill_dir=str(spill))
    s.execute("CREATE TABLE b (k bigint PRIMARY KEY, v text)")
    t = s.table("b")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)],
                               "k long, v string")
    assert t.bulk_load(df, n_segments=3) == 20
    assert s.execute("SELECT v FROM b WHERE k = 7").collect()[0].v == "v7"
    s.execute("TRUNCATE b")
    left = [
        os.path.relpath(os.path.join(d, f), t.spill_dir)
        for d, dirs, files in os.walk(t.spill_dir)
        for f in dirs + files
    ]
    assert left == [], f"files left after TRUNCATE: {left}"


def test_bulk_load_rejections(spark, tmp_path):
    import pytest as _pytest

    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE t (k bigint PRIMARY KEY, v text, tags set<text>)"
    )
    t = s.table("t")
    with _pytest.raises(CQLError, match="missing key"):
        t.bulk_load(spark.createDataFrame([( "a",)], "v string"))
    with _pytest.raises(CQLError, match="scalar regular"):
        t.bulk_load(
            spark.createDataFrame([(1, ["x"])], "k long, tags array<string>")
        )
    with _pytest.raises(CQLError, match="duplicate or NULL primary keys"):
        t.bulk_load(
            spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
        )
    s.execute("CREATE TABLE c (k bigint PRIMARY KEY, n counter)")
    with _pytest.raises(CQLError, match="counter"):
        s.table("c").bulk_load(spark.createDataFrame([(1,)], "k long"))


def test_copy_parquet_round_trip(spark, tmp_path):
    """COPY ... WITH FORMAT='PARQUET': TO writes the reconciled snapshot
    executor-side; FROM bulk-loads it back — no driver row funnel in
    either direction, and the round-trip is exact."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    s.execute(
        "CREATE TABLE src (k bigint PRIMARY KEY, v text, n int)"
    )
    s.execute("INSERT INTO src (k, v, n) VALUES (1, 'x,y', 10)")
    s.execute("INSERT INTO src (k, n) VALUES (2, 20)")
    s.execute("UPDATE src SET n = 99 WHERE k = 1")
    out = str(tmp_path / "dump")
    assert s.execute(f"COPY src TO '{out}' WITH FORMAT = 'PARQUET'") == 2
    s.execute("CREATE TABLE dst (k bigint PRIMARY KEY, v text, n int)")
    assert s.execute(f"COPY dst FROM '{out}' WITH FORMAT = 'PARQUET'") == 2
    a = {tuple(r) for r in s.execute("SELECT k, v, n FROM src").collect()}
    b = {tuple(r) for r in s.execute("SELECT k, v, n FROM dst").collect()}
    assert a == b == {(1, "x,y", 99), (2, None, 20)}
    with pytest.raises(CQLError, match="FORMAT"):
        s.execute(f"COPY dst FROM '{out}' WITH FORMAT = 'ORC'")


def test_bulk_load_null_keys_and_float_keys_rejected(spark, tmp_path):
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE t (custkey bigint, okey bigint, v text, "
        "PRIMARY KEY (custkey, okey))"
    )
    t = s.table("t")
    # null clustering key: statement path could never produce it
    with pytest.raises(CQLError, match="NULL primary keys"):
        t.bulk_load(
            spark.createDataFrame(
                [(1, None, "a")], "custkey long, okey long, v string"
            )
        )
    # failed load registers nothing
    assert not t._segments
    # double keys: Spark's cast text differs from CQL literal text
    s.execute("CREATE TABLE d (k double PRIMARY KEY, v text)")
    with pytest.raises(CQLError, match="exact-text key types"):
        s.table("d").bulk_load(
            spark.createDataFrame([(1.0, "a")], "k double, v string")
        )


def test_bulk_load_clock_semantics_match_statements(spark, tmp_path):
    """A default-timestamp load takes the next clock tick (a later plain
    UPDATE wins); a pinned load mirrors USING TIMESTAMP and does NOT
    advance the clock (a later plain UPDATE still wins, exactly as after
    a pinned INSERT)."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    t = s.table("t")
    t.bulk_load(spark.createDataFrame([(1, "bulk")], "k long, v string"))
    s.execute("UPDATE t SET v = 'after' WHERE k = 1")
    assert s.execute("SELECT v FROM t WHERE k = 1").collect()[0].v == "after"

    s.execute("CREATE TABLE p (k bigint PRIMARY KEY, v text)")
    tp = s.table("p")
    clock0 = tp._clock
    tp.bulk_load(
        spark.createDataFrame([(1, "bulk")], "k long, v string"),
        timestamp=1_000_000,
    )
    assert tp._clock == clock0, "pinned load must not advance the clock"
    s.execute("UPDATE p SET v = 'after' WHERE k = 1")
    # same outcome as: INSERT ... USING TIMESTAMP 1000000; UPDATE (unpinned)
    # -> the pinned write wins because the clock never caught up
    assert s.execute("SELECT v FROM p WHERE k = 1").collect()[0].v == "bulk"


def test_copy_parquet_rejects_complex_tables_and_overwrites(spark, tmp_path):
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    s.execute(
        "CREATE TABLE cx (k bigint PRIMARY KEY, tags set<text>)"
    )
    with pytest.raises(CQLError, match="scalar-only"):
        s.execute(
            f"COPY cx TO '{tmp_path / 'x'}' WITH FORMAT = 'PARQUET'"
        )
    s.execute("CREATE TABLE ok (k bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO ok (k, v) VALUES (1, 'a')")
    out = str(tmp_path / "dump")
    assert s.execute(f"COPY ok TO '{out}' WITH FORMAT = 'PARQUET'") == 1
    # re-export must overwrite, like the CSV branch
    s.execute("INSERT INTO ok (k, v) VALUES (2, 'b')")
    assert s.execute(f"COPY ok TO '{out}' WITH FORMAT = 'PARQUET'") == 2


def test_maxwritetime_selector(spark, tmp_path):
    """MAXWRITETIME (CASSANDRA-17425): max live element-cell writetime
    on a collection, WRITETIME fallback on single-cell columns, PRIMARY
    KEY parts rejected like the other metadata selectors."""
    import pytest as _pytest

    from cassandra_spark.cql import CQLError
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE mw (k text PRIMARY KEY, v int, tags set<text>)")
    s.execute(
        "INSERT INTO mw (k, v, tags) VALUES ('a', 1, {'x'}) "
        "USING TIMESTAMP 100"
    )
    s.execute("UPDATE mw USING TIMESTAMP 250 SET tags = tags + {'y'} WHERE k = 'a'")
    s.execute("INSERT INTO mw (k, v) VALUES ('b', 2) USING TIMESTAMP 300")
    got = {
        r.k: (r.mwt, r.wt, r.mwv)
        for r in s.execute(
            "SELECT k, maxwritetime(tags) AS mwt, writetime(v) AS wt, "
            "maxwritetime(v) AS mwv FROM mw"
        ).collect()
    }
    assert got == {"a": (250, 100, 100), "b": (None, 300, 300)}
    # element deletion moves the max BACK to the surviving cell
    s.execute("UPDATE mw USING TIMESTAMP 400 SET tags = tags - {'y'} WHERE k = 'a'")
    row = s.execute(
        "SELECT maxwritetime(tags) AS mwt FROM mw WHERE k = 'a'"
    ).collect()[0]
    assert row.mwt == 100
    # default output name + key-part rejection
    assert "maxwritetime_tags" in s.execute(
        "SELECT maxwritetime(tags) FROM mw"
    ).columns
    with _pytest.raises(CQLError, match="PRIMARY KEY"):
        s.execute("SELECT maxwritetime(k) FROM mw")


def test_collection_functions(spark, tmp_path):
    """CASSANDRA-18060 collection functions: map_keys/map_values, the
    collection_* family over sets and (via values) maps, null
    collection -> null result, non-collection columns rejected."""
    import pytest as _pytest

    from cassandra_spark.cql import CQLError
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE cf (k text PRIMARY KEY, s set<int>, "
        "m map<text, int>, v int)"
    )
    s.execute(
        "INSERT INTO cf (k, s, m, v) VALUES "
        "('a', {3, 1, 8}, {'x': 10, 'y': 4}, 5)"
    )
    s.execute("INSERT INTO cf (k, v) VALUES ('b', 6)")
    got = {
        r.k: (r.cnt, r.mn, r.mx, r.sm, r.av, r.keys, r.vals, r.msum)
        for r in s.execute(
            "SELECT k, collection_count(s) AS cnt, "
            "collection_min(s) AS mn, collection_max(s) AS mx, "
            "collection_sum(s) AS sm, collection_avg(s) AS av, "
            "map_keys(m) AS keys, map_values(m) AS vals, "
            "collection_sum(m) AS msum FROM cf"
        ).collect()
    }
    assert got["a"] == (3, 1, 8, 12.0, 4.0, ["x", "y"], [10, 4], 14.0)
    assert got["b"] == (
        None, None, None, None, None, None, None, None,
    ), "null collections yield null everywhere"
    with _pytest.raises(CQLError, match="requires a collection"):
        s.execute("SELECT collection_min(v) FROM cf")
    with _pytest.raises(CQLError, match="requires a map"):
        s.execute("SELECT map_keys(s) FROM cf")


def test_arithmetic_and_cast_selectors(spark, tmp_path):
    """CQL 4.0 arithmetic + 3.10 CAST: integer `/` is INTEGER division
    (the reference's rule), CQL type names map onto Spark's, unknown
    CAST targets (incl. Spark-native spellings, which are not CQL) are
    rejected."""
    import pytest as _pytest

    from cassandra_spark.cql import CQLError
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE ar (k text PRIMARY KEY, a int, b int, d double)")
    s.execute("INSERT INTO ar (k, a, b, d) VALUES ('x', 7, 2, 7.0)")
    r = s.execute(
        "SELECT a + b AS s, a - b AS df, a * b AS p, a / b AS q, "
        "a % b AS m, d / b AS fq, 9 / b AS lq, "
        "CAST(a AS text) AS at, CAST(a AS double) AS ad, "
        "CAST(a AS decimal) AS adec FROM ar"
    ).collect()[0]
    assert (r.s, r.df, r.p, r.q, r.m) == (9, 5, 14, 3, 1), (
        "integer division must truncate (7 / 2 = 3)"
    )
    assert r.fq == 3.5, "a double operand keeps float division"
    assert r.lq == 4, "integer literal / integer column divides integrally"
    assert (r.at, r.ad) == ("7", 7.0)
    assert float(r.adec) == 7.0
    with _pytest.raises(CQLError, match="unsupported CAST target"):
        s.execute("SELECT CAST(a AS string) FROM ar")
    with _pytest.raises(CQLError, match="unsupported CAST target"):
        s.execute("SELECT CAST(a AS blob) FROM ar")
