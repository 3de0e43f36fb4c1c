"""The compiled write path: a table's schema is compiled into one column
table per schema version (``ColumnTable``), every in-place schema change
rebuilds it, int-family values are validated and canonicalized at write
time, and ``SELECT *`` returns the declared columns only."""

from __future__ import annotations

import pytest

from cassandra_spark import cql_dml
from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession
from perfbench import cqlgen


def _rows(sess, stmt):
    return sorted(tuple(r) for r in sess.execute(stmt).collect())


def _boom(*_a, **_k):
    raise AssertionError("a type was parsed per statement")


# --- compile once ------------------------------------------------------------


def test_write_stream_parses_no_type_per_statement(spark, tmp_path, monkeypatch):
    """After one statement of each kind, type parsing is patched to fail:
    1,000 stream statements (INSERT, UPDATE, DELETE, BATCH, TTL,
    TIMESTAMP, through a flush) still run, and the table's final state
    equals the reference model."""
    sess = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=1_500)
    sess.execute(cqlgen.DDL)
    model = cqlgen.RefModel()
    stream = cqlgen.WriteStream(11, 200, 8, lambda: model.clock)
    seen: set = set()
    while len(seen) < 4:  # insert, update, delete, batch
        st = stream.next()
        sess.execute(st.text)
        model.apply(st)
        seen.add(st.kind)
    kinds = {"ttl": 0, "timestamp": 0}
    with monkeypatch.context() as m:
        m.setattr(cql_dml, "parse_coll_type", _boom)
        m.setattr(cql_dml, "parse_struct_type", _boom)
        for _ in range(1_000):
            st = stream.next()
            sess.execute(st.text)
            model.apply(st)
            kinds["ttl"] += "USING TTL" in st.text
            kinds["timestamp"] += "TIMESTAMP" in st.text
    assert kinds["ttl"] and kinds["timestamp"]
    assert sess.table(cqlgen.TABLE)._segments  # the stream crossed a flush
    got = _rows(sess, f"SELECT k, c, v, n, tag FROM {cqlgen.TABLE}")
    assert got == model.all_rows()


def _add_regular(s):
    s.execute("ALTER TABLE t ADD x int")
    s.execute("INSERT INTO t (k, c, v, x) VALUES ('a', 2, 'q', '07')")
    return "SELECT c, x FROM t WHERE k = 'a'", [(1, None), (2, 7)]


def _add_static(s):
    s.execute("ALTER TABLE t ADD st text STATIC")
    s.execute("UPDATE t SET st = 's1' WHERE k = 'a'")
    return "SELECT c, st FROM t WHERE k = 'a'", [(1, "s1")]


def _add_collection(s):
    s.execute("ALTER TABLE t ADD l list<int>")
    s.execute("UPDATE t SET l = [3, '04'] + l WHERE k = 'a' AND c = 1")
    s.execute("UPDATE t SET l = l + [5] WHERE k = 'a' AND c = 1")
    return "SELECT l FROM t WHERE k = 'a'", [([3, 4, 5],)]


def _add_udt(s):
    s.execute("ALTER TABLE t ADD fa frozen<addr>")
    s.execute("ALTER TABLE t ADD na addr")
    s.execute(
        "UPDATE t SET fa = {street: 'x', zip: 5}, na = {street: 'y'} "
        "WHERE k = 'a' AND c = 1"
    )
    s.execute("UPDATE t SET na.zip = '06' WHERE k = 'a' AND c = 1")
    return (
        "SELECT fa.zip, na.street, na.zip FROM t WHERE k = 'a'",
        [(5, "y", 6)],
    )


def _add_vector(s):
    s.execute("ALTER TABLE t ADD e vector<int, 2>")
    with pytest.raises(CQLError, match="expected 2 elements"):
        s.execute("UPDATE t SET e = [1, 2, 3] WHERE k = 'a' AND c = 1")
    s.execute("UPDATE t SET e = [1, 2] WHERE k = 'a' AND c = 1")
    return "SELECT e FROM t WHERE k = 'a'", [([1, 2],)]


def _drop_readd(s):
    s.execute("ALTER TABLE t DROP v")
    with pytest.raises(CQLError, match="unknown column 'v'"):
        s.execute("INSERT INTO t (k, c, v) VALUES ('a', 2, 'q')")
    with pytest.raises(CQLError, match="cannot re-add"):
        s.execute("ALTER TABLE t ADD v int")
    s.execute("ALTER TABLE t ADD w int")
    with pytest.raises(CQLError, match="invalid int value"):
        s.execute("INSERT INTO t (k, c, w) VALUES ('a', 2, 'q')")
    s.execute("ALTER TABLE t ADD v text")
    s.execute("INSERT INTO t (k, c, v, w) VALUES ('a', 2, 'q', 3)")
    return "SELECT c, v, w FROM t WHERE k = 'a'", [(1, None, None), (2, "q", 3)]


def _rename(s):
    s.execute("ALTER TABLE t RENAME c TO cc")
    with pytest.raises(CQLError):
        s.execute("INSERT INTO t (k, c, v) VALUES ('a', 2, 'q')")
    s.execute("INSERT INTO t (k, cc, v) VALUES ('a', '02', 'q')")
    s.execute("DELETE FROM t WHERE k = 'a' AND cc = '+1'")
    return "SELECT cc, v FROM t WHERE k = 'a'", [(2, "q")]


def _alter_type(s):
    s.execute("ALTER TABLE t ADD fa frozen<addr>")
    with pytest.raises(CQLError, match="unknown struct field"):
        s.execute("UPDATE t SET fa = {city: 'c'} WHERE k = 'a' AND c = 1")
    s.execute("ALTER TYPE addr ADD city text")
    s.execute("UPDATE t SET fa = {city: 'c'} WHERE k = 'a' AND c = 1")
    return "SELECT fa.city FROM t WHERE k = 'a'", [("c",)]


def _recreate(s):
    s.execute("DROP TABLE t")
    s.execute("CREATE TABLE t (k text, c text, v int, PRIMARY KEY (k, c))")
    with pytest.raises(CQLError, match="invalid int value"):
        s.execute("INSERT INTO t (k, c, v) VALUES ('a', 'x', 'q')")
    s.execute("INSERT INTO t (k, c, v) VALUES ('a', '01', '09')")
    return "SELECT c, v FROM t WHERE k = 'a'", [("01", 9)]


@pytest.mark.parametrize(
    "change",
    [_add_regular, _add_static, _add_collection, _add_udt, _add_vector,
     _drop_readd, _rename, _alter_type, _recreate],
    ids=lambda f: f.__name__.strip("_"),
)
def test_writes_after_a_schema_change(spark, change):
    """Each in-place schema change (and a table re-created under its
    name) recompiles the write path: writes after it use the new
    columns and types, and a pinned read and the scan both see them."""
    s = CqlSession(spark)
    s.execute("CREATE TYPE addr (street text, zip int)")
    s.execute("CREATE TABLE t (k text, c int, v text, PRIMARY KEY (k, c))")
    s.execute("INSERT INTO t (k, c) VALUES ('a', 1)")
    s.execute("SELECT * FROM t").collect()  # memoize the old plan
    pinned, want = change(s)
    assert _rows(s, pinned) == want
    scan = pinned.replace(" WHERE k = 'a'", "")
    assert _rows(s, scan) == want


def test_alter_type_reaches_scan_and_pinned_read(spark):
    """ALTER TYPE widens every embedding of the type in place; the next
    scan and pinned read carry the new field without waiting for a
    write."""
    s = CqlSession(spark)
    s.execute("CREATE TYPE addr (street text)")
    s.execute("CREATE TABLE u (k text PRIMARY KEY, a frozen<addr>)")
    s.execute("INSERT INTO u (k, a) VALUES ('x', {street: 'main'})")
    s.execute("SELECT a FROM u").collect()
    s.execute("ALTER TYPE addr ADD zip int")
    for stmt in ("SELECT a FROM u", "SELECT a FROM u WHERE k = 'x'"):
        (row,) = s.execute(stmt).collect()
        assert row.a.asDict() == {"street": "main", "zip": None}


# --- int-family values -------------------------------------------------------


@pytest.fixture()
def ints(spark):
    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE n (k text, c int, v int, t tinyint, b bigint, "
        "l list<int>, m map<smallint, text>, tp tuple<int, text>, "
        "ll list<frozen<list<int>>>, PRIMARY KEY (k, c))"
    )
    return s


@pytest.mark.parametrize(
    "stmt",
    [
        "INSERT INTO n (k, c, v) VALUES ('b', 1, 'abc')",
        "INSERT INTO n (k, c, v) VALUES ('b', 1, 1.5)",
        "INSERT INTO n (k, c, v) VALUES ('b', 1, '1_000')",
        "INSERT INTO n (k, c, t) VALUES ('b', 1, 128)",
        "INSERT INTO n (k, c, b) VALUES ('b', 1, 9223372036854775808)",
        "INSERT INTO n (k, c, v) VALUES ('b', 'x', 1)",
        "INSERT INTO n (k, c, l) VALUES ('b', 1, [1, 'x'])",
        "INSERT INTO n (k, c, m) VALUES ('b', 1, {40000: 'a'})",
        "INSERT INTO n (k, c, tp) VALUES ('b', 1, (2147483648, 'x'))",
        "INSERT INTO n (k, c, ll) VALUES ('b', 1, [[1, 'x']])",
        "UPDATE n SET v = 'abc' WHERE k = 'b' AND c = 1",
        "UPDATE n SET v = 1 WHERE k = 'b' AND c = 'x'",
        "UPDATE n SET m['y'] = 'a' WHERE k = 'b' AND c = 1",
        "DELETE FROM n WHERE k = 'b' AND c = 'x'",
        "DELETE FROM n WHERE k = 'b' AND c > '1.5'",
    ],
)
def test_bad_int_values_fail_at_write_time(ints, stmt):
    with pytest.raises(CQLError, match="invalid (int|tinyint|bigint|smallint) value"):
        ints.execute(stmt)
    assert ints.table("n")._log == []  # the statement left no cell
    assert ints.execute("SELECT * FROM n").collect() == []


def test_int_spellings_name_one_value(ints):
    """'05', '+5' and ' 5 ' are the value 5: as a clustering key they
    name one row (UPDATE and DELETE by any spelling reach it), and as
    map keys one entry."""
    s = ints
    s.execute("INSERT INTO n (k, c, v) VALUES ('a', 5, 1)")
    s.execute("INSERT INTO n (k, c, v, t) VALUES ('a', '05', 2, '+7')")
    assert _rows(s, "SELECT c, v, t FROM n") == [(5, 2, 7)]
    s.execute("UPDATE n SET b = ' -05 ' WHERE k = 'a' AND c = '+5'")
    s.execute("UPDATE n SET m[3] = 'x', m['03'] = 'y' WHERE k = 'a' AND c = 5")
    assert _rows(s, "SELECT c, v, b, m FROM n WHERE k = 'a'") == [
        (5, 2, -5, {3: "y"})
    ]
    s.execute("DELETE m['+3'] FROM n WHERE k = 'a' AND c = 005")
    assert _rows(s, "SELECT m FROM n WHERE k = 'a'") == [(None,)]
    s.execute("INSERT INTO n (k, c) VALUES ('a', 6)")
    s.execute("DELETE FROM n WHERE k = 'a' AND c >= '05' AND c < '+6'")
    assert _rows(s, "SELECT c FROM n") == [(6,)]
    s.execute("DELETE FROM n WHERE k = 'a' AND c = '0006'")
    assert _rows(s, "SELECT * FROM n") == []


def test_malformed_items_are_cql_errors(ints):
    """A SET item or DELETE selector that starts with no column name is
    an invalid statement, like any other."""
    for stmt in (
        "UPDATE n SET [1] = 2 WHERE k = 'b' AND c = 1",
        "DELETE [1] FROM n WHERE k = 'b' AND c = 1",
        "DELETE [1] FROM n WHERE k = 'b' IF EXISTS",
    ):
        with pytest.raises(CQLError):
            ints.execute(stmt)


# --- SELECT * ----------------------------------------------------------------


def test_select_star_returns_declared_columns(spark):
    """``*`` expands to the declared columns, on a pinned read, a scan
    and a 2i read alike; WRITETIME() still reads the cell metadata."""
    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE w (k text, c int, v int, l list<int>, tag text, "
        "PRIMARY KEY (k, c))"
    )
    s.execute("CREATE INDEX ON w (tag)")
    s.execute(
        "INSERT INTO w (k, c, v, l, tag) VALUES ('a', 1, 2, [3], 't') "
        "USING TIMESTAMP 100"
    )
    row = {"k": "a", "c": 1, "v": 2, "l": [3], "tag": "t"}
    for where in ("", " WHERE k = 'a'", " WHERE tag = 't'"):
        df = s.execute(f"SELECT * FROM w{where}")
        assert sorted(df.columns) == sorted(row)
        assert [r.asDict() for r in df.collect()] == [row]
        (wt,) = s.execute(
            f"SELECT WRITETIME(v), MAXWRITETIME(l) FROM w{where}"
        ).collect()
        assert tuple(wt) == (100, 100)
