"""One WHERE analysis per SELECT: literal text never reads as structure.

The gate, the pinned read, the index prunes, the guardrails and the
Spark SQL rewrite all read the relations ``cql._analyse_where`` builds
once over the literal-masked clause. A string literal that spells a
column name, an operator, ``token(`` or ``CONTAINS`` is a value: the
statements below return the rows ``dml_oracle`` gives, and the pinned
ones run no Spark job. Also here: an ``INSERT ... JSON`` into a
non-frozen UDT writes the field cells the VALUES form writes, and
``bulk_load`` refuses an int-family value the statement path refuses.
"""

from __future__ import annotations

import os

import pytest

from cassandra_spark import cql, cql_session
from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession
from cassandra_spark.dml_oracle import dml_oracle_sql
from tests.test_history_fuzz import _full_log

ROWS = [
    ("v", "w > 1", 1),
    ("token(q)", "token(q)", 2),
    ("a", "x CONTAINS y", 3),
    ("it's", "k = 'v' OR w = 1", 4),
    ("b", "v", 5),
]


def _q(text: str) -> str:
    """``text`` as a CQL string literal."""
    return "'" + text.replace("'", "''") + "'"


@pytest.fixture()
def sess(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    for name, index in (("ti", True), ("tn", False)):
        s.execute(
            f"CREATE TABLE {name} (k text PRIMARY KEY, v text, w int)"
        )
        if index:
            s.execute(f"CREATE INDEX ON {name} (v)")
        for i, (k, v, w) in enumerate(ROWS):
            s.execute(
                f"INSERT INTO {name} (k, v, w) VALUES ({_q(k)}, {_q(v)}, {w})"
            )
            if i == 2:
                s.table(name).flush()
    return s


def _oracle(duck, sess, name, keep):
    t = sess.table(name)
    rows = duck.execute(
        dml_oracle_sql(t.schema, _full_log(t), t._max_wt + 1)
    ).fetchall()
    return sorted(tuple(r) for r in rows if keep(*r))


def _read(sess, stmt):
    return sorted(tuple(r) for r in sess.execute(stmt).collect())


# (table, statement, oracle filter over (k, v, w), served pinned)
CASES = [
    ("ti", "SELECT * FROM ti WHERE k = 'v'", lambda k, v, w: k == "v", True),
    ("ti", "SELECT * FROM ti WHERE v = 'w > 1'",
     lambda k, v, w: v == "w > 1", True),
    ("ti", "SELECT * FROM ti WHERE v = 'k = ''v'' OR w = 1'",
     lambda k, v, w: v == "k = 'v' OR w = 1", True),
    ("tn", "SELECT * FROM tn WHERE k = 'token(q)'",
     lambda k, v, w: k == "token(q)", True),
    ("tn", "SELECT * FROM tn WHERE k = 'it''s'",
     lambda k, v, w: k == "it's", True),
    ("tn", "SELECT * FROM tn WHERE v = 'token(q)' ALLOW FILTERING",
     lambda k, v, w: v == "token(q)", False),
    ("tn", "SELECT * FROM tn WHERE v = 'x CONTAINS y' ALLOW FILTERING",
     lambda k, v, w: v == "x CONTAINS y", False),
    ("tn", "SELECT * FROM tn WHERE v = 'v' AND w > 4 ALLOW FILTERING",
     lambda k, v, w: v == "v" and w > 4, False),
    # a real token() relation is still rewritten and still bypasses the
    # gate; the literal inside its argument stays a literal
    ("tn", "SELECT * FROM tn WHERE token(k) = token('token(q)')",
     lambda k, v, w: k == "token(q)", False),
]


@pytest.mark.parametrize("case", range(len(CASES)))
def test_literal_text_is_a_value(sess, duck, spark_jobs, case):
    name, stmt, keep, pinned = CASES[case]
    _read(sess, stmt)  # first read compiles and warms caches
    n0 = spark_jobs()
    got = _read(sess, stmt)
    assert got == _oracle(duck, sess, name, keep)
    assert got  # every case names an existing row
    if pinned:
        assert spark_jobs() == n0


def test_filtering_on_an_unindexed_column_still_needs_allow_filtering(sess):
    with pytest.raises(CQLError, match=r"data filtering on \['v'\]"):
        sess.execute("SELECT * FROM tn WHERE v = 'k'")
    with pytest.raises(CQLError, match=r"data filtering on \['w'\]"):
        sess.execute("SELECT * FROM ti WHERE v = 'w > 1' AND w > 1")


def test_rewrite_keeps_literals_verbatim():
    where = (
        "v = 'token(q)' AND token(k) > 1 AND s CONTAINS 'x CONTAINS y' "
        "AND m CONTAINS KEY 'a [1]' AND l = [1, 'b]']"
    )
    assert cql._rewrite_where(where, frozenset({"m"})) == (
        "v = 'token(q)' AND cassandra_token(k) > 1 "
        "AND array_contains(s, 'x CONTAINS y') "
        "AND map_contains_key(m, 'a [1]') AND l = array(1, 'b]')"
    )


# --- analyse once ------------------------------------------------------------


WARM = {
    "point": "SELECT c, v, tag FROM ev WHERE k = 'p2'",
    "slice": "SELECT c, v FROM ev WHERE k = 'p2' AND c >= 2 AND c < 5",
    "2i": "SELECT k, c, v FROM ev WHERE tag = 't1'",
    "scan": "SELECT k, c FROM ev WHERE v = 'x3' ALLOW FILTERING",
    # the projection is split and rewritten over the same masked copy
    "proj_pinned": (
        "SELECT token(k), 'a,b' AS t, 'token(q)' AS u, TTL(v) FROM ev "
        "WHERE k = 'p2'"
    ),
    "proj_scan": (
        "SELECT k, 'a,b' AS t, 'token(q)' AS u FROM ev "
        "WHERE v = 'x3' ALLOW FILTERING"
    ),
}


def test_each_select_masks_its_where_once_per_side(spark, tmp_path, monkeypatch):
    """After one read of each shape, ``_mask_quoted`` is counted: a
    SELECT masks its text once on the session side (guardrails, pinned
    read, prunes) and once inside ``cql_select`` (gate, WHERE rewrite,
    projection split and rewrite)."""
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE ev (k text, c int, v text, tag text, "
        "PRIMARY KEY (k, c))"
    )
    s.execute("CREATE INDEX ON ev (tag)")
    for i in range(12):
        s.execute(
            f"INSERT INTO ev (k, c, v, tag) VALUES "
            f"('p{i % 4}', {i}, 'x{i}', 't{i % 3}')"
        )
    for stmt in WARM.values():
        s.execute(stmt).collect()
    calls = {"all": 0, "select": 0}
    inside = [False]
    real_mask, real_select = cql._mask_quoted, cql_session.cql_select

    def mask(text):
        calls["all"] += 1
        calls["select"] += inside[0]
        return real_mask(text)

    def select(*a, **kw):
        inside[0] = True
        try:
            return real_select(*a, **kw)
        finally:
            inside[0] = False

    monkeypatch.setattr(cql, "_mask_quoted", mask)
    monkeypatch.setattr(cql_session, "cql_select", select)
    for shape, stmt in WARM.items():
        calls.update(all=0, select=0)
        assert s.execute(stmt).collect(), shape
        assert calls["select"] <= 1, shape
        assert calls["all"] - calls["select"] <= 1, shape


@pytest.mark.parametrize("where", ["WHERE k = 'v'", "WHERE w = 1 ALLOW FILTERING"])
def test_projection_literals_are_values(sess, where):
    """A comma, ``token(`` or ``/`` inside a projection literal is part
    of the value, on the pinned read and on the scan alike."""
    rows = sess.execute(
        f"SELECT k, 'a,b' AS t, 'token(q)' AS u, '4/2' AS d FROM tn {where}"
    ).collect()
    assert [tuple(r) for r in rows] == [("v", "a,b", "token(q)", "4/2")]


def test_select_reads_its_target_and_selectors_from_the_parse(sess):
    """The FROM target, the table whose masks apply and the cell-metadata
    selectors come from the parsed statement: a literal spelling
    ``FROM b`` or ``ttl(x)`` is a value."""
    rows = sess.execute(
        "SELECT 'a FROM b' AS z, k FROM tn WHERE k = 'v'"
    ).collect()
    assert [tuple(r) for r in rows] == [("a FROM b", "v")]
    sess.execute("ALTER TABLE tn ALTER v MASKED WITH mask_replace('***')")
    rows = sess.execute(
        "SELECT 'x FROM ti' AS z, v FROM tn WHERE k = 'v'"
    ).collect()
    assert [tuple(r) for r in rows] == [("x FROM ti", "***")]
    assert not cql.reads_cell_metadata(
        cql._parse("SELECT k, v FROM t WHERE k = 'ttl(x)'")
    )
    assert cql.reads_cell_metadata(
        cql._parse("SELECT k, TTL(v) FROM t WHERE k = 'x'")
    )


# --- INSERT JSON into a non-frozen UDT ---------------------------------------


def test_json_udt_insert_writes_field_cells(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TYPE ad (a text, b int)")
    s.execute("CREATE TABLE t (k text PRIMARY KEY, u ad)")
    s.execute("""INSERT INTO t JSON '{"k": "x", "u": {"a": "p''q", "b": 2}}'""")
    s.execute("INSERT INTO t (k, u) VALUES ('y', {a: 'p''q', b: 2})")
    s.execute("""INSERT INTO t JSON '{"k": "z", "u": {"b": "07"}}'""")
    log = s.table("t")._log
    assert all(r[3] is not None for r in log if r[2] == "u" and r[4] is not None)
    x = s.execute("SELECT u FROM t WHERE k = 'x'").collect()
    y = s.execute("SELECT u FROM t WHERE k = 'y'").collect()
    assert x == y and x[0].u.a == "p'q" and x[0].u.b == 2
    scan = {r.k: r.u for r in s.execute("SELECT k, u FROM t").collect()}
    assert scan["x"] == scan["y"] == x[0].u
    assert scan["z"].a is None and scan["z"].b == 7
    with pytest.raises(CQLError, match="unknown struct field"):
        s.execute("""INSERT INTO t JSON '{"k": "w", "u": {"c": 1}}'""")
    # DEFAULT NULL clears an omitted UDT as a VALUES null does
    s.execute("""INSERT INTO t JSON '{"k": "x"}' DEFAULT NULL""")
    s.execute("INSERT INTO t (k, u) VALUES ('y', null)")
    assert s.execute("SELECT u FROM t WHERE k = 'x'").collect() == (
        s.execute("SELECT u FROM t WHERE k = 'y'").collect()
    ) == [(None,)]


# --- bulk_load validates int-family values -----------------------------------


def test_bulk_load_refuses_what_a_statement_refuses(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE bad (k text PRIMARY KEY, n int, sm smallint)")
    t = s.table("bad")
    for rows in ([("a", "abc", None)], [("b", None, "40000")]):
        with pytest.raises(CQLError, match="invalid"):
            t.bulk_load(spark.createDataFrame(
                rows, "k string, n string, sm string"
            ))
        assert t._segments == []
        # the failed job left no file behind
        assert [f for _, _, fs in os.walk(tmp_path) for f in fs] == []
    # in-range spellings load canonicalized, as a statement stores them
    assert t.bulk_load(spark.createDataFrame(
        [("a", " 05", None), ("b", None, "-7")],
        "k string, n string, sm string",
    )) == 2
    assert sorted(tuple(r) for r in s.execute("SELECT * FROM bad").collect()) == [
        ("a", 5, None), ("b", None, -7),
    ]
