"""Round-7 ADVICE regressions: trigger augments surviving a mid-statement
spill, lcs_compact cascading past an empty level, nested list literals,
COPY TO microsecond round-trip + uniform line endings, DROP TRIGGER
superuser gate, and UNMASK grants checked against the granted resource."""

from __future__ import annotations

import pytest

from cassandra_spark.cql import _rewrite_list_literals
from cassandra_spark.cql_session import CqlSession, CQLError


# --- high: trigger augments must survive a mid-statement spill ---------


def _audit_fn(sess, table, cells):
    return [
        f"INSERT INTO audit (k, src_col, v) VALUES "
        f"('{c[0]}', '{c[2]}', '{c[4]}')"
        for c in cells
        if c[5] == "cell"
    ]


def test_trigger_fires_across_spill_threshold(spark, tmp_path):
    # spill_threshold=4: statements 4..6 cross flush() inside execute,
    # which clears _log — before the fix the trigger saw zero cells for
    # those statements and the augment silently vanished.
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE acct (k text PRIMARY KEY, v int)")
    s.execute(
        "CREATE TABLE audit (k text, src_col text, v text, "
        "PRIMARY KEY (k, src_col))"
    )
    s.register_trigger_class("AuditTrigger", _audit_fn)
    s.execute("CREATE TRIGGER aud ON acct USING 'AuditTrigger'")
    for i in range(6):
        s.execute(f"INSERT INTO acct (k, v) VALUES ('r{i}', {i})")
    rows = {
        (r.k, r.v)
        for r in s.execute("SELECT k, v FROM audit").collect()
    }
    assert rows == {(f"r{i}", str(i)) for i in range(6)}, (
        "every INSERT must fire exactly one augment, including the ones "
        "whose execution crossed the spill threshold"
    )
    # the spill itself really happened (the bug needs a flush mid-run)
    assert s.table("acct")._segments, "expected at least one spill segment"


# --- medium: lcs_compact must cascade past an empty level --------------


def test_lcs_cascade_checks_levels_past_empty(spark, tmp_path):
    import os

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE lt (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'LeveledCompactionStrategy', 'sstable_size_in_mb': '1'}"
    )
    t = s.table("lt")
    t.lcs_target_bytes = 2048
    t.lcs_fanout = 2
    i = 0
    for _ in range(6):
        for _ in range(12):
            s.execute(f"INSERT INTO lt (k, v) VALUES ('k{i}', {i})")
            i += 1
        t.flush()
    # pathological state the old loop never reached: L1 EMPTY while L2
    # is far over its byte budget — "break on first empty level" left
    # L2 over budget forever.
    for seg in t._segments:
        t._seg_level[seg] = 2
    t.lcs_compact()
    levels: dict[int, list[str]] = {}
    for seg in t._segments:
        levels.setdefault(t._seg_level.get(seg, 0), []).append(seg)
    top = max(levels)
    assert top >= 3, "over-budget L2 should have promoted past empty L1"
    for lvl, segs in levels.items():
        if lvl in (0, top):
            continue
        budget = t._lcs_target() * (t.lcs_fanout ** lvl)
        assert sum(os.path.getsize(p) for p in segs) <= budget
    # data intact through the forced cascade
    n = s.execute("SELECT count(*) AS n FROM lt").collect()[0].n
    assert n == i


# --- low: nested list literals rewrite cleanly --------------------------


def test_nested_list_literal_rewrites_recursively():
    assert (
        _rewrite_list_literals("tags = [[1,2],[3,4]]")
        == "tags = array(array(1,2),array(3,4))"
    )
    # subscripts inside a literal stay subscripts
    assert (
        _rewrite_list_literals("x = [m['a'], n[0]]")
        == "x = array(m['a'], n[0])"
    )
    # quoted brackets stay opaque at every depth
    assert (
        _rewrite_list_literals("v = [['a]b', 'c'], ['d']]")
        == "v = array(array('a]b', 'c'), array('d'))"
    )
    # unterminated OUTER bracket stays put; the complete inner literal
    # still rewrites (no truncation/garbage, unlike the old scanner)
    assert _rewrite_list_literals("v = [[1,2]") == "v = [array(1,2)"


def test_nested_list_select_roundtrip(spark):
    # the session DDL rejects nested collections by design; the nested
    # literal reaches real SQL through the cql_select front-end over a
    # parquet-backed table with an array<array<int>> column
    from cassandra_spark.catalog import TableMeta
    from cassandra_spark.cql import cql_select

    df = spark.createDataFrame(
        [("a", [[1, 2], [3, 4]]), ("b", [[5]])],
        "k string, grid array<array<int>>",
    )
    meta = TableMeta(name="nl", partition_key=("k",))
    out = cql_select(
        spark, "",
        "SELECT k FROM nl WHERE grid = [[1,2],[3,4]] ALLOW FILTERING",
        tables={"nl": (df, meta)},
    )
    assert [r.k for r in out.collect()] == ["a"]


# --- low: COPY TO keeps µs precision and uniform line endings ----------


def test_copy_to_roundtrips_microseconds(spark, tmp_path):
    s = CqlSession(spark)
    s.execute("CREATE TABLE ts_t (k text PRIMARY KEY, at timestamp)")
    s.execute(
        "INSERT INTO ts_t (k, at) VALUES "
        "('a', '2024-03-01 12:34:56.789123')"
    )
    out = str(tmp_path / "ts.csv")
    assert s.execute(f"COPY ts_t TO '{out}'") == 1
    raw = open(out, "rb").read()
    assert b"\r\n" not in raw, "header and data must share one terminator"
    assert b".789123" in raw, "sub-second precision must survive export"
    # full round trip: COPY FROM the export reproduces the µs value
    s.execute("CREATE TABLE ts_t2 (k text PRIMARY KEY, at timestamp)")
    assert s.execute(f"COPY ts_t2 FROM '{out}'") == 1
    a = s.execute("SELECT at FROM ts_t").collect()[0].at
    b = s.execute("SELECT at FROM ts_t2").collect()[0].at
    assert a == b and a.microsecond == 789123


# --- low: DROP TRIGGER requires superuser -------------------------------


def test_drop_trigger_superuser_only(spark):
    s = CqlSession(spark)
    s.execute("CREATE TABLE tt (k text PRIMARY KEY, v int)")
    s.register_trigger_class("Noop", lambda se, t, c: [])
    s.execute("CREATE TRIGGER trg ON tt USING 'Noop'")
    s.execute("CREATE ROLE pleb WITH LOGIN = true")
    s.login("pleb")
    with pytest.raises(CQLError, match="superuser"):
        s.execute("DROP TRIGGER trg ON tt")
    s.login("cassandra")
    s.execute("DROP TRIGGER trg ON tt")
    assert "tt" not in s.triggers


# --- UNMASK grant is AUTHORIZE-scoped to the granted table --------------


def test_unmask_grant_respects_resource_scope(spark):
    s = CqlSession(spark)
    for ks in ("ksa", "ksb"):
        s.execute(
            f"CREATE KEYSPACE {ks} WITH replication = "
            "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
        )
    s.execute("USE ksa")
    s.execute("CREATE TABLE ta (k text PRIMARY KEY, v text)")
    s.execute("USE ksb")
    s.execute("CREATE TABLE tb (k text PRIMARY KEY, v text)")
    s.execute("USE session")
    s.execute("CREATE ROLE scoped WITH LOGIN = true")
    s.execute("GRANT AUTHORIZE ON KEYSPACE ksa TO scoped")
    s.login("scoped")
    # in-scope grant succeeds
    s.execute("GRANT UNMASK ON TABLE ksa.ta TO scoped")
    # out-of-scope keyspace must be rejected
    with pytest.raises(CQLError, match="AUTHORIZE"):
        s.execute("GRANT UNMASK ON TABLE ksb.tb TO scoped")
    s.login("cassandra")


# --- role grants are AUTHORIZE-scoped to the granted role ----------------


def test_grant_role_requires_authorize_on_that_role(spark):
    s = CqlSession(spark)
    for r in ("alpha", "beta", "grantee", "steward"):
        s.execute(f"CREATE ROLE {r} WITH LOGIN = true")
    s.execute("GRANT AUTHORIZE ON ROLE alpha TO steward")
    s.login("steward")
    s.execute("GRANT alpha TO grantee")  # in-scope: allowed
    with pytest.raises(CQLError, match="AUTHORIZE"):
        s.execute("GRANT beta TO grantee")  # out-of-scope: rejected
    s.login("cassandra")
    # ALL ROLES covers every role
    s.execute("GRANT AUTHORIZE ON ALL ROLES TO steward")
    s.login("steward")
    s.execute("GRANT beta TO grantee")
    s.login("cassandra")
    assert {"alpha", "beta"} <= s.role_grants.get("grantee", set())


# --- qualified names across the remaining DDL/COPY statements ------------


def test_qualified_names_truncate_alter_index_copy(spark, tmp_path):
    """TRUNCATE / ALTER TABLE / CREATE INDEX / COPY accept ks.table and
    operate on the same registry key the bare name does (the r6
    qualified-name family, closed for the remaining statements)."""
    s = CqlSession(spark)
    s.execute(
        "CREATE KEYSPACE q7 WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    s.execute("USE q7")
    s.execute("CREATE TABLE qt (k text PRIMARY KEY, v int)")
    s.execute("INSERT INTO qt (k, v) VALUES ('x', 1)")
    s.execute("USE session")  # q7 is NOT current for everything below
    s.execute("ALTER TABLE q7.qt ADD extra int")
    assert "extra" in s.table("q7.qt").schema.regular
    s.execute("CREATE INDEX ON q7.qt (v)")
    assert ("q7.qt", "v", "values", None) in s.index_names.values()
    out = str(tmp_path / "q.csv")
    assert s.execute(f"COPY q7.qt TO '{out}'") == 1
    s.execute("TRUNCATE q7.qt")
    assert s.execute("SELECT count(*) AS n FROM q7.qt").collect()[0].n == 0
    # COPY FROM while USE'd elsewhere: generated INSERTs must hit q7.qt
    assert s.execute(f"COPY q7.qt FROM '{out}'") == 1
    assert s.execute("SELECT count(*) AS n FROM q7.qt").collect()[0].n == 1
    # wrong keyspace tag still rejected
    with pytest.raises(CQLError, match="unknown table"):
        s.execute("TRUNCATE session.qt")


def test_unmask_spellings_all_lift_masks(spark):
    """Every UNMASK spelling (bare, qualified, PERMISSION keyword) lands
    in the session's unmasked set — none can silently record an entry
    the mask check never consults."""
    s = CqlSession(spark)
    s.execute("CREATE TABLE mm (k text PRIMARY KEY, "
              "ssn text MASKED WITH mask_replace('xxx'))")
    s.execute("INSERT INTO mm (k, ssn) VALUES ('a', 'secret')")
    assert [r.ssn for r in s.execute("SELECT ssn FROM mm").collect()] == ["xxx"]
    s.execute("GRANT UNMASK PERMISSION ON TABLE session.mm TO cassandra")
    assert [r.ssn for r in s.execute("SELECT ssn FROM mm").collect()] == [
        "secret"
    ]
    s.execute("REVOKE UNMASK ON session.mm FROM cassandra")
    assert [r.ssn for r in s.execute("SELECT ssn FROM mm").collect()] == ["xxx"]


def test_qualified_names_describe_and_mv(spark):
    """DESCRIBE TABLE ks.t and CREATE MATERIALIZED VIEW ... FROM ks.t
    resolve through the registry like every other statement."""
    s = CqlSession(spark)
    s.execute(
        "CREATE KEYSPACE q8 WITH replication = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    s.execute("USE q8")
    s.execute("CREATE TABLE qt (k text PRIMARY KEY, c int, v int)")
    s.execute("INSERT INTO qt (k, c, v) VALUES ('a', 1, 2)")
    s.execute("USE session")
    d = s.execute("DESCRIBE TABLE q8.qt").collect()
    assert d and d[0].keyspace_name == "q8"
    # reference rule: a view lives in its base table's keyspace — a
    # bare view name in another current keyspace is rejected
    with pytest.raises(CQLError, match="same keyspace"):
        s.execute(
            "CREATE MATERIALIZED VIEW mv1 AS SELECT * FROM q8.qt "
            "WHERE k IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, k)"
        )
    s.execute(
        "CREATE MATERIALIZED VIEW q8.mv1 AS SELECT * FROM q8.qt "
        "WHERE k IS NOT NULL AND v IS NOT NULL PRIMARY KEY (v, k)"
    )
    assert len(s.execute("SELECT * FROM q8.mv1 WHERE v = 2").collect()) == 1
    with pytest.raises(CQLError, match="unknown table"):
        s.execute("DESCRIBE TABLE session.qt")


def test_index_ddl_requires_alter_permission(spark):
    """CREATE/DROP INDEX are ALTER-gated on the table (the reference's
    rule) — previously any logged-in role could add or drop indexes."""
    s = CqlSession(spark)
    s.execute("CREATE TABLE it (k text PRIMARY KEY, v int)")
    s.execute("CREATE INDEX iv ON it (v)")
    s.execute("CREATE ROLE nobody WITH LOGIN = true")
    s.login("nobody")
    with pytest.raises(CQLError, match="ALTER"):
        s.execute("CREATE INDEX iv2 ON it (v)")
    with pytest.raises(CQLError, match="ALTER"):
        s.execute("DROP INDEX iv")
    s.login("cassandra")
    s.execute("GRANT ALTER ON TABLE it TO nobody")
    s.login("nobody")
    s.execute("DROP INDEX iv")
    s.login("cassandra")
    assert "iv" not in s.index_names


def test_function_aggregate_type_ddl_permission_gated(spark):
    """CREATE/DROP FUNCTION, AGGREGATE, and TYPE are permission-gated
    (CREATE/DROP, the reference's functions-resource rule reduced to the
    session keyspace) — previously any logged-in role could define or
    remove them."""
    s = CqlSession(spark)
    s.execute(
        "CREATE FUNCTION basef (p double) RETURNS double "
        "LANGUAGE sql AS 'p + 1'"
    )
    s.execute("CREATE TYPE baset (a int)")
    s.execute("CREATE ROLE lowly WITH LOGIN = true")
    s.login("lowly")
    for stmt in (
        "CREATE FUNCTION f2 (p double) RETURNS double LANGUAGE sql AS 'p'",
        "CREATE AGGREGATE a2 (double) SFUNC f RETURNS double",
        "DROP FUNCTION basef",
        "CREATE TYPE t2 (a int)",
        "DROP TYPE baset",
    ):
        with pytest.raises(CQLError, match="CREATE|DROP|unsupported"):
            s.execute(stmt)
    s.login("cassandra")
    s.execute("DROP FUNCTION basef")
    assert "basef" not in s.functions
