"""Role-based auth surface: CREATE/DROP ROLE, GRANT/REVOKE permissions
and role membership, LIST ROLES / LIST PERMISSIONS, system_auth virtual
tables, and enforcement on SELECT/DML/DDL (SURVEY.md §2.13).

The default state matches a fresh reference cluster: one superuser role
(`cassandra`) logged in, so sessions that never touch auth see no gate.
"""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession


def _sess(spark):
    s = CqlSession(spark)
    s.execute("CREATE TABLE kv (k text PRIMARY KEY, v text)")
    s.execute("INSERT INTO kv (k, v) VALUES ('a', '1')")
    return s


def test_create_list_drop_roles(spark):
    s = _sess(spark)
    s.execute("CREATE ROLE analyst WITH LOGIN = true")
    s.execute("CREATE ROLE admin WITH LOGIN = true AND SUPERUSER = true")
    s.execute("CREATE ROLE IF NOT EXISTS analyst")  # no error
    with pytest.raises(CQLError, match="already exists"):
        s.execute("CREATE ROLE analyst")
    rows = {r.role: (r.super, r.login) for r in s.execute("LIST ROLES").collect()}
    assert rows["cassandra"] == (True, True)
    assert rows["analyst"] == (False, True)
    assert rows["admin"] == (True, True)
    s.execute("DROP ROLE admin")
    s.execute("DROP ROLE IF EXISTS admin")  # no error
    with pytest.raises(CQLError, match="unknown role"):
        s.execute("DROP ROLE admin")
    with pytest.raises(CQLError, match="logged in as"):
        s.execute("DROP ROLE cassandra")


def test_grant_revoke_and_enforcement(spark):
    s = _sess(spark)
    s.execute("CREATE ROLE reader WITH LOGIN = true")
    s.execute("GRANT SELECT ON TABLE kv TO reader")
    s.login("reader")
    # SELECT allowed, MODIFY denied
    assert [r.v for r in s.execute("SELECT v FROM kv WHERE k = 'a'").collect()] == ["1"]
    with pytest.raises(CQLError, match="no MODIFY permission"):
        s.execute("INSERT INTO kv (k, v) VALUES ('b', '2')")
    with pytest.raises(CQLError, match="no MODIFY permission"):
        s.execute("TRUNCATE kv")
    with pytest.raises(CQLError, match="no CREATE permission"):
        s.execute("CREATE TABLE t2 (k text PRIMARY KEY)")
    with pytest.raises(CQLError, match="no AUTHORIZE permission"):
        s.execute("GRANT MODIFY ON TABLE kv TO reader")
    # back as superuser: grant MODIFY, reader can now write
    s.login("cassandra")
    s.execute("GRANT MODIFY ON TABLE kv TO reader")
    s.login("reader")
    s.execute("INSERT INTO kv (k, v) VALUES ('b', '2')")
    # revoke turns it back off
    s.login("cassandra")
    s.execute("REVOKE MODIFY ON TABLE kv FROM reader")
    s.login("reader")
    with pytest.raises(CQLError, match="no MODIFY permission"):
        s.execute("DELETE FROM kv WHERE k = 'b'")


def test_keyspace_and_all_keyspaces_resources(spark):
    s = _sess(spark)
    s.execute("CREATE TABLE other (k text PRIMARY KEY, v text)")
    s.execute("CREATE ROLE ks_reader WITH LOGIN = true")
    s.execute("GRANT SELECT ON KEYSPACE session TO ks_reader")
    s.login("ks_reader")
    s.execute("SELECT * FROM kv")      # keyspace-level covers both tables
    s.execute("SELECT * FROM other")
    s.login("cassandra")
    s.execute("CREATE ROLE god WITH LOGIN = true")
    s.execute("GRANT ALL ON ALL KEYSPACES TO god")
    s.login("god")
    s.execute("INSERT INTO kv (k, v) VALUES ('g', 'x')")  # ALL ⊇ MODIFY
    s.execute("SELECT * FROM other")


def test_role_inheritance_transitive(spark):
    s = _sess(spark)
    s.execute("CREATE ROLE base")
    s.execute("CREATE ROLE mid")
    s.execute("CREATE ROLE leaf WITH LOGIN = true")
    s.execute("GRANT SELECT ON TABLE kv TO base")
    s.execute("GRANT base TO mid")
    s.execute("GRANT mid TO leaf")
    s.login("leaf")
    s.execute("SELECT * FROM kv")  # via leaf -> mid -> base
    with pytest.raises(CQLError, match="no MODIFY"):
        s.execute("INSERT INTO kv (k, v) VALUES ('x', 'y')")
    s.login("cassandra")
    # circularity rejected; LOGIN=false roles cannot log in
    with pytest.raises(CQLError, match="circular"):
        s.execute("GRANT leaf TO base")
    with pytest.raises(CQLError, match="not permitted to log in"):
        s.login("base")
    s.execute("REVOKE base FROM mid")
    s.login("leaf")
    with pytest.raises(CQLError, match="no SELECT"):
        s.execute("SELECT * FROM kv")


def test_list_permissions_and_system_auth_views(spark):
    s = _sess(spark)
    s.execute("CREATE ROLE a WITH LOGIN = true")
    s.execute("CREATE ROLE b")
    s.execute("GRANT SELECT ON TABLE kv TO a")
    s.execute("GRANT MODIFY ON KEYSPACE session TO b")
    s.execute("GRANT b TO a")
    perms = {
        (r.role, r.resource, r.permission)
        for r in s.execute("LIST ALL PERMISSIONS OF a").collect()
    }
    assert ("a", "<data/session/kv>", "SELECT") in perms
    assert ("b", "<data/session>", "MODIFY") in perms  # inherited listing
    norec = {
        (r.role, r.permission)
        for r in s.execute("LIST ALL PERMISSIONS OF a NORECURSIVE").collect()
    }
    assert norec == {("a", "SELECT")}
    only_sel = {
        r.permission
        for r in s.execute("LIST SELECT PERMISSIONS OF a").collect()
    }
    assert only_sel == {"SELECT"}
    # the system_auth surface a driver/nodetool reads
    roles = {
        r.role: (r.can_login, r.is_superuser, list(r.member_of))
        for r in s.execute("SELECT * FROM system_auth.roles").collect()
    }
    assert roles["a"] == (True, False, ["b"])
    assert roles["cassandra"][1] is True
    rp = {
        (r.role, r.resource, r.permission)
        for r in s.execute(
            "SELECT * FROM system_auth.role_permissions"
        ).collect()
    }
    assert ("a", "<data/session/kv>", "SELECT") in rp
    members = {
        (r.role, r.member)
        for r in s.execute("SELECT * FROM system_auth.role_members").collect()
    }
    assert members == {("b", "a")}


def test_superuser_bypasses_everything(spark):
    s = _sess(spark)
    s.execute("CREATE ROLE root WITH LOGIN = true AND SUPERUSER = true")
    s.login("root")
    s.execute("SELECT * FROM kv")
    s.execute("INSERT INTO kv (k, v) VALUES ('s', 'u')")
    s.execute("CREATE TABLE t3 (k text PRIMARY KEY)")
    s.execute("DROP TABLE t3")
    s.execute("CREATE ROLE made_by_root")


def test_unknown_targets_rejected(spark):
    s = _sess(spark)
    with pytest.raises(CQLError, match="unknown role"):
        s.execute("GRANT SELECT ON TABLE kv TO ghost")
    s.execute("CREATE ROLE r1")
    with pytest.raises(CQLError, match="unknown table"):
        s.execute("GRANT SELECT ON TABLE missing TO r1")
    with pytest.raises(CQLError, match="unknown role"):
        s.login("ghost")


def test_tracing_and_tablestats(spark):
    """TRACING ON records a sessions row + phase events per statement
    (the system_traces shape), readable both via accessors and the
    virtual tables; tablestats exposes segment/bloom counters."""
    s = _sess(spark)
    s.execute("TRACING ON")
    s.execute("INSERT INTO kv (k, v) VALUES ('t', '9')")
    s.execute("SELECT * FROM kv WHERE k = 't'")
    s.execute("TRACING OFF")
    s.execute("INSERT INTO kv (k, v) VALUES ('u', '8')")  # not traced
    sess_rows = s.trace_sessions().collect()
    assert [(r.session_id, r.command) for r in sess_rows] == [
        (1, "INSERT"), (2, "QUERY"),
    ]
    assert all(r.duration_micros >= 0 for r in sess_rows)
    ev = s.trace_events().collect()
    assert [(r.session_id, r.event_id, r.activity) for r in ev] == [
        (1, 1, "Parsing INSERT"), (1, 2, "Executing statement"),
        (2, 1, "Parsing SELECT"),
        (2, 2, "Merged data from memtables and 0 sstables"),
        (2, 3, "Read 1 live rows and 0 tombstone cells"),
        (2, 4, "Executing statement"),
    ]
    # virtual-table form (what cqlsh reads back)
    via_select = s.execute(
        "SELECT session_id, command FROM system_traces.sessions"
    ).collect()
    assert {(r.session_id, r.command) for r in via_select} == {
        (1, "INSERT"), (2, "QUERY"),
    }
    stats = {r.table_name: r for r in s.tablestats().collect()}
    assert stats["kv"].memtable_rows > 0
    assert stats["kv"].sstable_count == 0  # below spill threshold


def test_batch_enforcement_is_all_or_nothing(spark):
    """A batch touching ANY unauthorized table is rejected BEFORE any
    mutation applies — a denied batch is a no-op, like any failed batch.
    Prepared statements route through the same gate."""
    s = _sess(spark)
    s.execute("CREATE TABLE audit (k text PRIMARY KEY, v text)")
    s.execute("CREATE ROLE writer WITH LOGIN = true")
    s.execute("GRANT MODIFY ON TABLE kv TO writer")
    s.execute("GRANT SELECT ON TABLE kv TO writer")
    s.login("writer")
    with pytest.raises(CQLError, match="no MODIFY permission"):
        s.execute(
            "BEGIN BATCH "
            "INSERT INTO kv (k, v) VALUES ('m', '1'); "
            "INSERT INTO audit (k, v) VALUES ('m', '1'); "
            "APPLY BATCH"
        )
    # the authorized half was NOT applied
    assert s.execute("SELECT v FROM kv WHERE k = 'm'").collect() == []
    # single-table batch on the granted table works
    s.execute(
        "BEGIN BATCH "
        "INSERT INTO kv (k, v) VALUES ('m', '1'); "
        "INSERT INTO kv (k, v) VALUES ('n', '2'); "
        "APPLY BATCH"
    )
    assert len(s.execute("SELECT * FROM kv").collect()) == 3
    # prepared statements hit the same gate
    p = s.prepare("INSERT INTO audit (k, v) VALUES (?, ?)")
    with pytest.raises(CQLError, match="no MODIFY permission"):
        p.execute("x", "y")


def test_review_fixes_lwt_unmask_and_probing(spark):
    """Round-5 review pins: (1) conditional DML needs SELECT too (it
    reads row state back); (2) GRANT UNMASK requires AUTHORIZE; (3)
    CREATE/DROP ROLE deny BEFORE existence-revealing errors; (4) grants
    on unknown keyspaces are rejected, not silently dead; (5) failed
    traced statements still leave a trace row and ids are not reused."""
    s = _sess(spark)
    s.execute("CREATE ROLE w WITH LOGIN = true")
    s.execute("GRANT MODIFY ON TABLE kv TO w")
    s.login("w")
    s.execute("INSERT INTO kv (k, v) VALUES ('z', '0')")  # plain: fine
    with pytest.raises(CQLError, match="no SELECT permission"):
        s.execute("UPDATE kv SET v = '1' WHERE k = 'z' IF v = '0'")
    with pytest.raises(CQLError, match="no AUTHORIZE permission"):
        s.execute("GRANT UNMASK ON kv TO w")
    # existence is not leaked to unauthorized roles
    with pytest.raises(CQLError, match="no CREATE permission"):
        s.execute("CREATE ROLE w")  # exists, but CREATE denied first
    with pytest.raises(CQLError, match="no DROP permission"):
        s.execute("DROP ROLE ghost")  # absent, but DROP denied first
    s.login("cassandra")
    with pytest.raises(CQLError, match="unknown keyspace"):
        s.execute("GRANT SELECT ON KEYSPACE sesion TO w")
    # failed traced statements keep their session id
    s.execute("TRACING ON")
    s.execute("SELECT * FROM kv WHERE k = 'z'")
    with pytest.raises(CQLError):
        s.execute("SELECT * FROM nope_missing")
    s.execute("SELECT * FROM kv WHERE k = 'z'")
    s.execute("TRACING OFF")
    rows = s.trace_sessions().collect()
    assert [r.session_id for r in rows] == [1, 2, 3]
    acts = [
        (e.session_id, e.activity) for e in s.trace_events().collect()
    ]
    assert (2, "Request failed") in acts


def test_network_authorizer_dc_restrictions(spark):
    """4.0 network authorizer: ACCESS TO DATACENTERS restricts login by
    connecting DC; ALL DATACENTERS lifts it; superusers bypass; the
    virtual table lists only restricted roles."""
    s = _sess(spark)
    s.execute(
        "CREATE ROLE remote WITH LOGIN = true "
        "AND ACCESS TO DATACENTERS {'dc2'}"
    )
    with pytest.raises(CQLError, match="no access to datacenter"):
        s.login("remote")  # session's local DC is dc1
    s.login("remote", datacenter="DC2")  # case-insensitive
    s.login("cassandra")
    # ALTER merge to ALL lifts the restriction (and clears the vt row)
    s.execute("ALTER ROLE remote WITH ACCESS TO ALL DATACENTERS")
    s.login("remote")
    s.login("cassandra")
    assert s.execute(
        "SELECT role FROM system_auth.network_permissions"
    ).count() == 0
    # superuser with a restriction: row present, enforcement bypassed
    s.execute(
        "CREATE ROLE root2 WITH LOGIN = true AND SUPERUSER = true "
        "AND ACCESS TO DATACENTERS {'dc2'}"
    )
    s.login("root2")
    s.login("cassandra")
    rows = s.execute(
        "SELECT role, dcs FROM system_auth.network_permissions"
    ).collect()
    assert [(r.role, r.dcs) for r in rows] == [("root2", ["dc2"])]


def test_network_authorizer_validation(spark):
    s = _sess(spark)
    with pytest.raises(CQLError, match="unknown datacenter"):
        s.execute("CREATE ROLE r1 WITH ACCESS TO DATACENTERS {'dc9'}")
    with pytest.raises(CQLError, match="at least one"):
        s.execute("CREATE ROLE r2 WITH ACCESS TO DATACENTERS {}")
    with pytest.raises(CQLError, match="unsupported role option"):
        s.execute("CREATE ROLE r3 WITH ACCESS FROM CIDRS {'x'}")
    # ALTER ROLE needs the ALTER permission; unknown role errors
    with pytest.raises(CQLError, match="unknown role"):
        s.execute("ALTER ROLE ghost WITH LOGIN = false")
    s.execute("CREATE ROLE pleb WITH LOGIN = true")
    s.execute("CREATE ROLE target")
    s.login("pleb")
    with pytest.raises(CQLError, match="ALTER permission"):
        s.execute("ALTER ROLE target WITH LOGIN = true")
    s.login("cassandra")
    # LOGIN/SUPERUSER still parse through the shared option parser
    s.execute("ALTER ROLE target WITH LOGIN = true AND SUPERUSER = false")
    assert s.roles["target"]["can_login"] is True
