"""Driver-built frames: every system view and admin frame of a session is
a local (Arrow-built) frame, so reading it runs no Spark job; each keeps
its pinned schema whether it has rows or not; and a SELECT builds only
the view it reads."""

from __future__ import annotations

import pytest

from cassandra_spark import cql_session
from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession

# df.schema.simpleString() of each surface — the same with and without rows
SCHEMAS = {
    "system.local": "struct<key:string,cluster_name:string,"
    "partitioner:string,release_version:string,data_center:string>",
    "system.peers": "struct<peer:string,data_center:string,"
    "release_version:string>",
    "system.compaction_history": "struct<id:bigint,keyspace_name:string,"
    "columnfamily_name:string,compaction_type:string,compacted_at:bigint,"
    "n_inputs:int,n_outputs:int,bytes_in:bigint,bytes_out:bigint,"
    "rows_in:bigint,rows_out:bigint>",
    "system_schema.keyspaces": "struct<keyspace_name:string,"
    "durable_writes:boolean,replication:string>",
    "system_schema.tables": "struct<keyspace_name:string,table_name:string>",
    "system_schema.columns": "struct<keyspace_name:string,table_name:string,"
    "column_name:string,kind:string,type:string>",
    "system_schema.types": "struct<keyspace_name:string,type_name:string,"
    "struct_type:string>",
    "system_schema.functions": "struct<keyspace_name:string,"
    "function_name:string,argument_names:array<string>,body:string,"
    "language:string>",
    "system_schema.aggregates": "struct<keyspace_name:string,"
    "aggregate_name:string,fold_template:string>",
    "system_schema.indexes": "struct<keyspace_name:string,table_name:string,"
    "index_name:string,kind:string,target:string>",
    "system_schema.triggers": "struct<keyspace_name:string,"
    "table_name:string,trigger_name:string,options:string>",
    "system_schema.dropped_columns": "struct<keyspace_name:string,"
    "table_name:string,column_name:string,dropped_time_us:bigint,"
    "type:string,kind:string>",
    "system_schema.views": "struct<keyspace_name:string,view_name:string,"
    "base_table_name:string>",
    "system_views.settings": "struct<name:string,value:string>",
    "system_auth.roles": "struct<role:string,can_login:boolean,"
    "is_superuser:boolean,member_of:array<string>>",
    "system_auth.role_permissions": "struct<role:string,resource:string,"
    "permission:string>",
    "system_auth.role_members": "struct<role:string,member:string>",
    "system_auth.network_permissions": "struct<role:string,"
    "dcs:array<string>>",
    "system_traces.sessions": "struct<session_id:bigint,command:string,"
    "request:string,duration_micros:bigint>",
    "system_traces.events": "struct<session_id:bigint,event_id:bigint,"
    "activity:string,source_elapsed_micros:bigint>",
    "tablestats": "struct<keyspace_name:string,table_name:string,"
    "memtable_rows:bigint,sstable_count:bigint,bloom_checked:bigint,"
    "bloom_skipped:bigint,index_checked:bigint,index_skipped:bigint>",
    "trace_sessions": "struct<session_id:bigint,command:string,"
    "request:string,duration_micros:bigint>",
    "trace_events": "struct<session_id:bigint,event_id:bigint,"
    "activity:string,source_elapsed_micros:bigint>",
    "fql_log": "struct<seq:bigint,stmt:string>",
    "audit_log": "struct<seq:bigint,user:string,category:string,"
    "type:string,keyspace:string,scope:string,operation:string,"
    "error:string>",
    "sstable_metadata": "struct<generation:string,rows:bigint,bytes:bigint,"
    "min_writetime:bigint,max_writetime:bigint,compression:string,"
    "max_deletion:bigint>",
    "LIST ROLES": "struct<role:string,super:boolean,login:boolean,"
    "options:string>",
    "LIST ALL PERMISSIONS": "struct<role:string,username:string,"
    "resource:string,permission:string>",
    "DESCRIBE TABLES": "struct<keyspace_name:string,type:string,name:string,"
    "create_statement:string>",
}


def _frame(sess: CqlSession, surface: str):
    if surface.startswith("system"):
        return sess.execute(f"SELECT * FROM {surface}")
    if " " in surface:
        return sess.execute(surface)
    if surface == "sstable_metadata":
        return sess.table("pt").sstable_metadata()
    return getattr(sess, surface)()


def _fresh(spark, spill_dir) -> CqlSession:
    sess = CqlSession(spark, spill_dir=str(spill_dir))
    sess.execute(
        "CREATE TABLE pt (k text, c int, v text, PRIMARY KEY (k, c))"
    )
    return sess


@pytest.fixture(scope="module")
def populated(spark, tmp_path_factory) -> CqlSession:
    """A session with a row in (nearly) every view: a 2i, a UDF/UDA, a
    trigger, a materialized view, a compaction, a dropped column, roles
    with a grant and a DC restriction, a traced statement, FQL and audit
    on."""
    sess = CqlSession(spark, spill_dir=str(tmp_path_factory.mktemp("lf")))
    sess.enable_audit_log()
    sess.enable_fql()
    sess.execute("CREATE TYPE pt_addr (street text, zip int)")
    sess.execute(
        "CREATE TABLE pt (k text, c int, v text, w int, PRIMARY KEY (k, c))"
    )
    sess.execute("CREATE INDEX pt_v ON pt (v)")
    sess.execute(
        "CREATE FUNCTION pt_step (a int, b int) RETURNS int "
        "LANGUAGE sql AS 'a + b'"
    )
    sess.execute(
        "CREATE AGGREGATE pt_sum (int) SFUNC pt_step STYPE int INITCOND 0"
    )
    sess.register_trigger_class("PtTrig", lambda s, t, cells: [])
    sess.execute("CREATE TRIGGER pt_trg ON pt USING 'PtTrig'")
    sess.execute(
        "CREATE MATERIALIZED VIEW pt_by_v AS SELECT * FROM pt "
        "WHERE v IS NOT NULL AND k IS NOT NULL AND c IS NOT NULL "
        "PRIMARY KEY (v, k, c)"
    )
    t = sess.table("pt")
    for g in range(2):
        sess.execute(
            f"INSERT INTO pt (k, c, v, w) VALUES ('k{g}', {g}, 'v{g}', {g})"
        )
        t.flush()
    t.compact_segments()
    sess.execute("ALTER TABLE pt DROP w")
    sess.execute(
        "CREATE ROLE pt_role WITH LOGIN = true "
        "AND ACCESS TO DATACENTERS {'dc2'}"
    )
    sess.execute("GRANT SELECT ON TABLE pt TO pt_role")
    sess.execute("CREATE ROLE pt_parent")
    sess.execute("GRANT pt_parent TO pt_role")
    sess.execute("TRACING ON")
    sess.execute("SELECT * FROM pt WHERE k = 'k0'")
    sess.execute("TRACING OFF")
    return sess


def test_every_system_view_is_pinned():
    assert set(cql_session._SYSTEM_VIEWS) <= set(SCHEMAS)


@pytest.mark.parametrize("surface", sorted(SCHEMAS))
def test_catalog_read_runs_no_spark_job(populated, spark_jobs, surface):
    before = spark_jobs()
    rows = _frame(populated, surface).collect()
    assert spark_jobs() == before
    if surface != "system.peers":
        assert rows, f"{surface} has no row in the populated session"


@pytest.mark.parametrize("surface", sorted(SCHEMAS))
def test_view_schema_pinned(spark, tmp_path, populated, surface):
    fresh = _fresh(spark, tmp_path)
    assert _frame(fresh, surface).schema.simpleString() == SCHEMAS[surface]
    assert (
        _frame(populated, surface).schema.simpleString() == SCHEMAS[surface]
    )


def _boom(*_):
    raise AssertionError("built a view the SELECT does not read")


def test_select_does_not_build_trace_views(spark, monkeypatch):
    monkeypatch.setattr(CqlSession, "trace_sessions", _boom)
    monkeypatch.setattr(CqlSession, "trace_events", _boom)
    row = CqlSession(spark).execute("SELECT * FROM system.local").collect()[0]
    assert row.cluster_name == "cassandra_spark"


def test_select_builds_only_its_view(spark, monkeypatch):
    for name, (ddl, _, meta) in list(cql_session._SYSTEM_VIEWS.items()):
        if name != "system_schema.tables":
            monkeypatch.setitem(
                cql_session._SYSTEM_VIEWS, name, (ddl, _boom, meta)
            )
    sess = CqlSession(spark)
    sess.execute("CREATE TABLE only_t (k text PRIMARY KEY)")
    rows = sess.execute(
        "SELECT table_name FROM system_schema.tables "
        "WHERE keyspace_name = 'session'"
    ).collect()
    assert [r.table_name for r in rows] == ["only_t"]


def test_bare_system_view_name_under_use(spark):
    """USE of a virtual keyspace selects it without its being created,
    and a bare name then resolves to that keyspace's system view."""
    sess = CqlSession(spark)
    sess.execute("USE system_views")
    names = {
        r.name for r in sess.execute("SELECT name FROM settings").collect()
    }
    assert "cluster_name" in names


@pytest.mark.parametrize(
    "ks", ["system", "system_schema", "system_auth", "system_traces",
           "system_views"],
)
def test_system_keyspace_names_are_reserved(spark, ks):
    """CREATE KEYSPACE refuses a system keyspace's name (with or without
    IF NOT EXISTS), no table is created in one, and the system views
    keep answering."""
    sess = CqlSession(spark)
    rep = "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    for ine in ("", "IF NOT EXISTS "):
        with pytest.raises(CQLError, match="not user-modifiable"):
            sess.execute(f"CREATE KEYSPACE {ine}{ks} WITH replication = {rep}")
    sess.execute(f"USE {ks}")
    with pytest.raises(CQLError, match="not user-modifiable"):
        sess.execute("CREATE TABLE t (k text PRIMARY KEY)")
    local = sess.execute("SELECT * FROM system.local").collect()
    assert len(local) == 1
