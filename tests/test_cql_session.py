"""CqlSession: CREATE TABLE DDL + DML + SELECT through one endpoint."""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession, parse_create_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def sess(spark):
    return CqlSession(spark, SF_SMOKE)


DDL = """
CREATE TABLE msgs (
  room text,
  posted int,
  author text,
  body text,
  tags set<text>,
  topic text STATIC,
  PRIMARY KEY (room, posted)
) WITH CLUSTERING ORDER BY (posted ASC)
"""


def test_parse_create_table_shapes():
    s = parse_create_table(DDL)
    assert s.partition_key == "room"
    assert s.clustering == ("posted",)
    assert s.key_types == {"room": "string", "posted": "int"}
    assert s.regular == {
        "author": "string", "body": "string", "tags": "set<string>",
    }
    assert s.static == {"topic": "string"}
    # composite partition keys parse (round 11); counter rejections hold
    s2 = parse_create_table(
        "CREATE TABLE t (a text, b text, v int, PRIMARY KEY ((a, b)))"
    )
    assert s2.partition_cols == ("a", "b") and s2.clustering == ()
    with pytest.raises(CQLError, match="counter"):
        parse_create_table(
            "CREATE TABLE t (a text PRIMARY KEY, c counter, v int)"
        )
    with pytest.raises(CQLError, match="PRIMARY KEY"):
        parse_create_table("CREATE TABLE t (a text, v int)")


def test_ddl_dml_select_roundtrip(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author, body, tags) VALUES "
        "('dev', 1, 'ana', 'hello', {'intro'})"
    )
    sess.execute(
        "INSERT INTO msgs (room, posted, author, body) VALUES "
        "('dev', 2, 'bo', 'hey')"
    )
    sess.execute("UPDATE msgs SET topic = 'greetings' WHERE room = 'dev'")
    sess.execute("DELETE body FROM msgs WHERE room = 'dev' AND posted = 2")
    rows = sess.execute(
        "SELECT posted, author, body, topic FROM msgs WHERE room = 'dev' "
        "ORDER BY posted ASC"
    ).collect()
    assert [(r.posted, r.author, r.body, r.topic) for r in rows] == [
        (1, "ana", "hello", "greetings"),
        (2, "bo", None, "greetings"),
    ]


def test_select_restrictions_apply_to_session_tables(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana')"
    )
    # non-key predicate without ALLOW FILTERING: same guardrail as fixtures
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT posted FROM msgs WHERE author = 'ana'")
    assert (
        sess.execute(
            "SELECT posted FROM msgs WHERE author = 'ana' ALLOW FILTERING"
        ).count()
        == 1
    )


def test_writetime_selector_reads_real_cell_metadata(sess):
    """On a session table WRITETIME() projects the DML log's actual
    writetimes — no synthesis involved."""
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana') "
        "USING TIMESTAMP 1111"
    )
    sess.execute(
        "UPDATE msgs USING TIMESTAMP 2222 SET body = 'later' "
        "WHERE room = 'dev' AND posted = 1"
    )
    r = sess.execute(
        "SELECT WRITETIME(author), WRITETIME(body) FROM msgs "
        "WHERE room = 'dev'"
    ).collect()[0]
    assert (r.writetime_author, r.writetime_body) == (1111, 2222)


def test_lwt_flag_and_fixture_fallback(sess):
    sess.execute(DDL)
    assert sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('x', 1, 'a') "
        "IF NOT EXISTS"
    ) is True
    assert sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('x', 1, 'b') "
        "IF NOT EXISTS"
    ) is False
    # unknown-table DML is an error; fixture SELECT still works
    with pytest.raises(CQLError, match="unknown table"):
        sess.execute("INSERT INTO nope (a) VALUES (1)")
    assert sess.execute("SELECT * FROM region").count() == 5


def test_counter_table_through_session(sess):
    sess.execute(
        "CREATE TABLE hits (page text, day text, views counter, "
        "PRIMARY KEY (page, day))"
    )
    sess.execute("UPDATE hits SET views = views + 3 WHERE page = 'p' AND day = 'd'")
    sess.execute("UPDATE hits SET views = views + 4 WHERE page = 'p' AND day = 'd'")
    r = sess.execute("SELECT views FROM hits WHERE page = 'p'").collect()
    assert [x.views for x in r] == [7]


def test_session_query_pinned_log():
    from cassandra_spark.cql_dml import CqlTable
    from cassandra_spark.operators.cql_queries import (
        SESSION_ASOF, SESSION_DML, SESSION_LOG, _SESSION_SCHEMA)

    t = CqlTable(None, _SESSION_SCHEMA)
    for s in SESSION_DML:
        t.execute(s)
    assert tuple(t._log) == SESSION_LOG
    assert max(r[6] for r in t._log) + 1 == SESSION_ASOF

# --- multi-table logged BATCH (Snk2: atomic multi-mutation) ----------------

DDL_BY_AUTHOR = """
CREATE TABLE msgs_by_author (
  author text,
  posted int,
  room text,
  body text,
  PRIMARY KEY (author, posted)
)
"""


def _batch(*stmts: str) -> str:
    return "BEGIN BATCH " + "; ".join(stmts) + "; APPLY BATCH"


def test_multi_table_batch_double_write(sess):
    """The canonical Snk2 use: denormalized double-write into the base
    table and its query-pattern twin, atomically, at one timestamp."""
    sess.execute(DDL)
    sess.execute(DDL_BY_AUTHOR)
    sess.execute(_batch(
        "INSERT INTO msgs (room, posted, author, body) VALUES "
        "('dev', 1, 'ana', 'hello')",
        "INSERT INTO msgs_by_author (author, posted, room, body) VALUES "
        "('ana', 1, 'dev', 'hello')",
    ))
    base = sess.execute(
        "SELECT posted, author, body FROM msgs WHERE room = 'dev'"
    ).collect()
    twin = sess.execute(
        "SELECT posted, room, body FROM msgs_by_author WHERE author = 'ana'"
    ).collect()
    assert [(r.posted, r.author, r.body) for r in base] == [(1, "ana", "hello")]
    assert [(r.posted, r.room, r.body) for r in twin] == [(1, "dev", "hello")]
    # both writes share one timestamp (the batch's)
    wt_base = sess.execute(
        "SELECT WRITETIME(body) FROM msgs WHERE room = 'dev'"
    ).collect()[0][0]
    wt_twin = sess.execute(
        "SELECT WRITETIME(body) FROM msgs_by_author WHERE author = 'ana'"
    ).collect()[0][0]
    assert wt_base == wt_twin


def test_multi_table_batch_lww_and_clock_advance(sess):
    """The batch timestamp is newer than every involved table's clock, and
    each table's clock advances to it — later writes stay newer."""
    sess.execute(DDL)
    sess.execute(DDL_BY_AUTHOR)
    # tick msgs' clock well past msgs_by_author's
    for i in range(5):
        sess.execute(
            f"INSERT INTO msgs (room, posted, author) VALUES ('r', {i}, 'x')"
        )
    sess.execute(_batch(
        "UPDATE msgs SET body = 'from-batch' WHERE room = 'r' AND posted = 0",
        "INSERT INTO msgs_by_author (author, posted, room) VALUES "
        "('x', 0, 'r')",
    ))
    # the batch write beat nothing it shouldn't: body is visible
    r = sess.execute(
        "SELECT body FROM msgs WHERE room = 'r' AND posted = 0"
    ).collect()
    assert r[0].body == "from-batch"
    # a write AFTER the batch wins LWW against the batch's cell
    sess.execute(
        "UPDATE msgs_by_author SET room = 'r2' WHERE author = 'x' AND posted = 0"
    )
    r = sess.execute(
        "SELECT room FROM msgs_by_author WHERE author = 'x'"
    ).collect()
    assert r[0].room == "r2"


def test_multi_table_batch_all_or_nothing(sess):
    """A bad sub-statement (unknown column) rolls back EVERY table's state:
    the batch either fully applies or leaves no trace."""
    sess.execute(DDL)
    sess.execute(DDL_BY_AUTHOR)
    with pytest.raises(CQLError):
        sess.execute(_batch(
            "INSERT INTO msgs (room, posted, author) VALUES ('d', 9, 'z')",
            "INSERT INTO msgs_by_author (author, posted, nope) VALUES "
            "('z', 9, 'd')",
        ))
    assert sess.execute("SELECT posted FROM msgs WHERE room = 'd'").count() == 0
    assert (
        sess.execute(
            "SELECT posted FROM msgs_by_author WHERE author = 'z'"
        ).count()
        == 0
    )
    # clocks restored: next statement's writetime is 1 (first tick)
    sess.execute("INSERT INTO msgs (room, posted, author) VALUES ('d', 1, 'q')")
    wt = sess.execute(
        "SELECT WRITETIME(author) FROM msgs WHERE room = 'd'"
    ).collect()[0][0]
    assert wt == 1


def test_single_table_batch_rollback_on_error(sess):
    """Table-level batches are atomic too: an error mid-batch leaves the
    log exactly as before."""
    sess.execute(DDL)
    sess.execute("INSERT INTO msgs (room, posted, author) VALUES ('a', 1, 'k')")
    with pytest.raises(CQLError):
        sess.execute(_batch(
            "UPDATE msgs SET author = 'k2' WHERE room = 'a' AND posted = 1",
            "UPDATE msgs SET nope = 'x' WHERE room = 'a' AND posted = 1",
        ))
    r = sess.execute("SELECT author FROM msgs WHERE room = 'a'").collect()
    assert r[0].author == "k"


def test_multi_table_batch_rejections(sess):
    sess.execute(DDL)
    sess.execute(DDL_BY_AUTHOR)
    sess.execute(
        "CREATE TABLE hits2 (page text, day text, views counter, "
        "PRIMARY KEY (page, day))"
    )
    # conditional multi-table batch: not single-partition, rejected
    with pytest.raises(CQLError, match="single partition"):
        sess.execute(_batch(
            "INSERT INTO msgs (room, posted, author) VALUES ('c', 1, 'm') "
            "IF NOT EXISTS",
            "INSERT INTO msgs_by_author (author, posted, room) VALUES "
            "('m', 1, 'c')",
        ))
    # counter + non-counter mix rejected
    with pytest.raises(CQLError, match="counter"):
        sess.execute(_batch(
            "UPDATE hits2 SET views = views + 1 WHERE page = 'p' AND day = 'd'",
            "INSERT INTO msgs (room, posted, author) VALUES ('c', 1, 'm')",
        ))
    # nothing leaked from the rejected batches
    assert sess.execute("SELECT posted FROM msgs WHERE room = 'c'").count() == 0


def test_batch_twin_pinned_logs(spark):
    """cql10's script reproduces the pinned per-table logs exactly — the
    shared batch timestamps must appear in both."""
    from cassandra_spark.operators.cql_queries import (
        BATCH_ASOF, BATCH_DDL_BASE, BATCH_DDL_TWIN, BATCH_DML,
        BATCH_LOG_BASE, BATCH_LOG_TWIN)

    sess = CqlSession(spark, None)
    sess.execute(BATCH_DDL_BASE)
    sess.execute(BATCH_DDL_TWIN)
    for s in BATCH_DML:
        sess.execute(s)
    assert tuple(sess.table("inbox")._log) == BATCH_LOG_BASE
    assert tuple(sess.table("inbox_by_author")._log) == BATCH_LOG_TWIN
    newest = max(r[6] for r in BATCH_LOG_TWIN)
    assert newest + 1 == BATCH_ASOF


# --- CREATE INDEX: the secondary-index restriction gate --------------------


def test_create_index_relaxes_filtering_gate(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana')"
    )
    # before the index: non-key equality is rejected
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT posted FROM msgs WHERE author = 'ana'")
    sess.execute("CREATE INDEX msgs_author_idx ON msgs (author)")
    # after: indexed equality passes without ALLOW FILTERING
    assert (
        sess.execute("SELECT posted FROM msgs WHERE author = 'ana'").count()
        == 1
    )
    # a SECOND, unindexed restriction still needs ALLOW FILTERING
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute(
            "SELECT posted FROM msgs WHERE author = 'ana' AND body = 'x'"
        )
    # range on the indexed column is not an index lookup (2i = equality)
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT posted FROM msgs WHERE author > 'a'")


def test_create_index_contains_on_collection(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author, tags) VALUES "
        "('dev', 1, 'ana', {'intro', 'hello'})"
    )
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT posted FROM msgs WHERE tags CONTAINS 'intro'")
    sess.execute("CREATE INDEX ON msgs (tags)")  # anonymous index form
    assert (
        sess.execute(
            "SELECT posted FROM msgs WHERE tags CONTAINS 'intro'"
        ).count()
        == 1
    )


def test_create_index_rejections(sess):
    sess.execute(DDL)
    sess.execute(
        "CREATE TABLE hits3 (page text, day text, views counter, "
        "PRIMARY KEY (page, day))"
    )
    with pytest.raises(CQLError, match="partition key"):
        sess.execute("CREATE INDEX ON msgs (room)")
    # clustering columns ARE indexable (reference-faithful since r9);
    # the index admits a partition-free equality through the gate
    sess.execute("CREATE INDEX ON msgs (posted)")
    assert ("session.msgs", "posted", "values", None) in sess.index_names.values()
    with pytest.raises(CQLError, match="unknown column"):
        sess.execute("CREATE INDEX ON msgs (nope)")
    with pytest.raises(CQLError, match="counter"):
        sess.execute("CREATE INDEX ON hits3 (views)")
    with pytest.raises(CQLError, match="unknown table"):
        sess.execute("CREATE INDEX ON nope (x)")


# --- DROP / TRUNCATE / ALTER: the rest of the DDL surface ------------------


def test_drop_and_truncate(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana')"
    )
    sess.execute("TRUNCATE msgs")
    assert sess.execute("SELECT posted FROM msgs WHERE room = 'dev'").count() == 0
    # post-truncate writes are visible (clock stayed monotonic)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 2, 'bo')"
    )
    assert sess.execute("SELECT posted FROM msgs WHERE room = 'dev'").count() == 1
    sess.execute("DROP TABLE msgs")
    with pytest.raises(CQLError, match="unknown table"):
        sess.execute("INSERT INTO msgs (room, posted, author) VALUES ('a', 1, 'x')")
    sess.execute("DROP TABLE IF EXISTS msgs")  # no error
    with pytest.raises(CQLError, match="unknown table"):
        sess.execute("DROP TABLE msgs")
    # the name is free again
    sess.execute(DDL)
    assert sess.execute("SELECT posted FROM msgs WHERE room = 'dev'").count() == 0


def test_drop_index(sess):
    sess.execute(DDL)
    sess.execute("CREATE INDEX by_author ON msgs (author)")
    assert sess.execute(
        "SELECT posted FROM msgs WHERE author = 'x'"
    ).count() == 0
    sess.execute("DROP INDEX by_author")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT posted FROM msgs WHERE author = 'x'")
    with pytest.raises(CQLError, match="unknown index"):
        sess.execute("DROP INDEX by_author")
    sess.execute("DROP INDEX IF EXISTS by_author")
    # duplicate names rejected
    sess.execute("CREATE INDEX by_author ON msgs (author)")
    with pytest.raises(CQLError, match="already exists"):
        sess.execute("CREATE INDEX by_author ON msgs (body)")


def test_alter_add_and_drop_column(sess):
    sess.execute(DDL)
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana')"
    )
    sess.execute("ALTER TABLE msgs ADD score int")
    # readable immediately, NULL until written
    r = sess.execute(
        "SELECT posted, score FROM msgs WHERE room = 'dev'"
    ).collect()
    assert [(x.posted, x.score) for x in r] == [(1, None)]
    sess.execute(
        "UPDATE msgs SET score = 9 WHERE room = 'dev' AND posted = 1"
    )
    r = sess.execute(
        "SELECT score FROM msgs WHERE room = 'dev'"
    ).collect()
    assert r[0].score == 9
    # DROP purges cells: re-adding the name does not resurrect
    sess.execute("ALTER TABLE msgs DROP score")
    # column gone from the snapshot: Catalyst's unresolved-column error
    # surfaces as CQLError (the InvalidRequest contract, round 8)
    with pytest.raises(CQLError, match="invalid statement"):
        sess.execute("SELECT score FROM msgs WHERE room = 'dev'")
    sess.execute("ALTER TABLE msgs ADD score int")
    r = sess.execute(
        "SELECT score FROM msgs WHERE room = 'dev'"
    ).collect()
    assert r[0].score is None
    # guardrails
    with pytest.raises(CQLError, match="already exists"):
        sess.execute("ALTER TABLE msgs ADD author text")
    with pytest.raises(CQLError, match="primary key"):
        sess.execute("ALTER TABLE msgs DROP room")
    with pytest.raises(CQLError, match="unknown column"):
        sess.execute("ALTER TABLE msgs DROP nope")


def test_alter_add_static_and_index_cleanup(sess):
    sess.execute(DDL)
    sess.execute("ALTER TABLE msgs ADD flair text STATIC")
    sess.execute("UPDATE msgs SET flair = 'gold' WHERE room = 'dev'")
    sess.execute(
        "INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'ana')"
    )
    r = sess.execute(
        "SELECT posted, flair FROM msgs WHERE room = 'dev'"
    ).collect()
    assert [(x.posted, x.flair) for x in r] == [(1, "gold")]
    # dropping an indexed column removes its index too
    sess.execute("CREATE INDEX ON msgs (body)")
    sess.execute("ALTER TABLE msgs DROP body")
    sess.execute(DDL.replace("msgs", "msgs2"))
    sess.execute("CREATE INDEX msgs2_body_idx ON msgs2 (body)")  # name free?
    # the auto-generated name 'msgs_body_idx' must have been cleaned up
    sess.execute("CREATE INDEX msgs_body_idx ON msgs2 (author)")


# --- KEYS() map index: kind-matched restriction gate (cql12) ---------------

KEYS_DDL_T = (
    "CREATE TABLE profs (uid text PRIMARY KEY, name text, "
    "attrs map<text,text>)"
)


def test_keys_index_admits_contains_key_only(sess):
    sess.execute(KEYS_DDL_T)
    sess.execute(
        "INSERT INTO profs (uid, name, attrs) VALUES "
        "('u1', 'ana', {'tier': 'gold'})"
    )
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT uid FROM profs WHERE attrs CONTAINS KEY 'tier'")
    sess.execute("CREATE INDEX ON profs (KEYS(attrs))")
    assert (
        sess.execute(
            "SELECT uid FROM profs WHERE attrs CONTAINS KEY 'tier'"
        ).count()
        == 1
    )
    # kind mismatch: a KEYS index does NOT admit value-side CONTAINS
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT uid FROM profs WHERE attrs CONTAINS 'gold'")
    # ... and ALLOW FILTERING still runs it
    assert (
        sess.execute(
            "SELECT uid FROM profs WHERE attrs CONTAINS 'gold' ALLOW FILTERING"
        ).count()
        == 1
    )


def test_values_index_does_not_admit_contains_key(sess):
    sess.execute(KEYS_DDL_T)
    sess.execute(
        "INSERT INTO profs (uid, name, attrs) VALUES "
        "('u1', 'ana', {'tier': 'gold'})"
    )
    sess.execute("CREATE INDEX ON profs (attrs)")  # plain = values index
    assert (
        sess.execute(
            "SELECT uid FROM profs WHERE attrs CONTAINS 'gold'"
        ).count()
        == 1
    )
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT uid FROM profs WHERE attrs CONTAINS KEY 'tier'")
    # VALUES(col) is the explicit synonym of the plain form
    sess.execute("DROP INDEX profs_attrs_idx")
    sess.execute("CREATE INDEX ON profs (VALUES(attrs))")
    assert (
        sess.execute(
            "SELECT uid FROM profs WHERE attrs CONTAINS 'gold'"
        ).count()
        == 1
    )


def test_keys_index_kind_rejections(sess):
    sess.execute(KEYS_DDL_T)
    with pytest.raises(CQLError, match="map column"):
        sess.execute("CREATE INDEX ON profs (KEYS(name))")
    with pytest.raises(CQLError, match="collection column"):
        sess.execute("CREATE INDEX ON profs (VALUES(name))")
    # ENTRIES/FULL are index kinds since round 6 — on a map both are
    # legal DDL (frozen-ness is normalized away; divergence documented
    # in _create_index); on a scalar both reject
    sess.execute("CREATE INDEX pe ON profs (ENTRIES(attrs))")
    sess.execute("CREATE INDEX pf ON profs (FULL(attrs))")
    with pytest.raises(CQLError, match="map column"):
        sess.execute("CREATE INDEX ON profs (ENTRIES(name))")
    with pytest.raises(CQLError, match="frozen collection"):
        sess.execute("CREATE INDEX ON profs (FULL(name))")


def test_drop_keys_index_restores_gate(sess):
    sess.execute(KEYS_DDL_T)
    sess.execute("CREATE INDEX by_key ON profs (KEYS(attrs))")
    assert (
        sess.execute(
            "SELECT uid FROM profs WHERE attrs CONTAINS KEY 't'"
        ).count()
        == 0
    )
    sess.execute("DROP INDEX by_key")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT uid FROM profs WHERE attrs CONTAINS KEY 't'")


def test_cql12_pinned_log():
    from cassandra_spark.cql_dml import CqlTable
    from cassandra_spark.operators.cql_queries import (
        KEYS_ASOF, KEYS_DML, KEYS_LOG, _KEYS_SCHEMA)

    t = CqlTable(None, _KEYS_SCHEMA)
    for s in KEYS_DML:
        t.execute(s)
    assert tuple(t._log) == KEYS_LOG
    assert max(r[6] for r in t._log) + 1 == KEYS_ASOF


# --- CQL UDFs (CREATE FUNCTION ... LANGUAGE sql) ---------------------------


def test_create_function_lifecycle(sess):
    sess.execute("CREATE TABLE kv2 (k text PRIMARY KEY, v int)")
    sess.execute("INSERT INTO kv2 (k, v) VALUES ('a', 10)")
    sess.execute(
        "CREATE FUNCTION double_it (x int) RETURNS int LANGUAGE sql AS 'x * 2'"
    )
    got = sess.execute("SELECT k, double_it(v) AS d FROM kv2").collect()
    assert [(r.k, r.d) for r in got] == [("a", 20)]
    # composition expands to a fixpoint
    sess.execute(
        "CREATE FUNCTION quad (x int) RETURNS int LANGUAGE sql "
        "AS 'double_it(double_it(x))'"
    )
    assert sess.execute("SELECT quad(v) AS q FROM kv2").collect()[0].q == 40
    # OR REPLACE, duplicate, IF NOT EXISTS
    with pytest.raises(CQLError, match="already exists"):
        sess.execute(
            "CREATE FUNCTION double_it (x int) RETURNS int "
            "LANGUAGE sql AS 'x'"
        )
    sess.execute(
        "CREATE FUNCTION IF NOT EXISTS double_it (x int) RETURNS int "
        "LANGUAGE sql AS 'x'"
    )  # no-op
    assert sess.execute("SELECT double_it(v) AS d FROM kv2").collect()[0].d == 20
    sess.execute(
        "CREATE OR REPLACE FUNCTION double_it (x int) RETURNS int "
        "LANGUAGE sql AS 'x * 3'"
    )
    assert sess.execute("SELECT double_it(v) AS d FROM kv2").collect()[0].d == 30
    # DROP
    sess.execute("DROP FUNCTION quad")
    with pytest.raises(CQLError, match="unknown function"):
        sess.execute("DROP FUNCTION quad")
    sess.execute("DROP FUNCTION IF EXISTS quad")


def test_create_function_rejections(sess):
    with pytest.raises(CQLError, match="LANGUAGE java"):
        sess.execute(
            "CREATE FUNCTION f (x int) RETURNS int LANGUAGE java "
            "AS 'return x;'"
        )
    with pytest.raises(CQLError, match="shadow"):
        sess.execute(
            "CREATE FUNCTION count (x int) RETURNS int LANGUAGE sql AS 'x'"
        )
    sess.execute("CREATE TABLE kv3 (k text PRIMARY KEY, v int)")
    sess.execute("INSERT INTO kv3 (k, v) VALUES ('a', 1)")
    sess.execute(
        "CREATE FUNCTION addt (x int, y int) RETURNS int LANGUAGE sql "
        "AS 'x + y'"
    )
    with pytest.raises(CQLError, match="argument"):
        sess.execute("SELECT addt(v) AS s FROM kv3")
    assert (
        sess.execute("SELECT addt(v, 5) AS s FROM kv3").collect()[0].s == 6
    )


def test_create_aggregate_lifecycle(sess):
    sess.execute("CREATE TABLE m2 (g text, i int, v int, PRIMARY KEY (g, i))")
    for g, i, v in [("a", 1, 10), ("a", 2, 20), ("a", 3, 5), ("b", 1, 7)]:
        sess.execute(f"INSERT INTO m2 (g, i, v) VALUES ('{g}', {i}, {v})")
    sess.execute(
        "CREATE FUNCTION maxstep (s int, v int) RETURNS int LANGUAGE sql "
        "AS 'CASE WHEN v > s THEN v ELSE s END'"
    )
    sess.execute(
        "CREATE FUNCTION negate (s int) RETURNS int LANGUAGE sql AS '-s'"
    )
    sess.execute(
        "CREATE AGGREGATE negmax (int) SFUNC maxstep STYPE int "
        "FINALFUNC negate INITCOND 0"
    )
    rows = [
        (r.g, r.nm)
        for r in sess.execute(
            "SELECT g, negmax(v) AS nm FROM m2 GROUP BY g ORDER BY g"
        ).collect()
    ]
    assert rows == [("a", -20), ("b", -7)]
    with pytest.raises(CQLError, match="already exists"):
        sess.execute(
            "CREATE AGGREGATE negmax (int) SFUNC maxstep STYPE int INITCOND 0"
        )
    sess.execute("DROP AGGREGATE negmax")
    with pytest.raises(CQLError, match="unknown aggregate"):
        sess.execute("DROP AGGREGATE negmax")
    sess.execute("DROP AGGREGATE IF EXISTS negmax")


def test_create_aggregate_rejections(sess):
    sess.execute(
        "CREATE FUNCTION one_arg (s int) RETURNS int LANGUAGE sql AS 's'"
    )
    with pytest.raises(CQLError, match="not a registered function"):
        sess.execute(
            "CREATE AGGREGATE bad (int) SFUNC nope STYPE int INITCOND 0"
        )
    with pytest.raises(CQLError, match="must take"):
        sess.execute(
            "CREATE AGGREGATE bad (int) SFUNC one_arg STYPE int INITCOND 0"
        )
    with pytest.raises(CQLError, match="shadow"):
        sess.execute(
            "CREATE AGGREGATE sum (int) SFUNC one_arg STYPE int INITCOND 0"
        )


def test_udf_capture_safe_substitution(sess):
    """Macro expansion must substitute ALL arguments simultaneously: with
    body 'a - b' called as f(b, 10), sequential re.sub first turns 'a' into
    '(b)' and then the b-pass corrupts it into '((10)) - (10)'. The
    simultaneous pass yields (b) - (10)."""
    sess.execute("CREATE TABLE cap1 (k text PRIMARY KEY, b int)")
    sess.execute("INSERT INTO cap1 (k, b) VALUES ('r', 3)")
    sess.execute(
        "CREATE FUNCTION subx (a int, b int) RETURNS int LANGUAGE sql "
        "AS 'a - b'"
    )
    # f(b, 10) where column b = 3 → 3 - 10 = -7 (sequential subst gave 0)
    assert (
        sess.execute("SELECT subx(b, 10) AS d FROM cap1").collect()[0].d == -7
    )
    # swapped-name call: f(10, b) → 10 - 3 = 7
    assert (
        sess.execute("SELECT subx(10, b) AS d FROM cap1").collect()[0].d == 7
    )
    # string literals in the body are not substituted
    sess.execute(
        "CREATE FUNCTION lit (v text) RETURNS text LANGUAGE sql "
        "AS 'concat(v, ''v'')'"
    )
    assert (
        sess.execute("SELECT lit(k) AS s FROM cap1").collect()[0].s == "rv"
    )


def test_uda_capture_safe_state_rename(sess):
    """UDA SFUNC arg renaming (state→acc, value→x) must also be
    simultaneous: an SFUNC declared (s, acc) corrupted under sequential
    rename (s→acc introduced the name the second pass then rewrote)."""
    sess.execute("CREATE TABLE cap2 (g text, i int, v int, PRIMARY KEY (g, i))")
    for i, v in [(1, 10), (2, 20), (3, 5)]:
        sess.execute(f"INSERT INTO cap2 (g, i, v) VALUES ('a', {i}, {v})")
    sess.execute(
        "CREATE FUNCTION stepsub (s int, acc int) RETURNS int LANGUAGE sql "
        "AS 's + acc'"
    )
    sess.execute(
        "CREATE AGGREGATE sumcap (int) SFUNC stepsub STYPE int INITCOND 0"
    )
    assert (
        sess.execute(
            "SELECT g, sumcap(v) AS s FROM cap2 GROUP BY g"
        ).collect()[0].s
        == 35
    )


def test_batch_using_timestamp(sess):
    """BEGIN BATCH USING TIMESTAMP n pins the shared write time: a batch
    pinned in the past loses LWW to an existing newer write; a batch
    pinned in the future beats later unpinned writes."""
    sess.execute("CREATE TABLE bt (k text PRIMARY KEY, v text)")
    sess.execute("INSERT INTO bt (k, v) VALUES ('a', 'now') USING TIMESTAMP 100")
    sess.execute(
        "BEGIN BATCH "
        "USING TIMESTAMP 50 "
        "INSERT INTO bt (k, v) VALUES ('a', 'past'); "
        "INSERT INTO bt (k, v) VALUES ('b', 'past'); "
        "APPLY BATCH"
    )
    rows = {r.k: r.v for r in sess.execute("SELECT k, v FROM bt").collect()}
    # 'a' keeps the newer write; 'b' exists from the batch
    assert rows == {"a": "now", "b": "past"}
    # pinned-future batch wins over a later unpinned write
    sess.execute(
        "BEGIN BATCH USING TIMESTAMP 1000000 "
        "INSERT INTO bt (k, v) VALUES ('c', 'future'); "
        "APPLY BATCH"
    )
    sess.execute("INSERT INTO bt (k, v) VALUES ('c', 'later-unpinned')")
    rows = {r.k: r.v for r in sess.execute("SELECT k, v FROM bt").collect()}
    assert rows["c"] == "future"


def test_batch_using_timestamp_multi_table(sess):
    """The multi-table batch path must share the single-table path's
    USING TIMESTAMP semantics: a pin sets only the write time and never
    advances the involved tables' clocks, so a future-pinned two-table
    batch beats later unpinned writes on BOTH tables (it previously lost —
    the multi-table path jumped every clock to the pin)."""
    sess.execute("CREATE TABLE mt1 (k text PRIMARY KEY, v text)")
    sess.execute("CREATE TABLE mt2 (k text PRIMARY KEY, v text)")
    sess.execute(
        "BEGIN BATCH USING TIMESTAMP 1000000 "
        "INSERT INTO mt1 (k, v) VALUES ('a', 'future'); "
        "INSERT INTO mt2 (k, v) VALUES ('a', 'future'); "
        "APPLY BATCH"
    )
    sess.execute("INSERT INTO mt1 (k, v) VALUES ('a', 'later-unpinned')")
    sess.execute("INSERT INTO mt2 (k, v) VALUES ('a', 'later-unpinned')")
    assert sess.execute("SELECT v FROM mt1").collect()[0].v == "future"
    assert sess.execute("SELECT v FROM mt2").collect()[0].v == "future"
    # past-pinned multi-table batch loses LWW to an existing newer write
    sess.execute("INSERT INTO mt1 (k, v) VALUES ('b', 'now') USING TIMESTAMP 100")
    sess.execute(
        "BEGIN BATCH USING TIMESTAMP 50 "
        "INSERT INTO mt1 (k, v) VALUES ('b', 'past'); "
        "INSERT INTO mt2 (k, v) VALUES ('b', 'past'); "
        "APPLY BATCH"
    )
    assert {
        r.k: r.v for r in sess.execute("SELECT k, v FROM mt1").collect()
    }["b"] == "now"
    assert {
        r.k: r.v for r in sess.execute("SELECT k, v FROM mt2").collect()
    }["b"] == "past"


def test_multi_table_batch_flushes(spark, tmp_path):
    """A session dominated by multi-table batches must keep the documented
    O(spill_threshold) driver-memory bound: the multi-table path flushes
    every involved table's mutation log after commit (it previously never
    called _maybe_flush, growing the in-memory lists without bound)."""
    sess = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=10)
    sess.execute("CREATE TABLE fa (k int PRIMARY KEY, v int)")
    sess.execute("CREATE TABLE fb (k int PRIMARY KEY, v int)")
    for i in range(60):
        sess.execute(
            "BEGIN BATCH "
            f"INSERT INTO fa (k, v) VALUES ({i}, {i}); "
            f"INSERT INTO fb (k, v) VALUES ({i}, {i * 2}); "
            "APPLY BATCH"
        )
    for name in ("fa", "fb"):
        t = sess.table(name)
        assert len(t._log) <= t.spill_threshold, name
    assert sess.execute("SELECT count(*) AS c FROM fa").collect()[0].c == 60
    assert (
        sess.execute("SELECT sum(v) AS s FROM fb").collect()[0].s
        == sum(i * 2 for i in range(60))
    )


def test_system_views_reflect_live_ddl(sess):
    """system.local / system_schema.* virtual tables: the driver's
    connect-time metadata queries work and track DDL live."""
    row = sess.execute("SELECT * FROM system.local").collect()[0]
    assert row.key == "local" and row.cluster_name == "cassandra_spark"
    assert sess.execute("SELECT * FROM system.peers").count() == 0
    assert (
        sess.execute(
            "SELECT table_name FROM system_schema.tables "
            "WHERE keyspace_name = 'session'"
        ).count()
        == 0
    )
    sess.execute(DDL)
    names = [
        r.table_name
        for r in sess.execute(
            "SELECT table_name FROM system_schema.tables "
            "WHERE keyspace_name = 'session'"
        ).collect()
    ]
    assert names == ["msgs"]
    kinds = {
        r.column_name: r.kind
        for r in sess.execute(
            "SELECT column_name, kind FROM system_schema.columns "
            "WHERE keyspace_name = 'session' AND table_name = 'msgs'"
        ).collect()
    }
    assert kinds["room"] == "partition_key"
    assert kinds["posted"] == "clustering"
    assert kinds["topic"] == "static"
    sess.execute("DROP TABLE msgs")
    assert (
        sess.execute(
            "SELECT table_name FROM system_schema.tables "
            "WHERE keyspace_name = 'session'"
        ).count()
        == 0
    )


def test_create_custom_index_sai_admits_ranges(sess):
    """CREATE CUSTOM INDEX ... USING 'StorageAttachedIndex' (Cassandra 5
    SAI DDL): equality AND range restrictions pass the gate; unknown
    custom classes are rejected honestly."""
    sess.execute("CREATE TABLE sv (k text PRIMARY KEY, score int, note text)")
    sess.execute("INSERT INTO sv (k, score, note) VALUES ('a', 5, 'x')")
    sess.execute("INSERT INTO sv (k, score, note) VALUES ('b', 9, 'y')")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT k FROM sv WHERE score > 6")
    sess.execute(
        "CREATE CUSTOM INDEX score_sai ON sv (score) "
        "USING 'StorageAttachedIndex'"
    )
    assert sess.execute("SELECT k FROM sv WHERE score > 6").count() == 1
    assert sess.execute("SELECT k FROM sv WHERE score = 5").count() == 1
    # other columns still gated
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT k FROM sv WHERE note = 'x'")
    # DROP restores the gate
    sess.execute("DROP INDEX score_sai")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT k FROM sv WHERE score > 6")
    # unknown custom class rejected
    with pytest.raises(CQLError, match="unsupported custom index"):
        sess.execute(
            "CREATE CUSTOM INDEX ON sv (score) USING 'com.example.MyIndex'"
        )
    # SASI spelling + WITH OPTIONS accepted
    sess.execute(
        "CREATE CUSTOM INDEX ON sv (note) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex' "
        "WITH OPTIONS = {'mode': 'CONTAINS'}"
    )
    assert sess.execute("SELECT k FROM sv WHERE note = 'x'").count() == 1


# --- SAI-routed ANN (cql17) -------------------------------------------------


def _sai_session(spark):
    s = CqlSession(spark, "/root/testdata/sf0.01")
    s.execute(
        "CREATE CUSTOM INDEX emb_idx ON embeddings (embedding) "
        "USING 'StorageAttachedIndex'"
    )
    return s


def test_sai_ann_routes_through_bucket_filter(spark):
    """With the index, the plan filters the corpus to the probe buckets
    BEFORE scoring; without it, no bucket filter exists."""
    from cassandra_spark.operators.cql_queries import _ANN_V

    stmt = (
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10"
    )
    from cassandra_spark.operators.cql_queries import _ANN_PROBES

    probes_in = " IN (" + ",".join(map(str, _ANN_PROBES)) + ")"
    indexed = _sai_session(spark).execute(stmt)
    iplan = indexed._jdf.queryExecution().optimizedPlan().toString()
    # Catalyst collapses the __bucket alias; the probe IN-list over the
    # bucket fold survives as the corpus filter
    assert probes_in in iplan, "SAI route must filter on the LSH probes"
    plain = CqlSession(spark, "/root/testdata/sf0.01").execute(stmt)
    pplan = plain._jdf.queryExecution().optimizedPlan().toString()
    assert probes_in not in pplan, "no index -> brute-force path"


def test_sai_ann_recall_vs_exact(spark):
    """The probe path must recover most of the exact top-10 (4-plane
    Hamming-1 multiprobe; recall floor mirrors test_llm_tier's l3b)."""
    from cassandra_spark.operators.cql_queries import _ANN_V

    stmt = (
        f"SELECT vec_id FROM embeddings ORDER BY embedding ANN OF "
        f"[{_ANN_V}] LIMIT 10"
    )
    exact = {
        r["vec_id"]
        for r in CqlSession(spark, "/root/testdata/sf0.01")
        .execute(stmt).collect()
    }
    approx = {r["vec_id"] for r in _sai_session(spark).execute(stmt).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 6, (exact, approx)


def test_catalog_index_requires_custom_class(spark):
    s = CqlSession(spark, "/root/testdata/sf0.01")
    with pytest.raises(CQLError, match="catalog table"):
        s.execute("CREATE INDEX ON embeddings (label)")
    with pytest.raises(CQLError, match="unsupported custom index class"):
        s.execute(
            "CREATE CUSTOM INDEX ON embeddings (embedding) USING 'Lucene'"
        )
    with pytest.raises(CQLError, match="unknown column"):
        s.execute(
            "CREATE CUSTOM INDEX ON embeddings (nope) "
            "USING 'StorageAttachedIndex'"
        )
    with pytest.raises(CQLError, match="partition key"):
        s.execute(
            "CREATE CUSTOM INDEX ON embeddings (vec_id) "
            "USING 'StorageAttachedIndex'"
        )


def test_catalog_sai_index_drops_cleanly(spark):
    s = _sai_session(spark)
    assert s.index_names["emb_idx"][:3] == ("embeddings", "embedding", "sai")
    s.execute("DROP INDEX emb_idx")
    assert not s.index_names


def test_size_estimates_virtual_table(spark):
    """system.size_estimates: per-token-range partition counts over the
    demo ring, totals exact, ranges drawn from the ring's vnode tokens."""
    from cassandra_spark.cql_session import CqlSession
    from cassandra_spark.operators.ring import build_ring

    s = CqlSession(spark)
    s.execute("CREATE TABLE se_kv (id bigint PRIMARY KEY, v text)")
    for i in range(25):
        s.execute(f"INSERT INTO se_kv (id, v) VALUES ({i}, '{'y' * (5 + i)}')")
    rows = s.execute(
        "SELECT * FROM system.size_estimates WHERE keyspace_name = 'session'"
    ).collect()
    assert sum(r.partitions_count for r in rows) == 25
    ring_toks = {str(t) for t, _ in build_ring()}
    for r in rows:
        assert r.table_name == "se_kv"
        assert r.range_end in ring_toks and r.range_start in ring_toks
        assert r.mean_partition_size > 0
    # restriction gate applies to system views like any table
    import pytest as _pytest

    from cassandra_spark.cql_session import CQLError

    with _pytest.raises(CQLError):
        s.execute(
            "SELECT * FROM system.size_estimates "
            "WHERE mean_partition_size > 10"
        )


def test_describe_table_and_roundtrip(spark):
    """Server-side DESCRIBE rows (keyspace, type, name, create_statement);
    the emitted DDL must be canonical enough to re-create the same schema
    in a fresh session (mask-free table)."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE dmsg (room text, posted int, author text, "
        "tags set<text>, score double, topic text STATIC, "
        "PRIMARY KEY (room, posted))"
    )
    s.execute("CREATE INDEX dmsg_auth ON dmsg (author)")
    rows = s.execute("DESCRIBE TABLE dmsg").collect()
    kinds = {r.type for r in rows}
    assert kinds == {"table", "index"}
    ddl = next(r.create_statement for r in rows if r.type == "table")
    assert "PRIMARY KEY ((room), posted)" in ddl
    assert "topic text STATIC" in ddl
    # round-trip: the canonical DDL parses back to the identical schema
    s2 = CqlSession(spark)
    s2.execute(ddl.replace("session.", ""))
    a, b = s.table("dmsg").schema, s2.table("dmsg").schema
    assert (a.partition_key, a.clustering) == (b.partition_key, b.clustering)
    assert a.regular == b.regular and a.static == b.static


def test_describe_shows_masks_and_udts(spark):
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark)
    s.execute("CREATE TYPE addr (street text, zip int)")
    s.execute(
        "CREATE TABLE dppl (id bigint PRIMARY KEY, ssn text, home addr)"
    )
    s.execute("ALTER TABLE dppl ALTER ssn MASKED WITH mask_hash()")
    ddl = s.execute("DESCRIBE TABLE dppl").collect()[0].create_statement
    assert "ssn text MASKED WITH mask_hash()" in ddl
    assert "home addr" in ddl  # UDT struct reverses to its name
    # the emitted DDL round-trips INCLUDING the mask (inline MASKED WITH
    # is parsed at CREATE, the Cassandra 5 syntax)
    s3 = CqlSession(spark)
    s3.execute("CREATE TYPE addr (street text, zip int)")
    s3.execute(ddl.replace("session.", ""))
    assert s3.masks["session.dppl"] == {"ssn": "mask_hash(ssn)"}
    ks = s.execute("DESCRIBE KEYSPACE").collect()
    assert [r.type for r in ks] == ["type", "table"]


def test_describe_unknown_table_raises(spark):
    import pytest as _pytest

    from cassandra_spark.cql_session import CQLError, CqlSession

    s = CqlSession(spark)
    with _pytest.raises(CQLError, match="unknown table"):
        s.execute("DESCRIBE TABLE nope")


def test_vector_type_ann_through_session(spark):
    """Cassandra 5 vector<float, n> columns: DDL parses (dimension is
    metadata — pinned simplification: not enforced at write), INSERT
    takes list literals, ANN ordering and similarity selectors work over
    the session snapshot."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE svecs (id bigint PRIMARY KEY, emb vector<float, 3>)"
    )
    s.execute("INSERT INTO svecs (id, emb) VALUES (1, [1.0, 0.0, 0.0])")
    s.execute("INSERT INTO svecs (id, emb) VALUES (2, [0.0, 1.0, 0.0])")
    s.execute("INSERT INTO svecs (id, emb) VALUES (3, [0.9, 0.1, 0.0])")
    got = [
        r.id
        for r in s.execute(
            "SELECT id FROM svecs ORDER BY emb ANN OF [1.0, 0.0, 0.0] LIMIT 2"
        ).collect()
    ]
    assert got == [1, 3]
    sims = {
        r.id: r.sim
        for r in s.execute(
            "SELECT id, similarity_cosine(emb, [1.0, 0.0, 0.0]) AS sim "
            "FROM svecs"
        ).collect()
    }
    assert sims[1] == 1.0 and sims[2] == 0.5
    # DESCRIBE reverses vector storage to its list mapping
    ddl = s.execute("DESCRIBE TABLE svecs").collect()[0].create_statement
    assert "emb list<float>" in ddl


def test_default_time_to_live_option(spark):
    """WITH default_time_to_live: data cells written without USING TTL
    inherit the table default (logical-clock units, same strict-> expiry
    rule as w2); explicit USING TTL 0 disables; tombstones never carry
    one; counter tables reject the option; DESCRIBE round-trips it."""
    import pytest as _pytest

    from cassandra_spark.cql_session import CQLError, CqlSession

    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE tdl (id bigint PRIMARY KEY, v text) "
        "WITH default_time_to_live = 3 AND comment = 'x'"
    )
    assert s.table("tdl").schema.default_ttl == 3
    s.execute("INSERT INTO tdl (id, v) VALUES (1, 'a')")          # wt 1
    s.execute("INSERT INTO tdl (id, v) VALUES (2, 'b') USING TTL 0")
    assert sorted(
        r.id for r in s.execute("SELECT id FROM tdl").collect()
    ) == [1, 2]
    s.execute("INSERT INTO tdl (id, v) VALUES (3, 'c')")          # wt 3
    s.execute("INSERT INTO tdl (id, v) VALUES (4, 'd')")          # wt 4
    # asof = 5: row 1 (1+3 > 5 false) expired; 2 immortal; 3, 4 alive
    assert sorted(
        r.id for r in s.execute("SELECT id FROM tdl").collect()
    ) == [2, 3, 4]
    ddl = s.execute("DESCRIBE TABLE tdl").collect()[0].create_statement
    # round-10: comment is retained too, so the WITH clause chain
    # carries both options now
    assert "WITH default_time_to_live = 3" in ddl
    assert ddl.rstrip().endswith("AND comment = 'x';")
    # round-trip: the emitted DDL re-creates the option
    s2 = CqlSession(spark)
    s2.execute(ddl.replace("session.", ""))
    assert s2.table("tdl").schema.default_ttl == 3
    with _pytest.raises(CQLError, match="counter"):
        s.execute(
            "CREATE TABLE cdl (id bigint PRIMARY KEY, c counter) "
            "WITH default_time_to_live = 5"
        )


def test_system_schema_full_surface(spark):
    """system_schema.{keyspaces,types,functions,aggregates,indexes}: the
    rest of the connect-time schema tables a driver reads, reflecting
    live session DDL (drop removes the row)."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark)
    s.execute("CREATE TYPE sv_addr (street text, zip int)")
    s.execute("CREATE TABLE sv_t (id bigint PRIMARY KEY, tag text, "
              "m map<text, int>)")
    s.execute("CREATE INDEX sv_tag ON sv_t (tag)")
    s.execute("CREATE INDEX sv_keys ON sv_t (KEYS(m))")
    s.execute(
        "CREATE FUNCTION sv_dbl (x int) RETURNS int LANGUAGE sql AS 'x * 2'"
    )
    ks = s.execute("SELECT * FROM system_schema.keyspaces").collect()
    assert len(ks) == 1 and ks[0].keyspace_name == "session"
    assert "SimpleStrategy" in ks[0].replication
    assert [r.type_name for r in s.execute(
        "SELECT type_name FROM system_schema.types").collect()] == ["sv_addr"]
    fns = s.execute(
        "SELECT function_name, language FROM system_schema.functions"
    ).collect()
    assert [(r.function_name, r.language) for r in fns] == [("sv_dbl", "sql")]
    idx = {
        r.index_name: (r.kind, r.target)
        for r in s.execute("SELECT * FROM system_schema.indexes").collect()
    }
    assert idx["sv_tag"] == ("COMPOSITES", "tag")
    assert idx["sv_keys"] == ("COMPOSITES", "KEYS(m)")
    s.execute("DROP INDEX sv_tag")
    assert len(s.execute(
        "SELECT * FROM system_schema.indexes").collect()) == 1
    s.execute("DROP FUNCTION sv_dbl")
    assert s.execute(
        "SELECT * FROM system_schema.functions").count() == 0


def test_system_schema_indexes_lists_custom_classes_as_custom(spark):
    """SAI and SASI indexes are both CUSTOM kind in system_schema.indexes
    (the reference lists every custom class so)."""
    s = CqlSession(spark)
    s.execute("CREATE TABLE sk (k int PRIMARY KEY, v text, n int)")
    s.execute(
        "CREATE CUSTOM INDEX sk_v ON sk (v) "
        "USING 'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    s.execute("CREATE CUSTOM INDEX sk_n ON sk (n) USING 'StorageAttachedIndex'")
    s.execute("CREATE INDEX sk_2i ON sk (v)")
    rows = s.execute("SELECT * FROM system_schema.indexes").collect()
    assert {r.index_name: r.kind for r in rows} == {
        "sk_v": "CUSTOM", "sk_n": "CUSTOM", "sk_2i": "COMPOSITES"
    }


def test_snapshot_restore_keyspace(spark, tmp_path):
    """nodetool-snapshot analogue: consistent image (flush + segment
    copy + manifest), restored into a fresh session with tombstones,
    masks, indexes, and clocks intact — post-restore writes are strictly
    newer than anything in the image."""
    from cassandra_spark.cql_session import CQLError, CqlSession

    s = CqlSession(spark)
    s.execute("CREATE TABLE sr_kv (id bigint PRIMARY KEY, v text)")
    for i in range(8):
        s.execute(f"INSERT INTO sr_kv (id, v) VALUES ({i}, 'v{i}')")
    s.execute("DELETE FROM sr_kv WHERE id = 3")
    s.execute("ALTER TABLE sr_kv ALTER v MASKED WITH mask_replace('X')")
    s.execute("CREATE INDEX sr_v ON sr_kv (v)")
    s.execute("CREATE TABLE sr_hits (k text PRIMARY KEY, c counter)")
    s.execute("UPDATE sr_hits SET c = c + 5 WHERE k = 'a'")
    d = str(tmp_path / "snap")
    s.snapshot_keyspace(d)
    s.execute("INSERT INTO sr_kv (id, v) VALUES (99, 'late')")  # post-image

    s2 = CqlSession(spark)
    s2.restore_keyspace(d)
    rows = {r.id: r.v for r in s2.execute("SELECT id, v FROM sr_kv").collect()}
    assert set(rows) == {0, 1, 2, 4, 5, 6, 7}       # tombstone kept, 99 absent
    assert set(rows.values()) == {"X"}               # mask restored
    assert s2.index_names["sr_v"] == ("session.sr_kv", "v", "values", None)
    assert s2.execute(
        "SELECT c FROM sr_hits WHERE k = 'a'").collect()[0].c == 5
    # clocks resumed: a new write shadows the restored tombstone era
    s2.execute("INSERT INTO sr_kv (id, v) VALUES (3, 'back')")
    assert 3 in {
        r.id for r in s2.execute("SELECT id FROM sr_kv").collect()
    }
    # counter increments continue from the image
    s2.execute("UPDATE sr_hits SET c = c + 2 WHERE k = 'a'")
    assert s2.execute(
        "SELECT c FROM sr_hits WHERE k = 'a'").collect()[0].c == 7
    with pytest.raises(CQLError, match="empty session"):
        s2.restore_keyspace(d)


def test_review_fix_mask_and_ttl_edges(spark):
    """Round-5 review regressions: inline mask validates fn name at DDL
    time; the mask clause parses after STATIC (the reference's order);
    default_time_to_live inside a comment literal does NOT apply; DROP
    TABLE clears masks and UNMASK grants; DESCRIBE keeps static-column
    masks through the round-trip; restore refuses a session holding any
    DDL state."""
    from cassandra_spark.cql_session import CQLError, CqlSession

    s = CqlSession(spark)
    with pytest.raises(CQLError, match="unknown masking function"):
        s.execute(
            "CREATE TABLE bad (id bigint PRIMARY KEY, v text "
            "MASKED WITH maskhash())"
        )
    s.execute(
        "CREATE TABLE rf (id bigint PRIMARY KEY, v text, "
        "top text STATIC MASKED WITH mask_replace('T')) "
        "WITH comment = 'default_time_to_live = 9 lives here'"
    )
    assert s.table("rf").schema.default_ttl == 0  # comment didn't match
    assert s.masks["session.rf"] == {"top": "mask_replace(top, 'T')"}
    ddl = s.execute("DESCRIBE TABLE rf").collect()[0].create_statement
    assert "top text STATIC MASKED WITH mask_replace('T')" in ddl
    s2 = CqlSession(spark)
    s2.execute(ddl.replace("session.", ""))
    assert s2.masks["session.rf"] == {"top": "mask_replace(top, 'T')"}
    # DROP clears mask + grant state; a recreated table starts clean
    s.execute("GRANT UNMASK ON rf TO me")
    s.execute("DROP TABLE rf")
    assert "rf" not in s.masks and "rf" not in s.unmasked
    # restore guard: any DDL state blocks
    import tempfile

    s3 = CqlSession(spark)
    s3.execute("CREATE TABLE g (id bigint PRIMARY KEY)")
    d = tempfile.mkdtemp()
    s3.snapshot_keyspace(d)
    s4 = CqlSession(spark)
    s4.execute("CREATE TYPE tt (a int)")
    with pytest.raises(CQLError, match="empty session"):
        s4.restore_keyspace(d)


def test_materialized_view_ddl_and_reads(spark):
    """CREATE MATERIALIZED VIEW re-keys the base table: validation per
    the reference (all base key columns + at most one extra in the view
    key, IS NOT NULL required), reads filter on the VIEW's partition key
    without ALLOW FILTERING, the view tracks base LWW state, and direct
    writes are rejected."""
    import pytest

    from cassandra_spark.cql import CQLError

    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE users (uid text PRIMARY KEY, email text, org text)"
    )
    s.execute("INSERT INTO users (uid, email, org) VALUES ('u1', 'a@x', 'eng')")
    s.execute("INSERT INTO users (uid, email, org) VALUES ('u2', 'b@x', 'ops')")
    s.execute("INSERT INTO users (uid, email, org) VALUES ('u3', NULL, 'eng')")
    s.execute(
        "CREATE MATERIALIZED VIEW users_by_email AS "
        "SELECT uid, email, org FROM users "
        "WHERE email IS NOT NULL AND uid IS NOT NULL "
        "PRIMARY KEY (email, uid)"
    )
    # query by the VIEW key — a restriction the base table would reject
    got = s.execute(
        "SELECT uid, org FROM users_by_email WHERE email = 'a@x'"
    ).collect()
    assert [(r.uid, r.org) for r in got] == [("u1", "eng")]
    # NULL view-key rows are excluded (the IS NOT NULL contract)
    assert (
        s.execute("SELECT * FROM users_by_email").count() == 2
    )
    # the view tracks base-table LWW state
    s.execute("UPDATE users SET org = 'sec' WHERE uid = 'u1'")
    s.execute("DELETE FROM users WHERE uid = 'u2'")
    rows = {
        r.uid: r.org for r in s.execute("SELECT * FROM users_by_email").collect()
    }
    assert rows == {"u1": "sec"}
    # writes to the view are rejected
    with pytest.raises(CQLError, match="materialized view"):
        s.execute("INSERT INTO users_by_email (email, uid) VALUES ('x', 'y')")
    # validation: missing base key / two extra cols / missing IS NOT NULL
    with pytest.raises(CQLError, match="IS NOT NULL"):
        s.execute(
            "CREATE MATERIALIZED VIEW bad1 AS SELECT uid, email FROM users "
            "WHERE email IS NOT NULL PRIMARY KEY (email, uid)"
        )
    with pytest.raises(CQLError, match="every base key"):
        s.execute(
            "CREATE MATERIALIZED VIEW bad2 AS SELECT email, org FROM users "
            "WHERE email IS NOT NULL AND org IS NOT NULL "
            "PRIMARY KEY (email, org)"
        )
    with pytest.raises(CQLError, match="at most ONE"):
        s.execute(
            "CREATE MATERIALIZED VIEW bad3 AS SELECT uid, email, org "
            "FROM users WHERE email IS NOT NULL AND org IS NOT NULL "
            "AND uid IS NOT NULL PRIMARY KEY (email, org, uid)"
        )
    # schema surface + drop
    views = s.execute("SELECT * FROM system_schema.views").collect()
    assert [(v.view_name, v.base_table_name) for v in views] == [
        ("users_by_email", "users")
    ]
    s.execute("DROP MATERIALIZED VIEW users_by_email")
    with pytest.raises(CQLError, match="unconfigured table"):
        s.execute("SELECT * FROM users_by_email")


def test_clustering_order_desc_retained(spark):
    """WITH CLUSTERING ORDER BY (c DESC) is retained: paged reads walk
    the declared order, DESCRIBE round-trips the clause, and naming a
    non-clustering column is rejected."""
    import pytest

    from cassandra_spark.cql import CQLError

    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE tl (room text, posted int, body text, "
        "PRIMARY KEY (room, posted)) "
        "WITH CLUSTERING ORDER BY (posted DESC)"
    )
    for i in (1, 3, 2, 5, 4):
        s.execute(
            f"INSERT INTO tl (room, posted, body) VALUES ('r', {i}, 'b{i}')"
        )
    page = s.execute_paged("SELECT * FROM tl WHERE room = 'r'", page_size=3)
    got = [r.posted for r in page.df.collect()]
    assert got == [5, 4, 3]  # DESC clustering order, newest first
    ddl = s.execute("DESCRIBE TABLE tl").collect()[0].create_statement
    assert "CLUSTERING ORDER BY (posted DESC)" in ddl
    s2 = CqlSession(spark)
    s2.execute(ddl.replace("session.", ""))
    assert s2.table("tl").schema.clustering_desc == ("posted",)
    with pytest.raises(CQLError, match="non-clustering"):
        s.execute(
            "CREATE TABLE bad (k text, c int, v text, PRIMARY KEY (k, c)) "
            "WITH CLUSTERING ORDER BY (v DESC)"
        )


def test_alter_type_add_field(spark):
    """ALTER TYPE ADD widens the UDT everywhere it is embedded — bare
    columns, collections of the type, other UDTs — and OLD rows read the
    new field as NULL (the JSON cells simply lack it), exactly the
    reference's visible evolution behavior."""
    import pytest

    from cassandra_spark.cql import CQLError

    s = CqlSession(spark)
    s.execute("CREATE TYPE addr (street text, zip int)")
    s.execute("CREATE TYPE contact (home addr, phone text)")
    s.execute(
        "CREATE TABLE ppl (id bigint PRIMARY KEY, home addr, c contact)"
    )
    s.execute(
        "INSERT INTO ppl (id, home) VALUES (1, {street: 'a st', zip: 7})"
    )
    s.execute("ALTER TYPE addr ADD country text")
    s.execute(
        "INSERT INTO ppl (id, home) VALUES "
        "(2, {street: 'b st', zip: 9, country: 'fr'})"
    )
    rows = {r.id: r.home for r in s.execute("SELECT id, home FROM ppl").collect()}
    assert rows[1].street == "a st" and rows[1].country is None
    assert rows[2].country == "fr"
    # the registered struct and embeddings widened
    assert "country" in s.types["addr"]
    # embeddings widened too: the other UDT and the table column using it
    assert "country" in s.types["contact"]
    assert "country" in s.table("ppl").schema.regular["c"]
    with pytest.raises(CQLError, match="already exists"):
        s.execute("ALTER TYPE addr ADD zip int")
    with pytest.raises(CQLError, match="unknown type"):
        s.execute("ALTER TYPE nope ADD x int")


def test_incremental_snapshot_copies_only_new_segments(spark, tmp_path):
    """snapshot_keyspace(base_dir=...) is the incremental_backups
    analogue: a second snapshot copies only segments flushed since the
    base, its manifest records the full logical state plus the base
    pointer, and restore resolves files down the chain to an identical
    session."""
    import json
    import os

    s = CqlSession(spark, spill_dir=str(tmp_path / "live"))
    s.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    t = s.table("t")
    s.execute("INSERT INTO t (k, v) VALUES (1, 'a')")
    s.execute("INSERT INTO t (k, v) VALUES (2, 'b')")
    full = str(tmp_path / "full")
    s.snapshot_keyspace(full)
    n_full = len(os.listdir(os.path.join(full, "session.t")))
    assert n_full >= 1

    # more writes -> a NEW segment; also overwrite an old key
    s.execute("INSERT INTO t (k, v) VALUES (3, 'c')")
    s.execute("UPDATE t SET v = 'a2' WHERE k = 1")
    inc = str(tmp_path / "inc")
    man = s.snapshot_keyspace(inc, base_dir=full)
    # only the post-base segment was physically copied
    assert len(man["tables"]["session.t"]["copied"]) == 1
    inc_parquet = [
        f for f in os.listdir(os.path.join(inc, "session.t"))
        if f.endswith(".parquet")
    ]
    assert len(inc_parquet) == 1
    assert len(man["tables"]["session.t"]["segments"]) == 2
    assert json.load(open(os.path.join(inc, "manifest.json")))["base"]

    # restore from the INCREMENTAL image alone: chain resolution
    s2 = CqlSession(spark, spill_dir=str(tmp_path / "r"))
    s2.restore_keyspace(inc)
    got = {(r.k, r.v) for r in s2.execute("SELECT k, v FROM t").collect()}
    assert got == {(1, "a2"), (2, "b"), (3, "c")}

    # a third-level increment chains through the second
    s.execute("INSERT INTO t (k, v) VALUES (4, 'd')")
    inc2 = str(tmp_path / "inc2")
    man2 = s.snapshot_keyspace(inc2, base_dir=inc)
    assert len(man2["tables"]["session.t"]["copied"]) == 1
    s3 = CqlSession(spark, spill_dir=str(tmp_path / "r2"))
    s3.restore_keyspace(inc2)
    assert s3.execute("SELECT count(*) AS n FROM t").collect()[0].n == 4

    # a broken chain raises instead of restoring partially
    import shutil

    shutil.rmtree(full)
    s4 = CqlSession(spark, spill_dir=str(tmp_path / "r3"))
    with pytest.raises(CQLError, match="not found in snapshot chain"):
        s4.restore_keyspace(inc2)


def test_time_type_rejected_with_clear_error(spark):
    """`time` is deliberately unsupported (see _CQL_TYPES): a text
    mapping mis-compares mixed-precision literals, so the engine
    refuses the type up front instead of diverging subtly."""
    s = CqlSession(spark)
    with pytest.raises(CQLError, match="unsupported CQL type"):
        s.execute("CREATE TABLE sched (k bigint PRIMARY KEY, at time)")


def test_incremental_snapshot_detects_recycled_and_rewritten_segments(
    spark, tmp_path
):
    """Segment identity is name + (size, mtime), not name alone: a
    DROP + re-CREATE recycles segment file names, and ALTER TABLE DROP
    rewrites segments in place — both must be re-copied by an
    incremental snapshot or restore would resolve to stale base data."""
    s = CqlSession(spark, spill_dir=str(tmp_path / "live"))
    s.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text, c text)")
    s.execute("INSERT INTO t (k, v, c) VALUES (1, 'old', 'secret')")
    s.table("t").flush()
    full = str(tmp_path / "full")
    s.snapshot_keyspace(full)

    # in-place rewrite: ALTER TABLE DROP rewrites the flushed segment
    # under the SAME file name
    s.execute("ALTER TABLE t DROP c")
    # name recycling: drop + recreate restarts the segment counter
    s.execute("DROP TABLE t")
    s.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO t (k, v) VALUES (9, 'new')")
    s.table("t").flush()

    inc = str(tmp_path / "inc")
    man = s.snapshot_keyspace(inc, base_dir=full)
    # the recycled-name segment MUST be copied (meta mismatch)
    assert man["tables"]["session.t"]["copied"] == man["tables"]["session.t"]["segments"]

    s2 = CqlSession(spark, spill_dir=str(tmp_path / "r"))
    s2.restore_keyspace(inc)
    got = {(r.k, r.v) for r in s2.execute("SELECT k, v FROM t").collect()}
    assert got == {(9, "new")}, "restore must not resurrect pre-drop data"


def test_incremental_snapshot_chain_survives_relocation(spark, tmp_path):
    """A tar/rsync'd backup chain (absolute base path gone, directories
    side by side under a new root) restores via the sibling-name
    fallback."""
    import shutil

    s = CqlSession(spark, spill_dir=str(tmp_path / "live"))
    s.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    s.execute("INSERT INTO t (k, v) VALUES (1, 'a')")
    s.table("t").flush()
    root = tmp_path / "backups"
    root.mkdir()
    s.snapshot_keyspace(str(root / "full"))
    s.execute("INSERT INTO t (k, v) VALUES (2, 'b')")
    s.table("t").flush()
    s.snapshot_keyspace(str(root / "inc"), base_dir=str(root / "full"))

    moved = tmp_path / "moved"
    shutil.move(str(root), str(moved))
    s2 = CqlSession(spark, spill_dir=str(tmp_path / "r"))
    s2.restore_keyspace(str(moved / "inc"))
    got = {(r.k, r.v) for r in s2.execute("SELECT k, v FROM t").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_restore_rejects_wrong_sibling_in_chain(spark, tmp_path):
    """The relocation fallback must not silently adopt an UNRELATED
    same-named backup: restore size-validates every resolved segment
    against the head manifest's record and raises on mismatch."""
    import shutil

    # backup A (the real chain base)
    sa = CqlSession(spark, spill_dir=str(tmp_path / "la"))
    sa.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    sa.execute("INSERT INTO t (k, v) VALUES (1, 'mine')")
    sa.table("t").flush()
    roota = tmp_path / "a"
    roota.mkdir()
    sa.snapshot_keyspace(str(roota / "full"))
    sa.execute("INSERT INTO t (k, v) VALUES (2, 'more')")
    sa.table("t").flush()
    sa.snapshot_keyspace(str(roota / "inc"), base_dir=str(roota / "full"))

    # an UNRELATED backup, same table name, same segment names, but
    # different content size
    sb = CqlSession(spark, spill_dir=str(tmp_path / "lb"))
    sb.execute("CREATE TABLE t (k bigint PRIMARY KEY, v text)")
    sb.execute(
        "INSERT INTO t (k, v) VALUES (7, 'someone elses much longer row')"
    )
    sb.table("t").flush()
    rootb = tmp_path / "b"
    rootb.mkdir()
    sb.snapshot_keyspace(str(rootb / "full"))

    # relocate ONLY the increment next to the foreign 'full'
    shutil.move(str(roota / "inc"), str(rootb / "inc"))
    shutil.rmtree(roota)
    s2 = CqlSession(spark, spill_dir=str(tmp_path / "r"))
    with pytest.raises(CQLError, match="wrong snapshot in chain"):
        s2.restore_keyspace(str(rootb / "inc"))


# --- ENTRIES() / FULL() index kinds (cql28/cql29) ---------------------------


def test_cql30_pinned_log():
    from cassandra_spark.cql_dml import CqlTable
    from cassandra_spark.operators.cql_queries import (
        FULL_ASOF, FULL_DML, FULL_LOG, _FULL_SCHEMA)

    t = CqlTable(None, _FULL_SCHEMA)
    for s in FULL_DML:
        t.execute(s)
    assert tuple(t._log) == FULL_LOG
    assert max(r[6] for r in t._log) + 1 == FULL_ASOF


def test_index_kind_matching_entries_full(sess):
    """Kind-matching is the point of collection index kinds: each kind
    admits exactly its own predicate shape and nothing else."""
    sess.execute(
        "CREATE TABLE kinds (id text PRIMARY KEY, "
        "attrs map<text,text>, tags frozen<list<text>>)"
    )
    sess.execute(
        "INSERT INTO kinds (id, attrs, tags) "
        "VALUES ('r1', {'k': 'v'}, ['x'])"
    )
    sess.execute("CREATE INDEX ON kinds (ENTRIES(attrs))")
    sess.execute("CREATE INDEX ON kinds (FULL(tags))")
    # admitted: subscript equality via ENTRIES, whole-value eq via FULL
    assert [r.id for r in sess.execute(
        "SELECT id FROM kinds WHERE attrs['k'] = 'v'").collect()] == ["r1"]
    assert [r.id for r in sess.execute(
        "SELECT id FROM kinds WHERE tags = ['x']").collect()] == ["r1"]
    # NOT admitted: ENTRIES does not admit CONTAINS KEY, FULL does not
    # admit CONTAINS — the gate must still demand ALLOW FILTERING
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT id FROM kinds WHERE attrs CONTAINS KEY 'k'")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT id FROM kinds WHERE tags CONTAINS 'x'")


def test_entries_full_ddl_validation(sess):
    sess.execute(
        "CREATE TABLE kv9 (id text PRIMARY KEY, v int, "
        "tags frozen<list<text>>)"
    )
    with pytest.raises(CQLError, match="map column"):
        sess.execute("CREATE INDEX ON kv9 (ENTRIES(tags))")
    with pytest.raises(CQLError, match="frozen collection"):
        sess.execute("CREATE INDEX ON kv9 (FULL(v))")


def test_entries_full_survive_describe_and_drop(sess):
    sess.execute(
        "CREATE TABLE kv10 (id text PRIMARY KEY, attrs map<text,text>)"
    )
    sess.execute("CREATE INDEX e10 ON kv10 (ENTRIES(attrs))")
    ddl = "\n".join(r.create_statement for r in
                    sess.execute("DESCRIBE TABLE kv10").collect())
    assert "ENTRIES(attrs)" in ddl
    sess.execute("DROP INDEX e10")
    sess.execute("INSERT INTO kv10 (id, attrs) VALUES ('a', {'k':'v'})")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT id FROM kv10 WHERE attrs['k'] = 'v'")


# --- audit logging (cql31) ---------------------------------------------------


def test_audit_log_filters(sess):
    """Category and keyspace filters: included_categories whitelists,
    excluded_keyspaces blacklists; keyspace-less events (AUTH) pass
    keyspace filters; disabled sessions record nothing."""
    sess.execute("CREATE KEYSPACE ks_a WITH replication = "
                 "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    sess.enable_audit_log(
        included_categories=["DML", "AUTH"], excluded_keyspaces=["ks_a"]
    )
    sess.execute("CREATE TABLE ks_a.t1 (k text PRIMARY KEY, v int)")  # DDL: out
    sess.execute("CREATE TABLE t2 (k text PRIMARY KEY, v int)")       # DDL: out
    sess.execute("INSERT INTO ks_a.t1 (k, v) VALUES ('a', 1)")  # ks_a: out
    sess.execute("INSERT INTO t2 (k, v) VALUES ('b', 2)")       # in
    sess.login("cassandra")                                     # AUTH: in
    rows = [(r.category, r.type, r.keyspace, r.scope)
            for r in sess.audit_log().collect()]
    assert rows == [
        ("DML", "UPDATE", "session", "t2"),
        ("AUTH", "LOGIN_SUCCESS", None, None),
    ]
    sess.disable_audit_log()
    sess.execute("INSERT INTO t2 (k, v) VALUES ('c', 3)")
    assert sess.audit_log().count() == 0


def test_audit_login_error_recorded(sess):
    import pytest as _pytest

    sess.enable_audit_log()
    with _pytest.raises(CQLError):
        sess.login("nobody")
    r = sess.audit_log().collect()[-1]
    assert (r.category, r.type) == ("ERROR", "LOGIN_ERROR")
    assert "unknown role" in r.error


def test_audit_traced_statements_still_audited(sess):
    """TRACING ON must not bypass the audit hook."""
    sess.enable_audit_log()
    sess.execute("CREATE TABLE t3 (k text PRIMARY KEY)")
    sess.execute("TRACING ON")
    sess.execute("INSERT INTO t3 (k) VALUES ('x')")
    sess.execute("TRACING OFF")
    cats = [r.type for r in sess.audit_log().collect()]
    assert cats == ["CREATE_TABLE", "UPDATE"]


def test_list_literal_rewrite_is_string_safe(sess):
    """Review regression (r6): the [..] -> array(..) rewrite must not fire
    inside string literals or on whitespace-separated subscripts."""
    sess.execute("CREATE TABLE strsafe (k text PRIMARY KEY, name text, "
                 "tags frozen<list<text>>)")
    sess.execute("INSERT INTO strsafe (k, name, tags) "
                 "VALUES ('a', '[admin] bot', ['x'])")
    sess.execute("CREATE INDEX ss_n ON strsafe (name)")
    sess.execute("CREATE INDEX ss_t ON strsafe (FULL(tags))")
    got = sess.execute(
        "SELECT k FROM strsafe WHERE name = '[admin] bot'"
    ).collect()
    assert [r.k for r in got] == ["a"]
    got = sess.execute(
        "SELECT k FROM strsafe WHERE tags = ['x']"
    ).collect()
    assert [r.k for r in got] == ["a"]


def test_clustering_restriction_gate(sess):
    sess.execute(DDL)
    sess.execute("INSERT INTO msgs (room, posted, author) VALUES ('dev', 1, 'a')")
    sess.execute("INSERT INTO msgs (room, posted, author) VALUES ('ops', 2, 'b')")
    # clustering-only restriction: a full-ring scan with a filter — the
    # reference demands ALLOW FILTERING (or a 2i) without the partition
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT room FROM msgs WHERE posted = 2")
    r = sess.execute(
        "SELECT room FROM msgs WHERE posted = 2 ALLOW FILTERING"
    ).collect()
    assert [x.room for x in r] == ["ops"]
    # partition-restricted slices stay free
    r = sess.execute(
        "SELECT author FROM msgs WHERE room = 'dev' AND posted >= 1"
    ).collect()
    assert [x.author for x in r] == ["a"]
    # a 2i on the clustering column admits the restriction without AF
    sess.execute("CREATE INDEX ON msgs (posted)")
    r = sess.execute("SELECT room FROM msgs WHERE posted = 2").collect()
    assert [x.room for x in r] == ["ops"]


def test_settings_virtual_table_tracks_guardrails(spark):
    """system_views.settings reflects the LIVE guardrail configuration:
    rows appear on set, update on change, vanish on removal; WHERE on
    the virtual table's key works like any table."""
    s = CqlSession(spark)
    base = {r.name for r in s.execute(
        "SELECT name, value FROM system_views.settings").collect()}
    assert {"cluster_name", "partitioner", "release_version"} <= base
    assert not any(n.startswith("guardrails.") for n in base)
    s.set_guardrail("items_per_collection", warn=5, fail=10)
    got = {r.name: r.value for r in s.execute(
        "SELECT name, value FROM system_views.settings").collect()}
    assert got["guardrails.items_per_collection_warn_threshold"] == "5"
    assert got["guardrails.items_per_collection_fail_threshold"] == "10"
    row = s.execute(
        "SELECT value FROM system_views.settings "
        "WHERE name = 'release_version'"
    ).collect()
    assert [r.value for r in row] == ["4.0-spark"]
    s.set_guardrail("items_per_collection")  # remove
    after = {r.name for r in s.execute(
        "SELECT name FROM system_views.settings").collect()}
    assert not any("items_per_collection" in n for n in after)


def test_alter_rename_primary_key_columns(spark, tmp_path):
    """ALTER TABLE RENAME: only PRIMARY KEY columns (their names are
    metadata — pk/ck store VALUES; regular names are baked into stored
    cells, the reference's physical rule). Reads, WHERE restrictions,
    DESCRIBE, and LWT all follow the new names; indexed columns and
    MV'd tables are rejected."""
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE rn (k text, c int, v int, PRIMARY KEY (k, c))")
    s.execute("INSERT INTO rn (k, c, v) VALUES ('a', 1, 10)")
    s.execute("ALTER TABLE rn RENAME c TO seq")
    s.execute("ALTER TABLE rn RENAME k TO pk2")
    assert [
        tuple(r) for r in s.execute(
            "SELECT pk2, seq, v FROM rn WHERE pk2 = 'a' AND seq = 1"
        ).collect()
    ] == [("a", 1, 10)]
    ddl = s.execute("DESCRIBE TABLE rn").collect()[0].create_statement
    assert "PRIMARY KEY ((pk2), seq)" in ddl
    # writes under the new names merge with pre-rename cells (values,
    # not names, key the log)
    s.execute("INSERT INTO rn (pk2, seq, v) VALUES ('a', 1, 11)")
    assert s.execute(
        "SELECT v FROM rn WHERE pk2 = 'a' AND seq = 1"
    ).collect()[0].v == 11
    with pytest.raises(CQLError, match="non PRIMARY KEY"):
        s.execute("ALTER TABLE rn RENAME v TO w")
    with pytest.raises(CQLError, match="already exists"):
        s.execute("ALTER TABLE rn RENAME seq TO v")
    # indexed key column: rejected like the reference
    s.execute("CREATE TABLE rn2 (k text, c int, v int, PRIMARY KEY (k, c))")
    s.execute("CREATE INDEX rn2_c ON rn2 (c)")
    with pytest.raises(CQLError, match="indexed"):
        s.execute("ALTER TABLE rn2 RENAME c TO d")
    # MV'd table: rejected (every MV selects the base key columns)
    s.execute(
        "CREATE TABLE rn3 (k text, c int, v int, PRIMARY KEY (k, c))"
    )
    s.execute(
        "CREATE MATERIALIZED VIEW rn3_by_v AS SELECT v, k, c FROM rn3 "
        "WHERE v IS NOT NULL AND k IS NOT NULL AND c IS NOT NULL "
        "PRIMARY KEY (v, k, c)"
    )
    with pytest.raises(CQLError, match="materialized view"):
        s.execute("ALTER TABLE rn3 RENAME c TO d")


def test_restore_qualifies_legacy_bare_index_names(spark, tmp_path):
    """ADVICE r11: pre-round-11 snapshots key manifest indexes by BARE
    table name while the live registries are qualified — restore must
    qualify them (via the manifest's table_keyspace tags) or restored
    indexes are silently inert and previously index-admitted queries
    start demanding ALLOW FILTERING."""
    import json

    d = str(tmp_path / "snap")
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE it (k int PRIMARY KEY, v text)")
    s.execute("INSERT INTO it (k, v) VALUES (1, 'a')")
    s.execute("CREATE INDEX ON it (v)")
    s.snapshot_keyspace(d)
    # simulate the legacy manifest: strip the keyspace off index tables
    mf = json.load(open(f"{d}/manifest.json"))
    mf["indexes"] = {
        n: [t.partition(".")[2] if "." in t else t, c, k]
        for n, (t, c, k) in mf["indexes"].items()
    }
    json.dump(mf, open(f"{d}/manifest.json", "w"))
    s2 = CqlSession(spark, None)
    s2.restore_keyspace(d)
    # the restored index must admit the equality without ALLOW FILTERING
    assert s2.execute("SELECT k FROM it WHERE v = 'a'").count() == 1
    assert [v[:3] for v in s2.index_names.values()] == [("session.it", "v", "values")]


def test_describe_index_ddl_qualified_once(spark):
    """DESCRIBE emitted 'ON ks.ks.t' (the table name was already
    qualified when prefixed again); pin the single-qualification form
    and the SASI class round-trip."""
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE dt (k int PRIMARY KEY, v text, w text)")
    s.execute("CREATE INDEX vi ON dt (v)")
    s.execute(
        "CREATE CUSTOM INDEX wi ON dt (w) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    ddls = {
        r.name: r.create_statement
        for r in s.execute("DESCRIBE TABLE dt").collect()
        if r.type == "index"
    }
    assert ddls["vi"] == "CREATE INDEX vi ON session.dt (v);"
    assert ddls["wi"] == (
        "CREATE CUSTOM INDEX wi ON session.dt (w) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex';"
    )


def test_snapshot_memo_invalidated_by_every_mutation_path(spark):
    """The memoized unrestricted snapshot plan (cql_dml.snapshot) is
    keyed on (mutver, log len, segment tuple, clock, seq, max_wt); a
    mutation path that slips past the key would serve SILENT STALE
    READS. Prime the cache before each path, mutate, and assert the
    next snapshot reflects the change (r12 advice: enumerate the
    DDL/maintenance sites so a future in-place mutation that forgets
    bump_schema_version fails here, loudly)."""
    s = CqlSession(spark, None)
    s.execute("CREATE TABLE memo (k int PRIMARY KEY, v int, w int)")
    t = s.table("memo")

    def prime():
        return {tuple(r) for r in s.execute("SELECT * FROM memo").collect()}

    s.execute("INSERT INTO memo (k, v, w) VALUES (1, 10, 100)")
    prime()
    # plain write after a primed cache (log length key field)
    s.execute("INSERT INTO memo (k, v, w) VALUES (2, 20, 200)")
    assert {r.k for r in s.execute("SELECT k FROM memo").collect()} == {1, 2}
    # flush (segment tuple key field)
    prime()
    t.flush()
    s.execute("INSERT INTO memo (k, v, w) VALUES (3, 30, 300)")
    assert s.execute("SELECT * FROM memo").count() == 3
    # compaction (segment tuple changes to the merged path)
    t.flush()
    prime()
    t.compact_segments()
    assert s.execute("SELECT * FROM memo").count() == 3
    # ALTER ADD: in-place TableSchema mutation -> explicit bump
    prime()
    s.execute("ALTER TABLE memo ADD z int")
    assert "z" in s.execute("SELECT * FROM memo").columns
    # ALTER DROP: schema mutation + same-path segment rewrite -> bump
    prime()
    s.execute("ALTER TABLE memo DROP w")
    assert "w" not in s.execute("SELECT * FROM memo").columns
    # ALTER RENAME is primary-key-only in the FE; rename a pk-ish table
    s.execute(
        "CREATE TABLE memo2 (a int, b int, c int, PRIMARY KEY (a, b))"
    )
    s.execute("INSERT INTO memo2 (a, b, c) VALUES (1, 2, 3)")
    {tuple(r) for r in s.execute("SELECT * FROM memo2").collect()}
    s.execute("ALTER TABLE memo2 RENAME b TO bb")
    assert "bb" in s.execute("SELECT * FROM memo2").columns
    # ALTER WITH (options only; content unchanged, but must not stale)
    prime()
    s.execute("ALTER TABLE memo WITH default_time_to_live = 0")
    assert s.execute("SELECT * FROM memo").count() == 3
    # delete (log length) and TRUNCATE (clears everything)
    prime()
    s.execute("DELETE FROM memo WHERE k = 3")
    assert s.execute("SELECT * FROM memo").count() == 2
    prime()
    s.execute("TRUNCATE memo")
    assert s.execute("SELECT * FROM memo").count() == 0
