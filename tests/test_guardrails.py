"""Guardrails (the Cassandra 4.1 framework): warn -> client warning,
fail -> aborted operation, per guardrail — items_per_collection (write),
partition_keys_in_select (read), columns_per_table (DDL),
tombstones_per_read (the TombstoneOverwhelmingException analogue on the
per-partition read)."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_session import CqlSession, CQLError


@pytest.fixture()
def sess(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE g (k text PRIMARY KEY, tags set<text>, v int)")
    return s


def test_unknown_guardrail_rejected(sess):
    with pytest.raises(CQLError, match="unknown guardrail"):
        sess.set_guardrail("nope", fail=1)
    with pytest.raises(CQLError, match="warn threshold must be <="):
        sess.set_guardrail("items_per_collection", warn=9, fail=3)


def test_items_per_collection(sess):
    sess.set_guardrail("items_per_collection", warn=2, fail=4)
    sess.execute("INSERT INTO g (k, tags) VALUES ('a', {'x', 'y'})")
    assert sess.pop_warnings() == []
    sess.execute("INSERT INTO g (k, tags) VALUES ('b', {'1', '2', '3'})")
    w = sess.pop_warnings()
    assert len(w) == 1 and "items_per_collection" in w[0]
    with pytest.raises(CQLError, match="items_per_collection"):
        sess.execute(
            "INSERT INTO g (k, tags) VALUES "
            "('c', {'1', '2', '3', '4', '5'})"
        )
    # the failed write left nothing behind
    assert sess.execute("SELECT k FROM g WHERE k = 'c'").count() == 0
    # both None removes the guardrail
    sess.set_guardrail("items_per_collection")
    sess.execute(
        "INSERT INTO g (k, tags) VALUES ('c', {'1', '2', '3', '4', '5'})"
    )


def test_partition_keys_in_select(sess):
    for i in range(6):
        sess.execute(f"INSERT INTO g (k, v) VALUES ('k{i}', {i})")
    sess.set_guardrail("partition_keys_in_select", warn=2, fail=4)
    assert sess.execute(
        "SELECT k FROM g WHERE k IN ('k0', 'k1')"
    ).count() == 2
    assert sess.pop_warnings() == []
    assert sess.execute(
        "SELECT k FROM g WHERE k IN ('k0', 'k1', 'k2')"
    ).count() == 3
    assert any("partition_keys_in_select" in w for w in sess.pop_warnings())
    with pytest.raises(CQLError, match="partition_keys_in_select"):
        sess.execute(
            "SELECT k FROM g WHERE k IN ('k0','k1','k2','k3','k4')"
        )
    # commas inside string literals never miscount (quote-masked)
    assert sess.execute(
        "SELECT k FROM g WHERE k IN ('a,b,c,d,e', 'k1')"
    ).count() == 1


def test_columns_per_table(sess):
    sess.set_guardrail("columns_per_table", fail=3)
    with pytest.raises(CQLError, match="columns_per_table"):
        sess.execute(
            "CREATE TABLE wide (k text PRIMARY KEY, a int, b int, c int)"
        )
    assert "wide" not in sess.tables  # nothing half-registered
    sess.execute("CREATE TABLE slim (k text PRIMARY KEY, a int)")


def test_tombstones_per_read(sess):
    # a delete-churned partition: many row tombstones under one pk
    sess.execute(
        "CREATE TABLE churn (k text, c text, v int, PRIMARY KEY (k, c))"
    )
    for i in range(12):
        sess.execute(f"INSERT INTO churn (k, c, v) VALUES ('hot', 'c{i}', {i})")
        if i % 2 == 0:
            sess.execute(f"DELETE FROM churn WHERE k = 'hot' AND c = 'c{i}'")
    sess.set_guardrail("tombstones_per_read", warn=3, fail=100)
    # the LWT read phase drives the per-partition reconcile
    applied = sess.execute(
        "INSERT INTO churn (k, c, v) VALUES ('hot', 'c1', 0) IF NOT EXISTS"
    )
    assert applied is False
    assert any("tombstones_per_read" in w for w in sess.pop_warnings())
    sess.set_guardrail("tombstones_per_read", fail=3)
    with pytest.raises(CQLError, match="tombstones_per_read"):
        sess.execute(
            "INSERT INTO churn (k, c, v) VALUES ('hot', 'c1', 0) "
            "IF NOT EXISTS"
        )
    # a partition-pinned SELECT reads through the same reconcile
    sess.set_guardrail("tombstones_per_read", warn=3, fail=100)
    rows = sess.execute("SELECT c FROM churn WHERE k = 'hot'").collect()
    assert len(rows) == 6
    assert any("tombstones_per_read" in w for w in sess.pop_warnings())
    sess.set_guardrail("tombstones_per_read", fail=3)
    with pytest.raises(CQLError, match="tombstones_per_read"):
        sess.execute("SELECT c FROM churn WHERE k = 'hot'")


def test_failed_statement_is_atomic(sess):
    """Pre-existing hazard fixed alongside guardrails: a statement that
    errors mid-application (here, a wrong collection literal AFTER the
    row marker was emitted) must leave NOTHING behind — the reference
    applies a statement's mutation atomically or not at all."""
    with pytest.raises(CQLError, match="needs a"):
        sess.execute("INSERT INTO g (k, tags, v) VALUES ('z', ['w'], 5)")
    assert sess.execute("SELECT k FROM g WHERE k = 'z'").count() == 0
    assert len(sess.table("g")._log) == 0


# --- round-10 guardrails: collection_size, IN cartesian, ALLOW FILTERING --


def test_collection_size_bytes(sess):
    sess.set_guardrail("collection_size", warn=8, fail=16)
    sess.execute("INSERT INTO g (k, tags) VALUES ('a', {'tiny'})")
    assert sess.pop_warnings() == []
    sess.execute("INSERT INTO g (k, tags) VALUES ('b', {'0123456789'})")
    w = sess.pop_warnings()
    assert len(w) == 1 and "collection_size" in w[0]
    with pytest.raises(CQLError, match="collection_size"):
        sess.execute(
            "INSERT INTO g (k, tags, v) VALUES "
            "('c', {'0123456789abcdefghij'}, 1)"
        )
    # statement atomicity: the failed write left NOTHING behind
    assert sess.execute("SELECT k FROM g WHERE k = 'c'").count() == 0
    assert sess.pop_warnings() == []


def test_in_select_cartesian_product(sess):
    s2 = CqlSession(sess.spark, spill_dir=None)
    s2.execute(
        "CREATE TABLE cc (k text, c text, v int, PRIMARY KEY (k, c))"
    )
    for k in ("a", "b", "c"):
        for c in ("x", "y", "z"):
            s2.execute(
                f"INSERT INTO cc (k, c, v) VALUES ('{k}', '{c}', 1)"
            )
    s2.set_guardrail("in_select_cartesian_product", warn=4, fail=8)
    s2.execute("SELECT v FROM cc WHERE k IN ('a', 'b') AND c = 'x'")
    assert s2.pop_warnings() == []
    # 3 x 2 = 6 > warn 4
    s2.execute(
        "SELECT v FROM cc WHERE k IN ('a', 'b', 'c') AND c IN ('x', 'y')"
    )
    w = s2.pop_warnings()
    assert len(w) == 1 and "in_select_cartesian_product" in w[0]
    # 3 x 3 = 9 > fail 8
    with pytest.raises(CQLError, match="in_select_cartesian_product"):
        s2.execute(
            "SELECT v FROM cc WHERE k IN ('a', 'b', 'c') "
            "AND c IN ('x', 'y', 'z')"
        )
    # commas inside string literals never miscount ('a,b' is ONE key)
    s2.execute("SELECT v FROM cc WHERE k IN ('a,b,c', 'b') AND c = 'x'")
    assert s2.pop_warnings() == []


def test_allow_filtering_guardrail(sess):
    sess.execute("INSERT INTO g (k, v) VALUES ('a', 5)")
    q = "SELECT k FROM g WHERE v = 5 ALLOW FILTERING"
    sess.execute(q)  # no guardrail: silent
    assert sess.pop_warnings() == []
    sess.set_guardrail("allow_filtering", warn=0)
    sess.execute(q)
    w = sess.pop_warnings()
    assert len(w) == 1 and "allow_filtering" in w[0]
    sess.execute("SELECT k FROM g WHERE k = 'a'")  # no AF: no warning
    assert sess.pop_warnings() == []
    sess.set_guardrail("allow_filtering", fail=0)
    with pytest.raises(CQLError, match="allow_filtering"):
        sess.execute(q)
    sess.set_guardrail("allow_filtering")  # removed: allowed again
    assert sess.execute(q).count() == 1
