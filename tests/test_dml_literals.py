"""A DML string literal that holds `` AND ``, `` WHERE ``, `` IF `` or ``;``
is a value: the UPDATE / DELETE forms, the WHERE and IF splits and the
BATCH split step over whole literals."""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession


@pytest.fixture()
def sess(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE d (k text, c int, v text, PRIMARY KEY (k, c))")
    s.execute("INSERT INTO d (k, c, v) VALUES ('a AND b', 1, 'x')")
    return s


def _rows(s):
    return sorted(tuple(r) for r in s.execute("SELECT k, c, v FROM d").collect())


def test_update_and_delete_keys_hold_keywords(sess):
    sess.execute("UPDATE d SET v = 'y' WHERE k = 'a AND b' AND c = 1")
    assert _rows(sess) == [("a AND b", 1, "y")]
    sess.execute("UPDATE d SET v = 'a WHERE k' WHERE k = 'a AND b' AND c = 1")
    assert _rows(sess) == [("a AND b", 1, "a WHERE k")]
    sess.execute("UPDATE d SET v = 'p AND q' WHERE k = 'x IF y' AND c = 2")
    assert ("x IF y", 2, "p AND q") in _rows(sess)
    sess.execute("DELETE FROM d WHERE k = 'a AND b' AND c = 1")
    assert _rows(sess) == [("x IF y", 2, "p AND q")]


def test_conditions_compare_literals_that_hold_and(sess):
    sess.execute("UPDATE d SET v = 'p AND q' WHERE k = 'a AND b' AND c = 1")
    assert sess.execute(
        "UPDATE d SET v = 'r' WHERE k = 'a AND b' AND c = 1 IF v = 'p AND q'"
    ) is True
    assert sess.execute(
        "DELETE FROM d WHERE k = 'a AND b' AND c = 1 IF v = 'p AND q'"
    ) is False
    assert _rows(sess) == [("a AND b", 1, "r")]


def test_batch_values_hold_semicolons(sess):
    sess.execute(
        "BEGIN BATCH "
        "INSERT INTO d (k, c, v) VALUES ('x;y', 1, 'p; q'); "
        "UPDATE d SET v = 'it''s; done' WHERE k = 'a AND b' AND c = 1; "
        "APPLY BATCH"
    )
    assert _rows(sess) == [("a AND b", 1, "it's; done"), ("x;y", 1, "p; q")]


def test_condition_literal_naming_a_udt_column_is_a_value(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TYPE ad (a text, b int)")
    s.execute("CREATE TABLE u (k text PRIMARY KEY, v text, addr ad)")
    s.execute("INSERT INTO u (k, v) VALUES ('x', 'addr')")
    assert s.execute("UPDATE u SET v = 'y' WHERE k = 'x' IF v = 'addr'") is True
    with pytest.raises(CQLError, match="non-frozen UDT column 'addr'"):
        s.execute("UPDATE u SET v = 'z' WHERE k = 'x' IF addr = null")
