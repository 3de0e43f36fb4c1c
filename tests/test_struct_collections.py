"""Typed-collection columns: list/set/map with UDT/tuple (struct)
elements through the session FE — literal parsing, element cells,
snapshot re-typing, collection ops, DDL gates.
"""

from __future__ import annotations

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_dml import (
    _elem_codec,
    _parse_value,
    _split_colon,
    _top_level_colon,
    parse_coll_type,
)
from cassandra_spark.cql_session import CqlSession


def test_parse_coll_type_struct_elements():
    assert parse_coll_type("list<struct<a:int,b:string>>") == (
        "list", "struct<a:int,b:string>", None,
    )
    assert parse_coll_type("map<string, struct<a:int>>") == (
        "map", "string", "struct<a:int>",
    )
    assert parse_coll_type("set<int>") == ("set", "int", None)
    # nested collections parse too (round 12; the DDL gate enforces the
    # frozen spelling on the RAW CQL text, not here)
    assert parse_coll_type("list<list<int>>") == ("list", "list<int>", None)
    assert parse_coll_type("struct<a:int>") is None
    with pytest.raises(CQLError):
        parse_coll_type("map<int>")


def test_colon_depth_awareness():
    # a struct literal as a set element must not read as a map entry
    assert not _top_level_colon("{a: 1}")
    assert _top_level_colon("'k': {a: 1}")
    assert _split_colon("'k': {a: 1, b: 2}") == ("'k'", " {a: 1, b: 2}")


def test_parse_value_struct_set_vs_map():
    # set of structs: items canonicalize through struct_json
    kind, items = _parse_value(
        "{(1, 2), (3, 4)}", elem=_elem_codec("struct<c0:int,c1:int>")
    )
    assert kind == "set"
    assert items == ['{"c0":1,"c1":2}', '{"c0":3,"c1":4}']
    # map with struct values
    kind, pairs = _parse_value(
        "{'k': {a: 5}}", val=_elem_codec("struct<a:int>")
    )
    assert kind == "map" and pairs == [("k", '{"a":5}')]


@pytest.fixture()
def sess(spark):
    s = CqlSession(spark, None)
    s.execute("CREATE TYPE addr (street text, zip int)")
    s.execute(
        "CREATE TABLE users (uid text PRIMARY KEY, "
        "homes list<frozen<addr>>, "
        "pins set<frozen<tuple<int, int>>>, "
        "places map<text, frozen<addr>>)"
    )
    s.execute(
        "INSERT INTO users (uid, homes, pins, places) VALUES ('u1', "
        "[{street: 'a st', zip: 11}, {street: 'b st', zip: 22}], "
        "{(1, 2), (3, 4), (1, 2)}, "
        "{'office': {street: 'c st', zip: 33}})"
    )
    return s


def test_snapshot_retypes_struct_elements(sess):
    r = sess.execute("SELECT homes, pins, places FROM users").collect()[0]
    assert [(h.street, h.zip) for h in r.homes] == [
        ("a st", 11), ("b st", 22),
    ]
    # set dedupes on canonical JSON: {(1,2),(3,4),(1,2)} -> two members
    assert sorted((p.c0, p.c1) for p in r.pins) == [(1, 2), (3, 4)]
    assert r.places["office"].zip == 33


def test_collection_ops_on_struct_elements(sess):
    sess.execute(
        "UPDATE users SET homes = homes + [{street: 'd st', zip: 44}] "
        "WHERE uid = 'u1'"
    )
    sess.execute("UPDATE users SET pins = pins - {(3, 4)} WHERE uid = 'u1'")
    sess.execute(
        "UPDATE users SET places['home'] = {street: 'e st', zip: 55} "
        "WHERE uid = 'u1'"
    )
    sess.execute("UPDATE users SET homes[0] = {street: 'z st', zip: 10} "
                 "WHERE uid = 'u1'")
    r = sess.execute("SELECT homes, pins, places FROM users").collect()[0]
    assert [h.street for h in r.homes] == ["z st", "b st", "d st"]
    assert [(p.c0, p.c1) for p in r.pins] == [(1, 2)]
    assert sorted(r.places) == ["home", "office"]


def test_ddl_gates(sess):
    # frozen nested collections are SUPPORTED since round 12; the
    # non-frozen spelling is what the gate rejects (the reference's rule)
    sess.execute(
        "CREATE TABLE okn (k int PRIMARY KEY, x list<frozen<list<int>>>)"
    )
    with pytest.raises(CQLError, match="frozen"):
        sess.execute(
            "CREATE TABLE bad (k int PRIMARY KEY, x list<list<int>>)"
        )
    with pytest.raises(CQLError, match="scalar key type"):
        sess.execute(
            "CREATE TABLE bad2 (k int PRIMARY KEY, "
            "x map<frozen<addr>, int>)"
        )


def test_overwrite_tombstones_old_elements(sess):
    sess.execute(
        "UPDATE users SET homes = [{street: 'only', zip: 1}] "
        "WHERE uid = 'u1'"
    )
    r = sess.execute("SELECT homes FROM users").collect()[0]
    assert [(h.street, h.zip) for h in r.homes] == [("only", 1)]
