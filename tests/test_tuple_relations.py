"""Multi-column clustering relations: ``(c1, c2) > (x, y)`` in the CQL
gate — expansion correctness incl. the CLUSTERING ORDER DESC flip,
contiguity/arity validation, and session-FE round-trip.
"""

from __future__ import annotations

import pytest

from cassandra_spark.cql import (
    CQLError,
    _analyse_where,
    _rewrite_tuple_relations,
    cql_select,
)
from cassandra_spark.cql_session import CqlSession
from tests.conftest import SF_SMOKE


def _rewrite(where, meta):
    """The tuple-relation expansion of one analysed WHERE clause."""
    return _rewrite_tuple_relations(_analyse_where(where), meta)


class _Meta:
    def __init__(self, clustering):
        self.clustering = clustering

    @property
    def clustering_cols(self):
        return tuple(c.lstrip("-") for c in self.clustering)


def test_expansion_asc():
    out = _rewrite(
        "pk = 1 AND (c1, c2) > (10, 20)", _Meta(("c1", "c2"))
    )
    assert out == "pk = 1 AND ((c1 > 10) OR (c1 = 10 AND c2 > 20))"


def test_expansion_inclusive_and_eq():
    m = _Meta(("c1", "c2"))
    assert (
        _rewrite("(c1, c2) <= (1, 2)", m)
        == "((c1 < 1) OR (c1 = 1 AND c2 <= 2))"
    )
    assert (
        _rewrite("(c1, c2) = (1, 2)", m)
        == "(c1 = 1 AND c2 = 2)"
    )


def test_expansion_desc_flip():
    # DESC component: "greater in clustering order" = smaller value
    out = _rewrite(
        "(c1, c2) > ('d', 5)", _Meta(("-c1", "c2"))
    )
    assert out == "((c1 < 'd') OR (c1 = 'd' AND c2 > 5))"


def test_expansion_three_columns():
    out = _rewrite(
        "(a, b, c) >= (1, 2, 3)", _Meta(("a", "b", "c"))
    )
    assert out == (
        "((a > 1) OR (a = 1 AND b > 2) OR (a = 1 AND b = 2 AND c >= 3))"
    )


def test_validation_errors():
    m = _Meta(("c1", "c2", "c3"))
    with pytest.raises(CQLError, match="contiguous"):
        _rewrite("(c2, c1) > (1, 2)", m)
    with pytest.raises(CQLError, match="contiguous"):
        _rewrite("(c1, c3) > (1, 2)", m)
    with pytest.raises(CQLError, match="arity"):
        _rewrite("(c1, c2) > (1, 2, 3)", m)
    with pytest.raises(CQLError, match="clustering"):
        _rewrite("(x, y) > (1, 2)", m)


def test_function_calls_untouched():
    m = _Meta(("c1", "c2"))
    # token(a, b) > 5 must not be mistaken for a tuple relation
    s = "token(a, b) > 5 AND c1 = 1"
    assert _rewrite(s, m) == s


def test_quoted_comma_values():
    out = _rewrite(
        "(c1, c2) > ('a,b', 2)", _Meta(("c1", "c2"))
    )
    assert out == "((c1 > 'a,b') OR (c1 = 'a,b' AND c2 > 2))"


def test_batch_fe_desc_flip_matches_explicit(spark):
    # orders: clustering (-o_orderdate, o_orderkey)
    tup = cql_select(
        spark, SF_SMOKE,
        "SELECT o_orderdate, o_orderkey FROM orders WHERE o_custkey = 4 "
        "AND (o_orderdate, o_orderkey) > ('1995-01-01', 0)",
    )
    exp = cql_select(
        spark, SF_SMOKE,
        "SELECT o_orderdate, o_orderkey FROM orders WHERE o_custkey = 4 "
        "AND (o_orderdate < '1995-01-01' "
        "OR (o_orderdate = '1995-01-01' AND o_orderkey > 0))",
    )
    a = {(str(r.o_orderdate), r.o_orderkey) for r in tup.collect()}
    b = {(str(r.o_orderdate), r.o_orderkey) for r in exp.collect()}
    assert a == b


def test_session_fe_tuple_relation(spark):
    sess = CqlSession(spark, None)
    sess.execute(
        "CREATE TABLE ts (pk int, c1 int, c2 int, v text, "
        "PRIMARY KEY (pk, c1, c2))"
    )
    for c1 in range(3):
        for c2 in range(3):
            sess.execute(
                f"INSERT INTO ts (pk, c1, c2, v) VALUES "
                f"(1, {c1}, {c2}, 'r{c1}{c2}')"
            )
    got = {
        (r.c1, r.c2)
        for r in sess.execute(
            "SELECT c1, c2 FROM ts WHERE pk = 1 AND (c1, c2) >= (1, 2)"
        ).collect()
    }
    assert got == {(1, 2), (2, 0), (2, 1), (2, 2)}
    # without the partition key the relation needs ALLOW FILTERING
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        sess.execute("SELECT c1 FROM ts WHERE (c1, c2) >= (1, 2)")


def test_tuple_in_expansion():
    m = _Meta(("c1", "c2"))
    out = _rewrite(
        "pk = 1 AND (c1, c2) IN ((1, 2), (3, 4))", m
    )
    assert out == (
        "pk = 1 AND ((c1 = 1 AND c2 = 2) OR (c1 = 3 AND c2 = 4))"
    )
    with pytest.raises(CQLError, match="list of tuples"):
        _rewrite("(c1, c2) IN (1, 2)", m)
    with pytest.raises(CQLError, match="arity"):
        _rewrite("(c1, c2) IN ((1, 2, 3))", m)
    with pytest.raises(CQLError, match="at least one"):
        _rewrite("(c1, c2) IN ()", m)


def test_session_fe_tuple_in(spark):
    sess = CqlSession(spark, None)
    sess.execute(
        "CREATE TABLE ti (pk int, c1 int, c2 int, v text, "
        "PRIMARY KEY (pk, c1, c2))"
    )
    for c1 in range(2):
        for c2 in range(3):
            sess.execute(
                f"INSERT INTO ti (pk, c1, c2, v) VALUES "
                f"(1, {c1}, {c2}, 'x')"
            )
    got = {
        (r.c1, r.c2)
        for r in sess.execute(
            "SELECT c1, c2 FROM ti WHERE pk = 1 "
            "AND (c1, c2) IN ((0, 2), (1, 0))"
        ).collect()
    }
    assert got == {(0, 2), (1, 0)}


def test_quoted_literals_never_rewritten():
    """ADVICE r11: a string literal containing tuple-relation-looking
    text must pass through verbatim — both the comparison and the IN
    spelling — and literals mentioning non-clustering names must not
    trip _validate."""
    m = _Meta(("c1", "c2"))
    s = "v = '(c1, c2) IN ((1,2))' AND (c1, c2) = (1, 2)"
    assert _rewrite(s, m) == (
        "v = '(c1, c2) IN ((1,2))' AND (c1 = 1 AND c2 = 2)"
    )
    # a literal alone: untouched, no CQLError about non-clustering cols
    s2 = "v = '(pk, other) >= (9, 9)'"
    assert _rewrite(s2, m) == s2
    # literal VALUES containing parens survive the comparison rewrite
    s3 = "(c1, c2) = ('(a)', 2)"
    assert _rewrite(s3, m) == "(c1 = '(a)' AND c2 = 2)"
