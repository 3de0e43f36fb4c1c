"""A scan (``CqlTable.snapshot``) runs the pinned read's per-partition
reconcile in token-range Spark tasks: its plan is one Arrow map over the
splits, one typing projection and the final sort — no window, no join —
for every column shape and for counter tables. Both read paths carry
each scalar cell's remaining TTL in a ``__ttl_<col>`` shadow, which
``TTL(col)`` reads."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_session import CqlSession


def _final_plan(df) -> str:
    """The executed physical plan of ``df`` after an action (the final
    adaptive plan when AQE is on)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def _rich(s):
    s.execute("CREATE TYPE pt (a int, b text)")
    s.execute(
        "CREATE TABLE f (k text, c1 text, c2 int, v int, l list<int>, "
        "st set<text>, m map<text, int>, u pt, s int static, "
        "PRIMARY KEY (k, c1, c2))"
    )
    for i in range(6):
        k = "ab"[i % 2]
        s.execute(
            f"INSERT INTO f (k, c1, c2, v, l, st, m, u) VALUES "
            f"('{k}', 'x', {i}, {i}, [{i}], {{'s{i}'}}, {{'m': {i}}}, "
            f"{{a: {i}, b: 'b'}})"
        )
        s.execute(f"UPDATE f SET s = {i} WHERE k = '{k}'")
        if i == 2:
            s.table("f").flush()
    s.execute("DELETE FROM f WHERE k = 'a' AND c1 = 'x' AND c2 >= 4")
    return s.table("f"), 5


def _counters(s):
    s.execute(
        "CREATE TABLE h (k text, c int, n counter, PRIMARY KEY (k, c))"
    )
    for i in range(6):
        s.execute(f"UPDATE h SET n = n + {i} WHERE k = 'p{i % 3}' AND c = {i}")
        if i == 2:
            s.table("h").flush()
    s.execute("DELETE FROM h WHERE k = 'p0' AND c = 3")
    return s.table("h"), 5


@pytest.mark.parametrize("build", [_rich, _counters])
def test_scan_plan_is_one_arrow_map(spark, tmp_path, build):
    t, n_rows = build(CqlSession(spark, spill_dir=str(tmp_path)))
    df = t.snapshot()
    assert len(df.collect()) == n_rows
    plan = _final_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("MapInArrow") == 1


@pytest.fixture()
def ttl_sess(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE t (k text, c int, v int, s int static, "
        "PRIMARY KEY (k, c))"
    )
    s.execute(
        "INSERT INTO t (k, c, v) VALUES ('a', 1, 10) "
        "USING TIMESTAMP 100 AND TTL 50"
    )
    s.table("t").flush()
    s.execute("UPDATE t USING TIMESTAMP 110 SET s = 3 WHERE k = 'a'")
    s.execute(
        "INSERT INTO t (k, c, v) VALUES ('a', 2, 20) "
        "USING TIMESTAMP 120 AND TTL 1000"
    )
    return s


# reads are at the newest writetime + 1 = 121: the remaining TTL is
# writetime + ttl - 121; the static cell has none
@pytest.mark.parametrize("where", ["WHERE k = 'a'", ""])
def test_ttl_reads_the_remaining_ttl(ttl_sess, where):
    rows = ttl_sess.execute(
        f"SELECT c, TTL(v), TTL(s), WRITETIME(v) FROM t {where}"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 29, None, 100), (2, 999, None, 120)]
    assert ttl_sess.execute(f"SELECT * FROM t {where}").columns == [
        "k", "c", "v", "s",
    ]


def test_pitr_ttl_counts_from_the_cutoff(ttl_sess):
    t = ttl_sess.table("t")
    rows = t.snapshot_pitr(110).select("c", "__ttl_v", "__ttl_s").collect()
    assert [tuple(r) for r in rows] == [(1, 40, None)]
    # a scan and the pinned read build the same shadows
    assert t.partition_frame(["a"]).collect() == t.snapshot().collect()
