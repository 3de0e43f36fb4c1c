"""Tests of the benchmark itself: model, tracer and tiny seeded runs.

    python3 -m pytest perfbench/tests -q

The run tests start Spark through perfbench/run.py and take a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import cqlgen  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _stmt(kind, *writes):
    return cqlgen.Statement(kind, "", list(writes))


def test_model_reconcile_rules():
    m = cqlgen.RefModel()
    m.apply(_stmt("insert", cqlgen.Write("insert", "a", 1, {"v": "x", "n": 1, "tag": "t"})))
    # an older write loses; at an equal timestamp the later arrival wins
    m.apply(_stmt("update", cqlgen.Write("update", "a", 1, {"v": "old"}, ts=0)))
    assert m.row("a", 1) == (1, "x", 1, "t")
    m.apply(_stmt("update", cqlgen.Write("update", "a", 1, {"n": 2}, ts=1)))
    assert m.row("a", 1) == (1, "x", 2, "t")
    m.apply(_stmt("delete", cqlgen.Write("delete", "a", 1)))
    assert m.row("a", 1) is None
    # a write at the row tombstone's timestamp stays shadowed
    m.apply(_stmt("update", cqlgen.Write("update", "a", 1, {"n": 5}, ts=4)))
    assert m.row("a", 1) is None
    # UPDATE without a marker makes a row with only that cell
    m.apply(_stmt("update", cqlgen.Write("update", "a", 2, {"n": 7})))
    assert m.partition("a") == [(2, None, 7, None)]
    # TTL counts in clock ticks against the newest timestamp written
    m.apply(_stmt("insert", cqlgen.Write("insert", "b", 0, {"v": "y"}, ttl=2)))
    assert m.row("b", 0) == (0, "y", None, None)
    m.apply(_stmt("update", cqlgen.Write("update", "c", 0, {"n": 1})))
    assert m.row("b", 0) is None


def test_write_stream_is_seeded():
    def texts(seed):
        m = cqlgen.RefModel()
        s = cqlgen.WriteStream(seed, 50, 4, lambda: m.clock)
        out = []
        for _ in range(300):
            st = s.next()
            m.apply(st)
            out.append(st.text)
        return out

    assert texts(7) == texts(7)
    assert texts(7) != texts(8)
    kinds = {t.split()[0] for t in texts(7)}
    assert kinds == {"INSERT", "UPDATE", "DELETE", "BEGIN"}


@pytest.fixture(scope="module")
def spark():
    from cassandra_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_model_agrees_with_engine(spark, tmp_path):
    from cassandra_spark.cql_session import CqlSession

    sess = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=2_000)
    sess.execute(cqlgen.DDL)
    sess.execute(cqlgen.INDEX_DDL)
    model = cqlgen.RefModel()
    stream = cqlgen.WriteStream(3, 60, 8, lambda: model.clock)
    for _ in range(3_000):
        st = stream.next()
        sess.execute(st.text)
        model.apply(st)
    assert len(sess.table(cqlgen.TABLE)._segments) >= 1  # flushed data is read too
    rows = sess.execute(f"SELECT k, c, v, n, tag FROM {cqlgen.TABLE}").collect()
    assert sorted(tuple(r) for r in rows) == model.all_rows()
    k = "p000000"
    rows = sess.execute(f"SELECT c, v, n, tag FROM {cqlgen.TABLE} WHERE k = '{k}'").collect()
    assert sorted(tuple(r) for r in rows) == model.partition(k)
    tag = model.all_rows()[0][4]
    rows = sess.execute(f"SELECT k, c, v, n FROM {cqlgen.TABLE} WHERE tag = '{tag}'").collect()
    assert sorted(tuple(r) for r in rows) == model.by_tag(tag)


def test_unwrap_restores_original_objects():
    from cassandra_spark import cql_session, session
    from cassandra_spark.cql_dml import CqlTable
    from cassandra_spark.operators import cql_queries

    targets = [
        (cql_session.CqlSession, "execute"), (CqlTable, "flush"),
        (CqlTable, "stcs_compact"), (CqlTable, "compact_segments"),
        (CqlTable, "snapshot"), (cql_session, "cql_select"),
        (cql_queries, "cql_select"), (session, "get_spark"),
    ]

    def current(owner, attr):
        return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    before = [current(o, a) for o, a in targets]
    tr = Tracer()
    for o, a in targets:
        tr.wrap(o, a, f"x.{a}")
    assert all(current(o, a) is not b for (o, a), b in zip(targets, before))
    tr.unwrap()
    assert all(current(o, a) is b for (o, a), b in zip(targets, before))


def test_tracer_records_nested_spans():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr = Tracer()
    tr.wrap(Layer, "outer", "a.outer")
    tr.wrap(Layer, "inner", "b.inner")
    assert Layer().outer() == 2
    tr.unwrap()
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (-1, 0)
    assert tr.covered(0, ("b.",)) == pytest.approx(inner.dur)


def _run(cwd, workload, trace, seconds="1"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", seconds, "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"] for m in want} == set(result["metrics"])
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    summary = json.loads(lines[-2].split(" ", 2)[2])
    assert summary["failed_ops_ratio"] == 0.0
    if trace and workload == "cql_ingest":
        # a traced run does a fixed amount of work: 4,000 statements per second
        executed = sum(v["value"] for k, v in result["metrics"].items()
                       if k.startswith("cql_session.execute.") and k.endswith(".count"))
        assert executed == 4_000


def test_refuses_without_engine_sources(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "cql_ingest", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
