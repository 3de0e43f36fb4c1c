"""Distributed compaction merges (input bytes >= distributed_merge_bytes
run as one Spark job): read-equivalence with the driver pyarrow path
for every merge entry point,
UCS shard invariants under the range-partitioned writer, STCS N->1
contract, history recording, the never-whole-droppable safe default
for stamp-less executor-written segments, the token-sorted row-group
layout of every driver-written segment (flush, merge, GC) and the
whole-file read of segments without a row-group token summary."""

from __future__ import annotations

import pytest

from cassandra_spark import cql_dml
from cassandra_spark.cql_session import CqlSession
from cassandra_spark.operators.murmur3 import token_of_text


def _assert_token_sorted_run(path):
    """``path`` is a (token, pk)-sorted run whose footer stamps its token
    hull and, per row group, the [min, max] token of that group's rows."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.schema_arrow.metadata
    lo, hi = int(meta[b"min_token"]), int(meta[b"max_token"])
    hulls = [int(x) for x in meta[b"rg_tokens"].split()]
    assert len(hulls) == 2 * pf.metadata.num_row_groups
    keys = []
    for g in range(pf.metadata.num_row_groups):
        pks = pf.read_row_group(g, columns=["pk"]).column("pk").to_pylist()
        toks = [token_of_text(k) for k in pks]
        assert [toks[0], toks[-1]] == hulls[2 * g:2 * g + 2]
        keys += zip(toks, pks)
    assert keys == sorted(keys)
    assert keys[0][0] == lo and keys[-1][0] == hi


def _fill(sess, tbl, n=60, flushes=3):
    t = sess.table(tbl)
    per = n // flushes
    i = 0
    for _ in range(flushes):
        for _ in range(per):
            sess.execute(f"INSERT INTO {tbl} (k, v) VALUES ('k{i:04d}', {i})")
            i += 1
        t.flush()
    return t, i


# entry point -> (WITH compaction clause, merge call, history tag)
_ENTRY_POINTS = {
    "compact": ("", lambda t: t.compact_segments(), "compact"),
    "stcs": (
        " WITH compaction = {'class': 'SizeTieredCompactionStrategy', "
        "'min_threshold': '3'}",
        lambda t: t.stcs_compact(),
        "stcs",
    ),
    "twcs": (
        " WITH compaction = {'class': 'TimeWindowCompactionStrategy', "
        "'compaction_window_unit': 'MINUTES', 'compaction_window_size': '1'}",
        lambda t: t.twcs_compact(),
        "twcs",
    ),
    "lcs": (
        " WITH compaction = {'class': 'LeveledCompactionStrategy', "
        "'sstable_size_in_mb': '1'}",
        lambda t: (setattr(t, "lcs_target_bytes", 2048), t.lcs_compact()),
        "lcs",
    ),
    "ucs": (
        " WITH compaction = {'class': 'UnifiedCompactionStrategy', "
        "'scaling_parameters': 'T3', 'target_sstable_size': '2KiB'}",
        lambda t: t.ucs_compact(),
        "ucs",
    ),
}


def _history(sess, ddl_with, flushes=4, per=30):
    """Overwrites and deletes over 40 keys with explicit timestamps; all
    but the last flush sit in one closed one-minute window (TWCS)."""
    sess.execute(f"CREATE TABLE t (k text PRIMARY KEY, v int){ddl_with}")
    t = sess.table("t")
    i = 0
    for f in range(flushes):
        for _ in range(per):
            ts = i + 1 if f < flushes - 1 else 120_000_000 + i
            k = f"k{(i * 7) % 40:02d}"
            if i % 9 == 8:
                sess.execute(
                    f"DELETE FROM t USING TIMESTAMP {ts} WHERE k = '{k}'"
                )
            else:
                sess.execute(
                    f"INSERT INTO t (k, v) VALUES ('{k}', {i}) "
                    f"USING TIMESTAMP {ts}"
                )
            i += 1
        t.flush()
    return t, i


def _answers(sess, t, mid_ts):
    head = sorted(
        tuple(r) for r in sess.execute("SELECT k, v FROM t").collect()
    )
    pitr = sorted(
        (r.k, r.v) for r in t.snapshot_pitr(mid_ts).select("k", "v").collect()
    )
    return head, pitr


@pytest.mark.parametrize("entry", sorted(_ENTRY_POINTS))
def test_spark_merge_equals_driver_merge(spark, tmp_path, entry):
    """One merge, two paths (driver pyarrow vs one Spark job), one
    answer: for every merge entry point the head SELECT and a
    mid-history snapshot_pitr match each other and the pre-merge
    answer; driver outputs are token-sorted runs with a stamped hull;
    executor outputs, which carry no row-group token summary, serve
    pinned reads whole."""
    import pyarrow.parquet as pq

    ddl_with, run, tag = _ENTRY_POINTS[entry]
    a = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    ta, n = _history(a, ddl_with)
    before = _answers(a, ta, n // 2)
    run(ta)  # driver path (default threshold)

    b = CqlSession(spark, spill_dir=str(tmp_path / "b"))
    tb, _ = _history(b, ddl_with)
    tb.distributed_merge_bytes = 1  # force the Spark path
    run(tb)

    for t in (ta, tb):
        hist = t.compaction_history
        assert hist and all(rec[1] == tag and rec[7] == rec[8] for rec in hist)
        if entry in ("compact", "stcs", "twcs"):  # no byte budget: N -> 1
            assert all(rec[3] >= 2 and rec[4] == 1 for rec in hist)
    if entry == "compact":
        assert len(ta._segments) == len(tb._segments) == 1
    assert _answers(a, ta, n // 2) == _answers(b, tb, n // 2) == before

    merged_a = [p for p in ta._segments if f"-{tag}" in p]
    merged_b = [p for p in tb._segments if f"-{tag}" in p]
    assert merged_a and merged_b  # canonical segment naming preserved
    for p in merged_a:
        _assert_token_sorted_run(p)
    for p in merged_b:  # executor-written: no driver footer stamps
        assert b"min_token" not in (pq.ParquetFile(p).schema_arrow.metadata or {})
        assert tb._seg_file(p)[1] is None

    # pinned reads: one row-group pick on the driver output, the whole
    # file on the executor output, the head answer on both
    for sess in (a, b):
        for k in ("k00", "k07", "k39", "absent"):
            got = sess.execute(f"SELECT k, v FROM t WHERE k = '{k}'").collect()
            assert [tuple(r) for r in got] == [r for r in before[0] if r[0] == k]

    # LWT read phase consults the merged segments (executor-written
    # blooms rebuild lazily, the bulk_load precedent)
    live = dict(before[0])
    k = next(iter(live))
    for sess in (a, b):
        assert (
            sess.execute(f"INSERT INTO t (k, v) VALUES ('{k}', 9) IF NOT EXISTS")
            is False
        )


def test_spark_sharded_ucs_merge_invariants(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(
        "CREATE TABLE u (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy', 'scaling_parameters': "
        "'T3', 'target_sstable_size': '2KiB'}"
    )
    t, n = _fill(sess, "u", n=120, flushes=3)
    t.distributed_merge_bytes = 1
    created = t.ucs_compact()
    assert len(created) >= 2, "byte budget must shard the Spark output"
    assert all(t._seg_level[p] == 1 for p in created)
    ranges = sorted(t._seg_token_range(p) for p in created)
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo, f"shard token ranges overlap: {ranges}"
    # whole-partition rule: every pk in exactly one shard
    import pyarrow.parquet as pq

    seen = {}
    for p in created:
        for pk in set(
            pq.read_table(p, columns=["pk"]).column("pk").to_pylist()
        ):
            assert pk not in seen
            seen[pk] = p
    assert len(seen) == n
    # disjoint shards = singleton runs: a second pass is a no-op
    assert t.ucs_compact() == []
    got = {r.k: r.v for r in sess.execute("SELECT k, v FROM u").collect()}
    assert got == {f"k{i:04d}": i for i in range(n)}


def test_spark_merged_segment_is_never_whole_droppable(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
    t, _ = _fill(sess, "t", n=20, flushes=2)
    t.distributed_merge_bytes = 1
    t.compact_segments()
    # executor-written segments carry no max-deletion stamp: they read
    # as -1 = some row can never expire (safe TWCS whole-drop default)
    _, _, mdl = t._seg_stats(t._segments[0])
    assert mdl == -1
    # ...but writetime row-group statistics survive (TWCS bucketing)
    mn, mx, _ = t._seg_stats(t._segments[0])
    assert mn is not None and mx is not None and mn <= mx


def test_flush_and_gc_segments_are_token_sorted_runs(
    spark, tmp_path, monkeypatch
):
    """Every driver-written segment — flush, merge and GC output alike —
    is a (token, pk)-sorted run with a per-row-group token summary; with
    row groups of a few rows, partitions straddle group boundaries and
    pinned reads still return exactly the head answer."""
    monkeypatch.setattr(cql_dml, "_SEG_ROW_GROUP", 5)
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    t, _ = _history(sess, "", flushes=3)
    flushed = list(t._segments)
    assert all("-seg" in p for p in flushed)
    for p in flushed:
        _assert_token_sorted_run(p)
    head = _answers(sess, t, 1)[0]
    t.compact_segments()
    _assert_token_sorted_run(t._segments[0])
    sess.execute("DELETE FROM t USING TIMESTAMP 1 WHERE k = 'k03'")
    t.garbage_collect(gc_horizon_us=10**18)
    (gc,) = t._segments
    assert "-gc" in gc
    _assert_token_sorted_run(gc)
    for k in sorted({r[0] for r in head}):
        got = sess.execute(f"SELECT k, v FROM t WHERE k = '{k}'").collect()
        assert [tuple(r) for r in got] == [r for r in head if r[0] == k]
