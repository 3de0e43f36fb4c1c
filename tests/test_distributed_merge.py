"""Distributed compaction merges (input bytes >= distributed_merge_bytes
run as one Spark job): read-equivalence with the driver pyarrow path
for every merge entry point, UCS shard invariants under the range-
partitioned writer, the N->1 contract of merges without a byte budget
(so STCS and TWCS converge), history recording, equal TWCS whole-drop
stamps from both paths, a Spark GC whose partitions straddle Arrow
batches, a failed Spark write that leaves no file behind, and the one
segment format: every writer (flush, the driver and Spark sides of
every merge and of GC, bulk_load, ALTER DROP and keyspace restore)
leaves (token, pk)-sorted runs whose footer stamps each row group's
token hull, and pinned reads of them return the head answer."""

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
    answer, and driver and executor outputs alike are token-sorted runs
    with a stamped hull and row-group token summary."""
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
        if entry in ("stcs", "twcs"):  # converged: a second pass is a no-op
            n_hist = len(hist)
            assert run(t) == [] and len(t.compaction_history) == n_hist
    if entry == "compact":
        assert len(ta._segments) == len(tb._segments) == 1
    assert _answers(a, ta, n // 2) == _answers(b, tb, n // 2) == before

    merged_a = [p for p in ta._segments if f"-{tag}" in p]
    merged_b = [p for p in tb._segments if f"-{tag}" in p]
    assert merged_a and merged_b  # canonical segment naming preserved
    for p in merged_a + merged_b:
        _assert_token_sorted_run(p)
    for p in merged_b:
        assert tb._seg_file(p)[1] is not None

    # pinned reads: a row-group pick on either output, the head answer
    for sess in (a, b):
        for k in ("k00", "k07", "k39", "absent"):
            got = sess.execute(f"SELECT k, v FROM t WHERE k = '{k}'").collect()
            assert [tuple(r) for r in got] == [r for r in before[0] if r[0] == k]

    # LWT read phase consults the merged segments (executor-written
    # blooms load from their sidecars)
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
    """A Spark merge stamps its output's max-deletion time exactly as a
    driver merge does: -1 (never whole-droppable) over rows that never
    expire, max(writetime + ttl) over an all-TTL history — which TWCS
    then whole-drops once it has expired, and not before."""
    stats = []
    for mode in ("driver", "spark"):
        sess = CqlSession(spark, spill_dir=str(tmp_path / mode))
        sess.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
        t, _ = _fill(sess, "t", n=20, flushes=2)
        if mode == "spark":
            t.distributed_merge_bytes = 1
        t.compact_segments()
        stats.append(t._seg_stats(t._segments[0]))
    assert stats[0] == stats[1]
    mn, mx, mdl = stats[1]
    assert mdl == -1
    # writetime row-group statistics survive (TWCS bucketing)
    assert mn is not None and mx is not None and mn <= mx

    sess = CqlSession(spark, spill_dir=str(tmp_path / "ttl"))
    sess.execute(
        "CREATE TABLE w (k text PRIMARY KEY, v int)"
        + _ENTRY_POINTS["twcs"][0]
    )
    t = sess.table("w")
    t.distributed_merge_bytes = 1
    for f in range(2):  # two all-TTL segments in one closed window
        for i in range(5):
            sess.execute(
                f"INSERT INTO w (k, v) VALUES ('k{f}{i}', {i}) "
                f"USING TIMESTAMP {5 * f + i + 1} AND TTL 20"
            )
        t.flush()
    sess.execute(
        "INSERT INTO w (k, v) VALUES ('late', 0) USING TIMESTAMP 120000000"
    )
    t.flush()
    (merged,) = t.twcs_compact()  # the clock (11) is before expiry 30
    assert t._seg_stats(merged)[2] == 30
    assert merged in t._segments
    for i in range(20):  # tick the clock past the expiry
        sess.execute(
            f"INSERT INTO w (k, v) VALUES ('late', {i}) "
            f"USING TIMESTAMP {120000001 + i}"
        )
    t.twcs_compact()
    assert merged not in t._segments
    assert t.compaction_history[-1][1] == "twcs-drop"
    assert {r.k for r in sess.execute("SELECT k FROM w").collect()} == {
        "late"
    }


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


def _merge_writer(entry, force_spark):
    def run(sess, t, tmp_path):
        if force_spark:
            t.distributed_merge_bytes = 1
        _ENTRY_POINTS[entry][1](t)
        assert t.compaction_history, "the merge must run"

    return _ENTRY_POINTS[entry][0], run


def _gc_writer(force_spark):
    def run(sess, t, tmp_path):
        if force_spark:
            t.distributed_merge_bytes = 1
        sess.execute("DELETE FROM t USING TIMESTAMP 1 WHERE k = 'k03'")
        t.garbage_collect(gc_horizon_us=10**18)
        assert t.compaction_history[-1][1] == "gc"

    return "", run


def _bulk_load(sess, t, tmp_path):
    df = t.spark.createDataFrame(
        [(f"b{i:02d}", i) for i in range(30)], "k string, v int"
    )
    assert t.bulk_load(df, n_segments=3) == 30


def _alter_drop(sess, t, tmp_path):
    sess.execute("ALTER TABLE t ADD w int")
    sess.execute("UPDATE t SET w = 1 WHERE k = 'k01'")
    t.flush()
    sess.execute("ALTER TABLE t DROP w")


def _restore_stripped(sess, t, tmp_path):
    """Snapshot, then rewrite every snapshot segment as an unsorted run
    in small row groups with no footer stamps (a segment written before
    every segment was a stamped run), and restore it."""
    import json

    import pyarrow.parquet as pq

    snap = tmp_path / "snap"
    sess.snapshot_keyspace(str(snap))
    manifest = json.loads((snap / "manifest.json").read_text())
    (entry,) = manifest["tables"].values()
    for seg in entry["segments"]:
        (f,) = snap.rglob(seg)
        tbl = pq.read_table(f)
        rev = tbl.take(list(range(tbl.num_rows - 1, -1, -1)))
        pq.write_table(rev.replace_schema_metadata(None), f, row_group_size=7)
        entry["segment_meta"][seg][0] = f.stat().st_size
    (snap / "manifest.json").write_text(json.dumps(manifest))
    restored = CqlSession(t.spark, spill_dir=str(tmp_path / "restored"))
    restored.restore_keyspace(str(snap))
    return restored


# writer -> (WITH compaction clause, run(sess, t, tmp_path) -> the
# session to check, None for the same one)
_WRITERS = {
    "flush": ("", lambda sess, t, tmp_path: None),
    **{
        f"{entry}-{side}": _merge_writer(entry, side == "spark")
        for entry in _ENTRY_POINTS
        for side in ("driver", "spark")
    },
    "gc-driver": _gc_writer(False),
    "gc-spark": _gc_writer(True),
    "bulk_load": ("", _bulk_load),
    "alter-drop": ("", _alter_drop),
    "restore-stripped": ("", _restore_stripped),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_every_writer_leaves_stamped_runs(
    spark, tmp_path, monkeypatch, writer
):
    """One segment format: after each writer every live segment is a
    (token, pk)-sorted run with a stamped per-row-group token summary,
    and a pinned read of every key returns the head answer. Driver
    writers use 5-row groups, so partitions straddle group boundaries."""
    monkeypatch.setattr(cql_dml, "_SEG_ROW_GROUP", 5)
    ddl_with, run = _WRITERS[writer]
    sess = CqlSession(spark, spill_dir=str(tmp_path / "s"))
    t, _ = _history(sess, ddl_with)
    sess = run(sess, t, tmp_path) or sess
    t = sess.table("t")
    assert t._segments
    for p in t._segments:
        _assert_token_sorted_run(p)
    head = sorted(
        tuple(r) for r in sess.execute("SELECT k, v FROM t").collect()
    )
    assert head
    for k in sorted({r[0] for r in head}) + ["absent"]:
        got = sess.execute(f"SELECT k, v FROM t WHERE k = '{k}'").collect()
        assert [tuple(r) for r in got] == [r for r in head if r[0] == k]


@pytest.mark.parametrize("force_spark", [False, True])
def test_gc_purges_an_expired_group_only_past_its_expiry(
    spark, tmp_path, force_spark
):
    """wt=200, ttl=50 → expiry 250: a horizon AT the expiry keeps the
    group, one past it purges winner and shadowed value together — on
    the driver and in a Spark task alike (the one purge rule)."""
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
    t = sess.table("t")
    if force_spark:
        t.distributed_merge_bytes = 1
    sess.execute("INSERT INTO t (k, v) VALUES ('a', 1) USING TIMESTAMP 100")
    sess.execute(
        "INSERT INTO t (k, v) VALUES ('a', 2) USING TIMESTAMP 200 AND TTL 50"
    )
    for i in range(260):  # the clock ticks once per statement
        sess.execute(f"INSERT INTO t (k, v) VALUES ('pad{i % 5}', {i})")
    t.garbage_collect(gc_horizon_us=250)
    assert t.mutation_log().filter("pk = 'a'").count() == 4
    t.garbage_collect(gc_horizon_us=251)
    assert t.mutation_log().filter("pk = 'a'").count() == 0


def test_spark_gc_purges_partitions_split_across_arrow_batches(
    spark, tmp_path
):
    """A Spark GC task purges whole partitions one Arrow batch at a time,
    carrying the partition a batch ends in over to the next batch. With
    3-row batches most partitions straddle batches, and the survivors
    still equal the driver GC's."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    logs = []
    for mode in ("driver", "spark"):
        sess = CqlSession(spark, spill_dir=str(tmp_path / mode))
        t, _ = _history(sess, "")
        if mode == "spark":
            t.distributed_merge_bytes = 1
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "3")
        try:
            stats = t.garbage_collect(gc_horizon_us=60)
        finally:
            spark.conf.set(conf, prev)
        assert t.compaction_history[-1][1] == "gc"
        rows = [tuple(map(repr, r)) for r in t.mutation_log().collect()]
        logs.append((stats, sorted(rows)))
    assert logs[0] == logs[1]
    assert logs[0][0]["dropped"] > 0


def test_failed_spark_write_leaves_nothing_behind(spark, tmp_path):
    """A distributed segment write whose task fails registers nothing
    and leaves no file behind: the shards other tasks finished go with
    the job's temporary directory."""
    import os

    from pyspark.sql import functions as F

    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
    t, _ = _fill(sess, "t", n=60, flushes=3)
    files, segments = sorted(os.listdir(t.spill_dir)), list(t._segments)
    df = spark.read.schema(cql_dml._MUT_SCHEMA).parquet(*segments)
    # one shard's rows carry a writetime its task cannot decode
    bad = df.withColumn(
        "writetime",
        F.when(F.col("pk") == "k0000", F.lit("x")).otherwise(
            F.col("writetime").cast("string")
        ),
    )
    with pytest.raises(Exception, match="x"):
        t._merge_spark(bad, "compact", 3)
    assert sorted(os.listdir(t.spill_dir)) == files
    assert t._segments == segments
    assert len(t.snapshot().collect()) == 60
