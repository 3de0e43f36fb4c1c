"""UnifiedCompactionStrategy model (CEP-26 analog): scaling-parameter
parsing, tiered (T) and leveled (L) triggers on overlapping runs,
shard splitting with disjoint token ranges, no self-re-merge of a
sharded output, cascading fixpoint, LWW equivalence, DDL validation,
ALTER switch, auto-trigger from the flush path, and snapshot restore
of the UCS options + levels."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_dml import parse_ucs_scaling
from cassandra_spark.cql_session import CqlSession, CQLError


def _mk(spark, tmp_path, options, n_flushes=3, rows_per_flush=20):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(
        "CREATE TABLE ut (k text PRIMARY KEY, v bigint) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy'" + options + "}"
    )
    t = sess.table("ut")
    i = 0
    for _ in range(n_flushes):
        for _ in range(rows_per_flush):
            sess.execute(f"INSERT INTO ut (k, v) VALUES ('k{i:04d}', {i})")
            i += 1
        t.flush()
    return sess, t, i


def _levels(t):
    out: dict[int, list[str]] = {}
    for s in t._segments:
        out.setdefault(t._seg_level.get(s, 0), []).append(s)
    return out


def _assert_disjoint(t):
    """Same-level UCS shards emitted by merges have pairwise-disjoint
    token ranges (level 0 flushes may overlap freely)."""
    for lvl, segs in _levels(t).items():
        if lvl == 0:
            continue
        ranges = sorted(t._seg_token_range(s) for s in segs)
        for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
            assert ahi < blo, f"level {lvl} ranges overlap: {ranges}"


def test_parse_scaling_parameters():
    assert parse_ucs_scaling("T4") == [("T", 4)]
    assert parse_ucs_scaling("L10") == [("L", 10)]
    assert parse_ucs_scaling("N") == [("T", 2)]
    assert parse_ucs_scaling("T8, L4, N") == [("T", 8), ("L", 4), ("T", 2)]
    for bad in ("", "T1", "L0", "X4", "T", "4", "T4;L4"):
        with pytest.raises(CQLError):
            parse_ucs_scaling(bad)


def test_tiered_threshold_triggers_at_t(spark, tmp_path):
    sess, t, _ = _mk(spark, tmp_path, ", 'scaling_parameters': 'T4'",
                     n_flushes=3)
    assert t.ucs_compact() == []  # 3 < T4 threshold
    for i in range(20):
        sess.execute(f"INSERT INTO ut (k, v) VALUES ('x{i:04d}', {i})")
    t.flush()
    created = t.ucs_compact()
    assert created, "4 overlapping L0 segments should merge under T4"
    assert set(_levels(t)) == {1}
    _assert_disjoint(t)


def test_leveled_mode_merges_at_two(spark, tmp_path):
    sess, t, _ = _mk(spark, tmp_path, ", 'scaling_parameters': 'L8'",
                     n_flushes=2)
    created = t.ucs_compact()
    assert created, "2 overlapping L0 segments should merge under L-mode"
    assert set(_levels(t)) == {1}


def test_sharded_output_disjoint_and_stable(spark, tmp_path):
    sess, t, n = _mk(
        spark, tmp_path,
        ", 'scaling_parameters': 'T3', 'target_sstable_size': '2KiB', "
        "'base_shard_count': 2",
        n_flushes=3, rows_per_flush=40,
    )
    created = t.ucs_compact()
    assert len(created) >= 2, "small target must shard the merged output"
    _assert_disjoint(t)
    # a sharded output is pairwise disjoint -> singleton runs -> a second
    # pass must be a no-op (raw counting would cascade forever)
    assert t.ucs_compact() == []
    # whole-partition rule: every pk in exactly one shard
    import pyarrow.parquet as pq

    seen: dict[str, str] = {}
    for s in t._segments:
        for pk in set(pq.read_table(s, columns=["pk"]).column("pk").to_pylist()):
            assert pk not in seen, f"{pk} split across {seen[pk]} and {s}"
            seen[pk] = s
    assert len(seen) == n


def test_lww_preserved_through_cascade(spark, tmp_path):
    sess, t, n = _mk(
        spark, tmp_path,
        ", 'scaling_parameters': 'T3', 'target_sstable_size': '2KiB', "
        "'base_shard_count': 2",
        n_flushes=3, rows_per_flush=30,
    )
    t.ucs_compact()
    # second generation overwrites every third key, lands at L0, then
    # compaction cascades it into the sharded level
    for i in range(0, n, 3):
        sess.execute(f"INSERT INTO ut (k, v) VALUES ('k{i:04d}', {i + 1000})")
        if i % 30 == 27:
            t.flush()
    t.flush()
    t.ucs_compact()
    _assert_disjoint(t)
    got = {r.k: r.v for r in sess.execute("SELECT k, v FROM ut").collect()}
    exp = {
        f"k{i:04d}": (i + 1000 if i % 3 == 0 else i) for i in range(n)
    }
    assert got == exp


def test_per_level_scaling_list(spark, tmp_path):
    # T2 at level 0 (merge every 2 flushes), T100 above (never merge
    # further): the list's last entry governs all higher levels
    sess, t, _ = _mk(spark, tmp_path,
                     ", 'scaling_parameters': 'T2, T100'", n_flushes=2)
    t.ucs_compact()
    lv1 = set(_levels(t))
    assert lv1 == {1}
    for i in range(40):
        sess.execute(f"INSERT INTO ut (k, v) VALUES ('y{i:04d}', {i})")
        if i == 19:
            t.flush()
    t.flush()
    t.ucs_compact()
    # the two fresh L0s merged; the result overlaps the level-1 resident
    # but T100 keeps level 1 from re-merging
    assert max(_levels(t)) <= 2


def test_auto_trigger_from_flush_path(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(
        "CREATE TABLE at (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy', 'scaling_parameters': 'T2'}"
    )
    t = sess.table("at")
    t.spill_threshold = 10
    for i in range(60):
        sess.execute(f"INSERT INTO at (k, v) VALUES ('k{i:03d}', {i})")
    # spill threshold flushed repeatedly; T2 keeps folding L0 pairs, so
    # the table never accumulates an unbounded flat run of segments
    assert len([s for s in t._segments
                if t._seg_level.get(s, 0) == 0]) <= 1
    got = {r.k: r.v for r in sess.execute("SELECT k, v FROM at").collect()}
    assert got == {f"k{i:03d}": i for i in range(60)}


def test_ddl_validation(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    for opts in (
        "'scaling_parameters': 'T1'",
        "'scaling_parameters': 'Q4'",
        "'target_sstable_size': '0KiB'",
        "'base_shard_count': '0'",
    ):
        with pytest.raises(CQLError):
            sess.execute(
                "CREATE TABLE bad (k text PRIMARY KEY, v int) WITH "
                "compaction = {'class': 'UnifiedCompactionStrategy', "
                + opts + "}"
            )
    sess.execute(
        "CREATE TABLE ok (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy', 'target_sstable_size': "
        "'100MiB', 'base_shard_count': 4}"
    )
    s = sess.table("ok").schema
    assert s.ucs_target_bytes == 100 << 20
    assert s.ucs_base_shards == 4
    assert s.compaction_scaling == "T4"  # reference default


def test_alter_table_switches_strategy(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE sw (k text PRIMARY KEY, v int)")
    sess.execute(
        "ALTER TABLE sw WITH compaction = {'class': "
        "'UnifiedCompactionStrategy', 'scaling_parameters': 'L4'}"
    )
    s = sess.table("sw").schema
    assert s.compaction == "UnifiedCompactionStrategy"
    assert s.compaction_scaling == "L4"


def test_snapshot_restore_carries_ucs_state(spark, tmp_path):
    sess, t, n = _mk(
        spark, tmp_path / "live",
        ", 'scaling_parameters': 'T3', 'target_sstable_size': '2KiB', "
        "'base_shard_count': 2",
        n_flushes=3, rows_per_flush=30,
    )
    t.ucs_compact()
    snap = str(tmp_path / "snap")
    sess.snapshot_keyspace(snap)
    sess2 = CqlSession(spark, spill_dir=str(tmp_path / "restored"))
    sess2.restore_keyspace(snap)
    t2 = sess2.table("ut")
    s2 = t2.schema
    assert s2.compaction == "UnifiedCompactionStrategy"
    assert s2.compaction_scaling == "T3"
    assert s2.ucs_target_bytes == 2048
    assert s2.ucs_base_shards == 2
    # levels rehydrate from the footer stamps -> disjointness holds and
    # a fresh compact pass is still a no-op
    _assert_disjoint(t2)
    assert t2.ucs_compact() == []
    got = {r.k: r.v for r in sess2.execute("SELECT k, v FROM ut").collect()}
    assert got == {f"k{i:04d}": i for i in range(n)}


def test_point_read_prunes_ucs_shards(spark, tmp_path):
    sess, t, n = _mk(
        spark, tmp_path,
        ", 'scaling_parameters': 'T3', 'target_sstable_size': '2KiB', "
        "'base_shard_count': 4",
        n_flushes=3, rows_per_flush=40,
    )
    t.ucs_compact()
    assert len(t._segments) >= 4
    t.lcs_stats = {"checked": 0, "range_skipped": 0}
    # the LWT read phase drives _partition_rows through the shards
    applied = sess.execute(
        "INSERT INTO ut (k, v) VALUES ('k0007', 9) IF NOT EXISTS"
    )
    assert applied is False  # k0007 exists
    assert t.lcs_stats["range_skipped"] > 0, (
        "disjoint UCS shards must be range-pruned on a point read"
    )
    # the shards are globally disjoint: at most one survives the range check
    assert t.lcs_stats["checked"] - t.lcs_stats["range_skipped"] <= 1


def test_describe_roundtrips_ucs_options(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    sess.execute(
        "CREATE TABLE u (k text PRIMARY KEY, v bigint) WITH compaction = "
        "{'class': 'UnifiedCompactionStrategy', 'scaling_parameters': "
        "'T3, L8', 'target_sstable_size': '2KiB', 'base_shard_count': 2}"
    )
    ddl = sess.execute("DESCRIBE TABLE u").collect()[0].create_statement
    assert "'scaling_parameters': 'T3, L8'" in ddl
    assert "'target_sstable_size': '2KiB'" in ddl
    assert "'base_shard_count': '2'" in ddl
    assert "min_threshold" not in ddl  # an STCS/LCS knob, not a UCS one
    # the canonical DDL re-parses to the same schema
    sess2 = CqlSession(spark, spill_dir=str(tmp_path / "b"))
    sess2.execute(ddl.replace("session.u", "u2"))
    s2 = sess2.table("u2").schema
    assert s2.compaction == "UnifiedCompactionStrategy"
    assert s2.compaction_scaling == "T3, L8"
    assert s2.ucs_target_bytes == 2048
    assert s2.ucs_base_shards == 2
