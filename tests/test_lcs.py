"""LeveledCompactionStrategy model: level invariants, LWW equivalence
across leveled merges, cascade on overflow, read-path range pruning,
auto-trigger, and snapshot/restore of the leveled manifest."""

from __future__ import annotations

import pytest

from cassandra_spark.cql_session import CqlSession, CQLError
from cassandra_spark.operators.murmur3 import token_of_text


def _mk(spark, tmp_path, n_flushes=5, rows_per_flush=8, **table_kw):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(
        "CREATE TABLE lt (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'LeveledCompactionStrategy', 'sstable_size_in_mb': '1'}"
    )
    t = sess.table("lt")
    for kw, val in table_kw.items():
        setattr(t, kw, val)
    i = 0
    for _ in range(n_flushes):
        for _ in range(rows_per_flush):
            sess.execute(f"INSERT INTO lt (k, v) VALUES ('k{i}', {i})")
            i += 1
        t.flush()
    return sess, t, i


def _levels(t):
    out: dict[int, list[str]] = {}
    for s in t._segments:
        out.setdefault(t._seg_level.get(s, 0), []).append(s)
    return out


def _assert_invariants(t):
    """Levels >= 1 hold pairwise-disjoint token ranges, and any token
    can live in at most one segment per leveled level."""
    for lvl, segs in _levels(t).items():
        if lvl == 0:
            continue
        ranges = sorted(t._seg_token_range(s) for s in segs)
        for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
            assert ahi < blo, f"L{lvl} ranges overlap: {ranges}"


def test_l0_promotes_to_disjoint_l1(spark, tmp_path):
    sess, t, n = _mk(spark, tmp_path, n_flushes=5)
    assert set(_levels(t)) == {0}
    created = t.lcs_compact()
    assert created, "L0 at min_threshold should promote"
    lv = _levels(t)
    assert 0 not in lv and set(lv) == {1}
    _assert_invariants(t)
    # whole-partition rule: every pk appears in exactly one segment
    import pyarrow.parquet as pq

    seen = {}
    for s in t._segments:
        for pk in set(pq.read_table(s, columns=["pk"]).column("pk").to_pylist()):
            assert pk not in seen, f"partition {pk} split across segments"
            seen[pk] = s
    assert len(seen) == n


def test_lww_equivalence_across_levels(spark, tmp_path):
    sess, t, n = _mk(spark, tmp_path, n_flushes=4)
    t.lcs_compact()
    # overwrite a third of the keys in new L0 generations, delete a few
    for i in range(0, n, 3):
        sess.execute(f"INSERT INTO lt (k, v) VALUES ('k{i}', {1000 + i})")
    for i in range(0, n, 7):
        sess.execute(f"DELETE FROM lt WHERE k = 'k{i}'")
    t.flush()
    before = {
        r.k: r.v for r in sess.execute("SELECT k, v FROM lt").collect()
    }
    for _ in range(4):  # force more L0 mass then compact
        sess.execute("INSERT INTO lt (k, v) VALUES ('extra', 1)")
        t.flush()
    t.lcs_compact()
    _assert_invariants(t)
    after = {
        r.k: r.v for r in sess.execute("SELECT k, v FROM lt").collect()
    }
    after.pop("extra", None)
    assert after == before


def test_cascade_overflow(spark, tmp_path):
    # tiny level budget: L1 overflows immediately, promotions cascade
    sess, t, n = _mk(
        spark, tmp_path, n_flushes=8, rows_per_flush=12,
        lcs_target_bytes=2048, lcs_fanout=2,
    )
    t.lcs_compact()
    _assert_invariants(t)
    lv = _levels(t)
    assert max(lv) >= 2, f"expected a cascade past L1, got {sorted(lv)}"
    # every level is within its byte budget after compaction
    import os

    for lvl, segs in lv.items():
        if lvl == 0:
            continue
        if lvl == max(lv):  # top level may hold the remainder
            continue
        budget = t._lcs_target() * (t.lcs_fanout ** lvl)
        assert sum(os.path.getsize(s) for s in segs) <= budget


def test_point_lookup_range_pruning(spark, tmp_path):
    sess, t, n = _mk(spark, tmp_path, n_flushes=6, rows_per_flush=10,
                     lcs_target_bytes=2048)
    t.lcs_compact()
    _assert_invariants(t)
    lv = _levels(t)
    assert len(lv.get(1, [])) > 1, "need a multi-segment level"
    t.lcs_stats = {"checked": 0, "range_skipped": 0}
    # LWT read phase drives _partition_rows through the leveled set
    applied = sess.execute(
        "INSERT INTO lt (k, v) VALUES ('k3', 9) IF NOT EXISTS"
    )
    assert applied is False  # k3 exists
    assert t.lcs_stats["range_skipped"] > 0, "no leveled segment pruned"
    # at most one leveled segment survives the range check per level
    survivors = t.lcs_stats["checked"] - t.lcs_stats["range_skipped"]
    leveled_levels = len([l for l in lv if l > 0])
    assert survivors <= leveled_levels


def test_auto_trigger_on_spill(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=6)
    sess.execute(
        "CREATE TABLE at (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'LeveledCompactionStrategy'}"
    )
    t = sess.table("at")
    for i in range(200):
        sess.execute(f"INSERT INTO at (k, v) VALUES ('k{i}', {i})")
    lv = _levels(t)
    assert lv.get(1), "spill-triggered flushes should have leveled"
    _assert_invariants(t)
    assert len(lv.get(0, [])) < t.schema.compaction_min_threshold


def test_snapshot_restore_keeps_levels(spark, tmp_path):
    # driver-merged and Spark-merged (distributed_merge_bytes = 1) shards
    # alike carry their level in the footer
    for mode, kw in (
        ("driver", {}), ("spark", {"distributed_merge_bytes": 1})
    ):
        sess, t, n = _mk(spark, tmp_path / mode, n_flushes=5,
                         rows_per_flush=10, lcs_target_bytes=2048, **kw)
        t.lcs_compact()
        before_levels = {
            lvl: len(segs) for lvl, segs in _levels(t).items() if lvl
        }
        assert before_levels
        snap = str(tmp_path / mode / "snap")
        sess.snapshot_keyspace(snap)
        sess2 = CqlSession(spark)
        sess2.restore_keyspace(snap)
        t2 = sess2.table("lt")
        after_levels = {
            lvl: len(segs) for lvl, segs in _levels(t2).items() if lvl
        }
        assert after_levels == before_levels, mode
        _assert_invariants(t2)
        a = {r.k: r.v for r in sess.execute("SELECT k, v FROM lt").collect()}
        b = {r.k: r.v for r in sess2.execute("SELECT k, v FROM lt").collect()}
        assert a == b


def test_describe_and_options(spark):
    sess = CqlSession(spark)
    sess.execute(
        "CREATE TABLE d1 (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'LeveledCompactionStrategy', 'sstable_size_in_mb': '32'}"
    )
    assert sess.table("d1").schema.compaction_sstable_size_mb == 32
    ddl = sess.execute("DESCRIBE TABLE d1").collect()[0].create_statement
    assert "LeveledCompactionStrategy" in ddl
    assert "'sstable_size_in_mb': '32'" in ddl
    with pytest.raises(CQLError):
        sess.execute(
            "CREATE TABLE d2 (k text PRIMARY KEY) WITH compaction = "
            "{'class': 'LeveledCompactionStrategy', "
            "'sstable_size_in_mb': '0'}"
        )


def test_token_order_matches_murmur3(spark, tmp_path):
    """The leveled sort key IS the engine's bit-exact text token."""
    sess, t, n = _mk(spark, tmp_path, n_flushes=4)
    t.lcs_compact()
    import pyarrow.parquet as pq

    for s in _levels(t).get(1, []):
        pks = pq.read_table(s, columns=["pk"]).column("pk").to_pylist()
        toks = [token_of_text(p) for p in pks]
        assert toks == sorted(toks)
