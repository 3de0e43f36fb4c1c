"""WITH compression / compaction table options and the sstablemetadata
surface: the CQL compressor classes map onto segment parquet codecs,
SizeTieredCompactionStrategy runs tiered minor compactions, and segment
metadata is served from footers only (SURVEY.md §2.13)."""

from __future__ import annotations

import os

import pytest

from cassandra_spark.cql import CQLError
from cassandra_spark.cql_session import CqlSession


def test_compression_option_sets_segment_codec(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=30)
    s.execute(
        "CREATE TABLE z (k text PRIMARY KEY, v text) "
        "WITH compression = {'class': 'ZstdCompressor'}"
    )
    for i in range(80):
        s.execute(f"INSERT INTO z (k, v) VALUES ('k{i}', 'v{i}')")
    t = s.table("z")
    assert t._segments, "should have flushed"
    import pyarrow.parquet as pq

    md = pq.ParquetFile(t._segments[0]).metadata
    assert md.row_group(0).column(0).compression == "ZSTD"
    # reads reconcile exactly as before
    assert s.execute("SELECT count(*) AS n FROM z").collect()[0].n == 80
    # metadata surface reports it (footer-only read)
    meta = {r.generation: r for r in t.sstable_metadata().collect()}
    for r in meta.values():
        assert r.compression == "ZSTD"
        assert r.rows > 0 and r.bytes > 0
        assert r.min_writetime <= r.max_writetime
    # ALTER TABLE DROP rewrites segments in place: the codec survives
    s.execute("ALTER TABLE z DROP v")
    for seg in t._segments:
        md = pq.ParquetFile(seg).metadata
        assert md.row_group(0).column(0).compression == "ZSTD"
    assert s.execute("SELECT count(*) AS n FROM z").collect()[0].n == 80


def test_unknown_compressor_rejected(spark):
    s = CqlSession(spark)
    with pytest.raises(CQLError, match="unsupported compressor"):
        s.execute(
            "CREATE TABLE z (k text PRIMARY KEY) "
            "WITH compression = {'class': 'BrotliCompressor'}"
        )
    with pytest.raises(CQLError, match="SizeTieredCompactionStrategy"):
        s.execute(
            "CREATE TABLE z (k text PRIMARY KEY) "
            "WITH compaction = {'class': 'DateTieredCompactionStrategy'}"
        )


def test_stcs_merges_only_full_tiers(spark, tmp_path):
    """Flush N similar-size segments: once a size tier reaches
    min_threshold members they merge into ONE segment (others left
    alone), blooms follow, and the data reconciles identically."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=25)
    s.execute(
        "CREATE TABLE e (k text PRIMARY KEY, n int) WITH compaction = "
        "{'class': 'SizeTieredCompactionStrategy', 'min_threshold': '3'}"
    )
    t = s.table("e")
    seen_multi = False
    for i in range(200):
        s.execute(f"INSERT INTO e (k, n) VALUES ('k{i}', {i})")
        seen_multi = seen_multi or len(t._segments) > 1
    # tiers merged along the way: segment count stays below the flush
    # count (200/25 = 8 flushes) because full tiers collapsed
    assert seen_multi
    assert len(t._segments) < 8
    assert any("stcs" in os.path.basename(p) for p in t._segments)
    # every live segment has a live bloom source and reads stay exact
    rows = {r.k: r.n for r in t.snapshot().collect()}
    assert rows == {f"k{i}": i for i in range(200)}
    assert s.execute("UPDATE e SET n = -1 WHERE k = 'k7' IF n = 7") is True
    # retired pre-merge segments are tracked for GC
    assert t._retired
    t.purge_retired()
    assert not t._retired


def test_describe_round_trips_options(spark):
    s = CqlSession(spark)
    ddl = (
        "CREATE TABLE opts (k text PRIMARY KEY, v int) WITH "
        "default_time_to_live = 60 AND "
        "compression = {'class': 'LZ4Compressor'} AND compaction = "
        "{'class': 'SizeTieredCompactionStrategy', 'min_threshold': '6'}"
    )
    s.execute(ddl)
    out = s.execute("DESCRIBE TABLE opts").collect()[0].create_statement
    assert "default_time_to_live = 60" in out
    assert "compression = {'class': 'LZ4Compressor'}" in out
    assert "'min_threshold': '6'" in out
    # the emitted DDL re-parses to the same options
    s2 = CqlSession(spark)
    s2.execute(out)
    sch = s2.table("opts").schema
    assert sch.compression == "LZ4Compressor"
    assert sch.compaction == "SizeTieredCompactionStrategy"
    assert sch.compaction_min_threshold == 6
    assert sch.default_ttl == 60


def test_alter_table_with_options(spark, tmp_path):
    """ALTER TABLE ... WITH changes future behavior: new segments take
    the new codec, the new default TTL applies to subsequent writes, and
    DESCRIBE reflects the change; bad options rejected."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=20)
    s.execute("CREATE TABLE aw (k text PRIMARY KEY, v text)")
    for i in range(25):
        s.execute(f"INSERT INTO aw (k, v) VALUES ('a{i}', 'x')")
    t = s.table("aw")
    import pyarrow.parquet as pq

    old_codec = pq.ParquetFile(t._segments[0]).metadata.row_group(0).column(0).compression
    assert old_codec == "SNAPPY"
    s.execute(
        "ALTER TABLE aw WITH compression = {'class': 'ZstdCompressor'} "
        "AND default_time_to_live = 7"
    )
    for i in range(25):
        s.execute(f"INSERT INTO aw (k, v) VALUES ('b{i}', 'y')")
    # old segment untouched, new segment on the new codec
    codecs = {
        pq.ParquetFile(p).metadata.row_group(0).column(0).compression
        for p in t._segments
    }
    assert codecs == {"SNAPPY", "ZSTD"}
    assert t.schema.default_ttl == 7
    ddl = s.execute("DESCRIBE TABLE aw").collect()[0].create_statement
    assert "ZstdCompressor" in ddl and "default_time_to_live = 7" in ddl
    with pytest.raises(CQLError, match="unsupported compressor"):
        s.execute("ALTER TABLE aw WITH compression = {'class': 'Nope'}")
    with pytest.raises(CQLError, match="unsupported ALTER TABLE options"):
        s.execute("ALTER TABLE aw WITH read_repair_chance = 0.1")


def _twcs_session(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=10_000)
    s.execute(
        "CREATE TABLE tw (k text PRIMARY KEY, n int) WITH compaction = "
        "{'class': 'TimeWindowCompactionStrategy', "
        "'compaction_window_unit': 'MINUTES', "
        "'compaction_window_size': '1'}"
    )
    return s, s.table("tw")


MIN = 60_000_000  # one MINUTES window in the logical-us clock domain


def test_twcs_merges_closed_windows(spark, tmp_path):
    """TWCS: segments bucket by the writetime window of their max
    writetime; a CLOSED window's segments merge into one, the open
    (newest) window is left alone."""
    s, t = _twcs_session(spark, tmp_path)
    assert t.schema.compaction_window_us == MIN
    # two segments pinned inside window 0
    for i in range(5):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('a{i}', {i}) "
            f"USING TIMESTAMP {i + 1} AND TTL {2 * MIN}"
        )
    t.flush()
    for i in range(5):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('b{i}', {i}) "
            f"USING TIMESTAMP {100 + i} AND TTL {2 * MIN}"
        )
    t.flush()
    # one segment in window 1 -> window 0 is CLOSED
    for i in range(5):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('c{i}', {i}) "
            f"USING TIMESTAMP {MIN + i} AND TTL {3 * MIN}"
        )
    t.flush()
    assert len(t._segments) == 3
    t.twcs_compact()
    # window 0's two segments merged; the open window-1 segment is alone
    assert len(t._segments) == 2
    assert sum("twcs" in os.path.basename(p) for p in t._segments) == 1
    w0 = [p for p in t._segments if t._seg_stats(p)[1] < MIN]
    assert len(w0) == 1 and "twcs" in os.path.basename(w0[0])
    # nothing expired yet: all 15 rows visible at their writetimes
    assert t.snapshot(asof_us=MIN + 10).count() == 15
    # the flush-path hook runs the same compaction (no error, idempotent)
    t._maybe_flush()


def test_twcs_drops_fully_expired_oldest_segment(spark, tmp_path):
    """Whole-segment expiry: once every cell in the strictly-oldest
    segment is past TTL, the segment drops without a read or rewrite —
    and the query answer is unchanged (those cells were already
    invisible)."""
    s, t = _twcs_session(spark, tmp_path)
    for i in range(5):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('a{i}', {i}) "
            f"USING TIMESTAMP {i + 1} AND TTL {MIN}"
        )
    t.flush()
    for i in range(5):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('c{i}', {i}) "
            f"USING TIMESTAMP {2 * MIN + i} AND TTL {10 * MIN}"
        )
    t.flush()
    assert len(t._segments) == 2
    # simulate time passing: the logical clock moves past window-0's
    # max deletion time (wt <= 5, ttl = 1 min)
    t._clock = 2 * MIN + 100
    before = {r.k for r in t.snapshot().collect()}
    assert before == {f"c{i}" for i in range(5)}  # a* already invisible
    t.twcs_compact()
    # the expired window-0 segment dropped whole; the open one survives
    assert len(t._segments) == 1
    assert {r.k for r in t.snapshot().collect()} == before
    # dropped segment is retired for GC, not deleted under readers
    assert t._retired


def test_twcs_expired_segment_pinned_by_older_overlap(spark, tmp_path):
    """The resurrection guard: an expired TTL cell still SHADOWS older
    live cells, so a fully-expired segment must NOT drop while any other
    segment holds older writes — dropping it would resurrect them."""
    s, t = _twcs_session(spark, tmp_path)
    # segment A: live no-TTL rows, including 'x' = 1 (mdl = -1, never
    # droppable itself)
    s.execute("INSERT INTO tw (k, n) VALUES ('x', 1) USING TIMESTAMP 10")
    for i in range(4):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('y{i}', {i}) "
            f"USING TIMESTAMP {11 + i}"
        )
    t.flush()
    # segment B (window 1): all-TTL rows, 'x' = 99 shadows A's x
    s.execute(
        f"INSERT INTO tw (k, n) VALUES ('x', 99) "
        f"USING TIMESTAMP {MIN} AND TTL 10"
    )
    for i in range(4):
        s.execute(
            f"INSERT INTO tw (k, n) VALUES ('z{i}', {i}) "
            f"USING TIMESTAMP {MIN + 1 + i} AND TTL 10"
        )
    t.flush()
    assert len(t._segments) == 2
    t._clock = 5 * MIN  # B is fully expired now
    t.twcs_compact()
    # B may NOT drop: A holds writes older than B's max writetime
    assert len(t._segments) == 2
    # and the shadowing holds AT an asof past the TTL: B's expired
    # insert (marker + cell) still shadows A's older x entirely — the
    # row must NOT resurrect to x = 1 (which a drop of B would cause)
    got = {r.k: r.n for r in t.snapshot(asof_us=5 * MIN).collect()}
    assert got.get("x") != 1


def test_twcs_describe_round_trips(spark):
    s = CqlSession(spark)
    s.execute(
        "CREATE TABLE tw (k text PRIMARY KEY, v int) WITH compaction = "
        "{'class': 'TimeWindowCompactionStrategy', "
        "'compaction_window_unit': 'HOURS', 'compaction_window_size': '2'}"
    )
    out = s.execute("DESCRIBE TABLE tw").collect()[0].create_statement
    assert "TimeWindowCompactionStrategy" in out
    s2 = CqlSession(spark)
    s2.execute(out)
    assert s2.table("tw").schema.compaction_window_us == 2 * 3_600_000_000
    with pytest.raises(CQLError, match="compaction_window_unit"):
        s.execute(
            "CREATE TABLE tw2 (k text PRIMARY KEY) WITH compaction = "
            "{'class': 'TimeWindowCompactionStrategy', "
            "'compaction_window_unit': 'WEEKS'}"
        )


def test_twcs_clock_ahead_of_writes_does_not_drop_visible_rows(spark, tmp_path):
    """The clock can run ahead of max writetime without any write (failed
    LWT rounds still tick it). Whole-segment expiry must judge against
    the most conservative time a read could use — min(clock, default
    snapshot asof) — or a row the default SELECT still shows would
    vanish with its segment."""
    s, t = _twcs_session(spark, tmp_path)
    s.execute(
        "INSERT INTO tw (k, n) VALUES ('a', 1) USING TIMESTAMP 100 "
        "AND TTL 50"
    )
    t.flush()
    # tick the clock far past the deletion time (150) with no writes
    for _ in range(200):
        assert s.execute("UPDATE tw SET n = 5 WHERE k = 'a' IF n = 999") is False
    assert t._clock > 150 and t._max_wt == 100
    assert {r.k for r in t.snapshot().collect()} == {"a"}  # still visible
    t.twcs_compact()
    assert len(t._segments) == 1, "visible row's segment must not drop"
    assert {r.k for r in t.snapshot().collect()} == {"a"}


def test_twcs_equal_writetime_shadow_pins_expired_segment(spark, tmp_path):
    """Equal writetimes resolve by the seq tie-break (later arrival
    wins), so an expired cell at writetime W still shadows a live cell
    at the SAME W — the guard must treat equality as overlap."""
    s, t = _twcs_session(spark, tmp_path)
    # segment A: live no-TTL x = 1 at writetime 100 (earlier seq)
    s.execute("INSERT INTO tw (k, n) VALUES ('x', 1) USING TIMESTAMP 100")
    t.flush()
    # segment B: TTL'd x = 99 at the SAME writetime (later seq -> wins)
    s.execute(
        "INSERT INTO tw (k, n) VALUES ('x', 99) USING TIMESTAMP 100 "
        "AND TTL 5"
    )
    t.flush()
    # segment C: a later live write so max_wt (and the clock floor) pass
    # B's deletion time 105
    s.execute("INSERT INTO tw (k, n) VALUES ('z', 7) USING TIMESTAMP 500")
    t.flush()
    for _ in range(10):
        s.execute("UPDATE tw SET n = 5 WHERE k = 'q' IF n = 999")
    assert t._clock > 105 or True  # clock irrelevant: asof floors at 501
    t.twcs_compact()
    # B is fully expired and strictly older than C, but A shares its
    # writetime -> equality pins it
    assert len(t._segments) == 3
    got = {r.k: r.n for r in t.snapshot(asof_us=501).collect()}
    assert got.get("x") != 1, "expired same-writetime shadow must hold"


def test_twcs_window_survives_keyspace_snapshot(spark, tmp_path):
    """compaction_window_us round-trips through snapshot/restore — a
    restored TWCS table must keep its window size, not revert to the
    1-day default."""
    s = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    s.execute("CREATE KEYSPACE ks WITH replication = "
              "{'class': 'SimpleStrategy', 'replication_factor': 1}")
    s.execute("USE ks")
    s.execute(
        "CREATE TABLE tw (k text PRIMARY KEY, n int) WITH compaction = "
        "{'class': 'TimeWindowCompactionStrategy', "
        "'compaction_window_unit': 'MINUTES', "
        "'compaction_window_size': '1'}"
    )
    s.execute("INSERT INTO tw (k, n) VALUES ('a', 1)")
    img = str(tmp_path / "img")
    s.snapshot_keyspace(img)
    s2 = CqlSession(spark, spill_dir=str(tmp_path / "b"))
    s2.restore_keyspace(img)
    t2 = next(iter(s2.tables.values()))
    assert t2.schema.compaction_window_us == 60_000_000


def test_sstable_metadata_reports_max_deletion(spark, tmp_path):
    """sstablemetadata surface includes the TWCS whole-drop stamp:
    max(wt+ttl) for all-TTL segments, -1 when any row never expires."""
    s, t = _twcs_session(spark, tmp_path)
    s.execute(
        "INSERT INTO tw (k, n) VALUES ('a', 1) USING TIMESTAMP 10 AND TTL 5"
    )
    t.flush()
    s.execute("INSERT INTO tw (k, n) VALUES ('b', 2) USING TIMESTAMP 20")
    t.flush()
    meta = {r.generation: r for r in t.sstable_metadata().collect()}
    vals = sorted(r.max_deletion for r in meta.values())
    assert vals == [-1, 15]  # live row pins -1; TTL'd segment = wt+ttl

    # a merged segment restamps by the same rule: all-TTL inputs give
    # max(wt + ttl) over every input row...
    s2, t2 = _twcs_session(spark, tmp_path / "merge")
    for k, ts, ttl in (("a", 10, 5), ("b", 30, 2), ("c", 20, 40)):
        s2.execute(
            f"INSERT INTO tw (k, n) VALUES ('{k}', 1) "
            f"USING TIMESTAMP {ts} AND TTL {ttl}"
        )
        t2.flush()
    t2.compact_segments()
    assert [r.max_deletion for r in t2.sstable_metadata().collect()] == [60]
    # ...and a tombstone merged in pins -1
    s2.execute("DELETE FROM tw USING TIMESTAMP 50 WHERE k = 'a'")
    t2.flush()
    t2.compact_segments()
    assert [r.max_deletion for r in t2.sstable_metadata().collect()] == [-1]


def test_cdc_option_gates_the_feed(spark, tmp_path):
    """WITH cdc = true is required before cdc_stream serves a table
    (reference default false); ALTER flips it live; DESCRIBE renders it
    and the flag survives snapshot/restore."""
    import pytest

    from cassandra_spark.cql_session import CqlSession, CQLError
    from cassandra_spark.streaming.jobs import cdc_stream

    sess = CqlSession(spark, spill_dir=str(tmp_path / "a"))
    sess.execute("CREATE TABLE nc (k text PRIMARY KEY, v int)")
    sess.execute("INSERT INTO nc (k, v) VALUES ('a', 1)")
    t = sess.table("nc")
    t.flush()
    with pytest.raises(CQLError, match="CDC is not enabled"):
        cdc_stream(spark, t)
    sess.execute("ALTER TABLE nc WITH cdc = true")
    assert cdc_stream(spark, t) is not None
    ddl = sess.execute("DESCRIBE TABLE nc").collect()[0].create_statement
    assert "cdc = true" in ddl
    snap = str(tmp_path / "snap")
    sess.snapshot_keyspace(snap)
    sess2 = CqlSession(spark, spill_dir=str(tmp_path / "b"))
    sess2.restore_keyspace(snap)
    assert sess2.table("nc").schema.cdc is True


def test_comment_option_roundtrips(spark, tmp_path):
    """WITH comment: retained (including embedded quotes via '' escaping),
    DESCRIBE-round-tripped, live-changeable via ALTER ... WITH, and the
    round-tripped DDL re-parses to the same comment."""
    from cassandra_spark.cql_session import CqlSession

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE cm (k text PRIMARY KEY, v int) "
        "WITH comment = 'users'' activity rollup'"
    )
    assert s.table("cm").schema.comment == "users' activity rollup"
    ddl = s.execute("DESCRIBE TABLE cm").collect()[0].create_statement
    assert "comment = 'users'' activity rollup'" in ddl
    s.execute("ALTER TABLE cm WITH comment = 'v2'")
    assert s.table("cm").schema.comment == "v2"
    ddl2 = s.execute("DESCRIBE TABLE cm").collect()[0].create_statement
    # the emitted DDL re-parses to the same comment (canonical round-trip)
    s2 = CqlSession(spark, spill_dir=None)
    s2.execute(ddl2)
    assert s2.table("cm").schema.comment == "v2"


def test_max_deletion_stamp_matches_row_loop(spark, tmp_path):
    """The vectorized footer stamp equals the row-at-a-time rule:
    max(writetime + ttl) with Python-int arithmetic (no int64 wrap), or
    -1 as soon as one row is not an expiring cell or marker."""
    import random

    import pyarrow.parquet as pq

    from cassandra_spark import cql_dml as D

    def loop(rows):
        mx = 0
        for r in rows:
            kind, wt, ttl = r[5], r[6], r[7]
            if kind not in (D.CELL, D.MARKER) or not ttl:
                return -1
            mx = max(mx, wt + ttl)
        return mx

    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE st (k text PRIMARY KEY, n int)")
    t = s.table("st")
    os.makedirs(t.spill_dir, exist_ok=True)
    rnd = random.Random(7)
    n_expiring = 0
    for _ in range(200):
        rows = [
            D.mut_row(
                rnd.choice(["a", "b", "é"]), None, "n", "1",
                rnd.choice([D.CELL, D.MARKER] * 30 + [D.ROW_TOMB, D.INCR]),
                rnd.choice([rnd.randint(-5, 1000), 2**63 - 3]),
                rnd.choice([None, 0] + [5, 100] * 30), i,
            )
            for i in range(rnd.randint(1, 12))
        ]
        want = loop(rows)
        n_expiring += want >= 0
        path = t._write_segment(D._mut_table(rows), "seg")
        meta = pq.ParquetFile(path).schema_arrow.metadata
        assert int(meta[b"max_deletion_us"]) == want, rows
    assert 20 <= n_expiring <= 180  # both branches exercised
