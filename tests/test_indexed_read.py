"""Session-table secondary indexes ACCELERATE equality reads (round-8):
the 2i read path probes per-segment value Blooms, reconciles only the
candidate partitions, and re-applies the full predicate. Results must be
identical to the full-scan route; the value Blooms must demonstrably skip
segments."""

from __future__ import annotations

import os

import pytest

from cassandra_spark.cql_session import CqlSession, CQLError


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _build(spark, tmp_path, with_index: bool) -> CqlSession:
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=6)
    s.execute(
        "CREATE TABLE users (k text PRIMARY KEY, city text, age int)"
    )
    if with_index:
        s.execute("CREATE INDEX city_idx ON users (city)")
    cities = ["oslo", "lima", "kyiv", "pune", "baku"]
    for i in range(30):
        s.execute(
            f"INSERT INTO users (k, city, age) VALUES "
            f"('u{i:02d}', '{cities[i % 5]}', {20 + i})"
        )
    return s


def test_indexed_eq_matches_full_scan(spark, tmp_path):
    a = _build(spark, tmp_path / "idx", True)
    b = _build(spark, tmp_path / "noidx", False)
    q = "SELECT k, city, age FROM users WHERE city = 'lima'"
    got = _rows(a.execute(q))
    want = _rows(b.execute(q + " ALLOW FILTERING"))
    assert got == want and len(got) == 6


def test_indexed_eq_skips_segments(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE seg (k text PRIMARY KEY, tag text)")
    s.execute("CREATE INDEX tag_idx ON seg (tag)")
    # segment 1: only 'a' tags; later segments: only 'b' tags
    for i in range(4):
        s.execute(f"INSERT INTO seg (k, tag) VALUES ('a{i}', 'alpha')")
    for i in range(8):
        s.execute(f"INSERT INTO seg (k, tag) VALUES ('b{i}', 'beta')")
    t = s.table("seg")
    assert len(t._segments) >= 2, "need multiple segments to prune"
    before = dict(t.index_stats)
    rows = s.execute("SELECT k FROM seg WHERE tag = 'alpha'").collect()
    assert {r.k for r in rows} == {f"a{i}" for i in range(4)}
    checked = t.index_stats["checked"] - before["checked"]
    skipped = t.index_stats["skipped"] - before["skipped"]
    assert checked >= 2
    assert skipped >= 1, (
        "the beta-only segment(s) must be Bloom-skipped without a read"
    )


def test_indexed_read_sees_lww_overwrite_and_tombstone(spark, tmp_path):
    """A pk whose indexed value CHANGED must surface under the new value
    and not the old one — the old cell still matches the probe (candidate
    superset) and the phase-2 recheck must drop it."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=3)
    s.execute("CREATE TABLE mv (k text PRIMARY KEY, st text)")
    s.execute("CREATE INDEX st_idx ON mv (st)")
    s.execute("INSERT INTO mv (k, st) VALUES ('x', 'old')")
    s.execute("INSERT INTO mv (k, st) VALUES ('y', 'old')")
    s.execute("INSERT INTO mv (k, st) VALUES ('z', 'keep')")  # forces flush
    s.execute("UPDATE mv SET st = 'new' WHERE k = 'x'")
    s.execute("DELETE FROM mv WHERE k = 'y'")
    assert {r.k for r in s.execute(
        "SELECT k FROM mv WHERE st = 'old'").collect()} == set()
    assert {r.k for r in s.execute(
        "SELECT k FROM mv WHERE st = 'new'").collect()} == {"x"}
    assert {r.k for r in s.execute(
        "SELECT k FROM mv WHERE st = 'keep'").collect()} == {"z"}


def test_indexed_int_column_normalizes(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=2)
    s.execute("CREATE TABLE nums (k text PRIMARY KEY, n int)")
    s.execute("CREATE INDEX n_idx ON nums (n)")
    s.execute("INSERT INTO nums (k, n) VALUES ('a', 05)")
    s.execute("INSERT INTO nums (k, n) VALUES ('b', 7)")
    s.execute("INSERT INTO nums (k, n) VALUES ('c', 5)")
    assert {r.k for r in s.execute(
        "SELECT k FROM nums WHERE n = 5").collect()} == {"a", "c"}


def test_disjunction_never_prunes(spark, tmp_path):
    """An equality under OR is NOT a safe pruner — those statements must
    take the full-scan route (and still be gated by ALLOW FILTERING)."""
    s = _build(spark, tmp_path, True)
    rows = s.execute(
        "SELECT k FROM users WHERE city = 'lima' OR age = 22 "
        "ALLOW FILTERING"
    ).collect()
    # 6 lima rows plus u02 (age 22, kyiv) — pruning on city would lose it
    assert {r.k for r in rows} == {
        "u01", "u06", "u11", "u16", "u21", "u26", "u02"
    }


def test_index_probe_counts_only_when_indexed(spark, tmp_path):
    s = _build(spark, tmp_path, False)
    t = s.table("users")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        s.execute("SELECT k FROM users WHERE city = 'lima'")
    s.execute("SELECT k FROM users WHERE city = 'lima' ALLOW FILTERING")
    assert t.index_stats["checked"] == 0
    assert t.index_stats["skipped"] == 0
    assert t.index_stats["range_skipped"] == 0


# --- round-8 extensions: SAI equality + collection CONTAINS --------------


def test_sai_equality_prunes_segments(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE saieq (k text PRIMARY KEY, lvl text)")
    s.execute(
        "CREATE CUSTOM INDEX lvl_sai ON saieq (lvl) "
        "USING 'StorageAttachedIndex'"
    )
    for i in range(4):
        s.execute(f"INSERT INTO saieq (k, lvl) VALUES ('a{i}', 'hot')")
    for i in range(8):
        s.execute(f"INSERT INTO saieq (k, lvl) VALUES ('b{i}', 'cold')")
    t = s.table("saieq")
    assert len(t._segments) >= 2
    before = dict(t.index_stats)
    rows = s.execute("SELECT k FROM saieq WHERE lvl = 'hot'").collect()
    assert {r.k for r in rows} == {f"a{i}" for i in range(4)}
    assert t.index_stats["skipped"] > before["skipped"]
    # SAI also admits ranges — those must NOT prune (full scan, correct)
    rows = s.execute("SELECT k FROM saieq WHERE lvl > 'g'").collect()
    assert {r.k for r in rows} == {f"a{i}" for i in range(4)}


def test_contains_prunes_set_column(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE tagged (k text PRIMARY KEY, tags set<text>)")
    s.execute("CREATE INDEX tags_idx ON tagged (tags)")
    for i in range(4):
        s.execute(
            f"INSERT INTO tagged (k, tags) VALUES ('a{i}', {{'x', 'rare'}})"
        )
    for i in range(8):
        s.execute(
            f"INSERT INTO tagged (k, tags) VALUES ('b{i}', {{'x', 'common'}})"
        )
    t = s.table("tagged")
    assert len(t._segments) >= 2
    before = dict(t.index_stats)
    rows = s.execute(
        "SELECT k FROM tagged WHERE tags CONTAINS 'rare'"
    ).collect()
    assert {r.k for r in rows} == {f"a{i}" for i in range(4)}
    assert t.index_stats["skipped"] > before["skipped"], (
        "common-only segments must be Bloom-skipped"
    )
    # the shared element must still return everything (no over-pruning)
    rows = s.execute(
        "SELECT k FROM tagged WHERE tags CONTAINS 'x'"
    ).collect()
    assert len(rows) == 12


def test_contains_map_values_prunes_and_contains_key_does_not(
    spark, tmp_path
):
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute(
        "CREATE TABLE props (k text PRIMARY KEY, m map<text,text>)"
    )
    s.execute("CREATE INDEX m_vals ON props (m)")
    s.execute("CREATE INDEX m_keys ON props (KEYS(m))")
    for i in range(4):
        s.execute(
            f"INSERT INTO props (k, m) VALUES ('a{i}', {{'t': 'gold'}})"
        )
    for i in range(8):
        s.execute(
            f"INSERT INTO props (k, m) VALUES ('b{i}', {{'t': 'lead'}})"
        )
    t = s.table("props")
    before = dict(t.index_stats)
    # CQL CONTAINS on a map is VALUE-side: prunes via the value Bloom
    rows = s.execute(
        "SELECT k FROM props WHERE m CONTAINS 'gold'"
    ).collect()
    assert {r.k for r in rows} == {f"a{i}" for i in range(4)}
    assert t.index_stats["checked"] > before["checked"]
    # CONTAINS KEY probes KEYS — value Blooms don't cover keys, so the
    # probe must not engage (and the answer must still be right)
    mid = dict(t.index_stats)
    rows = s.execute(
        "SELECT k FROM props WHERE m CONTAINS KEY 't'"
    ).collect()
    assert len(rows) == 12
    assert t.index_stats == mid, "CONTAINS KEY must not consult value Blooms"


# --- differential fuzz: indexed route vs full-scan route ------------------


def test_indexed_read_fuzz_matches_full_scan(spark, tmp_path):
    """Hypothesis mini-Harry for the 2i read path: a random interleaved
    insert/overwrite/delete history, random spill threshold (so segment
    boundaries land anywhere), then every indexed-equality SELECT must
    return exactly what the identical UNINDEXED session's ALLOW FILTERING
    full scan returns."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op_st = st.one_of(
        st.tuples(st.just("ins"), st.integers(0, 7), st.integers(0, 3)),
        st.tuples(st.just("del"), st.integers(0, 7), st.just(0)),
    )

    counter = [0]

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(op_st, min_size=1, max_size=14), st.integers(2, 6))
    def run(history, threshold):
        counter[0] += 1
        base = tmp_path / f"f{counter[0]}"
        sessions = []
        for with_index, sub in ((True, "i"), (False, "n")):
            s = CqlSession(
                spark,
                spill_dir=str(base / sub),
                spill_threshold=threshold,
            )
            s.execute("CREATE TABLE fz (k text PRIMARY KEY, v text)")
            if with_index:
                s.execute("CREATE INDEX fz_v ON fz (v)")
            for kind, pk, val in history:
                if kind == "ins":
                    s.execute(
                        f"INSERT INTO fz (k, v) VALUES ('k{pk}', 'v{val}')"
                    )
                else:
                    s.execute(f"DELETE FROM fz WHERE k = 'k{pk}'")
            sessions.append(s)
        idx, plain = sessions
        for val in range(4):
            q = f"SELECT k, v FROM fz WHERE v = 'v{val}'"
            got = sorted(tuple(r) for r in idx.execute(q).collect())
            want = sorted(
                tuple(r)
                for r in plain.execute(q + " ALLOW FILTERING").collect()
            )
            assert got == want, (history, threshold, val)

    run()


def test_tablestats_surfaces_index_counters(spark, tmp_path):
    s = _build(spark, tmp_path, True)
    s.execute("SELECT k FROM users WHERE city = 'lima'")
    stats = {r.table_name: r for r in s.tablestats().collect()}
    assert stats["users"].index_checked > 0
    assert stats["users"].index_skipped >= 0


def test_custom_index_rejected_on_counter_table(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE cnt (k text PRIMARY KEY, c counter)")
    with pytest.raises(CQLError, match="counter"):
        s.execute(
            "CREATE CUSTOM INDEX c_sai ON cnt (c) "
            "USING 'StorageAttachedIndex'"
        )


# --- round-9 extensions: SAI range pruning --------------------------------


def _build_range(spark, tmp_path, with_index: bool) -> CqlSession:
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE rng (k text PRIMARY KEY, v int, t text)")
    if with_index:
        s.execute(
            "CREATE CUSTOM INDEX rng_v ON rng (v) "
            "USING 'StorageAttachedIndex'"
        )
    for i in range(24):
        s.execute(
            f"INSERT INTO rng (k, v, t) VALUES ('k{i:02d}', {i}, 'x{i}')"
        )
    return s


def test_sai_range_matches_full_scan(spark, tmp_path):
    a = _build_range(spark, tmp_path / "idx", True)
    b = _build_range(spark, tmp_path / "noidx", False)
    for q in (
        "SELECT k, v FROM rng WHERE v > 5 AND v <= 9",
        "SELECT k, v FROM rng WHERE v >= 20",
        "SELECT k, v FROM rng WHERE v < 3",
        "SELECT k, v FROM rng WHERE v > 100",
    ):
        got = sorted(tuple(r) for r in a.execute(q).collect())
        want = sorted(
            tuple(r) for r in b.execute(q + " ALLOW FILTERING").collect()
        )
        assert got == want, q


def test_merge_forgets_retired_segments_index_stats(spark, tmp_path):
    """A compaction merge drops the value-Bloom and value-range entries
    of the segments it retires, and the indexed reads still answer the
    same over the merged segment."""
    s = _build_range(spark, tmp_path, True)
    t = s.table("rng")
    queries = (
        "SELECT k, v FROM rng WHERE v = 7",
        "SELECT k, v FROM rng WHERE v >= 20",
    )
    before = [sorted(tuple(r) for r in s.execute(q).collect()) for q in queries]
    assert t._value_blooms and t._value_ranges
    assert t.stcs_compact(), "equal-size flushes form a full tier"
    retired = set(t._retired)
    assert retired
    for cache in (t._value_blooms, t._value_ranges):
        assert not [k for k in cache if k[0] in retired]
    after = [sorted(tuple(r) for r in s.execute(q).collect()) for q in queries]
    assert after == before and before[0] == [("k07", 7)]


def test_sai_range_skips_segments(spark, tmp_path):
    s = _build_range(spark, tmp_path, True)
    t = s.table("rng")
    assert len(t._segments) >= 3, "need several segments to prune"
    before = dict(t.index_stats)
    rows = s.execute("SELECT k FROM rng WHERE v >= 20").collect()
    assert {r.k for r in rows} == {f"k{i}" for i in range(20, 24)}
    checked = t.index_stats["checked"] - before["checked"]
    skipped = t.index_stats["range_skipped"] - before["range_skipped"]
    assert checked == len(t._segments)
    assert skipped >= 1, (
        "segments whose [min,max] lies below 20 must be stat-skipped"
    )


def test_sai_range_survives_overwrite_and_delete(spark, tmp_path):
    """A pk whose indexed value moved INTO / OUT of the range must
    surface correctly — candidates are a superset and phase-2 rechecks."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=3)
    s.execute("CREATE TABLE mrng (k text PRIMARY KEY, v int)")
    s.execute(
        "CREATE CUSTOM INDEX mrng_v ON mrng (v) "
        "USING 'StorageAttachedIndex'"
    )
    for i in range(9):
        s.execute(f"INSERT INTO mrng (k, v) VALUES ('p{i}', {i})")
    s.execute("UPDATE mrng SET v = 100 WHERE k = 'p2'")  # out of range
    s.execute("UPDATE mrng SET v = 4 WHERE k = 'p8'")    # into range
    s.execute("DELETE FROM mrng WHERE k = 'p3'")
    rows = s.execute("SELECT k FROM mrng WHERE v >= 2 AND v <= 6").collect()
    assert {r.k for r in rows} == {"p4", "p5", "p6", "p8"}


def test_plain_index_does_not_serve_ranges(spark, tmp_path):
    """A non-SAI values index admits equality only — a range predicate
    still needs ALLOW FILTERING and must NOT route through the pruner."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=4)
    s.execute("CREATE TABLE pr (k text PRIMARY KEY, v int)")
    s.execute("CREATE INDEX pr_v ON pr (v)")
    for i in range(12):
        s.execute(f"INSERT INTO pr (k, v) VALUES ('k{i}', {i})")
    with pytest.raises(CQLError, match="ALLOW FILTERING"):
        s.execute("SELECT k FROM pr WHERE v > 5")
    t = s.table("pr")
    before = dict(t.index_stats)
    rows = s.execute("SELECT k FROM pr WHERE v > 5 ALLOW FILTERING").collect()
    assert len(rows) == 6
    assert t.index_stats["range_skipped"] == before["range_skipped"]


def test_range_fuzz_matches_full_scan(spark, tmp_path):
    """Differential fuzz for the RANGE probe: random insert/overwrite/
    delete history on an SAI-indexed int column, then every range SELECT
    equals the unindexed session's ALLOW FILTERING full scan."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op_st = st.one_of(
        st.tuples(st.just("ins"), st.integers(0, 7), st.integers(-3, 9)),
        st.tuples(st.just("del"), st.integers(0, 7), st.just(0)),
    )
    counter = [0]

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(op_st, min_size=1, max_size=14),
        st.integers(2, 6),
        st.integers(-2, 8),
        st.integers(-2, 8),
    )
    def run(history, threshold, lo, hi):
        counter[0] += 1
        base = tmp_path / f"r{counter[0]}"
        sessions = []
        for with_index, sub in ((True, "i"), (False, "n")):
            s = CqlSession(
                spark,
                spill_dir=str(base / sub),
                spill_threshold=threshold,
            )
            s.execute("CREATE TABLE fz (k text PRIMARY KEY, v int)")
            if with_index:
                s.execute(
                    "CREATE CUSTOM INDEX fz_v ON fz (v) "
                    "USING 'StorageAttachedIndex'"
                )
            for kind, pk, val in history:
                if kind == "ins":
                    s.execute(
                        f"INSERT INTO fz (k, v) VALUES ('k{pk}', {val})"
                    )
                else:
                    s.execute(f"DELETE FROM fz WHERE k = 'k{pk}'")
            sessions.append(s)
        idx, plain = sessions
        for q in (
            f"SELECT k, v FROM fz WHERE v > {lo}",
            f"SELECT k, v FROM fz WHERE v <= {hi}",
            f"SELECT k, v FROM fz WHERE v >= {lo} AND v < {hi}",
        ):
            got = sorted(tuple(r) for r in idx.execute(q).collect())
            want = sorted(
                tuple(r)
                for r in plain.execute(q + " ALLOW FILTERING").collect()
            )
            assert got == want, (history, threshold, q)

    run()


# --- round-10: the probe's driver-side candidate set is bounded -----------


def test_constant_value_probe_overflows_to_full_scan(spark, tmp_path):
    """Every row matches the indexed value (the low-cardinality-2i
    anti-pattern): with the collect cap forced below the match count the
    probe must report overflow (None -> full-scan fallback) instead of
    materializing an unbounded candidate set, stop reading segments once
    past the cap, and answers stay identical."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=6)
    s.execute("CREATE TABLE cst (k text PRIMARY KEY, tag text)")
    s.execute("CREATE INDEX cst_tag ON cst (tag)")
    for i in range(30):
        s.execute(f"INSERT INTO cst (k, tag) VALUES ('u{i:02d}', 'same')")
    t = s.table("cst")
    t.index_probe_collect_cap = 5
    q = "SELECT k FROM cst WHERE tag = 'same'"
    want = {f"u{i:02d}" for i in range(30)}

    before = t.index_stats["probe_overflows"]
    assert {r.k for r in s.execute(q).collect()} == want
    assert t.index_stats["probe_overflows"] == before + 1
    checked = t.index_stats["checked"]
    assert t.index_candidate_pks("tag", "same") is None
    assert t.index_stats["checked"] - checked < len(t._segments), (
        "an overflowing probe must stop before the last segment"
    )


def test_range_probe_overflow_bounded(spark, tmp_path):
    """RANGE form of the same guarantee: an interval matching every row
    overflows the cap and falls back."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=6)
    s.execute("CREATE TABLE rof (k text PRIMARY KEY, v int)")
    s.execute(
        "CREATE CUSTOM INDEX rof_v ON rof (v) USING 'StorageAttachedIndex'"
    )
    for i in range(30):
        s.execute(f"INSERT INTO rof (k, v) VALUES ('u{i:02d}', {i})")
    t = s.table("rof")
    t.index_probe_collect_cap = 5
    q = "SELECT k, v FROM rof WHERE v >= -100"
    want = {(f"u{i:02d}", i) for i in range(30)}
    before = t.index_stats["probe_overflows"]
    assert {(r.k, r.v) for r in s.execute(q).collect()} == want
    assert t.index_stats["probe_overflows"] == before + 1
    assert t.index_candidate_pks_range("v", lo="-100") is None
    # a selective probe still prunes (no overflow), exclusive bound exact
    before = t.index_stats["probe_overflows"]
    got = t.index_candidate_pks_range("v", lo="27", lo_incl=False)
    assert got == {"u28", "u29"}
    assert t.index_stats["probe_overflows"] == before


def test_prefix_fuzz_matches_full_scan(spark, tmp_path):
    """Differential fuzz for the PREFIX probe: random insert/overwrite/
    delete history on a SASI-indexed text column, then every
    ``LIKE 'prefix%'`` SELECT equals the unindexed session's ALLOW
    FILTERING full scan."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = ["a", "ab", "aba", "abb", "b", "ba", "bab", "a'b"]
    op_st = st.one_of(
        st.tuples(
            st.just("ins"), st.integers(0, 7), st.sampled_from(words)
        ),
        st.tuples(st.just("del"), st.integers(0, 7), st.just("")),
    )
    counter = [0]

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(op_st, min_size=1, max_size=14),
        st.integers(2, 6),
        st.sampled_from(["a", "ab", "aba", "b", "ba", "a'", "c"]),
    )
    def run(history, threshold, prefix):
        counter[0] += 1
        base = tmp_path / f"p{counter[0]}"
        sessions = []
        for with_index, sub in ((True, "i"), (False, "n")):
            s = CqlSession(
                spark,
                spill_dir=str(base / sub),
                spill_threshold=threshold,
            )
            s.execute("CREATE TABLE fz (k text PRIMARY KEY, v text)")
            if with_index:
                s.execute(
                    "CREATE CUSTOM INDEX fz_v ON fz (v) USING "
                    "'org.apache.cassandra.index.sasi.SASIIndex'"
                )
            for kind, pk, val in history:
                if kind == "ins":
                    lit = val.replace("'", "''")
                    s.execute(
                        f"INSERT INTO fz (k, v) VALUES ('k{pk}', '{lit}')"
                    )
                else:
                    s.execute(f"DELETE FROM fz WHERE k = 'k{pk}'")
            sessions.append(s)
        idx, plain = sessions
        t = idx.table("fz")
        checked = t.index_stats["checked"]
        q = (
            "SELECT k, v FROM fz WHERE v LIKE "
            f"'{prefix.replace(chr(39), chr(39) * 2)}%'"
        )
        got = sorted(tuple(r) for r in idx.execute(q).collect())
        want = sorted(
            tuple(r) for r in plain.execute(q + " ALLOW FILTERING").collect()
        )
        assert got == want, (history, threshold, prefix)
        assert t.index_stats["checked"] - checked == len(t._segments)

    run()


# --- sidecar lifecycle ----------------------------------------------------


def test_recreated_table_ignores_dropped_tables_value_bloom(spark, tmp_path):
    """DROP TABLE + CREATE TABLE restarts the segment counter, so the new
    table's first flush reuses the old first segment's file name; the
    dropped table's value-Bloom sidecar must not be read as the new
    segment's (it would prune the segment and hide its rows)."""
    s = CqlSession(spark, spill_dir=str(tmp_path))
    for tag in ("alpha", "beta"):
        s.execute("CREATE TABLE u (k text PRIMARY KEY, tag text)")
        s.execute("CREATE INDEX u_tag ON u (tag)")
        for i in range(5):
            s.execute(f"INSERT INTO u (k, tag) VALUES ('{tag}{i}', '{tag}')")
        s.table("u").flush()
        rows = s.execute(f"SELECT k FROM u WHERE tag = '{tag}'").collect()
        assert {r.k for r in rows} == {f"{tag}{i}" for i in range(5)}, tag
        if tag == "alpha":
            s.execute("DROP TABLE u")


def test_no_orphan_sidecars(spark, tmp_path):
    """Every sidecar of a removed segment (pk Bloom, value Bloom,
    numeric and string value ranges) goes with it: after an STCS merge
    plus purge_retired(), after TRUNCATE and after DROP TABLE."""
    s = CqlSession(spark, spill_dir=str(tmp_path), spill_threshold=8)
    s.execute(
        "CREATE TABLE orp (k text PRIMARY KEY, tag text, v int, name text)"
    )
    s.execute("CREATE INDEX orp_tag ON orp (tag)")
    s.execute(
        "CREATE CUSTOM INDEX orp_v ON orp (v) USING 'StorageAttachedIndex'"
    )
    s.execute(
        "CREATE CUSTOM INDEX orp_name ON orp (name) USING "
        "'org.apache.cassandra.index.sasi.SASIIndex'"
    )
    t = s.table("orp")

    def fill_and_read(n):
        for i in range(n):
            s.execute(
                "INSERT INTO orp (k, tag, v, name) VALUES "
                f"('k{i}', 't{i % 3}', {i}, 'n{i}')"
            )
        for q in (
            "SELECT k FROM orp WHERE tag = 't1'",
            "SELECT k FROM orp WHERE v >= 3",
            "SELECT k FROM orp WHERE name LIKE 'n1%'",
        ):
            s.execute(q).collect()

    def files_of(paths):
        return sorted(
            f
            for p in paths
            for f in os.listdir(os.path.dirname(p))
            if f.startswith(os.path.basename(p))
        )

    fill_and_read(16)
    suffixes = (".bloom", ".vbloom", ".vrange", ".svrange")
    segs = list(t._segments)
    present = files_of(segs)
    assert all(any(f.endswith(x) for f in present) for x in suffixes), present

    assert t.stcs_compact(), "equal-size flushes form a full tier"
    retired = list(t._retired)
    fill_and_read(16)  # sidecars on the merged segment too
    t.purge_retired()
    assert retired and files_of(retired) == []

    live = list(t._segments)
    s.execute("TRUNCATE orp")
    assert live and files_of(live) == []

    fill_and_read(16)
    live = list(t._segments)
    s.execute("DROP TABLE orp")
    assert live and files_of(live) == []
