"""nodetool garbagecollect analogue: tombstone purge past gc_grace,
shadowed-data drop under young AND old tombstones, the expired-TTL
resurrection guard, counter purge, physical reduction, history
recording — and a differential fuzz pinning head-snapshot equality."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cassandra_spark.cql_session import CqlSession


def _rows(df):
    return {r.k: r.v for r in df.collect()}


def _mk(spark, tmp_path):
    s = CqlSession(spark, spill_dir=str(tmp_path))
    s.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
    return s, s.table("t")


def test_old_tombstone_and_shadowed_data_purged(spark, tmp_path):
    sess, t = _mk(spark, tmp_path)
    sess.execute("INSERT INTO t (k, v) VALUES ('a', 1) USING TIMESTAMP 100")
    sess.execute("DELETE FROM t USING TIMESTAMP 200 WHERE k = 'a'")
    sess.execute("INSERT INTO t (k, v) VALUES ('b', 2) USING TIMESTAMP 150")
    before = _rows(sess.execute("SELECT k, v FROM t"))
    stats = t.garbage_collect(gc_horizon_us=300)
    # dropped: a's marker+cell (shadowed) and the tombstone (old)
    assert stats["dropped"] == 3
    assert _rows(sess.execute("SELECT k, v FROM t")) == before == {"b": 2}
    assert t.mutation_log().count() == 2  # b's marker + cell only
    assert t.compaction_history[-1][1] == "gc"


def test_young_tombstone_survives_its_victims_drop(spark, tmp_path):
    sess, t = _mk(spark, tmp_path)
    sess.execute("INSERT INTO t (k, v) VALUES ('a', 1) USING TIMESTAMP 100")
    sess.execute("DELETE FROM t USING TIMESTAMP 200 WHERE k = 'a'")
    t.garbage_collect(gc_horizon_us=150)  # tombstone younger than grace
    kinds = [r.kind for r in t.mutation_log().collect()]
    assert kinds and all(k not in ("CELL", "MARKER") for k in kinds), (
        "shadowed data drops even under a young tombstone"
    )
    assert _rows(sess.execute("SELECT k, v FROM t")) == {}
    # a late-arriving older write stays dead (the marker still shadows)
    sess.execute("INSERT INTO t (k, v) VALUES ('a', 9) USING TIMESTAMP 120")
    assert _rows(sess.execute("SELECT k, v FROM t")) == {}


def test_expired_ttl_resurrection_guard(spark, tmp_path):
    sess, t = _mk(spark, tmp_path)
    sess.execute("INSERT INTO t (k, v) VALUES ('a', 1) USING TIMESTAMP 100")
    sess.execute(
        "INSERT INTO t (k, v) VALUES ('a', 2) "
        "USING TIMESTAMP 200 AND TTL 50"
    )
    # advance the clock past expiry (ticks once per statement)
    for i in range(260):
        sess.execute(f"INSERT INTO t (k, v) VALUES ('pad{i % 5}', {i})")
    before = _rows(sess.execute("SELECT k, v FROM t"))
    assert before.get("a") is None  # expired, and expiry never resurrects
    # eligibility keys on EXPIRY (wt + ttl = 250), not write time: at
    # horizon 250 the expiry is NOT yet past grace (250 < 250 is false)
    t.garbage_collect(gc_horizon_us=250)
    assert t.mutation_log().filter("pk = 'a'").count() > 0
    t.garbage_collect(gc_horizon_us=251)
    after = _rows(sess.execute("SELECT k, v FROM t"))
    assert after == before, (
        "purging the expired winner must take the older v=1 with it"
    )
    # both generations of 'a' are physically gone
    assert t.mutation_log().filter("pk = 'a'").count() == 0


def test_counter_purge(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute("CREATE TABLE c (k text PRIMARY KEY, n counter)")
    t = sess.table("c")
    sess.execute("UPDATE c SET n = n + 5 WHERE k = 'a'")
    sess.execute("DELETE FROM c WHERE k = 'a'")
    sess.execute("UPDATE c SET n = n + 7 WHERE k = 'a'")
    before = {r.k: r.n for r in sess.execute("SELECT k, n FROM c").collect()}
    t.garbage_collect(gc_horizon_us=t._clock + 1)
    after = {r.k: r.n for r in sess.execute("SELECT k, n FROM c").collect()}
    assert after == before == {"a": 7}


op_st = st.tuples(
    st.sampled_from(["w", "w", "w", "d", "ttl"]),
    st.integers(0, 4),
    st.integers(-9, 9),
)
hist_st = st.lists(op_st, min_size=1, max_size=16)


@given(history=hist_st, horizon_i=st.integers(0, 20))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gc_never_changes_the_head_snapshot(
    spark, tmp_path_factory, history, horizon_i
):
    base = tmp_path_factory.mktemp("gc_fuzz")
    sess = CqlSession(spark, spill_dir=str(base))
    sess.execute("CREATE TABLE t (k text PRIMARY KEY, v int)")
    t = sess.table("t")
    for i, (kind, k, v) in enumerate(history):
        ts = 10 * (i + 1)
        if kind == "w":
            sess.execute(
                f"INSERT INTO t (k, v) VALUES ('k{k}', {v}) "
                f"USING TIMESTAMP {ts}"
            )
        elif kind == "ttl":
            sess.execute(
                f"INSERT INTO t (k, v) VALUES ('k{k}', {v}) "
                f"USING TIMESTAMP {ts} AND TTL 25"
            )
        else:
            sess.execute(f"DELETE FROM t USING TIMESTAMP {ts} WHERE k = 'k{k}'")
        if i % 5 == 4:
            t.flush()
    before = _rows(sess.execute("SELECT k, v FROM t"))
    log_before = t.mutation_log().count()
    horizon = 10 * horizon_i
    # PITR at/after the newest covering tombstone AND the horizon is
    # exact through GC (the documented contract: only views before a
    # covering tombstone or before the horizon may be lossy)
    tomb_max = max(
        (10 * (i + 1) for i, (k, _, _) in enumerate(history) if k == "d"),
        default=0,
    )
    safe_ts = max(horizon, tomb_max)
    pitr_before = {r.k: r.v for r in t.snapshot_pitr(safe_ts).collect()}
    stats = t.garbage_collect(gc_horizon_us=horizon)
    assert _rows(sess.execute("SELECT k, v FROM t")) == before
    assert stats["kept"] + stats["dropped"] == log_before
    assert {
        r.k: r.v for r in t.snapshot_pitr(safe_ts).collect()
    } == pitr_before
    # GC is idempotent at the same horizon
    t.garbage_collect(gc_horizon_us=horizon)
    assert _rows(sess.execute("SELECT k, v FROM t")) == before


# --- distributed GC (input bytes >= distributed_merge_bytes) -----------

_RICH_STMTS = [
    # three partitions, clustering int, scalar + set columns
    *[
        f"INSERT INTO r (k, c, v, tags) VALUES ('{k}', {c}, {c * 10 + i}, "
        f"{{'t{c}'}}) USING TIMESTAMP {100 + 10 * (i * 6 + c)}"
        for i, k in enumerate(("a", "b", "c"))
        for c in range(6)
    ],
    # every tombstone scope
    "DELETE FROM r USING TIMESTAMP 400 WHERE k = 'a'",  # partition
    "DELETE FROM r USING TIMESTAMP 410 WHERE k = 'b' AND c = 2",  # row
    "DELETE FROM r USING TIMESTAMP 420 WHERE k = 'b' AND c > 3",  # range
    "DELETE tags FROM r USING TIMESTAMP 430 WHERE k = 'c' AND c = 1",
    "DELETE v FROM r USING TIMESTAMP 440 WHERE k = 'c' AND c = 0",  # cell
    # post-tombstone resurrections (must survive GC)
    "INSERT INTO r (k, c, v) VALUES ('a', 1, 99) USING TIMESTAMP 500",
    "INSERT INTO r (k, c, v) VALUES ('b', 5, 98) USING TIMESTAMP 510",
    # TTL'd generations (expired-winner group purge exercises pass 2)
    "INSERT INTO r (k, c, v) VALUES ('c', 4, 1) USING TIMESTAMP 200",
    "INSERT INTO r (k, c, v) VALUES ('c', 4, 2) USING TIMESTAMP 300 "
    "AND TTL 50",
]


def _replay_rich(spark, base, force_spark):
    sess = CqlSession(spark, spill_dir=str(base))
    sess.execute(
        "CREATE TABLE r (k text, c int, v int, tags set<text>, "
        "PRIMARY KEY (k, c))"
    )
    t = sess.table("r")
    if force_spark:
        t.distributed_merge_bytes = 1
    for i, stmt in enumerate(_RICH_STMTS):
        sess.execute(stmt)
        if i % 7 == 6:
            t.flush()
    # advance the logical clock past every TTL expiry
    for i in range(600):
        sess.execute(f"INSERT INTO r (k, c, v) VALUES ('pad', {i % 3}, {i})")
    return sess, t


def _log_rows(t):
    return sorted(
        (tuple(r) for r in t.mutation_log().collect()),
        key=lambda r: tuple((x is None, x) for x in r),
    )


def _head(sess):
    return {
        (r.k, r.c): (r.v, r.tags)
        for r in sess.execute("SELECT k, c, v, tags FROM r").collect()
    }


def test_gc_spark_path_equals_driver_path(spark, tmp_path):
    """Differential: the distributed GC (threshold forced to 1) must
    leave byte-identical survivor sets and identical heads across every
    tombstone scope, resurrection, and TTL group purge."""
    sa, ta = _replay_rich(spark, tmp_path / "driver", force_spark=False)
    sb, tb = _replay_rich(spark, tmp_path / "spark", force_spark=True)
    stats_a = ta.garbage_collect(gc_horizon_us=425)
    stats_b = tb.garbage_collect(gc_horizon_us=425)
    assert stats_a == stats_b
    assert _log_rows(ta) == _log_rows(tb)
    assert _head(sa) == _head(sb)
    assert ta.compaction_history[-1][1] == "gc"
    assert tb.compaction_history[-1][1] == "gc"
    # second horizon past the TTL expiry: group purge, both paths
    stats_a = ta.garbage_collect(gc_horizon_us=460)
    stats_b = tb.garbage_collect(gc_horizon_us=460)
    assert stats_a == stats_b
    assert _log_rows(ta) == _log_rows(tb)
    assert _head(sa) == _head(sb)


def test_gc_past_threshold_never_materializes_rows_on_driver(
    spark, spark_jobs, tmp_path, monkeypatch
):
    """Past distributed_merge_bytes the GC reconcile is executor-side:
    the driver never pyarrow-reads a segment's rows, and the survivor
    write is ONE shuffle and ONE write: two Spark jobs, as adaptive
    execution runs the shuffle's map stage as a job of its own."""
    import pyarrow.parquet as pq

    sess, t = _mk(spark, tmp_path)
    for i in range(40):
        sess.execute(
            f"INSERT INTO t (k, v) VALUES ('k{i % 9}', {i}) "
            f"USING TIMESTAMP {10 * (i + 1)}"
        )
        if i % 2 == 0:
            sess.execute(
                f"DELETE FROM t USING TIMESTAMP {10 * (i + 1) + 5} "
                f"WHERE k = 'k{(i + 3) % 9}'"
            )
    t.flush()
    t.distributed_merge_bytes = 1

    def _no_driver_read(*a, **k):
        raise AssertionError("driver-side pq.read_table during spark GC")

    monkeypatch.setattr(pq, "read_table", _no_driver_read)
    jobs = spark_jobs()
    stats = t.garbage_collect(gc_horizon_us=200)
    assert spark_jobs() - jobs == 2, "one shuffle job, one write job"
    assert stats["dropped"] > 0
    rec = t.compaction_history[-1]
    assert rec[1] == "gc" and rec[7] == stats["kept"] + stats["dropped"]
    monkeypatch.undo()
    # and below the threshold the driver path stays (no Spark job)
    t.distributed_merge_bytes = 256 << 20
    t.garbage_collect(gc_horizon_us=250)
    assert t.compaction_history[-1][1] == "gc"


def test_gc_grace_seconds_option_is_the_default_horizon(spark, tmp_path):
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(
        "CREATE TABLE gg (k text PRIMARY KEY, v int) "
        "WITH gc_grace_seconds = 2"
    )
    t = sess.table("gg")
    assert t.schema.gc_grace_seconds == 2
    ddl = sess.execute("DESCRIBE TABLE gg").collect()[0].create_statement
    assert "gc_grace_seconds = 2" in ddl
    # wall-µs pinned workload: tombstone at now-5s is past a 2s grace
    import time

    now = int(time.time() * 1_000_000)
    sess.execute(
        f"INSERT INTO gg (k, v) VALUES ('a', 1) USING TIMESTAMP {now - 9_000_000}"
    )
    sess.execute(
        f"DELETE FROM gg USING TIMESTAMP {now - 5_000_000} WHERE k = 'a'"
    )
    t._clock = now  # the session clock tracks max writetime ~ wall µs
    stats = t.garbage_collect()  # horizon from gc_grace_seconds
    assert stats["dropped"] == 3 and stats["kept"] == 0


gc_op_st = st.one_of(
    # (kind, pk 0-2, ck 0-3, val)
    st.tuples(st.just("w"), st.integers(0, 2), st.integers(0, 3),
              st.integers(-9, 9)),
    st.tuples(st.just("ttl"), st.integers(0, 2), st.integers(0, 3),
              st.integers(-9, 9)),
    st.tuples(st.just("drow"), st.integers(0, 2), st.integers(0, 3),
              st.just(0)),
    st.tuples(st.just("dpart"), st.integers(0, 2), st.just(0), st.just(0)),
    st.tuples(st.just("drange"), st.integers(0, 2), st.integers(0, 3),
              st.just(0)),
)


@given(history=st.lists(gc_op_st, min_size=1, max_size=14),
       horizon_i=st.integers(0, 18))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gc_spark_path_fuzz_equals_driver(
    spark, tmp_path_factory, history, horizon_i
):
    """Differential fuzz over CLUSTERING histories (row / partition /
    RANGE tombstones, TTLs): the distributed GC must leave the same
    survivor set and head as the pyarrow driver path for every random
    history and horizon — the range-coverage join and the sentinel
    cell-key matching are the code under fire."""
    def replay(base):
        sess = CqlSession(spark, spill_dir=str(base))
        sess.execute(
            "CREATE TABLE f (k text, c int, v int, PRIMARY KEY (k, c))"
        )
        t = sess.table("f")
        for i, (kind, pk, ck, val) in enumerate(history):
            ts = 10 * (i + 1)
            if kind == "w":
                sess.execute(
                    f"INSERT INTO f (k, c, v) VALUES ('k{pk}', {ck}, {val}) "
                    f"USING TIMESTAMP {ts}"
                )
            elif kind == "ttl":
                sess.execute(
                    f"INSERT INTO f (k, c, v) VALUES ('k{pk}', {ck}, {val}) "
                    f"USING TIMESTAMP {ts} AND TTL 25"
                )
            elif kind == "drow":
                sess.execute(
                    f"DELETE FROM f USING TIMESTAMP {ts} "
                    f"WHERE k = 'k{pk}' AND c = {ck}"
                )
            elif kind == "dpart":
                sess.execute(
                    f"DELETE FROM f USING TIMESTAMP {ts} WHERE k = 'k{pk}'"
                )
            else:
                sess.execute(
                    f"DELETE FROM f USING TIMESTAMP {ts} "
                    f"WHERE k = 'k{pk}' AND c > {ck}"
                )
            if i % 4 == 3:
                t.flush()
        return sess, t

    base = tmp_path_factory.mktemp("gc_spark_fuzz")
    sa, ta = replay(base / "driver")
    sb, tb = replay(base / "spark")
    tb.distributed_merge_bytes = 1
    stats_a = ta.garbage_collect(gc_horizon_us=10 * horizon_i)
    stats_b = tb.garbage_collect(gc_horizon_us=10 * horizon_i)
    assert stats_a == stats_b
    assert _log_rows(ta) == _log_rows(tb)
    ha = {(r.k, r.c): r.v for r in sa.execute(
        "SELECT k, c, v FROM f").collect()}
    hb = {(r.k, r.c): r.v for r in sb.execute(
        "SELECT k, c, v FROM f").collect()}
    assert ha == hb
