"""Randomized-history verification — the mini-Harry (SURVEY.md §5.1: the
reference fuzzes write/delete histories and checks the storage engine
converges to the model's answer; `[C* test/harry/**]`, unverified).

Hypothesis generates arbitrary interleaved write/delete histories; the
engine's answer = the W-tier pipeline (LWW merge via
operators/compaction.lww_merge + partition-tombstone shadowing); the
model's answer = a 10-line sequential Python reduction of the same
history. They must agree exactly, including timestamp ties (write vs
write: higher seq wins; write vs delete at equal ts: delete wins)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_spark.operators.compaction import lww_merge

write_st = st.tuples(
    st.just("w"),
    st.integers(0, 3),  # pk
    st.integers(0, 2),  # ck
    st.integers(0, 9),  # ts
    st.integers(-100, 100),  # value
)
delete_st = st.tuples(
    st.just("d"),
    st.integers(0, 3),  # pk
    st.just(-1),
    st.integers(0, 9),  # ts (partition tombstone)
    st.just(0),
)
history_st = st.lists(write_st | delete_st, min_size=1, max_size=25)


def model(history):
    """Sequential reference semantics: newest write per (pk, ck) — ties by
    arrival order — visible iff no partition tombstone at ts >= its ts."""
    best: dict[tuple[int, int], tuple[int, int, int]] = {}
    tomb: dict[int, int] = {}
    for seq, (kind, pk, ck, ts, val) in enumerate(history):
        if kind == "w":
            cur = best.get((pk, ck))
            if cur is None or (ts, seq) > (cur[0], cur[1]):
                best[(pk, ck)] = (ts, seq, val)
        else:
            tomb[pk] = max(tomb.get(pk, -1), ts)
    return {
        (pk, ck): (ts, val)
        for (pk, ck), (ts, seq, val) in best.items()
        if tomb.get(pk, -1) < ts
    }


def engine(spark, history):
    writes = [
        (pk, ck, ts, seq, val)
        for seq, (kind, pk, ck, ts, val) in enumerate(history)
        if kind == "w"
    ]
    deletes = [
        (pk, ts) for (kind, pk, ck, ts, val) in history if kind == "d"
    ]
    if not writes:
        return {}
    cells = spark.createDataFrame(
        writes, "pk int, ck int, writetime int, seq int, value int"
    )
    merged = lww_merge(
        cells, ["pk"], ["ck"], writetime_col="writetime", tiebreak=["seq"]
    )
    if deletes:
        tombs = (
            spark.createDataFrame(deletes, "pk int, tomb_ts int")
            .groupBy("pk")
            .agg(F.max("tomb_ts").alias("tomb_ts"))
        )
        merged = (
            merged.join(F.broadcast(tombs), "pk", "left")
            .filter(
                F.col("tomb_ts").isNull()
                | (F.col("writetime") > F.col("tomb_ts"))
            )
            .drop("tomb_ts")
        )
    return {
        (r.pk, r.ck): (r.writetime, r.value) for r in merged.collect()
    }


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(history=history_st)
def test_lww_plus_tombstones_match_model(spark, history):
    assert engine(spark, history) == model(history)


# --- CQL-layer fuzz incl. RANGE tombstones over a composite clustering key

from cassandra_spark.cql_dml import CqlTable, TableSchema  # noqa: E402

_FUZZ_SCHEMA = TableSchema(
    "t", "pk", ("ck1", "ck2"), {"v": "int"}, key_types={"ck2": "int"}
)
# ck2 domain includes 10 so numeric-vs-lexical range comparison matters
_CK2 = (0, 1, 2, 3, 10)

cql_write_st = st.tuples(
    st.just("w"), st.sampled_from("ab"), st.sampled_from("xy"),
    st.sampled_from(_CK2), st.integers(1, 9), st.integers(0, 99),
)
cql_insert_st = st.tuples(
    st.just("i"), st.sampled_from("ab"), st.sampled_from("xy"),
    st.sampled_from(_CK2), st.integers(1, 9), st.integers(0, 99),
)
cql_rowdel_st = st.tuples(
    st.just("dr"), st.sampled_from("ab"), st.sampled_from("xy"),
    st.sampled_from(_CK2), st.integers(1, 9), st.just(0),
)
cql_rangedel_st = st.tuples(
    st.just("rt"), st.sampled_from("ab"), st.sampled_from("xy"),
    st.tuples(
        st.none() | st.sampled_from(_CK2),  # lo
        st.none() | st.sampled_from(_CK2),  # hi
        st.booleans(),  # lo inclusive
        st.booleans(),  # hi inclusive
    ),
    st.integers(1, 9), st.just(0),
)
cql_partdel_st = st.tuples(
    st.just("dp"), st.sampled_from("ab"), st.just("x"), st.just(0),
    st.integers(1, 9), st.just(0),
)
cql_history_st = st.lists(
    cql_write_st | cql_insert_st | cql_rowdel_st | cql_rangedel_st
    | cql_partdel_st,
    min_size=1,
    max_size=14,
)


def _cql_model(history):
    """Sequential reference semantics incl. range-tombstone coverage."""
    cells: dict = {}
    markers: dict = {}
    row_t: dict = {}
    part_t: dict = {}
    ranges: list = []

    def put(store, key, wt, is_tomb, val, seq):
        cur = store.get(key)
        if cur is None or (wt, is_tomb, seq) > (cur[0], cur[1], cur[2]):
            store[key] = (wt, is_tomb, seq, val)

    for seq, (op, pk, ck1, x, ts, v) in enumerate(history):
        if op == "w":
            put(cells, (pk, ck1, x), ts, 0, v, seq)
        elif op == "i":
            put(cells, (pk, ck1, x), ts, 0, v, seq)
            put(markers, (pk, ck1, x), ts, 0, None, seq)
        elif op == "dr":
            key = (pk, ck1, x)
            row_t[key] = max(row_t.get(key, -1), ts)
        elif op == "rt":
            lo, hi, li, hi_i = x
            ranges.append((pk, ck1, lo, hi, li, hi_i, ts))
        else:
            part_t[pk] = max(part_t.get(pk, -1), ts)

    def horizon(key):
        pk, ck1, ck2 = key
        h = max(part_t.get(pk, -1), row_t.get(key, -1))
        for rpk, rck1, lo, hi, li, hi_i, ts in ranges:
            if rpk != pk or rck1 != ck1:
                continue
            if lo is not None and not (ck2 >= lo if li else ck2 > lo):
                continue
            if hi is not None and not (ck2 <= hi if hi_i else ck2 < hi):
                continue
            h = max(h, ts)
        return h

    out = {}
    for key in set(cells) | set(markers):
        h = horizon(key)
        c, mk = cells.get(key), markers.get(key)
        c_live = c is not None and c[1] == 0 and c[0] > h
        mk_live = mk is not None and mk[0] > h
        if c_live or mk_live:
            out[key] = c[3] if c_live else None
    return out


def _cql_engine(spark, history):
    table = CqlTable(spark, _FUZZ_SCHEMA)
    for (op, pk, ck1, x, ts, v) in history:
        if op == "w":
            table.execute(
                f"UPDATE t USING TIMESTAMP {ts} SET v = {v} "
                f"WHERE pk = '{pk}' AND ck1 = '{ck1}' AND ck2 = {x}"
            )
        elif op == "i":
            table.execute(
                f"INSERT INTO t (pk, ck1, ck2, v) VALUES "
                f"('{pk}', '{ck1}', {x}, {v}) USING TIMESTAMP {ts}"
            )
        elif op == "dr":
            table.execute(
                f"DELETE FROM t USING TIMESTAMP {ts} "
                f"WHERE pk = '{pk}' AND ck1 = '{ck1}' AND ck2 = {x}"
            )
        elif op == "rt":
            lo, hi, li, hi_i = x
            conds = [f"pk = '{pk}'", f"ck1 = '{ck1}'"]
            if lo is not None:
                conds.append(f"ck2 {'>=' if li else '>'} {lo}")
            if hi is not None:
                conds.append(f"ck2 {'<=' if hi_i else '<'} {hi}")
            table.execute(
                f"DELETE FROM t USING TIMESTAMP {ts} "
                f"WHERE {' AND '.join(conds)}"
            )
        else:
            table.execute(
                f"DELETE FROM t USING TIMESTAMP {ts} WHERE pk = '{pk}'"
            )
    if not table._log:
        return {}
    return {
        (r.pk, r.ck1, r.ck2): r.v for r in table.snapshot().collect()
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(history=cql_history_st)
def test_cql_range_tombstone_histories_match_model(spark, history):
    assert _cql_engine(spark, history) == _cql_model(history)


# --- composite-partition-key fuzz: the SEP-joined log key must behave
# exactly like an opaque (pk1, pk2) pair — writes, row deletes, and
# PARTITION tombstones must shadow per composite partition, never
# bleeding across partitions that share one component value.

_CPK_SCHEMA = TableSchema(
    "t2", "pk1", ("ck",), {"v": "int"},
    key_types={"pk2": "int", "ck": "int"},
    partition_cols=("pk1", "pk2"),
)

cpk_write_st = st.tuples(
    st.just("w"), st.sampled_from("ab"), st.integers(0, 2),
    st.integers(0, 1), st.integers(1, 9), st.integers(0, 99),
)
cpk_insert_st = st.tuples(
    st.just("i"), st.sampled_from("ab"), st.integers(0, 2),
    st.integers(0, 1), st.integers(1, 9), st.integers(0, 99),
)
cpk_rowdel_st = st.tuples(
    st.just("dr"), st.sampled_from("ab"), st.integers(0, 2),
    st.integers(0, 1), st.integers(1, 9), st.just(0),
)
cpk_partdel_st = st.tuples(
    st.just("dp"), st.sampled_from("ab"), st.integers(0, 2),
    st.just(0), st.integers(1, 9), st.just(0),
)
cpk_history_st = st.lists(
    cpk_write_st | cpk_insert_st | cpk_rowdel_st | cpk_partdel_st,
    min_size=1, max_size=14,
)


def _cpk_model(history):
    cells: dict = {}
    markers: dict = {}
    row_t: dict = {}
    part_t: dict = {}

    def put(store, key, wt, val, seq):
        cur = store.get(key)
        if cur is None or (wt, seq) > (cur[0], cur[1]):
            store[key] = (wt, seq, val)

    for seq, (op, pk1, pk2, ck, ts, v) in enumerate(history):
        if op == "w":
            put(cells, (pk1, pk2, ck), ts, v, seq)
        elif op == "i":
            put(cells, (pk1, pk2, ck), ts, v, seq)
            put(markers, (pk1, pk2, ck), ts, None, seq)
        elif op == "dr":
            key = (pk1, pk2, ck)
            row_t[key] = max(row_t.get(key, -1), ts)
        else:
            part_t[(pk1, pk2)] = max(part_t.get((pk1, pk2), -1), ts)

    out = {}
    for key in set(cells) | set(markers):
        pk1, pk2, ck = key
        h = max(part_t.get((pk1, pk2), -1), row_t.get(key, -1))
        c, mk = cells.get(key), markers.get(key)
        c_live = c is not None and c[0] > h
        mk_live = mk is not None and mk[0] > h
        if c_live or mk_live:
            out[key] = c[2] if c_live else None
    return out


def _cpk_engine(spark, history, table=None):
    table = table or CqlTable(spark, _CPK_SCHEMA)
    for (op, pk1, pk2, ck, ts, v) in history:
        if op == "w":
            table.execute(
                f"UPDATE t2 USING TIMESTAMP {ts} SET v = {v} "
                f"WHERE pk1 = '{pk1}' AND pk2 = {pk2} AND ck = {ck}"
            )
        elif op == "i":
            table.execute(
                f"INSERT INTO t2 (pk1, pk2, ck, v) VALUES "
                f"('{pk1}', {pk2}, {ck}, {v}) USING TIMESTAMP {ts}"
            )
        elif op == "dr":
            table.execute(
                f"DELETE FROM t2 USING TIMESTAMP {ts} "
                f"WHERE pk1 = '{pk1}' AND pk2 = {pk2} AND ck = {ck}"
            )
        else:
            table.execute(
                f"DELETE FROM t2 USING TIMESTAMP {ts} "
                f"WHERE pk1 = '{pk1}' AND pk2 = {pk2}"
            )
    if not table._log:
        return {}
    return {
        (r.pk1, r.pk2, r.ck): r.v for r in table.snapshot().collect()
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(history=cpk_history_st)
def test_composite_pk_histories_match_model(spark, history):
    assert _cpk_engine(spark, history) == _cpk_model(history)


# --- the driver-side partition read against the Spark snapshot and the
# DuckDB oracle: after every generated history, partition_frame(pks)
# must equal snapshot() filtered to pks (schema, rows and row order), and
# both must equal dml_oracle_sql's reconcile of the same log. Histories
# mix collections, statics, a non-frozen UDT, TTL, row / range /
# partition tombstones, timestamp ties and flushes, so every reconcile
# rule runs on segment rows and memtable rows alike.

import pyarrow.parquet as pq  # noqa: E402

from cassandra_spark import cql_dml  # noqa: E402
from cassandra_spark.cql_dml import _MUT_COLS, SEP  # noqa: E402
from cassandra_spark.cql_session import CqlSession  # noqa: E402
from cassandra_spark.dml_oracle import dml_oracle_sql  # noqa: E402

_KEYS = st.sampled_from("ab")
_ROW = st.tuples(_KEYS, st.sampled_from("xy"), st.sampled_from((1, 10)))
_TS = st.integers(1, 2)  # few timestamps: write/tombstone ties are common
_N = st.integers(0, 9)

rich_op_st = st.one_of(
    st.tuples(st.just("ins"), _ROW, _TS, _N, st.sampled_from((0, 0, 1, 3))),
    st.tuples(st.just("v"), _ROW, _TS, _N, st.sampled_from((0, 2))),
    st.tuples(st.just("vnull"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("app"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("sadd"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("srm"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("mput"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("mdel"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("ufield"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("static"), _ROW, _TS, _N, st.sampled_from((0, 2))),
    st.tuples(st.just("drow"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("drange"), _ROW, _TS, _N, st.booleans()),
    st.tuples(st.just("dpart"), _ROW, _TS, _N, st.just(0)),
    st.tuples(st.just("flush"), _ROW, _TS, _N, st.just(0)),
)


def _rich_stmt(op, row, ts, n, x) -> str:
    k, c1, c2 = row
    where = f"WHERE k = '{k}' AND c1 = '{c1}' AND c2 = {c2}"
    using = f"USING TIMESTAMP {ts}" + (f" AND TTL {x}" if x else "")
    upd = f"UPDATE f USING TIMESTAMP {ts}"
    return {
        "ins": (
            f"INSERT INTO f (k, c1, c2, v, l, st, m, u) VALUES "
            f"('{k}', '{c1}', {c2}, {n}, [{n}, 1], {{'s{n}'}}, "
            f"{{'m{n % 3}': {n}}}, {{a: {n}, b: 'b{n}'}}) {using}"
        ),
        "v": f"UPDATE f {using} SET v = {n} {where}",
        "vnull": f"{upd} SET v = null {where}",
        "app": f"{upd} SET l = l + [{n}] {where}",
        "sadd": f"{upd} SET st = st + {{'s{n % 3}'}} {where}",
        "srm": f"{upd} SET st = st - {{'s{n % 3}'}} {where}",
        "mput": f"{upd} SET m['m{n % 3}'] = {n} {where}",
        "mdel": f"DELETE m['m{n % 3}'] FROM f USING TIMESTAMP {ts} {where}",
        "ufield": f"{upd} SET u.a = {n} {where}",
        "static": f"UPDATE f {using} SET s = {n} WHERE k = '{k}'",
        "drow": f"DELETE FROM f USING TIMESTAMP {ts} {where}",
        "drange": (
            f"DELETE FROM f USING TIMESTAMP {ts} WHERE k = '{k}' AND "
            f"c1 = '{c1}' AND c2 {'>=' if x else '<'} {c2}"
        ),
        "dpart": f"DELETE FROM f USING TIMESTAMP {ts} WHERE k = '{k}'",
    }[op]


def _full_log(table) -> list[tuple]:
    """Every mutation of ``table``: flushed segments, then the memtable."""
    rows = []
    for path in table._segments:
        d = pq.read_table(path).to_pydict()
        rows += zip(*(d[c] for c in _MUT_COLS))
    return rows + list(table._log)


def _assert_partition_frames(table, pk_of, pks) -> list:
    """partition_frame(pks) ≡ snapshot() filtered to pks: schema, rows,
    order. ``pk_of`` maps a visible row to its log partition key.
    Returns the rows."""
    fast = table.partition_frame(pks)
    snap = table.snapshot()
    assert fast.schema == snap.schema
    want = set(pks)
    expect = [r for r in snap.collect() if pk_of(r) in want]
    got = fast.collect()
    assert got == expect
    return got


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=st.lists(rich_op_st, min_size=4, max_size=24),
    pks=st.sampled_from((["a"], ["b", "zz"], ["a", "b", "zz"])),
)
# pinned: a tombstone wins a writetime tie (scalar, map entry)
@example(
    history=[
        ("ins", ("a", "x", 1), 1, 3, 0),
        ("vnull", ("a", "x", 1), 1, 0, 0),
        ("mdel", ("a", "x", 1), 1, 0, 0),
        ("srm", ("a", "x", 1), 1, 3, 0),
    ],
    pks=["a", "b", "zz"],
)
# pinned: TTL expiry, a range tombstone over segment rows, a static
# column, a partition tombstone tying a write
@example(
    history=[
        ("ins", ("a", "x", 1), 1, 3, 1),
        ("flush", ("a", "x", 1), 1, 0, 0),
        ("ins", ("a", "x", 10), 2, 4, 0),
        ("drange", ("a", "x", 10), 2, 0, False),
        ("static", ("a", "y", 1), 2, 5, 0),
        ("ins", ("b", "y", 1), 1, 6, 0),
        ("dpart", ("b", "y", 1), 1, 0, 0),
    ],
    pks=["a", "b", "zz"],
)
def test_partition_frame_matches_snapshot_and_oracle(
    spark, duck, tmp_path_factory, history, pks
):
    _check_rich_partition_frame(
        spark, duck, tmp_path_factory, history, pks, spill_threshold=None
    )


def _check_rich_partition_frame(
    spark, duck, tmp_path_factory, history, pks, spill_threshold
):
    sess = CqlSession(
        spark, spill_dir=str(tmp_path_factory.mktemp("pf")),
        spill_threshold=spill_threshold,
    )
    sess.execute("CREATE TYPE pt (a int, b text)")
    sess.execute(
        "CREATE TABLE f (k text, c1 text, c2 int, v int, l list<int>, "
        "st set<text>, m map<text, int>, u pt, s int static, "
        "PRIMARY KEY (k, c1, c2))"
    )
    table = sess.table("f")
    for op in history:
        if op[0] == "flush":
            table.flush()
        else:
            sess.execute(_rich_stmt(*op))
    if table._max_wt is None:
        return
    _assert_partition_frames(table, lambda r: r.k, pks)
    # the oracle renders collections and the UDT as JSON
    projected = table.partition_frame(pks).select(
        "k", "c1", "c2", "v", F.to_json("u"), F.to_json("l"),
        F.to_json("st"), F.to_json(F.map_entries("m")), "s",
    ).collect()
    oracle = [
        tuple(r) for r in duck.execute(
            dml_oracle_sql(table.schema, _full_log(table), table._max_wt + 1)
        ).fetchall()
        if r[0] in pks
    ]
    assert sorted(oracle, key=repr) == sorted(map(tuple, projected), key=repr)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=cpk_history_st,
    pks=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 3)),
        min_size=1, unique=True,
    ),
)
def test_composite_pk_partition_frame_matches(spark, duck, history, pks):
    """Composite partition keys: the pinned keys are the SEP-joined log
    keys, and the frame equals the filtered snapshot and the oracle."""
    _check_cpk_partition_frame(spark, duck, CqlTable(spark, _CPK_SCHEMA),
                               history, pks)


def _check_cpk_partition_frame(spark, duck, table, history, pks):
    _cpk_engine(spark, history, table)
    if table._max_wt is None:
        return
    keys = [f"{p1}{SEP}{p2}" for p1, p2 in pks]
    got = _assert_partition_frames(
        table, lambda r: f"{r.pk1}{SEP}{r.pk2}", keys
    )
    oracle = [
        tuple(r) for r in duck.execute(
            dml_oracle_sql(table.schema, _full_log(table), table._max_wt + 1)
        ).fetchall()
        if r[0] in keys
    ]
    # the oracle keeps the joined log key in the first key column
    assert sorted(oracle) == sorted(
        (f"{r.pk1}{SEP}{r.pk2}", r.ck, r.v) for r in got
    )


# Row groups of 3 rows: every flushed or merged segment holds several,
# a partition's rows straddle group boundaries, and the partition read
# picks groups by the footer token summary. Small spill thresholds make
# the histories flush and (STCS) merge on their own.
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=st.lists(rich_op_st, min_size=4, max_size=24),
    pks=st.sampled_from((["a"], ["b", "zz"], ["a", "b", "zz"])),
)
def test_partition_frame_matches_across_row_groups(
    spark, duck, tmp_path_factory, monkeypatch, history, pks
):
    monkeypatch.setattr(cql_dml, "_SEG_ROW_GROUP", 3)
    _check_rich_partition_frame(
        spark, duck, tmp_path_factory, history, pks, spill_threshold=5
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=cpk_history_st,
    pks=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 3)),
        min_size=1, unique=True,
    ),
)
def test_composite_pk_partition_frame_matches_across_row_groups(
    spark, duck, tmp_path_factory, monkeypatch, history, pks
):
    monkeypatch.setattr(cql_dml, "_SEG_ROW_GROUP", 3)
    table = CqlTable(
        spark, _CPK_SCHEMA, spill_dir=str(tmp_path_factory.mktemp("cpk")),
        spill_threshold=2, compact_threshold=3,
    )
    _check_cpk_partition_frame(spark, duck, table, history, pks)


# --- the Arrow typer: partition_frame types text, int-family and
# boolean columns in Arrow (CqlTable._ARROW_CASTS) and leaves every other
# type, and any value spelled outside the rule, to the snapshot's SQL
# cast. Each check is the partition_frame ≡ filtered snapshot() check
# above, over histories that write every Arrow-typed type in every
# spelling the write path stores, and over a table that mixes both
# halves of the rule.

import pytest  # noqa: E402

_TYPED_DDL = (
    "CREATE TABLE ty (k int, t text, c tinyint, b bigint, sm smallint, "
    "ti tinyint, bo boolean, a ascii, vc varchar, bl blob, ip inet, "
    "u uuid, PRIMARY KEY ((k, t), c))"
)
_TYPED_COLS = ("b", "sm", "ti", "bo", "a", "vc", "bl", "ip", "u")


def _int_lit(n: int, how: str) -> str:
    """``n`` as a CQL literal in one of the spellings the write path
    stores as written; 'plus' and 'space' are outside the Arrow rule
    (Spark's cast reads them, so the column falls back to it)."""
    sign, digits = ("-" if n < 0 else ""), str(abs(n))
    return {
        "plain": str(n),
        "quoted": f"'{n}'",
        "zeros": f"'{sign}00{digits}'",
        "plus": f"'+{digits}'" if n >= 0 else f"'{n}'",
        "space": f"' {n} '",
    }[how]


def _int_lit_st(lo: int, hi: int):
    return st.builds(
        _int_lit, st.integers(lo, hi) | st.sampled_from((lo, hi, 0)),
        st.sampled_from(("plain", "quoted", "zeros", "plus", "space")),
    )


_TEXT_LIT = st.text(alphabet="ab'é ", max_size=4).map(
    lambda s: "'" + s.replace("'", "''") + "'"
)
_TYPED_LITS = {
    "b": _int_lit_st(-(2**63), 2**63 - 1),
    "sm": _int_lit_st(-(2**15), 2**15 - 1),
    "ti": _int_lit_st(-128, 127),
    "bo": st.sampled_from(
        ("true", "false", "'TRUE'", "'False'", "'yes'", "'f'", "null")
    ),
    "a": _TEXT_LIT,
    "vc": _TEXT_LIT,
    "bl": st.sampled_from(("'0xcafe'", "'00'", "''")),
    "ip": st.sampled_from(("'10.0.0.1'", "'::1'")),
    "u": st.sampled_from((
        "'123e4567-e89b-12d3-a456-426614174000'",
        "'00000000-0000-0000-0000-000000000000'",
    )),
}
_TYPED_ROW = st.tuples(
    st.sampled_from(("1", "2", "'002'")), st.sampled_from("ab"),
    st.sampled_from((0, 1, -3)),
)
typed_op_st = st.one_of(
    st.tuples(st.just("ins"), _TYPED_ROW, st.fixed_dictionaries(_TYPED_LITS)),
    st.tuples(
        st.just("set"), _TYPED_ROW,
        st.sampled_from(_TYPED_COLS).flatmap(
            lambda c: st.tuples(st.just(c), _TYPED_LITS[c])
        ),
    ),
    st.tuples(st.just("drow"), _TYPED_ROW, st.none()),
    st.tuples(st.just("dpart"), _TYPED_ROW, st.none()),
    st.tuples(st.just("flush"), _TYPED_ROW, st.none()),
)


def _typed_stmt(op, row, arg) -> str:
    k, t, c = row
    part = f"k = {k} AND t = '{t}'"
    if op == "ins":
        cols = ", ".join(arg)
        return (
            f"INSERT INTO ty (k, t, c, {cols}) VALUES "
            f"({k}, '{t}', {c}, {', '.join(arg.values())})"
        )
    if op == "set":
        return f"UPDATE ty SET {arg[0]} = {arg[1]} WHERE {part} AND c = {c}"
    if op == "drow":
        return f"DELETE FROM ty WHERE {part} AND c = {c}"
    return f"DELETE FROM ty WHERE {part}"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=st.lists(typed_op_st, min_size=1, max_size=16),
    pks=st.sampled_from((
        [f"1{SEP}a"], [f"1{SEP}a", f"2{SEP}b"], [f"2{SEP}a", f"9{SEP}z"],
    )),
)
def test_arrow_typed_partition_frame_matches_snapshot(
    spark, tmp_path_factory, history, pks
):
    """Every type the Arrow typer converts — bigint, smallint, tinyint,
    boolean and the text family (text, ascii, varchar, blob, inet,
    uuid) — under an int + text composite partition key, in every
    stored spelling: the frame equals the filtered snapshot."""
    sess = CqlSession(spark, spill_dir=str(tmp_path_factory.mktemp("ty")))
    sess.execute(_TYPED_DDL)
    table = sess.table("ty")
    for op, row, arg in history:
        if op == "flush":
            table.flush()
        else:
            sess.execute(_typed_stmt(op, row, arg))
    if table._max_wt is None:
        return
    _assert_partition_frames(table, lambda r: f"{r.k}{SEP}{r.t}", pks)


def _plan_head(df) -> str:
    return df._jdf.queryExecution().analyzed().toString().split("\n")[0]


@pytest.fixture()
def typed_tables(spark, tmp_path):
    """(an all-Arrow table, a mixed table), each with segment and
    memtable rows. The all-Arrow table's partition 2:b holds spellings
    outside the Arrow rule ('+7', 'yes'). The mixed one has residual-SQL columns beside the
    Arrow-typed ones: timestamps written in two literal spellings (one a
    clustering key), decimal, a tuple, a date, a double and a list."""
    sess = CqlSession(spark, spill_dir=str(tmp_path))
    sess.execute(_TYPED_DDL)
    sess.execute(
        "CREATE TABLE mx (k text, ts timestamp, n int, d decimal, "
        "tp tuple<int, text>, dt date, at timestamp, f double, "
        "l list<int>, v text, PRIMARY KEY (k, ts))"
    )
    ty, mx = sess.table("ty"), sess.table("mx")
    for stmt in (
        "INSERT INTO ty (k, t, c, b, sm, ti, bo, a, vc, bl, ip, u) VALUES "
        "(1, 'a', 0, 9223372036854775807, -32768, '007', true, 'x', 'y', "
        "'0xcafe', '10.0.0.1', '123e4567-e89b-12d3-a456-426614174000')",
        "INSERT INTO ty (k, t, c, b, ti, bo) VALUES "
        "(2, 'b', -3, '-05', '+7', 'yes')",
        "INSERT INTO mx (k, ts, n, d, tp, dt, at, f, l, v) VALUES ('a', "
        "'2024-01-02 03:04:05.678+0000', 1, 1.50, (1, 'x'), '2024-01-02', "
        "'2024-01-02T03:04:05Z', 0.5, [3, 1], 'p')",
        "INSERT INTO mx (k, ts, n, d, tp, dt, at, v) VALUES ('a', "
        "'2024-01-02T03:04:06Z', '+7', 2.5, (2, 'y'), '2024-02-29', "
        "'2024-01-02 03:04:05.678+0000', 'q')",
    ):
        sess.execute(stmt)
    ty.flush()
    mx.flush()
    sess.execute("UPDATE ty SET sm = 12 WHERE k = 1 AND t = 'a' AND c = 0")
    sess.execute(
        "INSERT INTO mx (k, ts, n, d, dt, v) VALUES ('b', "
        "'2023-12-31 23:59:59+0000', 05, -0.001, '1999-12-31', 'r')"
    )
    return ty, mx


def test_typed_frames_cover_both_halves_of_the_rule(typed_tables):
    """The all-Arrow table's frame is the Arrow LocalRelation itself (no
    typing projection) until a value is spelled outside the rule; the
    mixed table's frame types its residual columns in one projection
    over the Arrow-typed ones. All equal the filtered snapshot."""
    ty, mx = typed_tables
    for pks in ([f"1{SEP}a"], [f"1{SEP}a", f"2{SEP}b"], [f"3{SEP}c"]):
        _assert_partition_frames(ty, lambda r: f"{r.k}{SEP}{r.t}", pks)
    assert _plan_head(ty.partition_frame([f"1{SEP}a"])).startswith(
        "LocalRelation"
    )
    assert _plan_head(ty.partition_frame([f"2{SEP}b"])).startswith("Project")
    for pks in (["a"], ["a", "b"], ["zz"]):
        got = _assert_partition_frames(mx, lambda r: r.k, pks)
    assert len(got) == 0
    assert _plan_head(mx.partition_frame(["a"])).startswith("Project")


def test_empty_frames_match_the_snapshot_schema(spark, typed_tables):
    """_empty() has the snapshot's schema and no rows, on an all-Arrow
    table, a mixed table and a counter table."""
    ty, mx = typed_tables
    for t in (ty, mx):
        empty = t._empty()
        assert empty.schema == t.snapshot().schema
        assert empty.collect() == []
    assert _plan_head(ty._empty()).startswith("LocalRelation")
    s = CqlSession(spark)
    s.execute("CREATE TABLE hits (k int, c text, n counter, PRIMARY KEY (k, c))")
    s.execute("UPDATE hits SET n = n + 2 WHERE k = 1 AND c = 'x'")
    hits = s.table("hits")
    assert hits._empty().schema == hits.snapshot().schema
    assert hits._empty().collect() == []


def test_malformed_values_fail_as_the_snapshot_does(spark):
    """A statement refuses a value outside every spelling of its type
    (malformed text, an out-of-range number) at write time, and so does
    a bulk load. A value that reaches the log all the same — planted here
    by appending the cells to the mutation log directly, then flushed —
    is left to Spark's cast, so the pinned read fails exactly as the
    snapshot does."""
    from cassandra_spark.cql import CQLError

    s = CqlSession(spark)
    s.execute("CREATE TABLE bad (k text PRIMARY KEY, n int, sm smallint)")
    for stmt in (
        "INSERT INTO bad (k, n) VALUES ('a', 'abc')",
        "INSERT INTO bad (k, sm) VALUES ('b', 40000)",
    ):
        with pytest.raises(CQLError, match="invalid"):
            s.execute(stmt)
    t = s.table("bad")
    for pk, col, val in (("a", "n", "abc"), ("b", "sm", "40000")):
        t._emit(pk, "", None, None, cql_dml.MARKER, 1, None)
        t._emit(pk, "", col, val, cql_dml.CELL, 1, None)
    t.flush()
    for pk in ("a", "b"):
        with pytest.raises(Exception) as snap:
            t.snapshot().filter(F.col("k") == pk).collect()
        with pytest.raises(type(snap.value)):
            t.partition_frame([pk]).collect()


# --- literal text never reads as structure: keys and indexed values drawn
# from an alphabet of column names, keywords, operators, '' escapes,
# commas and brackets are read three ways — pinned (k = lit), through the
# 2i (tag = lit) and by a filtered scan (w = lit ALLOW FILTERING) — and
# each answer must equal the oracle's reconcile filtered in Python.

_LIT_ALPHABET = (
    "k", "tag", "w", " AND ", " OR ", "NOT ", " IN ", " LIKE ",
    " CONTAINS ", "token(", " LIMIT 1", "'", "''", ",", "[", "]", "(",
    ")", " = ", " > 1", "x",
)
_lit_st = st.lists(st.sampled_from(_LIT_ALPHABET), max_size=5).map("".join)


def _quote(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(_lit_st.filter(bool), _lit_st),
        min_size=1, max_size=3, unique_by=lambda r: r[0],
    ),
    probe=_lit_st,
)
@example(rows=[("v", "w > 1"), ("token(q)", "x CONTAINS y")], probe="k")
@example(rows=[("k = 'a' OR tag", "token(k) > 1 AND w IN ('a,b')")],
         probe="[1, 2]")
def test_literal_reads_match_the_oracle(
    spark, duck, tmp_path_factory, rows, probe
):
    sess = CqlSession(spark, spill_dir=str(tmp_path_factory.mktemp("lit")))
    sess.execute(
        "CREATE TABLE lt (k text PRIMARY KEY, tag text, w text, v int)"
    )
    sess.execute("CREATE INDEX ON lt (tag)")
    table = sess.table("lt")
    for i, (k, tag) in enumerate(rows):
        sess.execute(
            f"INSERT INTO lt (k, tag, w, v) VALUES "
            f"({_quote(k)}, {_quote(tag)}, {_quote(tag)}, {i})"
        )
        if i == 0:
            table.flush()
    oracle = [
        tuple(r) for r in duck.execute(
            dml_oracle_sql(table.schema, _full_log(table), table._max_wt + 1)
        ).fetchall()
    ]
    for lit in (rows[0][0], rows[-1][1], probe):
        for i, where in enumerate((
            f"k = {_quote(lit)}",
            f"tag = {_quote(lit)}",
            f"w = {_quote(lit)} ALLOW FILTERING",
        )):
            stmt = f"SELECT k, tag, w, v FROM lt WHERE {where}"
            got = sorted(tuple(r) for r in sess.execute(stmt).collect())
            assert got == sorted(r for r in oracle if r[i] == lit), stmt


# --- counter histories: a counter is a sum mode of the one reconcile
# rule, so the pinned read (partition_frame) and the token-range scan
# (snapshot, snapshot_pitr) must both equal a plain-Python sum over the
# same history: increments and decrements, cell / row / partition
# deletes whose USING TIMESTAMP ties, precedes or follows increments, a
# counter batch whose delete ties its own increment, flushes and STCS
# merges over 3-row row groups, at head and at PITR cutoffs.

_COUNTER_SCHEMA = TableSchema(
    "ct", "k", ("c",), {"a": "bigint", "b": "bigint"}, counter=True,
    key_types={"c": "int"}, compaction="SizeTieredCompactionStrategy",
    compaction_min_threshold=2,
)
_CROW = st.tuples(st.sampled_from("xy"), st.integers(0, 2))
_CCOL = st.sampled_from("ab")
counter_op_st = st.one_of(
    st.tuples(st.just("inc"), _CROW, _CCOL, st.integers(-3, 5)),
    st.tuples(st.just("batch"), _CROW, _CCOL, st.integers(1, 5)),
    # deletes: x is the USING TIMESTAMP offset from the statement's own
    # clock tick (-1 ties the previous statement's increments)
    st.tuples(st.just("dcell"), _CROW, _CCOL, st.integers(-2, 1)),
    st.tuples(st.just("drow"), _CROW, st.just("a"), st.integers(-2, 1)),
    st.tuples(st.just("dpart"), _CROW, st.just("a"), st.integers(-2, 1)),
    st.tuples(st.just("flush"), _CROW, st.just("a"), st.just(0)),
    st.tuples(st.just("merge"), _CROW, st.just("a"), st.just(0)),
)


def _counter_stmt(op, row, col, x, clock) -> str:
    k, c = row
    where = f"WHERE k = '{k}' AND c = {c}"
    inc = f"UPDATE ct SET {col} = {col} {'-' if x < 0 else '+'} {abs(x)} {where}"
    using = f"USING TIMESTAMP {max(1, clock + x)}"
    return {
        "inc": inc,
        "batch": (
            f"BEGIN COUNTER BATCH {inc}; DELETE {col} FROM ct {where}; "
            "APPLY BATCH"
        ),
        "dcell": f"DELETE {col} FROM ct {using} {where}",
        "drow": f"DELETE FROM ct {using} {where}",
        "dpart": f"DELETE FROM ct {using} WHERE k = '{k}'",
    }[op]


def _counter_model(history, cut) -> set:
    """The visible (k, c, a, b) rows at writetime ``cut``: per cell, the
    sum of the increments written by then that no delete written by
    then covers at the same or a later writetime."""
    clock, incs, tombs = 0, [], []
    for op, (k, c), col, x in history:
        if op in ("flush", "merge"):
            continue
        clock += 1
        if op in ("inc", "batch"):
            incs.append((k, c, col, clock, x))
        if op == "batch":
            tombs.append((k, c, col, clock))
        elif op.startswith("d"):
            tombs.append((
                k, None if op == "dpart" else c,
                col if op == "dcell" else None, max(1, clock + x),
            ))
    sums: dict = {}
    for k, c, col, wt, d in incs:
        if wt > cut or any(
            tk == k and tc in (None, c) and tcol in (None, col)
            and wt <= tw <= cut
            for tk, tc, tcol, tw in tombs
        ):
            continue
        cell = sums.setdefault((k, c), {})
        cell[col] = cell.get(col, 0) + d
    return {(k, c, v.get("a"), v.get("b")) for (k, c), v in sums.items()}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    history=st.lists(counter_op_st, min_size=3, max_size=20),
    cuts=st.lists(st.integers(0, 22), max_size=2),
)
# pinned: a delete tying an earlier increment, a batch's delete tying
# its own increment, a partition delete newer than a flushed segment
@example(
    history=[
        ("inc", ("x", 0), "a", 2),
        ("dcell", ("x", 0), "a", -1),
        ("inc", ("x", 0), "a", 3),
        ("flush", ("x", 0), "a", 0),
        ("batch", ("y", 1), "b", 4),
        ("inc", ("y", 2), "a", -2),
        ("dpart", ("y", 2), "a", 1),
        ("inc", ("y", 2), "b", 1),
    ],
    cuts=[2, 6],
)
def test_counter_histories_match_the_sum(
    spark, tmp_path_factory, monkeypatch, history, cuts
):
    monkeypatch.setattr(cql_dml, "_SEG_ROW_GROUP", 3)
    table = CqlTable(
        spark, _COUNTER_SCHEMA,
        spill_dir=str(tmp_path_factory.mktemp("ctr")), spill_threshold=4,
    )
    for op, row, col, x in history:
        if op == "flush":
            table.flush()
        elif op == "merge":
            table.stcs_compact()
        else:
            table.execute(_counter_stmt(op, row, col, x, table._clock + 1))
    head = [tuple(r) for r in table.snapshot().collect()]
    assert set(head) == _counter_model(history, float("inf"))
    pinned = [tuple(r) for r in table.partition_frame(["x", "y", "zz"]).collect()]
    assert pinned == head
    for cut in cuts:
        got = {tuple(r) for r in table.snapshot_pitr(cut).collect()}
        assert got == _counter_model(history, cut), cut
