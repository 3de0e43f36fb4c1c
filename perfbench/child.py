"""Runs one benchmark workload in this process and prints its result.

Started by ``perfbench/run.py``, which pins the environment first. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics`` (end-to-end metrics, or per-layer metrics when
traced) and ``summary`` (per-operation figures and the environment).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import statistics
import sys
import time
import urllib.request
from contextlib import nullcontext

from perfbench import cqlgen
from perfbench.tracer import Tracer

# metric names and units: the per-layer list also sets the metrics a
# traced run reports, 0 for a layer the workload never reaches
with open("BENCHMARK.json") as _f:
    BENCH = json.load(_f)

# one query per kind of work: join + aggregate, semi-join, window frames,
# sketch, CQL compiled over the catalog, pandas UDF, ANN, stateful stream
ANALYTICS_QUERIES = (
    "q_flagship_revenue_by_nation x18_exists_late x21_window_frames "
    "a10_hll_distinct cql4_group_by p9_ring_ownership l3c_ivf_ann "
    "s6_stateful_totals"
).split()
EXEC_KINDS = (
    "insert", "update", "delete", "batch", "select_pk", "select_slice", "select_2i",
)
# one write, then five reads: the first point read after the write
# rebuilds the snapshot plan, the later ones hit its memo; one point read
# in three asks for a key no statement writes (a Bloom negative). The
# cycle is this benchmark's fixed choice, not a published mix: it is the
# shortest one that holds every read shape, a rebuild and more memo hits
# than rebuilds, so a run of four cycles measures each of them, and
# every run of the same length holds the same shapes.
READ_CYCLE = ("write", "select_pk", "select_pk", "select_slice", "select_absent", "select_2i")
# whole cycles before the timed phase, every read shape included: the
# first read in a fresh JVM costs seconds of JIT and code generation
READ_WARMUP_CYCLES = 1
# whole cycles the timed phase runs at least, past the deadline if need be
READ_MIN_CYCLES = 4
SETUP_REPEATS = 3

# A traced run does a fixed amount of work, ``traced_per_s`` operations
# (statements, read cycles, passes) per second of --seconds, so that its
# per-layer totals compare across runs and versions; an untraced run goes
# on until the deadline.
INGEST = {"partitions": 4000, "rows": 16, "prep_statements": 2000, "spill_threshold": 50_000,
          "pass_ops": 10_000, "traced_per_s": 4_000}
# preload, then a flush, then the memtable tail: every seed starts the
# timed phase with three segments and a tail of the same length
READ = {"partitions": 1500, "rows": 16, "preload": 7_000, "tail": 200,
        "spill_threshold": 10_000, "traced_per_s": 0.3}
ANALYTICS = {"sf": 0.01, "traced_per_s": 0.2}


# --- small statistics helpers ---------------------------------------------

PROBE_EVERY = 500  # statements between two CPU probes on cql_ingest
REF_PROBE_S = 1e-3


def cpu_probe() -> float:
    """Duration of a fixed pure-Python loop: the host's current speed,
    taken between operations, never inside one. It runs in the driver
    process but touches none of the engine's code or configuration, so a
    change to the engine cannot move it."""
    t = time.perf_counter()
    x = 0
    for i in range(20_000):
        x += i * i
    return time.perf_counter() - t


def pctl(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class SparkStages:
    """Stage and job counters from the driver UI's REST endpoint."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.stage0 = max((s["stageId"] for s in self._get("stages")), default=-1)
        self.job0 = max((j["jobId"] for j in self._get("jobs")), default=-1)

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def since_start(self) -> dict:
        jobs = [j for j in self._get("jobs") if j["jobId"] > self.job0]
        stages = [s for s in self._get("stages?status=complete") if s["stageId"] > self.stage0]
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / 2**20,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        }


# --- the run ---------------------------------------------------------------

class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workdir = args.workdir
        self.tracer = Tracer() if args.trace else None
        self.failed = 0
        self.attempted = 0
        self.mismatches: list[str] = []
        self.lat: list[float] = []  # foreground op latencies, seconds
        self.summary: dict = {}
        self.layer: dict[str, float] = {}

    # setup ---------------------------------------------------------------
    def start_spark(self):
        from cassandra_spark import session

        if self.tracer:
            self.tracer.wrap(session, "get_spark", "session.get_spark")
        self.spark = session.get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.t_spark = time.time() - self.args.t0

    def wrap_layers(self) -> None:
        from cassandra_spark import cql_session
        from cassandra_spark.cql_dml import CqlTable
        from cassandra_spark.operators import cql_queries

        t = self.tracer
        t.wrap(cql_session.CqlSession, "execute",
               lambda a, kw: "cql_session.execute." + classify(a[1]))
        t.wrap(CqlTable, "flush", "cql_dml.flush", self._note_flush)
        t.wrap(CqlTable, "stcs_compact", "cql_dml.compact", self._note_compact)
        t.wrap(CqlTable, "compact_segments", "cql_dml.compact", self._note_compact)
        t.wrap(CqlTable, "snapshot", "cql_dml.snapshot", self._note_snapshot)
        # cql_select is imported by name: patch it where it is called
        t.wrap(cql_session, "cql_select", "cql.cql_select")
        t.wrap(cql_queries, "cql_select", "cql.cql_select")
        self._last_snap: dict[int, object] = {}
        self._flush_bytes = 0
        self._sstables_max = 0

    def _note_flush(self, span, args, path) -> None:
        if path:
            self._flush_bytes += os.path.getsize(path)
        self._sstables_max = max(self._sstables_max, len(args[0]._segments))

    def _note_compact(self, span, args, created) -> None:
        span.note = "merged" if created else ""
        self._sstables_max = max(self._sstables_max, len(args[0]._segments))

    def _note_snapshot(self, span, args, df) -> None:
        key = id(args[0])
        span.note = "hit" if self._last_snap.get(key) is df else "miss"
        self._last_snap[key] = df

    def host_factor(self, probes: list[float]) -> float:
        """Scale that turns times into times on a host where the median
        CPU probe takes REF_PROBE_S; the summary line keeps the median."""
        self.summary["cpu_probe_ms"] = statistics.median(probes) * 1e3
        return REF_PROBE_S / statistics.median(probes)

    def end_setup(self, prep_times: list[float], warmup_s: float) -> float:
        """Returns set-up time: Spark start (once) + median of the repeated
        preparations + the warm-up pass, unscaled; the summary line keeps
        the parts. Objects alive now, the reference model included, leave
        the cyclic GC so its pauses in the timed phase come from the
        engine's own allocations."""
        gc.collect()
        gc.freeze()
        prep = statistics.median(prep_times)
        self.summary.update(setup_spark_s=self.t_spark, setup_prep_s=prep,
                            setup_warmup_s=warmup_s)
        return self.t_spark + prep + warmup_s

    def phase(self, seconds: float, minimum: int, traced_per_s: float):
        """Operation numbers of the timed phase: at least ``minimum``, then
        on to the deadline; traced, exactly ``traced_per_s * seconds``."""
        if self.tracer:
            yield from range(max(minimum, round(traced_per_s * seconds)))
            return
        deadline = time.perf_counter() + seconds
        n = 0
        while n < minimum or time.perf_counter() < deadline:
            yield n
            n += 1

    # checks ----------------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            if len(self.mismatches) < 5:
                self.mismatches.append(what)

    # result ----------------------------------------------------------------
    def common_metrics(self, setup_s: float, wall_s: float, geomean_s: float) -> dict:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        driver, jvm = vm_hwm_mb(), vm_hwm_mb(jvm_pid)
        self.summary["peak_rss_mb"] = driver + jvm
        self.layer["mem.driver_peak_rss_mb"] = driver
        self.layer["mem.jvm_peak_rss_mb"] = jvm
        return {"setup_s": setup_s, "wall_s": wall_s, "op_geomean_ms": geomean_s * 1e3}


def classify(stmt: str) -> str:
    head = stmt.lstrip()[:6].upper()
    if head.startswith("SELECT"):
        if " tag = " in stmt:
            return "select_2i"
        return "select_slice" if " c >= " in stmt else "select_pk"
    return {"INSERT": "insert", "UPDATE": "update", "DELETE": "delete",
            "BEGIN ": "batch"}.get(head, "other")


# --- CQL workloads -----------------------------------------------------------

def new_session(run: Run, spill_threshold: int, tag: str):
    from cassandra_spark.cql_session import CqlSession

    spill = os.path.join(run.workdir, "spill", tag)
    sess = CqlSession(run.spark, spill_dir=spill, spill_threshold=spill_threshold)
    sess.execute(cqlgen.DDL)
    return sess, spill


def apply_stream(sess, model, stream, n: int) -> None:
    for _ in range(n):
        st = stream.next()
        sess.execute(st.text)
        model.apply(st)


def cql_ingest(run: Run, seed: int, seconds: float) -> dict:
    import pyarrow.parquet  # noqa: F401  (import cost stays out of the timed phase)

    p = INGEST
    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        model = cqlgen.RefModel()
        stream = cqlgen.WriteStream(seed, p["partitions"], p["rows"], lambda: model.clock)
        sess, spill = new_session(run, p["spill_threshold"], f"ingest{i}")
        apply_stream(sess, model, stream, p["prep_statements"])
        prep.append(time.perf_counter() - t)
    setup = run.end_setup(prep, 0.0)
    if run.tracer:
        run.wrap_layers()
        stages = SparkStages(run.spark)
    table = sess.table(cqlgen.TABLE)
    base = table_counters(table, model)
    # whole seconds into the phase -> (statement latencies, probe durations)
    windows: dict[int, tuple[list, list]] = {}
    t_begin = time.perf_counter()
    for _ in run.phase(seconds, 1, p["traced_per_s"]):
        if run.attempted % PROBE_EVERY == 0:
            w = windows.setdefault(int(time.perf_counter() - t_begin), ([], []))
            w[1].append(cpu_probe())
        st = stream.next()
        t = time.perf_counter()
        try:
            sess.execute(st.text)
        except Exception as exc:  # a refused write counts as failed
            run.check(False, f"{st.kind}: {exc}")
            continue
        finally:
            run.attempted += 1
        dt = time.perf_counter() - t
        run.lat.append(dt)
        windows.setdefault(int(t - t_begin), ([], []))[0].append(dt)
        model.apply(st)
    t_end = time.perf_counter()
    if run.tracer:
        run.layer.update(stages.since_start())
    engine_s = sum(run.lat)
    # final state: every visible row through one CQL SELECT
    rows = sess.execute(f"SELECT k, c, v, n, tag FROM {cqlgen.TABLE}").collect()
    got = sorted(tuple(r) for r in rows)
    want = model.all_rows()
    run.attempted += 1
    run.check(got == want, f"final state: {len(got)} rows vs model {len(want)}")
    # This path is single-threaded Python, and on a shared host its speed
    # moves between levels 1.5x and 2.4x apart for seconds to minutes at a
    # time. Each second's latencies are therefore scaled by that second's
    # probe: figures read as ms on a host where the probe takes 1 ms.
    probes = [x for _, pr in windows.values() for x in pr]
    full = [(lat, REF_PROBE_S / statistics.median(pr or probes))
            for lat, pr in windows.values() if lat]
    metrics = run.common_metrics(
        setup,
        wall_s=sum(sum(lat) * k for lat, k in full) / sum(len(lat) for lat, _ in full)
        * p["pass_ops"],
        geomean_s=statistics.median(geomean(lat) * k for lat, k in full))
    run.summary.update(
        write_p50_us=statistics.median(run.lat) * 1e6,
        write_p99_us=pctl(run.lat, 0.99) * 1e6,
        write_samples=len(run.lat),
        cpu_probe_ms=statistics.median(probes) * 1e3,
        statements_per_s=len(run.lat) / engine_s,
        space_amp=dir_bytes(spill) / model.live_bytes(),
        final_rows=len(want),
    )
    if run.tracer:
        cql_layers(run, sess, table, model, spill, base, t_begin, t_end)
    return metrics


def read_stmt(kind: str, rng, hot: cqlgen.Zipf):
    """(CQL text, model query) for one read of ``kind``."""
    if kind == "select_2i":
        tag = f"t{rng.randrange(cqlgen.N_TAGS)}"
        return (f"SELECT k, c, v, n FROM {cqlgen.TABLE} WHERE tag = '{tag}'",
                ("tag", tag))
    if kind == "select_absent":
        k = cqlgen.absent_key(rng.randrange(1_000_000))
    else:
        k = f"p{hot.sample():06d}"
    if kind == "select_slice":
        lo = rng.randrange(READ["rows"] - 4)
        return (f"SELECT c, v, n, tag FROM {cqlgen.TABLE} WHERE k = '{k}' "
                f"AND c >= {lo} AND c < {lo + 4}", ("slice", k, lo, lo + 4))
    return (f"SELECT c, v, n, tag FROM {cqlgen.TABLE} WHERE k = '{k}'", ("pk", k))


def read_slot(op: int) -> str:
    """The slot op number ``op`` of the cycle is timed in: the point read
    right after the write (it rebuilds the snapshot plan) has its own."""
    i = op % len(READ_CYCLE)
    return "pk_after_write" if i == 1 else READ_CYCLE[i]


def expected(model: cqlgen.RefModel, q) -> list:
    if q[0] == "tag":
        return model.by_tag(q[1])
    if q[0] == "slice":
        return model.partition(q[1], q[2], q[3])
    return model.partition(q[1])


def cql_read(run: Run, seed: int, seconds: float) -> dict:
    import random

    p = READ
    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        model = cqlgen.RefModel()
        stream = cqlgen.WriteStream(seed, p["partitions"], p["rows"], lambda: model.clock)
        sess, spill = new_session(run, p["spill_threshold"], f"read{i}")
        sess.execute(cqlgen.INDEX_DDL)
        apply_stream(sess, model, stream, p["preload"])
        sess.table(cqlgen.TABLE).flush()
        apply_stream(sess, model, stream, p["tail"])
        prep.append(time.perf_counter() - t)
    rng = random.Random(seed + 1)
    hot = cqlgen.Zipf(p["partitions"], cqlgen.ZIPF_S, rng)

    def one(kind: str) -> float:
        """Run one op of the cycle and check it; returns its latency."""
        if kind == "write":
            st = stream.next()
            t = time.perf_counter()
            sess.execute(st.text)
            dt = time.perf_counter() - t
            model.apply(st)
            return dt
        text, q = read_stmt(kind, rng, hot)
        t = time.perf_counter()
        rows = sess.execute(text).collect()
        dt = time.perf_counter() - t
        run.check(sorted(tuple(r) for r in rows) == expected(model, q), f"{text}")
        return dt

    t = time.perf_counter()
    for kind in READ_CYCLE * READ_WARMUP_CYCLES:
        one(kind)
    warm = time.perf_counter() - t
    setup = run.end_setup(prep, warm)
    if run.tracer:
        run.wrap_layers()
        stages = SparkStages(run.spark)
    table = sess.table(cqlgen.TABLE)
    base = table_counters(table, model)
    read_spans = []
    by_slot: dict[str, list[float]] = {}
    probes = []
    t_begin = time.perf_counter()
    # READ_MIN_CYCLES whole cycles, then on to the deadline, mid-cycle if need be
    n = len(READ_CYCLE)
    for op in run.phase(seconds, READ_MIN_CYCLES * n, p["traced_per_s"] * n):
        kind = READ_CYCLE[op % n]
        slot = read_slot(op)
        n_spans = len(run.tracer.spans) if run.tracer else 0
        run.attempted += 1
        try:
            dt = one(kind)
        except Exception as exc:
            run.check(False, f"{kind}: {exc}")
            continue
        by_slot.setdefault(slot, []).append(dt)
        probes += [cpu_probe() for _ in range(3)]
        if kind != "write":
            run.lat.append(dt)
            read_spans.append((n_spans, dt))
    t_end = time.perf_counter()
    if run.tracer:
        run.layer.update(stages.since_start())
    # per-slot medians, each counted as often as the slot occurs in the
    # cycle, so a cycle cut short at the deadline does not change the mix
    weight = {}
    for i in range(len(READ_CYCLE)):
        weight[read_slot(i)] = weight.get(read_slot(i), 0) + 1
    # scaled by the CPU probes taken after each op
    k = run.host_factor(probes)
    med = {slot: statistics.median(v) * k for slot, v in by_slot.items()}
    reads = {slot: w for slot, w in weight.items() if slot != "write"}
    metrics = run.common_metrics(
        setup,
        wall_s=sum(w * med[slot] for slot, w in weight.items()),
        geomean_s=math.exp(sum(w * math.log(med[slot]) for slot, w in reads.items())
                           / sum(reads.values())),
    )
    run.summary.update(
        read_p50_ms=statistics.median(run.lat) * 1e3,
        read_samples=len(run.lat),
        space_amp=dir_bytes(spill) / model.live_bytes(),
    )
    if run.tracer:
        cql_layers(run, sess, table, model, spill, base, t_begin, t_end)
        # read latency not spent building the snapshot plan or compiling CQL
        selfs = []
        for n0, dt in read_spans:
            top = next(i for i in range(n0, len(run.tracer.spans))
                       if run.tracer.spans[i].name.startswith("cql_session.execute."))
            selfs.append(dt - run.tracer.covered(top, ("cql_dml.snapshot", "cql.cql_select")))
        run.layer["cql_read.exec_self_s"] = statistics.mean(selfs)
        run.layer["spark.jobs_per_read"] = run.layer["spark.jobs"] / len(read_spans)
    return metrics


def table_counters(table, model) -> dict:
    """The table's cumulative counters, read at the start of the timed
    phase so that the per-layer figures count that phase only."""
    return {"history": len(table.compaction_history), "user_bytes": model.user_bytes,
            "bloom": dict(table.bloom_stats), "index": dict(table.index_stats)}


def cql_layers(run, sess, table, model, spill, base, t_begin, t_end) -> None:
    """Per-layer metrics of the CQL layers over the timed window."""
    tr = run.tracer
    timed = [s for s in tr.spans if t_begin <= s.start <= t_end]
    L = run.layer
    for kind in EXEC_KINDS:
        ss = [s for s in timed if s.name == f"cql_session.execute.{kind}"]
        L[f"cql_session.execute.{kind}.count"] = len(ss)
        L[f"cql_session.execute.{kind}.busy_s"] = sum(s.dur for s in ss)
    flushes = [s for s in timed if s.name == "cql_dml.flush"]
    compacts = [s for s in timed if s.name == "cql_dml.compact"]
    L["cql_dml.flush.count"] = len(flushes)
    L["cql_dml.flush.busy_s"] = sum(s.dur for s in flushes)
    L["cql_dml.compact.count"] = sum(s.note == "merged" for s in compacts)
    L["cql_dml.compact.busy_s"] = sum(s.dur for s in compacts)
    hist = table.compaction_history[base["history"]:]
    for i, name in ((5, "bytes_in"), (6, "bytes_out"), (7, "rows_in"), (8, "rows_out")):
        L[f"cql_dml.compact.{name}"] = sum(h[i] for h in hist)
    L["cql_dml.write_amp"] = ((run._flush_bytes + sum(h[6] for h in hist))
                              / (model.user_bytes - base["user_bytes"]))
    L["cql_dml.space_amp"] = dir_bytes(spill) / model.live_bytes()
    sstables = sess.tablestats().collect()[0].sstable_count
    L["cql_dml.sstable_count.end"] = sstables
    L["cql_dml.sstable_count.max"] = max(run._sstables_max, sstables)
    for what in ("bloom", "index"):
        for k in ("checked", "skipped"):
            L[f"cql_dml.{what}.{k}"] = getattr(table, f"{what}_stats")[k] - base[what][k]
    snap_layers(run, timed)


def snap_layers(run, timed) -> None:
    L = run.layer
    snaps = [s for s in timed if s.name == "cql_dml.snapshot"]
    hits = [s.dur for s in snaps if s.note == "hit"]
    misses = [s.dur for s in snaps if s.note == "miss"]
    L["cql_dml.snapshot.count"] = len(snaps)
    L["cql_dml.snapshot.busy_s"] = sum(s.dur for s in snaps)
    L["cql_dml.snapshot.memo_hit_ratio"] = len(hits) / len(snaps) if snaps else 0.0
    L["cql_dml.snapshot.rebuild_ms"] = statistics.median(misses) * 1e3 if misses else 0.0
    L["cql_dml.snapshot.memo_hit_ms"] = statistics.median(hits) * 1e3 if hits else 0.0
    sel = [s for s in timed if s.name == "cql.cql_select"]
    L["cql.cql_select.count"] = len(sel)
    L["cql.cql_select.busy_s"] = sum(s.dur for s in sel)


# --- analytics -----------------------------------------------------------------

def analytics(run: Run, seed: int, seconds: float) -> dict:
    import importlib.util

    from cassandra_spark import registry
    from perfbench import datagen

    registry.load_all()
    prep = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        data = os.path.join(run.workdir, f"data{i}")
        sizes = datagen.generate(data, seed, ANALYTICS["sf"])
        prep.append(time.perf_counter() - t)
    spark = run.spark
    # warm-up pass, collected for the oracle check after the timed phase
    t = time.perf_counter()
    results = {}
    for q in ANALYTICS_QUERIES:
        try:
            results[q] = registry.QUERIES[q](spark, data).toPandas()
        except Exception as exc:
            run.check(False, f"{q} warm-up: {exc}")
    registry.release_caches(spark)
    setup = run.end_setup(prep, time.perf_counter() - t)
    if run.tracer:
        run.wrap_layers()
        stages = SparkStages(run.spark)
    per_q: dict[str, list[float]] = {q: [] for q in ANALYTICS_QUERIES}
    probes = []
    passes = 0
    t_begin = time.perf_counter()
    for _ in run.phase(seconds, 2, ANALYTICS["traced_per_s"]):
        for q in ANALYTICS_QUERIES:
            run.attempted += 1
            t = time.perf_counter()
            try:
                with run.tracer.span(f"operators.{q}") if run.tracer else nullcontext():
                    registry.QUERIES[q](spark, data).write.mode("overwrite").format("noop").save()
            except Exception as exc:
                run.check(False, f"{q}: {exc}")
                continue
            dt = time.perf_counter() - t
            per_q[q].append(dt)
            probes += [cpu_probe() for _ in range(3)]
            run.lat.append(dt)
        passes += 1
        registry.release_caches(spark)
    t_end = time.perf_counter()
    if run.tracer:
        run.layer.update(stages.since_start())
    # oracle check outside the timed phase: DuckDB over the same files
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(os.getcwd(), "tools", "check_oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    for q, sdf in results.items():
        ddf = oracle.duck_run(data, registry.ORACLE[q])
        same = (len(sdf) == len(ddf) and sorted(sdf.columns) == sorted(ddf.columns)
                and oracle.value_hash(sdf) == oracle.value_hash(ddf))
        run.attempted += 1
        run.check(same, f"{q}: oracle mismatch ({len(sdf)} vs {len(ddf)} rows)")
    # best of the passes per query, as bench.py times them: a pass slowed
    # by a neighbour on the host moves neither the pass time nor the mean.
    # Scaled like cql_read by CPU probes, taken after each query.
    best = {q: min(v) for q, v in per_q.items() if v}
    k = run.host_factor(probes)
    metrics = run.common_metrics(
        setup, wall_s=sum(best.values()) * k, geomean_s=geomean(best.values()) * k)
    run.summary.update(
        query_geomean_s=geomean(best.values()),
        passes=passes,
        data_rows=sizes,
    )
    if run.tracer:
        for q in ANALYTICS_QUERIES:
            run.layer[f"operators.{q}.s"] = best.get(q, 0.0)
        timed = [s for s in run.tracer.spans if t_begin <= s.start <= t_end]
        snap_layers(run, timed)
    return metrics


WORKLOADS = {"cql_ingest": cql_ingest, "cql_read": cql_read, "analytics_sf0.01": analytics}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="runner start, epoch s")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()

    run = Run(args)
    run.start_spark()
    try:
        metrics = WORKLOADS[args.workload](run, args.seed, args.seconds)
        if run.tracer:
            run.tracer.unwrap()
            tr = run.tracer
            run.layer["session.get_spark_s"] = tr.named("session.get_spark")[0].dur
            run.layer["trace.self_s"] = tr.self_s
            run.layer["trace.spans"] = len(tr.spans)
            run.layer["trace.wall_s"] = metrics["wall_s"]
            if args.trace_out:
                tr.dump(args.trace_out)
    finally:
        run.spark.stop()
    import pyarrow
    import pyspark

    run.summary.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        failed_ops_ratio=run.failed / max(1, run.attempted),
        mismatches=run.mismatches,
        cores=os.environ.get("SPARK_GRAFT_CPUS"),
        driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
    )
    values, listed = (run.layer, "per_layer") if args.trace else (metrics, "end_to_end")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in BENCH[listed]},
        "summary": run.summary,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
