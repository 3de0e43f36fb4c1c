"""SparkSession factory tuned for the engine.

Design notes (SURVEY.md §4):
- AQE on: runtime join-strategy switching, skew-join splitting and
  partition coalescing replace Cassandra's hand-tuned read path
  (`[C* service/StorageProxy]`, unverified — see SURVEY.md §0).
- UTC session timezone: parquet timestamps are µs-naive; DuckDB (the
  correctness oracle) treats them as naive — UTC makes the two agree.
- shuffle.partitions kept modest for local[] testing; at cluster scale
  AQE coalescing makes the static number far less important.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str | None = None) -> str:
    """Default ``spark.driver.memory``: half the machine's physical
    memory (``MemTotal`` of ``meminfo``, read from /proc/meminfo when
    not given), capped at 24g; 24g when the total cannot be read."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as fh:
                meminfo = fh.read()
        except OSError:
            return "24g"
    m = re.search(r"^MemTotal:\s*(\d+)\s*kB", meminfo, re.M)
    if m is None:
        return "24g"
    mib = int(m.group(1)) // 2048
    return "24g" if mib >= 24 << 10 else f"{mib}m"


def apply_engine_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's session configuration to any builder.

    Used both by :func:`get_spark` (self-owned sessions) and by tests; the
    driver passes its own session, which we re-conf at runtime where legal.
    """
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # dims (region/nation/customer/supplier/part) are broadcast-size even
        # at 100 TB fact scale; 64 MB threshold keeps them on the broadcast path
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # NOTE: runtime bloom-filter join pruning (the shuffle-level analogue
        # of Cassandra's per-SSTable bloom skip) is ON by default in this
        # Spark build (spark.sql.optimizer.runtime.bloomFilter.enabled=true).
        # Do NOT also set ...runtimeFilter.semiJoinReduction.enabled here:
        # on Spark 4.1.2 that key is unreadable post-set and the combination
        # wedges the py4j bridge on the first action (verified 2026-08-13:
        # a bare parquet count hangs with a ~7k msg/s py4j storm).
        # In local[] mode this ONE heap is driver + every executor: 8g
        # across 32 concurrent tasks (256 MB/task) left long sweeps
        # GC-bound — r13 measured the same 115-query tier, same code, at
        # 8g vs 24g: untouched queries halved (a10 7.4->3.3, a11
        # 7.6->3.8, x37 5.4->2.9 s) purely from heap room (guide §5).
        # 24g is the cap; on smaller machines the default is half of
        # physical memory so the heap can never outgrow the box. A real
        # cluster sizes executor memory per host and ignores this knob.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        # State-store SNAPSHOT maintenance (default every 60s) contends
        # with per-epoch delta commits: measured on the s13 drain at the
        # x10 corpus, default-interval commits hit 23-161 s per epoch vs
        # 2-4 s with maintenance deferred — the engine's streaming
        # entries are short-lived availableNow drains that replay their
        # few deltas on recovery and never benefit from a snapshot
        # (r12 opt round). ALWAYS-ON deployments want periodic snapshots
        # for bounded recovery time: set the env to e.g. "60s" there.
        .config(
            "spark.sql.streaming.stateStore.maintenanceInterval",
            os.environ.get("CASSANDRA_SPARK_STATE_MAINT_INTERVAL", "1800s"),
        )
    )


def get_spark(app_name: str = "cassandra-spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession on local[$SPARK_GRAFT_CPUS]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    return apply_engine_conf(builder).getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Best-effort re-conf of a session we didn't build (e.g. the driver's).

    Only runtime-mutable SQL confs; silently skips anything the running
    session refuses to change.
    """
    runtime_confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # see apply_engine_conf: snapshot maintenance vs short drains
        "spark.sql.streaming.stateStore.maintenanceInterval": os.environ.get(
            "CASSANDRA_SPARK_STATE_MAINT_INTERVAL", "1800s"
        ),
    }
    for k, v in runtime_confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
