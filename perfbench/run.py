"""Benchmark runner for the cassandra_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Pins the environment (cores, heap, PYTHONPATH, scratch directories),
runs the workload in a child process (``perfbench/child.py``), stops every
process the child left behind, removes the scratch directory and prints
the child's result. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(``# summary``) carries the figures named in perfbench/README.md and the
machine the run used. Exits non-zero, printing no result, when the
engine's sources are missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cql_ingest", "cql_read", "analytics_sf0.01")
CHILD_TIMEOUT_S = 165


def driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kb // (4 * 2**20)))}g"


def pinned_env(tmp: str) -> dict:
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_LOCAL_IP="127.0.0.1",
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                "pyspark-shell",
            ]
        ),
    )
    return env


def group_pids(pgid: int) -> list[int]:
    """Live processes in process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def stop_group(pgid: int) -> None:
    """SIGTERM the group, SIGKILL what is left after 10 s, wait until empty."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.1)
        if not group_pids(pgid):
            return


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cassandra_spark", "cql_session.py")):
        print(f"perfbench: no cassandra_spark sources under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t0", repr(t0), "--workdir", work,
    ]
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out",
                os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=pinned_env(tmp), stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out, rc = "", "timeout"
    else:
        rc = proc.returncode
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if rc != 0 or result is None:
        print(f"perfbench: {args.workload} failed (exit {rc})", file=sys.stderr)
        sys.stderr.write(out)
        return 1
    for line in lines[:-1]:
        print(line)
    print("# summary " + json.dumps(result.pop("summary"), sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
