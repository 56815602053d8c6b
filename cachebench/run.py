#!/usr/bin/env python3
"""Layered benchmark of the cache engine (dbfs_spark_cache_spark).

Run from the repository root:

    python3 cachebench/run.py --workload notebook_rerun --seed 1 --seconds 15 --trace 0

Each invocation is one run in a fresh JVM: it generates its input tables
from ``--seed`` (cachebench/datagen.py), starts Spark through
``session.get_spark``, sets up, then drives one single-client closed loop
for ``--seconds`` of wall time and checks every result against an
expected row count and checksum computed once from an uncached run. The
last line of stdout is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, taken
from spans the benchmark records around calls into each layer
(cachebench/spans.py). Earlier lines carry the settings and the
workload-level diagnostics (hit/miss/uncached latencies, maintenance,
self time per layer). METRICS.md says which end-to-end metric each layer
metric should move, on which workload.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

UNITS = {
    "setup_s": "s", "cached_time_ratio": "ratio", "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B/row",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# JVM heap: the generated inputs are a few MB, and a heap far larger
# than the working set (the session's 48 GB default exceeds small machines)
# lets the collector grow the young generation at will, which makes heap
# growth and peak RSS depend on GC timing rather than on the workload.
DRIVER_MEMORY = "1g"


def configure(run_dir: str, root: str) -> dict:
    """Environment for the JVM and the Python workers, set before Spark
    starts. Everything the run writes stays under ``run_dir``."""
    for sub in ("local", "tmp", "cache", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_HASH_FAMILY": "xxhash64",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # spark-submit's launcher JVM: no perf-data file under /tmp.
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    return settings


def cpu_jiffies() -> tuple:
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields) - fields[3] - fields[4], fields[7]


def vm_hwm_kb(pid) -> int:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def become_subreaper() -> None:
    """Make this process the reaper of every descendant, so that workers
    the JVM forks and orphans are re-parented here and can be waited for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list:
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # "pid (comm) state ppid ...": comm may hold spaces.
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(name))
    return pids


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every child, and every orphaned descendant, has ended;
    kill what is still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    become_subreaper()
    try:
        return run_benchmark(argv)
    finally:
        reap_children()


def run_benchmark(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "dbfs_spark_cache_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("cachebench: run from the repository root (dbfs_spark_cache_spark/ "
              "and bench.py not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    spec = workloads.WORKLOADS[args.workload]
    base = os.path.join(root, ".cachebench")
    run_dir = os.path.join(base, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = configure(run_dir, root)
    data_dir = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    rows = datagen.generate(data_dir, args.seed, spec.sf)
    datagen_s = time.perf_counter() - t0

    jiffies0 = cpu_jiffies()
    tracer = Tracer() if args.trace else None
    ctx = workloads.Context(
        run_dir=run_dir, data_dir=data_dir, seed=args.seed,
        seconds=args.seconds, tracer=tracer,
    )
    try:
        result = workloads.run(ctx, spec)
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    finally:
        ctx.stop()

    busy, steal = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
    settings = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": spec.sf, "rows": rows,
        "datagen_s": round(datagen_s, 3), "env": env,
        "python": platform.python_version(), "pyspark": ctx.pyspark_version,
        "machine": platform.machine(), "cpus_online": os.cpu_count(),
        # Share of CPU time the hypervisor gave to other guests during the
        # run: a slow run with high steal was slowed from outside.
        "steal_share": round(steal / busy, 4) if busy else 0.0,
    }
    print(json.dumps({"settings": settings}))
    print(json.dumps({"diagnostics": result.diagnostics}))

    if tracer is not None:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = result.per_layer
        units = result.per_layer_units
    else:
        metrics = dict(result.e2e, peak_rss_mb=peak_rss_mb)
        units = UNITS
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
