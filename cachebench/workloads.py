"""The workloads, the op runner and the metrics drawn from its records.

An op is one closed-loop request: the timed call on a DataFrame the user
has already built, then an untimed check of its result against the
expected row count and checksum of an uncached run of the same plan.
"""
from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

import numpy as np

import stats
from spans import Tracer, span

MAIN_NS = "cachebench"
WARM_NS = "cachebench_warm"
COUNTERS = ("hits", "misses", "writes", "write_skips", "spark_cache", "threshold_skips")

# notebook_rerun's working set, in popularity-rank order: HEADLINE queries
# that cache cleanly (relational, dedup, similarity, text) and two
# local pandas frames cached through create_cached_dataframe.
WORKING_SET = (
    "q3_shipping_priority",
    "pandas:small",
    "text_stats",
    "dedup_minhash_lsh",
    "similarity_topk_cosine",
    "pandas:large",
)
PANDAS_ROWS = {"pandas:small": 2_000, "pandas:large": 20_000}

ROLLUP_WINDOW_DAYS = 1200
ORDER_DAYS = 2404  # o_orderdate spans 1995-01-01 + [0, 2404) days (datagen)
MAINT_EVERY = 2  # fresh_writes: one maintenance op per this many writes
ZIPF_BLOCK = 16  # notebook_rerun: draws per stratified Zipf block
# notebook_rerun's cycle: a Zipf block of re-runs with one uncached run of
# each working-set entry spread evenly among them.
NOTEBOOK_CYCLE = ZIPF_BLOCK + len(WORKING_SET)
UNCACHED_SLOTS = {
    int((j + 0.5) * NOTEBOOK_CYCLE / len(WORKING_SET)): entry
    for j, entry in enumerate(WORKING_SET)
}
EVICT_BUDGET_BYTES = 150_000


def rollup(spark, data_dir: str, start_day: int):
    """bench.py's customer-month revenue rollup over a window of orders
    starting ``start_day`` days after 1995-01-01: each start day is a new
    plan, so a new cache key."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{data_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{data_dir}/orders.parquet")
    c = spark.read.parquet(f"{data_dir}/customer.parquet")
    n = spark.read.parquet(f"{data_dir}/nation.parquet")
    lo = F.date_add(F.lit("1995-01-01").cast("date"), start_day)
    hi = F.date_add(F.lit("1995-01-01").cast("date"), start_day + ROLLUP_WINDOW_DAYS)
    o = o.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey", "n_name",
            F.trunc("o_orderdate", "month").alias("order_month"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_lines"),
            F.count_distinct("l_partkey").alias("n_parts"),
            F.avg("l_quantity").alias("avg_qty"),
        )
        .where(F.col("n_parts") >= 1)
        .drop("n_parts")
        .repartition(8, "n_name")
    )


def pandas_frame(seed: int, rows: int):
    import pandas as pd

    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "id": np.arange(rows, dtype=np.int64),
        "score": np.round(rng.normal(0.0, 1.0, rows), 6),
        "bucket": rng.integers(0, 50, rows).astype(np.int32),
        "tag": [f"t{k}" for k in rng.integers(0, 1000, rows)],
    })


def checksum(df) -> tuple:
    """Checksum (see stats.frame_checksum) of ``df``, computed in this process
    from one collect: columns renamed by position (results may repeat a
    name), floats as doubles, everything else rendered as strings."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    names = [f"c{i}" for i in range(len(df.columns))]
    df = df.toDF(*names)
    floats = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    ]
    frame = df.select(*[
        F.col(c).cast("double" if c in floats else "string") for c in names
    ]).toPandas()
    return stats.frame_checksum(frame, floats)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers), counting descendants that have
    already been reaped. CPU time leaves out the time the hypervisor gives
    to other guests, which wall time on a shared host does not."""
    stat = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime.
        stat[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stat.items():
        children[ppid].append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return ticks / CLK_TCK


def exc_line(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:160]}"


class Context:
    """State of one run: the session, the library modules, the op records."""

    def __init__(self, run_dir, data_dir, seed, seconds, tracer: Optional[Tracer]):
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.active: Optional[Tracer] = None  # the tracer while enabled
        self.phase = "setup"
        self.spark = None
        self.pyspark_version = None
        self.ops: List[dict] = []
        self.errors: List[str] = []
        self.expected: Dict[str, Optional[tuple]] = {}
        self.state: dict = {}

    def load_library(self) -> None:
        import importlib

        import pyspark

        import bench

        self.pyspark_version = pyspark.__version__
        self.lib = importlib.import_module("dbfs_spark_cache_spark")
        self.management = importlib.import_module("dbfs_spark_cache_spark.management")
        self.staging = importlib.import_module("dbfs_spark_cache_spark.operators.staging")
        self.fs = importlib.import_module("dbfs_spark_cache_spark.fs")
        self.queries = importlib.import_module("dbfs_spark_cache_spark.operators").QUERIES
        self.materialize = bench.materialize
        foreign = set(WORKING_SET) - set(bench.HEADLINE) - set(PANDAS_ROWS)
        if foreign:
            raise ValueError(f"not bench.HEADLINE queries: {sorted(foreign)}")

    def trace(self, on: bool) -> None:
        if self.tracer is None or on == (self.active is not None):
            return
        if on:
            self.tracer.enable()
            self.active = self.tracer
        else:
            self.tracer.disable()
            self.active = None

    def use_namespace(self, ns: str) -> None:
        self.lib.reconfigure(
            SPARK_CACHE_DIR=os.path.join(self.run_dir, "cache", ns) + "/",
            CACHE_DATABASE=ns,
        )

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit. ``spark.stop()`` alone
        leaves the gateway JVM running until it notices, after this process
        has exited, that its stdin is closed."""
        self.trace(False)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                try:
                    gateway.shutdown()
                except Exception:  # the JVM may already be gone
                    pass
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()  # the gateway server exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()

    # -- ops -----------------------------------------------------------------

    def op(self, kind: str, run: Callable, arg=None,
           verify: Optional[Callable] = None, name: Optional[str] = None,
           outcome: Optional[str] = None) -> dict:
        """Time ``run(arg)`` as one op, then check its result with
        ``verify(result, record)``, untimed. ``outcome`` names ops that move
        no cache counter (queries, direct-data calls, maintenance); the
        others are classified hit / miss / skip from the session counters."""
        tracer = self.active
        rec = {
            "id": f"{self.phase}-{len(self.ops) + 1}", "phase": self.phase,
            "traced": tracer is not None, "kind": kind, "name": name,
            "ms": None, "cpu_ms": None, "ok": False, "outcome": outcome or kind, "jobs": None,
        }
        self.ops.append(rec)
        sc = self.spark.sparkContext
        before = self.lib.cache_session_stats()
        if tracer is not None:
            tracer.op_id = rec["id"]
            sc.setJobGroup(rec["id"], kind)
        out = None
        try:
            cpu0 = tree_cpu_s()
            token = tracer.begin(f"op.{kind}") if tracer is not None else None
            t0 = time.perf_counter()
            try:
                out = run(arg)
            finally:
                rec["ms"] = (time.perf_counter() - t0) * 1000.0
                if token is not None:
                    tracer.end(token)
                rec["cpu_ms"] = (tree_cpu_s() - cpu0) * 1000.0
            rec["ok"] = True
        except Exception as exc:  # an op that raises is a failed op; keep going
            self.errors.append(f"{rec['id']} {kind} {name or ''}: {exc_line(exc)}")
        finally:
            if tracer is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["id"]))
                tracer.op_id = None
        after = self.lib.cache_session_stats()
        delta = {k: after[k] - before[k] for k in COUNTERS}
        rec["delta"] = delta
        if outcome is None:
            if delta["hits"]:
                rec["outcome"] = "hit"
            elif delta["writes"]:
                rec["outcome"] = "miss"
            elif any(delta.values()):
                rec["outcome"] = "skip"
        if rec["ok"] and verify is not None:
            t0 = time.perf_counter()
            try:
                rec["ok"] = bool(verify(out, rec))
                if not rec["ok"] and name is not None:
                    self.errors.append(f"{rec['id']} {kind} {name}: result mismatch")
            except Exception as exc:
                rec["ok"] = False
                self.errors.append(f"{rec['id']} verify {name or ''}: {exc_line(exc)}")
            rec["verify_ms"] = (time.perf_counter() - t0) * 1000.0
        return rec

    def expect(self, key: str, build: Callable) -> None:
        """Expected checksum of an uncached run of ``build()``; None (every
        op on it then fails) when the uncached run itself raises."""
        try:
            self.expected[key] = checksum(build())
        except Exception as exc:
            self.expected[key] = None
            self.errors.append(f"expected {key}: {exc_line(exc)}")

    def matches(self, key: str) -> Callable:
        def check(df, _rec) -> bool:
            expected = self.expected.get(key)
            return expected is not None and stats.checksums_match(expected, checksum(df))
        return check

    def build(self, make: Callable):
        """The user's DataFrame construction, outside any op's timing."""
        with span(self.active, "client.build"):
            return make()

    def cache_and_materialize(self, df):
        cached = df.cacheToStorage(override_prefer_spark_cache=True)
        with span(self.active, "spark.materialize"):
            self.materialize(cached)
        return cached

    def direct_and_materialize(self, pdf):
        cached = self.lib.create_cached_dataframe(self.spark, pdf)
        with span(self.active, "spark.materialize"):
            self.materialize(cached)
        return cached

    def run_query(self, name: str):
        with span(self.active, f"operators.{name}.build"):
            df = self.queries[name](self.spark, self.data_dir)
        with span(self.active, f"spark.{name}.exec"):
            self.materialize(df)
        return df

    def maintain(self, budget: int, confirm: bool = True):
        before = self.management.cache_stats(self.spark)
        evicted = self.management.evict_to_size_budget(
            self.spark, budget, confirm_delete=confirm
        )
        return before, evicted


# -- workloads -----------------------------------------------------------------

def warmup(ctx: Context) -> None:
    """Same for every workload, in a throwaway namespace: Spark codegen and
    one call into every layer (write, hit, direct-data miss and hit, an
    operator stage, registry stats and a dry-run eviction), so no first
    touch lands in the timed loop and every layer has a span when traced."""
    spark = ctx.spark
    ctx.use_namespace(WARM_NS)
    ctx.op("query", run=lambda _: ctx.run_query("text_stats"),
           name="text_stats", outcome="query")

    def tiny():
        return spark.range(5000).selectExpr("id % 10 AS k", "id AS v").groupBy("k").sum("v")

    for kind in ("warm_write", "warm_hit"):
        ctx.op(kind, run=ctx.cache_and_materialize, arg=ctx.build(tiny))
    pdf = pandas_frame(0, 100)
    for _ in range(2):
        ctx.op("direct", run=lambda _: ctx.direct_and_materialize(pdf), outcome="direct")
    ctx.op(
        "stage",
        run=lambda df: ctx.materialize(ctx.staging.stage_cache(df, "warmup")),
        arg=ctx.build(lambda: spark.range(3000).selectExpr("id % 7 AS k").distinct()),
    )
    ctx.op("maint", run=lambda _: ctx.maintain(0, confirm=False), outcome="maint",
           verify=lambda out, rec: record_dry_run(ctx, out, rec))
    ctx.use_namespace(MAIN_NS)


def _entry_op(ctx: Context, kind: str, entry: str, frame) -> dict:
    direct = entry.startswith("pandas:")
    return ctx.op(
        kind, run=ctx.direct_and_materialize if direct else ctx.cache_and_materialize,
        arg=frame, verify=ctx.matches(entry), name=entry,
        outcome="direct" if direct else None,
    )


def notebook_prepare(ctx: Context) -> None:
    ctx.state["pandas"] = {
        key: pandas_frame(ctx.seed * 7 + i, rows)
        for i, (key, rows) in enumerate(sorted(PANDAS_ROWS.items()))
    }
    for entry in WORKING_SET:
        if entry.startswith("pandas:"):
            pdf = ctx.state["pandas"][entry]
            ctx.expect(entry, lambda: ctx.spark.createDataFrame(pdf))
        else:
            ctx.expect(entry, lambda: ctx.queries[entry](ctx.spark, ctx.data_dir))
    ctx.state["zipf"] = stats.zipf_stream(ctx.seed, len(WORKING_SET), block=ZIPF_BLOCK)
    ctx.state["k"] = 0


def notebook_setup(ctx: Context) -> None:
    """Fill the working set: build each entry's DataFrame once (the
    notebook cell that defines it) and cache it; the loop re-runs the
    display cell on these same DataFrames."""
    frames = ctx.state["frames"] = {}
    for entry in WORKING_SET:
        if entry.startswith("pandas:"):
            frames[entry] = ctx.state["pandas"][entry]
        else:
            frames[entry] = ctx.build(
                lambda: ctx.queries[entry](ctx.spark, ctx.data_dir)
            )
        _entry_op(ctx, "fill", entry, frames[entry])


def notebook_step(ctx: Context) -> None:
    slot = ctx.state["k"] % NOTEBOOK_CYCLE
    ctx.state["k"] += 1
    if slot in UNCACHED_SLOTS:
        entry = UNCACHED_SLOTS[slot]
        if entry.startswith("pandas:"):
            run = lambda pdf: ctx.materialize(ctx.spark.createDataFrame(pdf))  # noqa: E731
        else:
            run = ctx.materialize
        ctx.op("uncached", run=run, arg=ctx.state["frames"][entry], name=entry,
               outcome="uncached")
        return
    entry = WORKING_SET[next(ctx.state["zipf"])]
    _entry_op(ctx, "rerun", entry, ctx.state["frames"][entry])


def fresh_prepare(ctx: Context) -> None:
    ctx.state["variants"] = stats.fresh_variants(ctx.seed, ORDER_DAYS - ROLLUP_WINDOW_DAYS)
    ctx.state["n"] = 0
    ctx.state["warm"] = [fresh_variant(ctx) for _ in range(MAINT_EVERY)]


def fresh_setup(ctx: Context) -> None:
    """One cycle of the loop in the warm-up namespace, so that the write
    path's generated and JIT-compiled code is warm before timing starts."""
    ctx.use_namespace(WARM_NS)
    for key, df in ctx.state.pop("warm"):
        fresh_ops(ctx, key, df)
    ctx.use_namespace(MAIN_NS)


def fresh_variant(ctx: Context) -> tuple:
    """A never-seen variant: its cache key and DataFrame, with the expected
    checksum of an uncached run (untimed)."""
    day = next(ctx.state["variants"])
    key = f"rollup:{day}"
    df = ctx.build(lambda: rollup(ctx.spark, ctx.data_dir, day))
    ctx.expect(key, lambda: df)
    return key, df


def fresh_step(ctx: Context) -> None:
    fresh_ops(ctx, *fresh_variant(ctx))


def fresh_ops(ctx: Context, key: str, df) -> None:
    """A write op and an uncached recompute of the same plan, alternating
    which goes first; every MAINT_EVERY writes, a cache_stats +
    evict_to_size_budget pass."""
    write = (lambda: ctx.op("write", run=ctx.cache_and_materialize, arg=df,
                            verify=ctx.matches(key), name=key))
    uncached = (lambda: ctx.op("uncached", run=ctx.materialize, arg=df,
                               name=key, outcome="uncached"))
    first, second = (write, uncached) if ctx.state["n"] % 2 == 0 else (uncached, write)
    first()
    second()
    ctx.state["n"] += 1
    if ctx.state["n"] % MAINT_EVERY == 0:
        ctx.op("maint", run=lambda _: ctx.maintain(EVICT_BUDGET_BYTES), outcome="maint",
               verify=lambda out, rec: verify_eviction(ctx, out, rec))


def record_dry_run(ctx: Context, out, rec: dict) -> bool:
    """A dry run lists every entry over a zero budget and deletes none."""
    before, would_evict = out
    after = ctx.management.cache_stats(ctx.spark)
    rec.update(entries=before["n_consistent"], evicted_entries=0, evicted_bytes=0)
    return (
        len(would_evict) == before["n_consistent"]
        and after["total_cache_bytes"] == before["total_cache_bytes"]
    )


def verify_eviction(ctx: Context, out, rec: dict) -> bool:
    """The pass evicted, and evicted enough: the footprint now fits the
    budget and no entry is left half-present."""
    before, evicted = out
    after = ctx.management.cache_stats(ctx.spark)
    rec["entries"] = before["n_consistent"]
    rec["evicted_entries"] = len(evicted)
    rec["evicted_bytes"] = before["total_cache_bytes"] - after["total_cache_bytes"]
    over = before["total_cache_bytes"] > EVICT_BUDGET_BYTES
    return (
        after["total_cache_bytes"] <= EVICT_BUDGET_BYTES
        and (bool(evicted) or not over)
        and not after["n_orphans"]
        and not after["corrupt_entries"]
    )


@dataclass
class Spec:
    name: str
    sf: float
    primary: tuple  # op kinds whose CPU time is op_cpu_ms
    prepare: Callable  # untimed: expected values and seeded generators
    setup: Callable  # timed as part of setup_s
    step: Callable  # one unit of the closed loop
    # The loop runs whole cycles of this many steps, so every run sees the
    # same op mix: a full Zipf block, or writes with their maintenance pass.
    cycle: int = 1


WORKLOADS = {
    "notebook_rerun": Spec("notebook_rerun", 0.01, ("rerun",),
                           notebook_prepare, notebook_setup, notebook_step,
                           cycle=NOTEBOOK_CYCLE),
    "fresh_writes": Spec("fresh_writes", 0.01, ("write",),
                         fresh_prepare, fresh_setup, fresh_step, cycle=MAINT_EVERY),
}


# -- the run -------------------------------------------------------------------

@dataclass
class Result:
    e2e: dict
    per_layer: dict
    per_layer_units: dict
    diagnostics: dict
    attempted: int
    failed: int


def closed_loop(ctx: Context, spec: Spec, seconds: float) -> None:
    ctx.phase = "loop"
    deadline = time.perf_counter() + seconds
    # A traced run traces every other step; the untraced steps give
    # trace.overhead_ratio under the same conditions, so it needs two.
    min_steps = spec.cycle if ctx.tracer is None else max(spec.cycle, 2)
    steps = 0
    while steps < min_steps or steps % spec.cycle or time.perf_counter() < deadline:
        ctx.trace(steps % 2 == 1)
        spec.step(ctx)
        steps += 1


def run(ctx: Context, spec: Spec) -> Result:
    ctx.load_library()
    ctx.trace(True)
    from dbfs_spark_cache_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.use_namespace(MAIN_NS)
    # The driver JVM compiles with C1 only. With C2 as well, a fresh JVM
    # was still speeding up 40 s into the loop (a write's CPU time fell from
    # about 4 s to 2.3 s), so a run's figures said how far the JIT had got;
    # C1 alone levels off within the set-up. The heap (the driver memory)
    # and its young generation have fixed sizes, so the heap pages the
    # JVM touches, and so peak RSS, follow the live data rather than the
    # collector's adaptive sizing: peak RSS spread 18% (IQR/median) over
    # five seeds without them, and 1% over four with them.
    with span(ctx.active, "session.get_spark"):
        ctx.spark = get_spark(
            app_name="cachebench",
            warehouse_dir=os.path.join(ctx.run_dir, "warehouse"),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(ctx.run_dir, 'tmp')} -XX:-UsePerfData"
                    f" -XX:TieredStopAtLevel=1 -Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn256m",
            },
        )
        ctx.lib.extend_dataframe_methods(ctx.spark)
    t1 = time.perf_counter()
    with span(ctx.active, "session.warmup"):
        warmup(ctx)
        ctx.lib.ensure_cache_database(ctx.spark)
    t2 = time.perf_counter()
    spec.prepare(ctx)
    t3 = time.perf_counter()
    spec.setup(ctx)
    t4 = time.perf_counter()
    setup_s = (t2 - t0) + (t4 - t3)  # the expected-checksum runs are excluded

    closed_loop(ctx, spec, ctx.seconds)
    ctx.trace(False)

    bytes_, rows = stored_bytes(ctx)
    loop_ops = [r for r in ctx.ops if r["phase"] != "setup"]
    failed = sum(not r["ok"] for r in ctx.ops) + sum(v is None for v in ctx.expected.values())
    attempted = len(ctx.ops)
    timing = {
        "get_spark_s": t1 - t0, "warmup_s": t2 - t1, "prepare_s": t3 - t2,
        "fill_s": t4 - t3,
    }
    e2e = {
        "setup_s": setup_s,
        "cached_time_ratio": cached_time_ratio(loop_ops, spec.primary),
        "stored_bytes_per_row": bytes_ / rows if rows else 0.0,
    }
    diagnostics = diagnostics_for(ctx, spec, loop_ops, timing, bytes_, rows, failed, attempted)
    per_layer: dict = {}
    units: dict = {}
    if ctx.tracer is not None:
        per_layer, units, extra = layer_metrics(ctx, spec, timing)
        diagnostics.update(extra)
    return Result(e2e, per_layer, units, diagnostics, attempted, failed)


def ops_per_s(ops: List[dict]) -> float:
    total_ms = sum(r["ms"] for r in ops if r["ms"] is not None)
    done = sum(r["ok"] for r in ops)
    return done / (total_ms / 1000.0) if total_ms else 0.0


def _latencies(ops: List[dict], kinds: tuple) -> List[float]:
    return [r["ms"] for r in ops if r["kind"] in kinds and r["ok"]]


def _median_ms(ops: List[dict], kinds: tuple) -> float:
    xs = _latencies(ops, kinds)
    return stats.median(xs) if xs else 0.0


def cached_time_ratio(ops: List[dict], kinds: tuple) -> float:
    """Time of the loop's cached ops over the time the same plans take run
    without the cache: per plan, median cached time over median uncached
    time, each weighted by the plan's number of cached ops. The two kinds
    are interleaved in one loop, so a host that slows down slows both."""
    cached: Dict[str, List[float]] = defaultdict(list)
    uncached: Dict[str, List[float]] = defaultdict(list)
    for r in ops:
        if r["ok"] and r["kind"] in kinds:
            cached[r["name"]].append(r["ms"])
        elif r["ok"] and r["kind"] == "uncached":
            uncached[r["name"]].append(r["ms"])
    num = den = 0.0
    for name, xs in cached.items():
        if uncached.get(name):
            num += len(xs) * stats.median(xs)
            den += len(xs) * stats.median(uncached[name])
    return num / den if den else 0.0


def ops_per_cpu_s(ops: List[dict]) -> float:
    total_ms = sum(r["cpu_ms"] for r in ops if r["cpu_ms"] is not None)
    done = sum(r["ok"] for r in ops)
    return done / (total_ms / 1000.0) if total_ms else 0.0


def _mean_cpu_ms(ops: List[dict], kinds: tuple) -> float:
    """Mean, not median: each op's CPU time is read in whole clock ticks
    (10 ms), and a mean over the loop's ops averages the rounding out."""
    xs = [r["cpu_ms"] for r in ops if r["kind"] in kinds and r["ok"]]
    return sum(xs) / len(xs) if xs else 0.0


def stored_bytes(ctx: Context) -> tuple:
    """Bytes on disk (warehouse table plus sidecar directory) and rows, over
    the entries left in the main namespace at the end of the run."""
    db_dir = os.path.join(ctx.run_dir, "warehouse", f"{MAIN_NS}.db")
    cache_dir = os.path.join(ctx.run_dir, "cache", MAIN_NS)
    total_bytes = total_rows = 0
    for name in sorted(os.listdir(db_dir)) if os.path.isdir(db_dir) else ():
        total_rows += ctx.spark.read.parquet(os.path.join(db_dir, name)).count()
        total_bytes += ctx.fs.tree_size(os.path.join(db_dir, name))
        total_bytes += ctx.fs.tree_size(os.path.join(cache_dir, name))
    return total_bytes, total_rows


def diagnostics_for(ctx, spec, loop_ops, timing, bytes_, rows, failed, attempted) -> dict:
    by_kind: Dict[str, int] = defaultdict(int)
    for r in ctx.ops:
        by_kind[f"{r['phase']}:{r['kind']}:{r['outcome']}"] += 1
    plain = [r for r in loop_ops if not r["traced"]]
    if not plain:  # a traced run whose loop was a single op
        plain = loop_ops
    out = {
        "ops": dict(sorted(by_kind.items())),
        "error_rate": failed / attempted if attempted else 0.0,
        "errors": ctx.errors[:10],
        "setup": {k: round(v, 4) for k, v in timing.items()},
        "loop_s": {
            "op": sum(r["ms"] or 0.0 for r in loop_ops) / 1000.0,
            "verify": sum(r.get("verify_ms", 0.0) for r in loop_ops) / 1000.0,
            "op_cpu": sum(r["cpu_ms"] or 0.0 for r in loop_ops) / 1000.0,
        },
        # Absolute rates: they follow the load other guests put on the host.
        "ops_per_s": ops_per_s(plain),
        "op_ms.p50": _median_ms(plain, spec.primary),
        "op_cpu_ms": _mean_cpu_ms(plain, spec.primary),
        "ops_per_cpu_s": ops_per_cpu_s(plain),
        "stored": {"bytes": bytes_, "rows": rows},
    }
    if spec.name == "notebook_rerun":
        out["hit_ms"] = stats.latency_summary(_latencies(plain, ("rerun",)))
        for kind, key in (("rerun", "hit_ms_by_entry"), ("uncached", "uncached_ms_by_entry")):
            out[key] = {
                e: stats.latency_summary(
                    [r["ms"] for r in plain if r["kind"] == kind and r["name"] == e and r["ok"]]
                )
                for e in WORKING_SET
            }
    elif spec.name == "fresh_writes":
        miss = stats.latency_summary(_latencies(plain, ("write",)))
        unc = stats.latency_summary(_latencies(plain, ("uncached",)))
        out.update(miss_ms=miss, uncached_ms=unc,
                   maint_ms=stats.latency_summary(_latencies(plain, ("maint",))))
        if miss.get("p50") and unc.get("p50"):
            out["write_overhead_ratio"] = miss["p50"] / unc["p50"]
        maint = [r for r in ctx.ops if r["kind"] == "maint" and "entries" in r]
        out["evictions"] = [
            (r["entries"], r["evicted_entries"], r["evicted_bytes"]) for r in maint
        ]
    return out


def layer_metrics(ctx: Context, spec: Spec, timing: dict) -> tuple:
    """Per-layer metrics from the spans of a traced run: every set-up op and
    every other loop step."""
    tracer = ctx.tracer
    spans = tracer.spans
    names = {s[0]: s[1] for s in spans}
    durations: Dict[str, List[float]] = defaultdict(list)
    per_op: Dict[str, Dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for sid, name, start, end, parent, op in spans:
        durations[name].append((end - start) * 1000.0)
        if op is not None:
            per_op[op][name.split(".", 1)[0]] += 1
            per_op[op][name] += 1
    traced = [r for r in ctx.ops if r["traced"]]

    def med(xs) -> float:
        return stats.median(xs) if xs else 0.0

    def ops_with(outcome):
        return [r for r in traced if r["outcome"] == outcome]

    def per_op_count(outcome, key):
        return med([per_op[r["id"]][key] for r in ops_with(outcome)])

    def spans_of(name, op_ids):
        return [(e - s) * 1000.0 for _sid, n, s, e, _p, op in spans
                if n == name and op in op_ids]

    def named(prefix, suffix):
        return [d for n, ds in durations.items()
                if n.startswith(prefix) and n.endswith(suffix) for d in ds]

    rce_hit = [(e - s) * 1000.0 for sid, n, s, e, _p, _op in spans
               if n == "core.read_cache_if_exist" and tracer.outcomes.get(sid) == "hit"]
    rce_miss = [(e - s) * 1000.0 for sid, n, s, e, _p, _op in spans
                if n == "core.read_cache_if_exist" and tracer.outcomes.get(sid) == "miss"]
    staged = [(e - s) * 1000.0 for sid, n, s, e, p, _op in spans
              if n == "core.cache_dataframe" and names.get(p) == "operators.stage_cache"]
    # Maintenance counts need no spans: prefer the loop's passes.
    maint = [r for r in ctx.ops if "entries" in r]
    maint = [r for r in maint if r["phase"] == "loop"] or maint
    loop_traced = [r for r in traced if r["phase"] == "loop"]
    hits = sum(r["delta"]["hits"] for r in loop_traced)
    probes = hits + sum(r["delta"]["misses"] for r in loop_traced)
    primary = [r for r in ctx.ops if r["phase"] == "loop" and r["kind"] in spec.primary]
    plain_rate = ops_per_s([r for r in primary if not r["traced"]])
    traced_rate = ops_per_s([r for r in primary if r["traced"]])

    m = {
        "session.get_spark_s": (timing["get_spark_s"], "s"),
        "session.warmup_s": (timing["warmup_s"], "s"),
        "client.build_ms": (med(durations["client.build"]), "ms"),
        "plans.fingerprint.canonical_plan_ms":
            (med(durations["plans.fingerprint.canonical_plan"]), "ms"),
        "plans.fingerprint.input_dir_mod_datetime_ms":
            (med(durations["plans.fingerprint.input_dir_mod_datetime"]), "ms"),
        "core.read_cache_if_exist_ms.hit": (med(rce_hit), "ms"),
        "core.read_cache_if_exist_ms.miss": (med(rce_miss), "ms"),
        "spark.hit_scan_ms":
            (med(spans_of("spark.materialize", {r["id"] for r in ops_with("hit")})), "ms"),
        "fs.calls_per_hit": (per_op_count("hit", "fs"), "count"),
        "catalog.table_exists_per_hit": (per_op_count("hit", "catalog.table_exists"), "count"),
        "spark.jobs_per_hit": (med([r["jobs"] for r in ops_with("hit")]), "count"),
        "core.hit_ratio": (hits / probes if probes else 0.0, "ratio"),
        "complexity.estimate_compute_complexity_ms":
            (med(durations["complexity.estimate_compute_complexity"]), "ms"),
        "plans.fingerprint.find_plain_udfs_ms":
            (med(durations["plans.fingerprint.find_plain_udfs"]), "ms"),
        "core.write_cache_ms": (med(durations["core.write_cache"]), "ms"),
        "spark.save_as_table_ms": (med(durations["spark.save_as_table"]), "ms"),
        "fs.write_text_ms": (med(durations["fs.write_text"]), "ms"),
        "fs.calls_per_miss": (per_op_count("miss", "fs"), "count"),
        "spark.jobs_per_miss": (med([r["jobs"] for r in ops_with("miss")]), "count"),
        "hashing.hash_input_data_ms": (med(durations["hashing.hash_input_data"]), "ms"),
        "core.create_cached_dataframe_ms":
            (med(durations["core.create_cached_dataframe"]), "ms"),
        "management.cache_stats_ms": (med(durations["management.cache_stats"]), "ms"),
        "management.evict_to_size_budget_ms":
            (med(durations["management.evict_to_size_budget"]), "ms"),
        "management.entries": (med([r.get("entries", 0) for r in maint]), "count"),
        "management.evicted_entries":
            (med([r.get("evicted_entries", 0) for r in maint]), "count"),
        "management.evicted_bytes": (med([r.get("evicted_bytes", 0) for r in maint]), "B"),
        "operators.build_ms": (med(named("operators.", ".build")), "ms"),
        "spark.exec_ms": (med(named("spark.", ".exec")), "ms"),
        "core.cache_dataframe_ms.stage": (med(staged), "ms"),
        "trace.overhead_ratio": (plain_rate / traced_rate if traced_rate else 0.0, "ratio"),
        "trace.hit_span_coverage": (hit_coverage(spans, ops_with("hit")), "ratio"),
    }
    values = {k: v for k, (v, _u) in m.items()}
    units = {k: u for k, (_v, u) in m.items()}

    # Self time per layer, per traced loop op.
    loop_ids = {r["id"] for r in loop_traced}
    selfs = stats.self_time_by_layer([s for s in spans if s[5] in loop_ids])
    extra = {
        "self_ms_per_op": {
            k: v * 1000.0 / len(loop_ids) for k, v in sorted(selfs.items())
        } if loop_ids else {},
    }
    return values, units, extra


def hit_coverage(spans, hit_ops) -> float:
    """Median over hit ops of the share of the op's span its direct child
    spans cover: near 1 means the layers account for the whole hit."""
    ids = {r["id"] for r in hit_ops}
    roots = {s[0]: s for s in spans if s[5] in ids and s[1].startswith("op.")}
    kids: Dict[int, list] = defaultdict(list)
    for sid, _n, start, end, parent, _op in spans:
        if parent in roots:
            kids[parent].append((start, end))
    shares = [
        stats.covered((s[2], s[3]), kids[sid]) / (s[3] - s[2])
        for sid, s in roots.items() if s[3] > s[2]
    ]
    return stats.median(shares) if shares else 0.0
