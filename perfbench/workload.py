"""One benchmark run in a fresh Spark JVM; ``perfbench/run.py`` starts it.

A closed loop: one driver thread submits one query at a time.

1. Setup: ``session.get_spark``, then, side by side, a no-op scan of every
   base table the cache does not read and the daily-bars cache entry.
2. First pass: every query once, in the order the seed gives. A query run
   builds the query (``q.fn``, the construct phase, which runs its eager
   jobs) and executes it through the noop writer (execute phase). The first
   pass carries codegen, staging and the first stream checkpoint. After each
   query's timed write, and outside its time, its result is collected and
   compared with the DuckDB oracle the way ``tools/compare_oracle.run_gate``
   compares them.
3. Steady runs: every query that passed, in another seeded order, runs
   ``n_steady`` times in a row, the way an analyst re-runs a query. A steady
   pass is the sum over queries of the median of their steady runs.

In a traced run a query's untraced and traced steady runs alternate. A traced
run installs the layer wrappers (``layers.Tracer``) and forces the physical
plan between construct and execute (plan phase); the run's Spark event log is
folded per phase after the session stops.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import random
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from . import eventlog, stats
from .layers import LAYERS, Tracer
from .workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.001")
MB = 1024 * 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")
WARM_GROUP = "perfbench-catalog-warm"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scratch", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--trace-out", required=True)
    return p.parse_args(argv)


class OracleCheck:
    """Compares a query's result with its DuckDB oracle, as
    ``tools/compare_oracle.run_gate`` does, given the DataFrame of a pass that
    was already timed (the gate would build every query again).

    The gate's comparison prints are captured and returned as the report.
    """

    def __init__(self, sf_dir: str):
        path = os.path.join(ROOT, "tools", "compare_oracle.py")
        spec = importlib.util.spec_from_file_location("compare_oracle", path)
        self._gate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._gate)
        self._con = self._gate.duck_connect(sf_dir)
        self._con.execute("SET enable_progress_bar = false")

    def failure(self, name: str, oracle: str | None, df) -> str | None:
        """The gate's report if ``df`` does not match the oracle, else None."""
        rows = [tuple(r) for r in df.collect()]
        if oracle is None:  # the gate counts a rows-only query as passed
            return None
        rel = self._con.sql(oracle)
        duck_cols, duck_types = list(rel.columns), list(rel.types)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            ok = self._gate.compare(name, rows, df.columns, rel.fetchall(), duck_cols)
        bad_types = self._gate.dtype_mismatches(df.dtypes, duck_cols, duck_types)
        if ok and not bad_types:
            return None
        return out.getvalue() + (f"  FAIL dtype: {bad_types}" if bad_types else "")


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_size(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(heap in use after a full collection, peak resident memory) of the JVM."""
    jvm = spark._jvm
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        peak_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    jvm.java.lang.System.gc()
    live = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return live / MB, peak_kb / 1024


def proc_cpu_s(stat_path: str) -> float | None:
    """User plus system CPU seconds of the process or thread whose ``stat``
    file is ``stat_path``; None if it has ended."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


class CpuMeter:
    """CPU seconds of the run: every live process of the workload's session
    (this driver, the Spark JVM, Spark's Python workers), less the JVM's JIT
    compiler threads.

    Compilation goes on in the background for many repetitions of a query in
    a fresh JVM and is what varied most between runs, so it is left out; the
    JVM runs with a fixed set of compiler threads (``run.py``), so their
    counters never drop. A process that ends between two readings takes its
    CPU seconds with it (Spark's Python daemon does not wait for its workers);
    a query's median over its steady runs absorbs such a reading.
    """

    def __init__(self, jvm_pid: int):
        self.sid = os.getsid(0)
        self.jvm_pid = jvm_pid

    def read(self) -> tuple[dict[int, float], float]:
        """(CPU seconds per live session process, JIT compiler seconds)."""
        procs = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and self._session(entry):
                cpu = proc_cpu_s(f"/proc/{entry}/stat")
                if cpu is not None:
                    procs[int(entry)] = cpu
        jit = 0.0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            with contextlib.suppress(OSError):
                with open(f"{task_dir}/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        jit += proc_cpu_s(f"{task_dir}/{tid}/stat") or 0.0
        return procs, jit

    def _session(self, pid: str) -> bool:
        try:
            return os.getsid(int(pid)) == self.sid
        except OSError:
            return False

    @staticmethod
    def between(before: tuple[dict[int, float], float], after: tuple[dict[int, float], float]) -> float:
        """CPU seconds spent between two readings."""
        (procs0, jit0), (procs1, jit1) = before, after
        return sum(cpu - procs0.get(pid, 0.0) for pid, cpu in procs1.items()) - (jit1 - jit0)


class Run:
    """The state of one run: session, job counter, samples and job ranges."""

    def __init__(self, spark, sf_dir: str, registry: dict):
        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry
        self.jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
        self.cpu = CpuMeter(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.attempted = 0
        self.errors: list[str] = []
        #: (phase, first job id, end job id) for the event-log fold
        self.ranges: list[tuple[str, int, int]] = []

    def query(self, name: str, traced: bool, oracle: OracleCheck | None = None) -> dict | None:
        """Construct, (traced: plan,) execute one query, then (untimed) check
        it against ``oracle``; None if it raised or did not match."""
        q = self.registry[name]
        self.attempted += 1
        c0 = self.cpu.read()
        j0, t0 = self.jobs(), time.perf_counter()
        try:
            df = q.fn(self.spark, self.sf_dir)
            j1, t1 = self.jobs(), time.perf_counter()
            hit = False
            if traced:
                plan = df._jdf.queryExecution().executedPlan().toString()
                hit = "InMemoryTableScan" in plan
            j2, t2 = self.jobs(), time.perf_counter()
            noop_write(df)
            j3, t3 = self.jobs(), time.perf_counter()
            cpu_s = self.cpu.between(c0, self.cpu.read())
            failure = oracle.failure(name, q.oracle, df) if oracle else None
            t4 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            self.errors.append(f"{name}: {traceback.format_exc()}")
            return None
        if failure is not None:
            self.errors.append(f"{name}: oracle check failed\n{failure}")
            return None
        if traced:
            self.ranges += [("construct", j0, j1), ("plan", j1, j2), ("execute", j2, j3)]
        return {
            "query": name,
            "wall_s": t3 - t0,
            "cpu_s": cpu_s,
            "construct_s": t1 - t0,
            "plan_s": t2 - t1,
            "execute_s": t3 - t2,
            "construct_jobs": j1 - j0,
            "plan_jobs": j2 - j1,
            "jobs": j3 - j2,
            "cache_hit": hit,
            "check_s": t4 - t3,
        }


def setup(spark_factory, sf_dir: str) -> tuple[object, dict[str, float], float]:
    """Start the session, then warm the base tables and build the cache side
    by side; returns (session, layer metrics, setup seconds).

    The cache is the daily-bars entry of ``cache.cache_shared_stages``, the
    one entry the finance queries read. With all 13 entries set-up took
    39-75 s on the reference box instead of about 20 s, more than the
    benchmark's time budget holds.
    """
    from yfinance_etl_spark.catalog import TABLES, load_table
    from yfinance_etl_spark.operators.windows import daily_bars

    m: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = spark_factory()
    m["session.start_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext._jsc.sc()
    jobs = sc.dagScheduler().numTotalJobs

    # The warm scans run beside the cache build, as in bench.py; their jobs
    # carry a job group so the cache's own job count can be told apart.
    def warm_scan(df) -> float:
        spark.sparkContext.setJobGroup(WARM_GROUP, "catalog warm scan")
        noop_write(df)
        return time.perf_counter()

    j0, t0 = jobs(), time.perf_counter()
    warm = [load_table(spark, sf_dir, t) for t in TABLES if t != "lineitem"]
    with ThreadPoolExecutor(max_workers=len(warm)) as pool:
        futures = [pool.submit(warm_scan, df) for df in warm]
        daily_bars(load_table(spark, sf_dir, "lineitem")).cache().count()
        m["cache.build_s"] = time.perf_counter() - t0
        m["catalog.warm_s"] = max(f.result() for f in futures) - t0
    setup_s = m["session.start_s"] + time.perf_counter() - t0
    warm_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(WARM_GROUP))
    m["cache.jobs"] = jobs() - j0 - warm_jobs
    m["cache.mem_mb"] = sum(info.memSize() for info in sc.getRDDStorageInfo()) / MB
    return spark, m, setup_s


def layer_metrics(traced_recs: list[dict], n_traced: int, layer_sums: dict[str, list],
                  folded: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics, per traced steady pass."""
    def per_pass(key: str) -> float:
        return sum(r[key] for r in traced_recs) / n_traced

    m = {
        "plans.queries.construct_s": per_pass("construct_s"),
        "plans.queries.construct_jobs": per_pass("construct_jobs"),
        "spark.plan_s": per_pass("plan_s"),
        "spark.execute_s": per_pass("execute_s"),
        "spark.jobs": per_pass("jobs"),
        "cache.hit_frac": sum(r["cache_hit"] for r in traced_recs) / max(1, len(traced_recs)),
    }
    jobs = m["plans.queries.construct_jobs"] + m["spark.jobs"]
    m["spark.s_per_job"] = (m["plans.queries.construct_s"] + m["spark.execute_s"]) / jobs if jobs else 0.0
    execute = folded.get("execute", {})
    m["spark.stages"] = execute.get("stages", 0) / n_traced
    m["spark.tasks"] = execute.get("tasks", 0) / n_traced
    for counter in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                    "shuffle_write_mb", "spill_mb", "input_mb"):
        m[f"spark.{counter}"] = sum(c.get(counter, 0) for c in folded.values()) / n_traced
    for layer, (calls, self_s, self_jobs) in layer_sums.items():
        m[f"{layer}.calls"] = calls / n_traced
        m[f"{layer}.s"] = self_s / n_traced
        m[f"{layer}.jobs"] = self_jobs / n_traced
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    traced = bool(args.trace)
    # at least three, so that a query's median is not its mean; in a traced
    # run a query's untraced and traced steady runs alternate, so every traced
    # run has an untraced one beside it to measure the tracing overhead against
    n_steady = max(3, round(args.seconds / wl.nominal_pass_s))

    from yfinance_etl_spark.plans.queries import REGISTRY
    from yfinance_etl_spark.session import get_spark

    oracle = OracleCheck(DATA_DIR)
    spark, m, setup_s = setup(lambda: get_spark("perfbench"), DATA_DIR)
    run = Run(spark, DATA_DIR, REGISTRY)

    tracer = Tracer(run.jobs) if traced else None
    first: list[dict] = []
    #: untraced / traced steady runs: query name -> its records
    steady: dict[bool, dict[str, list[dict]]] = {False: {}, True: {}}
    traced_recs: list[dict] = []
    for name in rng.sample(wl.queries, len(wl.queries)):
        rec = run.query(name, False, oracle)
        if rec is not None:
            first.append(rec)
    for name in rng.sample([r["query"] for r in first], len(first)):
        for i in range(n_steady):
            trace_run = traced and i % 2 == 1
            if trace_run:
                tracer.install()
            try:
                rec = run.query(name, trace_run)
            finally:
                if trace_run:
                    tracer.uninstall()
            if rec is not None:
                steady[trace_run].setdefault(name, []).append(rec)
                if trace_run:
                    traced_recs.append(rec)

    m["scratch.disk_mb"] = dir_size(os.environ.get("TMPDIR", args.scratch)) / MB
    m["jvm.heap_live_mb"], m["jvm.peak_rss_mb"] = jvm_memory_mb(spark)
    spark.stop()

    def pass_of(trace_run: bool, key: str) -> float:
        return stats.steady_pass({q: [r[key] for r in recs] for q, recs in steady[trace_run].items()})

    wall_s = pass_of(False, "wall_s")
    values = {
        "setup_s": setup_s,
        "pass_cpu_s": pass_of(False, "cpu_s"),
        "first_pass_s": sum(r["wall_s"] for r in first),
        "first_pass_cpu_s": sum(r["cpu_s"] for r in first),
        "wall_s": wall_s,
        "query_p50_s": statistics.median(r["wall_s"] for recs in steady[False].values() for r in recs),
    }
    detail: dict = {}
    if traced:
        n_traced = n_steady // 2
        folded = eventlog.fold(os.path.join(args.scratch, "eventlog"), run.ranges)
        layer_sums = tracer.layer_totals()
        m.update(layer_metrics(traced_recs, n_traced, layer_sums, folded))
        m["trace.wall_s"] = pass_of(True, "wall_s")
        m["trace.overhead_s"] = m["trace.wall_s"] - wall_s
        values.update(m)
        detail = {
            "first_pass": first,
            "queries": traced_recs,
            "phases": folded,
            "functions": {k: {"calls": v[0], "self_s": v[1], "self_jobs": v[2]}
                          for k, v in tracer.snapshot().items()},
        }

    failed = len(run.errors)
    for err in run.errors:
        print(err)
    check_s = sum(r["check_s"] for r in first)
    report(args, wl, n_steady, values, m, steady[False], check_s, failed, run.attempted, traced)
    spec = stats.PER_LAYER if traced else stats.END_TO_END
    result = stats.result_line(failed == 0, run.attempted, failed, values, spec)
    if traced:
        os.makedirs(os.path.dirname(args.trace_out), exist_ok=True)
        with open(args.trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": values,
                       **detail}, f, indent=1)
        print(f"trace detail: {os.path.relpath(args.trace_out, ROOT)}")
    with open(args.result, "w") as f:
        f.write(json.dumps(result, separators=(",", ":")))
    return 0


def report(args, wl, n_steady, values, m, steady, check_s, failed, attempted, traced) -> None:
    """Human-readable lines ahead of the JSON result."""
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"queries={len(wl.queries)} steady_runs_per_query={n_steady}")
    for name, unit in stats.END_TO_END.items():
        print(f"  {name} {values[name]:.4f} {unit}")
    print(f"  first pass: {values['first_pass_s']:.4f} s wall, {values['first_pass_cpu_s']:.4f} s CPU; "
          f"steady pass: {values['wall_s']:.4f} s wall; query_p50_s {values['query_p50_s']:.4f} s")
    for name, recs in sorted(steady.items()):
        print(f"  {name} steady runs (wall, CPU): "
              + " ".join(f"({r['wall_s']:.3f}, {r['cpu_s']:.2f})" for r in recs) + " s")
    print(f"  failed_frac {failed / attempted:.4f} ({failed} of {attempted}); "
          f"oracle check {check_s:.3f} s, outside the first pass")
    if not traced:
        print(f"  jvm.heap_live_mb {m['jvm.heap_live_mb']:.1f} MB, jvm.peak_rss_mb {m['jvm.peak_rss_mb']:.1f} MB")
        return
    for name, unit in stats.PER_LAYER.items():
        print(f"  {name} {values[name]:.4f} {unit}")
    layers_s = m["session.start_s"] + max(m["catalog.warm_s"], m["cache.build_s"])
    phases_s = m["plans.queries.construct_s"] + m["spark.plan_s"] + m["spark.execute_s"]
    print(f"  reconcile setup_s {values['setup_s']:.3f} = session + max(catalog, cache) "
          f"{layers_s:.3f} (the warm scans overlap the cache build)")
    print(f"  reconcile trace.wall_s {m['trace.wall_s']:.3f} = construct+plan+execute {phases_s:.3f}")
    op_s = sum(m[f"{layer}.s"] for layer in LAYERS)
    print(f"  wrapped layer self time {op_s:.3f} s of construct {m['plans.queries.construct_s']:.3f} s")


if __name__ == "__main__":
    raise SystemExit(main())
