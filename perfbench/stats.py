"""Metric names and units, and the benchmark's result line."""

from __future__ import annotations

import re
import statistics

from .layers import LAYERS

#: end-to-end metrics, measured with tracing off: name -> unit.
#: ``pass_cpu_s`` is the CPU seconds of a steady pass (``steady_pass``) of
#: every process of the run less the JVM's JIT compiler threads
#: (``workload.CpuMeter``). On a shared machine a query's wall seconds rise and
#: fall with the load of other tenants far more than its CPU seconds do, and
#: background compilation is the part of its CPU seconds that varied most
#: between runs.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

#: per-layer metrics, measured in the traced run only: name -> unit. The
#: first pass (wall and CPU seconds), the wall seconds of an untraced steady
#: pass and the median of its query times come first. The setup layers
#: (session, catalog, cache.build_s/jobs/mem_mb) are per run; the others are
#: per traced steady pass. cache.hit_frac is the share of queries whose final
#: physical plan scans a cached relation.
PER_LAYER: dict[str, str] = {
    "first_pass_s": "s",
    "first_pass_cpu_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "session.start_s": "s",
    "catalog.warm_s": "s",
    "cache.build_s": "s",
    "cache.jobs": "count",
    "cache.mem_mb": "MB",
    "cache.hit_frac": "ratio",
    "plans.queries.construct_s": "s",
    "plans.queries.construct_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.s_per_job": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    **{
        f"{layer}.{kind}": unit
        for layer in LAYERS
        for kind, unit in (("s", "s"), ("jobs", "count"), ("calls", "count"))
    },
    "scratch.disk_mb": "MB",
    "jvm.heap_live_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def steady_pass(times: dict[str, list[float]]) -> float:
    """A steady pass: the sum over queries of the median of their seconds
    over the run's steady runs (query name -> seconds per run)."""
    return sum(statistics.median(seconds) for seconds in times.values())


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], spec: dict[str, str]) -> dict:
    """The benchmark's final JSON object; every metric in ``spec`` must be
    present in ``values``."""
    missing = sorted(set(spec) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in spec.items()
        },
    }
