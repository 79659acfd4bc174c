"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from perfbench import eventlog, stats
from perfbench.layers import LAYERS, Tracer, covered
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- metric names and the result line ---------------------------------------

def test_metric_name_grammar():
    for good in ("setup_s", "spark.s_per_job", "operators.dedup.jobs", "a-b.c_9"):
        assert stats.valid_name(good)
    for bad in ("", "_lead", ".lead", "has space", "slash/name", "x" * 65, "naïve"):
        assert not stats.valid_name(bad)
    for unit in ("s", "ms", "count", "MB", "%", "1/s", "ratio"):
        assert stats.valid_unit(unit)
    assert not stats.valid_unit("two words")


def test_every_declared_metric_is_well_formed_and_used_once():
    names = [*stats.END_TO_END, *stats.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(u) for u in [*stats.END_TO_END.values(), *stats.PER_LAYER.values()])
    assert len(stats.PER_LAYER) <= 128


def test_every_planned_metric_is_declared():
    named = {
        "setup_s", "first_pass_s", "wall_s", "query_p50_s", "jvm.heap_live_mb",
        "first_pass_cpu_s", "pass_cpu_s",
        "session.start_s", "catalog.warm_s", "cache.build_s", "cache.jobs", "cache.mem_mb",
        "cache.hit_frac", "plans.queries.construct_s", "plans.queries.construct_jobs",
        "spark.plan_s", "spark.execute_s", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.s_per_job", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
        "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb",
        "streaming.streams.s", "streaming.streams.jobs", "multimodal.s", "multimodal.jobs",
        "sources.s", "sources.jobs", "scratch.disk_mb", "jvm.peak_rss_mb",
    }
    for m in ("dedup", "pq", "similarity", "clustering", "graph", "recipe", "quality",
              "bpe", "sampling", "windows", "metrics", "joins"):
        named |= {f"operators.{m}.s", f"operators.{m}.jobs", f"operators.{m}.calls"}
    assert named <= set(stats.END_TO_END) | set(stats.PER_LAYER)


@pytest.mark.parametrize("spec", [stats.END_TO_END, stats.PER_LAYER])
def test_result_line_carries_every_metric_with_its_unit(spec):
    values = {name: float(i) + 0.5 for i, name in enumerate(spec)}
    line = stats.result_line(True, 12, 0, values, spec)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(spec)
    for name, metric in line["metrics"].items():
        assert metric == {"value": values[name], "unit": spec[name]}
    json.dumps(line)


def test_steady_pass_sums_each_querys_median():
    assert stats.steady_pass({"a": [3.0, 1.5, 2.0], "b": [0.25], "c": [4.0, 5.0]}) == 6.75
    assert stats.steady_pass({}) == 0


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(KeyError):
        stats.result_line(True, 1, 0, {"setup_s": 1.0}, stats.END_TO_END)


def test_benchmark_json_matches_the_code():
    b = benchmark_json()
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == stats.PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and w["why"] and "\n" not in w["why"]


def test_workload_queries_are_registered():
    from yfinance_etl_spark.plans.queries import REGISTRY

    for wl in WORKLOADS.values():
        assert wl.queries and set(wl.queries) <= set(REGISTRY)


class _Frame:
    """A stand-in for a Spark DataFrame with fixed rows."""

    columns = ["k", "v"]
    dtypes = [("k", "int"), ("v", "string")]

    def __init__(self, rows):
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def test_oracle_check_passes_a_match_and_reports_a_mismatch():
    from perfbench.workload import DATA_DIR, OracleCheck

    check = OracleCheck(DATA_DIR)
    oracle = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) AS t(k, v)"
    assert check.failure("q", oracle, _Frame([(2, "b"), (1, "a")])) is None
    assert "FAIL value" in check.failure("q", oracle, _Frame([(1, "a"), (2, "c")]))
    assert "FAIL rowcount" in check.failure("q", oracle, _Frame([(1, "a")]))
    assert "FAIL dtype" in check.failure("q", "SELECT 1.5 AS k, 'a' AS v", _Frame([(1, "a")]))
    assert check.failure("q", None, _Frame([])) is None  # rows-only query


# --- layer wrappers ---------------------------------------------------------

def test_covered_merges_overlapping_intervals_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([], 0, 10) == 0


class _Jobs:
    """A stand-in for the DAG scheduler's job counter."""

    def __init__(self):
        self.n = 0

    def __call__(self) -> int:
        return self.n


def test_self_time_and_jobs_exclude_nested_and_parallel_children():
    jobs = _Jobs()
    tracer = Tracer(jobs)
    tracer.totals.update({"outer": [0, 0.0, 0], "inner": [0, 0.0, 0]})

    def inner():
        time.sleep(0.05)
        jobs.n += 2

    def outer():
        jobs.n += 1
        workers = [threading.Thread(target=wrapped_inner) for _ in range(2)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=5)
        assert not any(w.is_alive() for w in workers)

    wrapped_inner = tracer._wrap("inner", inner)
    tracer._wrap("outer", outer)()

    calls, self_s, self_jobs = tracer.totals["outer"]
    assert (calls, self_jobs) == (1, 1)
    assert self_s < 0.04  # the two 50 ms children ran side by side
    calls, self_s, self_jobs = tracer.totals["inner"]
    assert calls == 2 and self_s >= 0.09 and self_jobs >= 2


def test_install_binds_every_import_site_and_uninstall_restores():
    from yfinance_etl_spark import cache
    from yfinance_etl_spark.operators import dedup, windows

    originals = (windows.daily_bars, cache.daily_bars, dedup.doc_shingles, cache.doc_shingles)
    tracer = Tracer(_Jobs())
    tracer.install()
    try:
        assert windows.daily_bars is cache.daily_bars
        assert windows.daily_bars is not originals[0]
        assert windows.daily_bars.__wrapped__ is originals[0]
        assert cache.doc_shingles is dedup.doc_shingles is not originals[2]
        assert set(tracer.layer_totals()) == set(LAYERS)
    finally:
        tracer.uninstall()
    assert (windows.daily_bars, cache.daily_bars, dedup.doc_shingles, cache.doc_shingles) == originals


# --- event log fold ---------------------------------------------------------

def test_fold_assigns_jobs_stages_and_tasks_to_phases(tmp_path):
    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": 2e8, "JVM GC Time": 10,
            "Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 1024 * 1024},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 512 * 1024},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 256 * 1024},
        }}

    log = [
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Stage IDs": [7, 8]},
        {"Event": "SparkListenerJobStart", "Job ID": 5, "Stage IDs": [8, 9]},
        {"Event": "SparkListenerJobStart", "Job ID": 9, "Stage IDs": [12]},
        task(7, 100), task(8, 300), task(9, 50), task(12, 1000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in log) + "\n")
    out = eventlog.fold(str(tmp_path), [("construct", 4, 5), ("execute", 5, 6)])
    assert out["construct"]["jobs"] == 1 and out["execute"]["jobs"] == 1
    assert out["construct"]["tasks"] == 2  # stages 7 and 8 (first listed by job 4)
    assert out["execute"]["tasks"] == 1
    assert out["construct"]["executor_run_s"] == pytest.approx(0.4)
    assert out["construct"]["stages"] == 1 and out["execute"]["stages"] == 1
    assert out["execute"]["input_mb"] == pytest.approx(1.0)
    assert out["construct"]["shuffle_read_mb"] == pytest.approx(1.0)
    assert set(out) == {"construct", "execute"}  # job 9 lies outside every range
