"""The benchmark's workloads: which registry queries each one runs.

Why each workload was chosen is stated once, in ``BENCHMARK.json``.

Every workload runs on the same fixture tables (``perfbench/data``, a copy of
the engine's sf0.001 test data) with the daily-bars cache entry resident. The
seed fixes the order of the queries. ``nominal_pass_s`` is the wall time of one
steady pass (every query once) on the reference box; a run gives each query
``seconds / nominal_pass_s`` steady runs (at least three), so the amount of
work per run does not change with the speed of the code under test.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    nominal_pass_s: float


WORKLOADS: dict[str, Workload] = {
    "finance_analytics": Workload(
        queries=(
            "flagship_risk",
            "sortino",
            "uptrend_flags",
            "price_band_join",
            "asof_click_attribution",
            "sink_roundtrip",
        ),
        nominal_pass_s=3.7,
    ),
    "curation_batch": Workload(
        queries=(
            "ann_pq_topk",
            "bpe_tokenize",
            "stream_image_delta_dedup",
            "doc_quality_gopher",
            "stratified_sample",
        ),
        nominal_pass_s=8.0,
    ),
}
