"""Fold Spark's event log into counters per phase.

The traced run writes an uncompressed, non-rolling event log. Each job is
assigned to the phase whose job-id range holds it; each stage to the first job
that lists it; each finished task to its stage.
"""

from __future__ import annotations

import bisect
import json
import os

MB = 1024 * 1024

#: the counters kept per phase
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
)


def events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class PhaseIndex:
    """Maps a job id to the phase whose half-open job-id range holds it."""

    def __init__(self, ranges: list[tuple[str, int, int]]):
        self._ranges = sorted((lo, hi, phase) for phase, lo, hi in ranges if hi > lo)
        self._starts = [lo for lo, _, _ in self._ranges]

    def phase(self, job_id: int) -> str | None:
        i = bisect.bisect_right(self._starts, job_id) - 1
        if i >= 0:
            lo, hi, phase = self._ranges[i]
            if lo <= job_id < hi:
                return phase
        return None


def fold(log_dir: str, ranges: list[tuple[str, int, int]]) -> dict[str, dict[str, float]]:
    """Counters per phase for the jobs in ``ranges`` ((phase, first job id,
    end job id) triples)."""
    index = PhaseIndex(ranges)
    out: dict[str, dict[str, float]] = {}
    stage_phase: dict[int, str] = {}

    def acc(phase: str) -> dict[str, float]:
        return out.setdefault(phase, dict.fromkeys(COUNTERS, 0.0))

    for ev in events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            phase = index.phase(ev["Job ID"])
            if phase is None:
                continue
            acc(phase)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerStageCompleted":
            phase = stage_phase.get(ev["Stage Info"]["Stage ID"])
            if phase is not None:
                acc(phase)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if phase is None or not m:
                continue
            c = acc(phase)
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            c["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB
            c["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            c["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    return out
