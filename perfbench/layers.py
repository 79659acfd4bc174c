"""Call wrappers that time the engine's layers from outside.

A ``Tracer`` replaces every public function of the traced modules with a
wrapper that records, per function, the number of calls, the self time and the
self job count. A call's span covers a wall-clock interval and a Spark job-id
interval (the DAG scheduler's job counter on entry and exit: job groups are
thread-local in Python and do not reach the thread pool of
``cache_shared_stages`` or the streaming execution threads). Its self time and
jobs are its intervals minus the union of its child spans' intervals, so
children running in parallel are not subtracted twice.

A call's parent is the innermost open span on its own thread or, on a thread
with none open, the innermost open span of the thread that installed the
tracer; that is how a streaming ``foreachBatch`` callback, run on a callback
thread while the driver thread waits inside the streaming call, nests under it.

Each wrapper is bound both where the function is defined and wherever an
engine module bound the original at import time, so a missed binding shows up
as a function with zero calls rather than as zero time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from collections.abc import Callable

PACKAGE = "yfinance_etl_spark"

_OPERATORS = (
    "dedup", "pq", "similarity", "clustering", "graph", "recipe", "quality",
    "bpe", "sampling", "windows", "metrics", "joins",
)

#: layer name -> modules whose public functions belong to it
LAYERS: dict[str, tuple[str, ...]] = {
    **{f"operators.{m}": (f"{PACKAGE}.operators.{m}",) for m in _OPERATORS},
    "streaming.streams": (f"{PACKAGE}.streaming.streams",),
    "multimodal": tuple(f"{PACKAGE}.multimodal.{m}" for m in ("audio", "columns", "video")),
    "sources": tuple(
        f"{PACKAGE}.sources.{m}"
        for m in ("datasource", "jsonl", "live", "pdf", "report", "rest", "retry", "sink")
    ),
}


def public_functions(module) -> dict[str, Callable]:
    """Plain functions defined in ``module`` whose names are public."""
    return {
        name: obj
        for name, obj in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
        and not inspect.isgeneratorfunction(obj)
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    total = 0.0
    end = lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class _Span:
    __slots__ = ("t0", "j0", "times", "jobs")

    def __init__(self, t0: float, j0: int):
        self.t0, self.j0 = t0, j0
        self.times: list[tuple[float, float]] = []
        self.jobs: list[tuple[int, int]] = []


class Tracer:
    """Installs and removes the wrappers; holds the per-function totals."""

    def __init__(self, job_counter: Callable[[], int]):
        self._jobs = job_counter
        self._lock = threading.Lock()
        self._stacks: dict[int, list[_Span]] = {}
        self._root = threading.get_ident()
        #: "module.function" (below the package) -> [calls, self seconds, self jobs]
        self.totals: dict[str, list] = {}
        self._layer_of: dict[str, str] = {}
        self._patches: list[tuple[object, str, Callable]] = []

    def install(self) -> None:
        self._root = threading.get_ident()
        wrappers: dict[int, tuple[Callable, Callable]] = {}
        for layer, modules in LAYERS.items():
            for mod_name in modules:
                module = importlib.import_module(mod_name)
                for name, fn in public_functions(module).items():
                    key = f"{mod_name[len(PACKAGE) + 1:]}.{name}"
                    self.totals.setdefault(key, [0, 0.0, 0])
                    self._layer_of[key] = layer
                    wrappers[id(fn)] = (fn, self._wrap(key, fn))
        for mod_name, module in list(sys.modules.items()):
            if module is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(module).items()):
                hit = wrappers.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patches.append((module, attr, value))
                    setattr(module, attr, hit[1])

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def snapshot(self) -> dict[str, tuple]:
        with self._lock:
            return {k: tuple(v) for k, v in self.totals.items()}

    def layer_totals(self, since: dict[str, tuple] | None = None) -> dict[str, list]:
        """Per layer [calls, self seconds, self jobs], counted after ``since``."""
        out = {layer: [0, 0.0, 0] for layer in LAYERS}
        since = since or {}
        for key, now in self.snapshot().items():
            before = since.get(key, (0, 0.0, 0))
            acc = out[self._layer_of[key]]
            for i in range(3):
                acc[i] += now[i] - before[i]
        return out

    def _open(self, span: _Span) -> tuple[list[_Span], _Span | None]:
        """Push ``span`` on its thread's stack and return (stack, parent)."""
        ident = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(ident, [])
            parent = stack[-1] if stack else None
            if parent is None and ident != self._root:
                root = self._stacks.get(self._root)
                parent = root[-1] if root else None
            stack.append(span)
        return stack, parent

    def _wrap(self, key: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = _Span(time.perf_counter(), self._jobs())
            stack, parent = self._open(span)
            try:
                return fn(*args, **kwargs)
            finally:
                t1, j1 = time.perf_counter(), self._jobs()
                with self._lock:
                    self_s = (t1 - span.t0) - covered(span.times, span.t0, t1)
                    self_jobs = (j1 - span.j0) - covered(span.jobs, span.j0, j1)
                    stack.pop()
                    if parent is not None:
                        parent.times.append((span.t0, t1))
                        parent.jobs.append((span.j0, j1))
                    rec = self.totals[key]
                    rec[0] += 1
                    rec[1] += self_s
                    rec[2] += int(self_jobs)

        return wrapper
