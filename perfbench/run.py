"""Benchmark entry point: run one workload in a fresh, isolated Spark JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run gets its own scratch directory under
``.perfbench/`` holding ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and (traced runs) the
Spark event log, so no run can reuse output staged by an earlier one; the
directory is deleted when the run ends. The workload itself runs in a child
process (``perfbench.workload``) in a session of its own; every process left
in that session is stopped and waited for before this script exits.

Human-readable lines go to standard output as the run progresses; the last
line is the JSON result. Spark's own logging goes to a file in the scratch
directory and is echoed to standard error only if the run fails.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

#: a run is stopped after this many seconds, inside the 180 s allowed per run
TIMEOUT_S = 170


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def missing_inputs() -> list[str]:
    """Repository files the benchmark needs besides its own directory."""
    needed = [
        os.path.join(ROOT, "yfinance_etl_spark", "plans", "queries.py"),
        os.path.join(ROOT, "tools", "compare_oracle.py"),
    ]
    return [p for p in needed if not os.path.exists(p)]


def child_env(scratch: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # bounds the JVM on a shared machine; the workloads' working sets are
        # a few MB (cache.mem_mb), far below it
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    # keep the JVM's temporary files inside the run's scratch directory; a
    # fixed set of JIT compiler threads lets the CPU meter leave them out
    java = f'-Djava.io.tmpdir={env["TMPDIR"]} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads'
    submit = [f'--driver-java-options "{java}"']
    if trace:
        log_dir = os.path.join(scratch, "eventlog")
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([*submit, "pyspark-shell"])
    return env


def session_members(sid: int) -> list[int]:
    """Processes whose session is ``sid`` (Spark's Python worker daemon makes
    its own process group, but stays in the workload's session)."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def stop_session(proc: subprocess.Popen, wait_s: float = 30.0) -> None:
    """Kill every process in ``proc``'s session and wait until none is left.

    By the time this runs the workload has stopped its Spark session and
    written its result (or has run out of time), so nothing is left to flush.
    """
    deadline = time.monotonic() + wait_s
    while True:
        with contextlib.suppress(ProcessLookupError):
            os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
        left = session_members(proc.pid)
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} still running after SIGKILL")
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = missing_inputs()
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(scratch, sub))
    result_path = os.path.join(scratch, "result.json")
    log_path = os.path.join(scratch, "spark.log")
    cmd = [
        sys.executable, "-m", "perfbench.workload",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--result", result_path,
        "--trace-out", os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
    ]
    rc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=scratch, env=child_env(scratch, bool(args.trace)),
                stdout=sys.stdout, stderr=log, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: run exceeded {TIMEOUT_S} s, stopped", file=sys.stderr)
            finally:
                stop_session(proc)
        result = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = f.read().strip()
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            print(f"perfbench: workload process failed (exit {rc})", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.stdout.flush()
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
