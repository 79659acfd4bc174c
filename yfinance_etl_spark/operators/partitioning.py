"""Shared partitioning guards for compute-dense stages.

``spread`` is the single home for the under-partitioned-input guard that
dedup, RAG embedding, k-means and the Python (``mapInPandas``) stages all
need: a single-row-group fixture scan otherwise pins a dense kernel to ONE
task. It never coalesces an input that already has at least one partition
per core, so on a real many-file 100 TB scan it is a no-op, costs no job,
and the stage stays map-only.

Two fan-out rules, because a task costs very different amounts on the two
sides of the JVM/Python boundary:

* **JVM stages** (default, ``python=False``): fan out to one partition per
  core. A JVM task costs milliseconds, so spreading is always worth it
  (measured: doc_hashes 14 s serial vs 3 s spread at sf0.1; embed kernel
  4 s vs 0.4 s for 5k docs).
* **Python stages** (``python=True``): fan out to ``ceil(rows / 1024)``
  partitions, capped at one per core. A Python task has a fixed cost
  whatever its row count: about 0.27 s of worker CPU in a worker profile
  (about half of it in ``pyspark.worker_util.setup_spark_files`` →
  ``importlib.invalidate_caches()``, most of the rest in opening the Arrow
  stream). At sf0.01 on 4 vCPUs (``local[4]``), going from 26 tasks to 11
  cut stream_image_delta_dedup from 8.1 to 4.0 s of CPU over all
  processes. Single-threaded, the synthesize + hash kernels cost 0.12 ms
  per row (audio features), 0.25 (PNG dHash), 0.40 (audio fingerprint)
  and 0.81 (video frames). So the 500-row documents table, or a stream
  micro-batch of up to 1,024 rows, runs as one Python task; sf0.1's 5,000
  rows still fan out to every core (with no spread at all,
  dedup_audio_offset went 3.6 → 7.2 s there). Sizing by rows costs one
  count job (about 0.06-0.1 s), paid only by an input with fewer
  partitions than cores.

Two Python stages keep the JVM rule because the row rule was measured not
to pay there: the frame-sequence audio synthesizer (1.06 ms per row; at
500 rows one task made dedup_audio_offset slower in wall time) and the
Misra-Gries pass of ``heavy_hitters`` (its word stream has more than
4 × 1,024 rows at every fixture scale, so the count bought nothing).

Deliberately NOT keyed (a plain round-robin repartition): spreading a
broadcast-join probe side BY ITS JOIN KEY re-concentrates hot buckets —
the measured counter-experiment (9 s vs 3.6 s) is in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: rows one Python (``mapInPandas``) task carries before ``spread`` adds
#: another
_PYTHON_ROWS_PER_TASK = 1024


def spread(df: DataFrame, python: bool = False) -> DataFrame:
    """Round-robin repartition an under-partitioned ``df`` (fewer
    partitions than the session's default parallelism ``par``); identity
    otherwise.

    For a JVM stage (``python=False``) the target is ``par``. For a Python
    stage (``python=True``) ``df`` is counted once and the target is
    ``min(par, ceil(rows / _PYTHON_ROWS_PER_TASK))``; ``df`` is
    repartitioned only when that exceeds the partitions it already has.
    The count is a Spark job that runs here, when the consumer's frame is
    BUILT, not when it executes: a plan-only caller pays it, and so does
    every rebuild of a cached chain (the rebuild that lets the cache
    substitute). An input with at least ``par`` partitions returns before
    any count.

    An input whose plan ends in a ``repartition(n)`` exchange is judged by
    that planned ``n``, which AQE never coalesces: asking its RDD would run
    the exchange to learn the count, and the consumer would then run it
    again. Any other exchange may be coalesced at run time, so its count
    comes from the RDD, as before.

    Streaming frames pass through untouched: partition count is a
    per-micro-batch source property there (asking the RDD is an
    AnalysisException). Inside ``foreachBatch`` the batch frame is a plain
    batch DataFrame, so the rules above apply to each micro-batch."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    planned = plan.outputPartitioning()
    have = (
        planned.numPartitions()
        if planned.getClass().getSimpleName() == "RoundRobinPartitioning"
        else qe.toRdd().getNumPartitions()
    )
    if have >= par:
        return df
    if not python:
        want = par
    else:
        # count the plan's JVM rows: one job, where df.count() plans an
        # aggregate whose exchange AQE runs as a second job
        want = min(par, -(-qe.toRdd().count() // _PYTHON_ROWS_PER_TASK))
    return df.repartition(want) if want > have else df
