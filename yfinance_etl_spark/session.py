"""SparkSession bootstrap.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every knob is
chosen for the 1000-executor / 100 TB posture:

* AQE on (runtime coalesce, skew-join splitting, dynamic join strategy switch).
* ``spark.sql.shuffle.partitions`` sized to the local core count here; on a real
  cluster you'd leave AQE's coalescing to right-size it from a high initial value.
* Arrow enabled so the few pandas-UDF operators (EMA, multimodal decode) move
  data in columnar batches, never row-at-a-time pickling. A Python stage's
  task count is a cost of its own: each Python task pays about 0.27 s of
  worker CPU before its first row, so ``operators.partitioning.spread`` sizes
  a small input's ``mapInPandas`` fan-out by row count
  (``spread(df, python=True)``), not by core count. Driver rows become a
  DataFrame only through ``catalog.local_frame``: it hands Spark a
  ``pyarrow.Table``, which plans as a JVM ``LocalTableScan``. A
  ``createDataFrame(rows, ddl)`` table is a Python RDD instead, and every job
  reading it starts one Python worker task per core.
* Broadcast threshold left at default (10 MB): dimension tables (region, nation,
  supplier, fund_info-style lookups) broadcast; fact tables never do.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "yfinance-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter injection (off by default in Spark): when a
        # selective dimension is too big to BROADCAST, the shuffle join's
        # creation side aggregates a bloom filter (bloom_filter_agg) that is
        # injected as a might_contain() pre-filter on the fact side — fact
        # rows that can't join die BEFORE the fact shuffle, the 100 TB
        # shuffle-volume lever for the non-broadcastable-dim case. Inert at
        # the scales this repo tests (every dim fits the 10 MB broadcast
        # threshold, and the default creation/application size thresholds
        # don't trip); injection itself is pinned by
        # tests/test_plan_shapes.py::test_runtime_bloom_filter_injects...
        .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert in catalog.load_table (µs truncation = DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed-table warehouse (sources/sink.py write_bucketed) lives in
        # scratch space, never the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "yfinance_etl_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
