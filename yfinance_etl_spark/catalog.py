"""Table loaders for the test data (TESTDATA.md), and the one way
driver-side rows become a DataFrame.

All reads are plain ``spark.read.parquet`` so Catalyst gets the parquet footer
statistics, column pruning, and predicate pushdown for free. At 100 TB these
tables would be written ``partitionBy`` their natural key (see sources/sink.py);
the loaders don't care — partition pruning comes from the path layout.

Small tables built on the driver (price bands, peer groups, centroids,
token ids, shard offsets, questions) go through :func:`local_frame` and
nothing else: it plans them as a JVM ``LocalTableScan``. A plain
``spark.createDataFrame(rows, ddl)`` would back them with a parallelized
Python RDD instead, and every job reading such a table pays one Python
worker task per core before it does any work.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType, _make_type_verifier

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ns_ts_to_micros(df: DataFrame, col: str = "ts") -> DataFrame:
    """TIMESTAMP(NANOS) read as long (legacy.parquet.nanosAsLong) → µs
    timestamp. Integer div, not /: ns-since-epoch (~1.7e18) overflows
    double's 53-bit mantissa. Truncation matches DuckDB's ns→µs read.
    The ONE conversion rule — batch (load_table) and streaming
    (streams.read_events_stream) must share it or they silently diverge.
    """
    if isinstance(df.schema[col].dataType, LongType):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Make ``col`` a watermark-legal TIMESTAMP for event-time operators.

    The driver's regenerated events fixture stores TIMESTAMP(MICROS) with
    isAdjustedToUTC=0, which Spark 4 reads as TIMESTAMP_NTZ — fine for batch
    (DuckDB's oracle is naive-timestamp too, so hashes match), but
    ``withWatermark`` requires TIMESTAMP proper. The cast interprets the
    naive value in the session time zone (UTC for our sessions), so the
    wall-clock value — and therefore every window boundary and the
    collected result — is preserved. Batch loaders deliberately do NOT
    apply this: changing the batch ``ts`` type would perturb schema_match
    for the green event queries.
    """
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """The events fixture stores TIMESTAMP(NANOS) which vanilla Spark 4
    rejects (PARQUET_TYPE_ILLEGAL). ``nanosAsLong`` is a runtime-settable
    SQL conf, so set it here — at read time — rather than relying on
    whoever built the session (the driver's own SparkSession doesn't go
    through our session.py builder)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        _enable_nanos_as_long(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = ns_ts_to_micros(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` plans work too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """Driver rows → a DataFrame with schema ``ddl``, planned as a JVM
    ``LocalTableScan`` (no Python worker reads it).

    The rows are checked against the schema with the verifier
    ``createDataFrame(rows, ddl)`` applies, so a wrong-typed value (a str
    in a double column, a float in a bigint column, an int past the int
    range) raises instead of being coerced. They then become one
    ``pyarrow.Table`` with the DDL's Arrow schema. Spark turns an Arrow
    table into a LocalRelation (a JVM-side RDD past
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB), never a
    Python RDD, and has no non-Arrow fallback for it.
    """
    schema = StructType.fromDDL(ddl)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def non_empty(df: DataFrame) -> DataFrame | None:
    """P5 empty-result guard (reference ``if df.empty: return None``,
    yfinance_client.py:24-26, etl.py:10-12).

    ``df.isEmpty()`` runs a LocalLimit(1)-style job — it stops after the
    first row found, never counts the table — so the guard costs one
    near-instant job even on a 100 TB input."""
    return None if df.isEmpty() else df
