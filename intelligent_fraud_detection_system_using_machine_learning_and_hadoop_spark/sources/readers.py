"""Sources: schema-declared CSV / Parquet scans (SURVEY.md §2.1 S1–S3).

The reference reads CSVs eagerly with inferred dtypes
(``scripts/run_pipeline.py:17``, ``train.py:11``, ``app.py:18``). Here
scans are lazy, schema-declared, and pushdown-friendly: Catalyst prunes
columns into ``ReadSchema`` and pushes predicates into the file scan,
which is the difference between reading 100 TB and reading the 2 columns
of it you asked for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import CLAIMS_SCHEMA, TESTDATA_TABLES


def read_claims_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = CLAIMS_SCHEMA,
    infer: bool = False,
) -> DataFrame:
    """CSV scan of a claims table (reference S1/S2).

    ``infer=True`` mirrors ``pd.read_csv``'s behavior as a convenience;
    production paths keep the explicit schema (no extra inference pass
    over the data).
    """
    reader = spark.read.option("header", True).option("dateFormat", "yyyy-MM-dd")
    if infer:
        reader = reader.option("inferSchema", True)
    else:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver testdata table.

    The events table's ``ts`` column has shipped under three physical
    encodings across driver testdata generations; normalize all of them
    to session-timezone TIMESTAMP so downstream event-time code
    (watermarks, numeric casts) sees one type:

    * TIMESTAMP(NANOS) — Spark has no native type; read as long nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
      microsecond timestamps (floor, matching DuckDB's ``epoch_us``).
    * timestamp[us] with no timezone — Spark reads TIMESTAMP_NTZ, which
      is illegal for ``withWatermark`` and numeric casts; under the
      engine's pinned UTC session timezone (session.py) the cast to
      TIMESTAMP is wall-clock-identical.
    * timestamp[us, tz=UTC] — already TIMESTAMP, passes through.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from ..session import enable_nanos_reads

        enable_nanos_reads(spark)
        df = spark.read.parquet(path)
        return normalize_event_ts(df)
    return spark.read.parquet(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-timezone TIMESTAMP
    regardless of physical encoding (bigint nanos, TIMESTAMP_NTZ, or
    TIMESTAMP). Shared by the batch and streaming event readers so both
    plans see the same type."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All testdata tables as a dict of lazy DataFrames."""
    return {name: read_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def ensure_min_partitions(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan is pathologically
    under-partitioned (single-row-group files, tiny local inputs).

    Parquet scans split at row-group boundaries, so a one-row-group
    file yields one task no matter what ``maxPartitionBytes`` says —
    and every downstream map (tokenization, vector math, feature
    transforms) inherits that single thread. On a real multi-row-group
    / multi-file dataset the scan already yields ≥ cores partitions and
    this is a no-op, so hot-path callers can apply it unconditionally
    without pessimizing the at-scale plan with a gratuitous shuffle.
    """
    if df.isStreaming:
        # a streaming frame has no .rdd to probe, and micro-batch
        # parallelism belongs to the source (maxFilesPerTrigger etc.)
        # — the guard is a batch-scan concern only (r18: the
        # wrap_documents_html guard broke stream_html_extract's lazy
        # plan construction without this early-out)
        return df
    p = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, p // 2):
        return df.repartition(p)
    return df
