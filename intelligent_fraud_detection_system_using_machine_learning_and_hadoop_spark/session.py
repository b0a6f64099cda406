"""SparkSession factory with scale-appropriate defaults.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single JVM. The same
conf keys are the ones that matter on a 1000-executor cluster — AQE
(runtime coalesce + skew-join handling), UTC session timezone (oracle
parity and cross-cluster determinism), Arrow for every Python<->JVM
exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def enable_nanos_reads(spark: SparkSession) -> None:
    """Single owner of ``spark.sql.legacy.parquet.nanosAsLong``.

    Spark has no TIMESTAMP(NANOS) type; files carrying it (the events
    table) are unreadable without this conf. It is set ONCE per session
    here (idempotent check-then-set) rather than mutated inside every
    reader call — the conf only changes how otherwise-unreadable
    nanos columns surface (as long), so enabling it session-wide is
    side-effect-free for all other parquet reads."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def get_spark(app_name: str = "ifds-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    on a real cluster leave AQE's coalescing to right-size post-shuffle
    partitions instead of hand-tuning.

    ANSI mode is pinned on, not assumed from the Spark default: integer
    overflow must fail loudly (``betweenness_sampled``'s BIGINT σ/δ
    path counts rely on it), never wrap around.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
