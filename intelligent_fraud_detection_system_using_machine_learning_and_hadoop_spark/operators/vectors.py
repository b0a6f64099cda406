"""Vector aggregation: element-wise centroids per group.

Training-data-pipeline extension (the reference — a pandas fraud
scorer, ref scripts/run_pipeline.py — has no vector surface): pooling
chunk embeddings into document embeddings, class centroids for
nearest-centroid classification, and cluster means for IVF/SemDeDup
refresh all reduce to the same primitive — the element-wise mean of an
``array<float>`` column per group.

Scale shape: Spark has no native vector aggregate, and a
collect_list-then-fold approach concentrates each group's vectors in
one task (hot groups blow memory). Instead the array posexplodes to
(group, dim, component) and aggregates per (group, dim) — the DIMENSION
is part of the shuffle key, so a group with a billion members spreads
its reduction across dim× more reducers and no task ever holds more
than a running sum. Components quantize to integer 1e-6 units before
summing, so the mean is an exact BIGINT ratio — order-independent on
any partitioning and bit-reproducible against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Quantization unit: components are floored to 1e-6 before the sum.
_Q = 10**6


def group_centroids_long(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-form centroids: one row per (group, dim) with the group
    size and the exact quantized mean component —
    mean = floor-quantized component sum / (n · 1e6)."""
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    comp = ex.groupBy("grp", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.floor(F.col("x") * F.lit(float(_Q))).cast("long"))
        .cast("long")
        .alias("sum_q"),
    )
    return comp.select(
        F.col("grp").alias(group_col),
        F.col("pos").cast("long").alias("pos"),
        "n_vectors",
        (
            F.col("sum_q").cast("double")
            / (F.col("n_vectors").cast("double") * F.lit(float(_Q)))
        ).alias("mean_component"),
    ).orderBy(group_col, "pos")
