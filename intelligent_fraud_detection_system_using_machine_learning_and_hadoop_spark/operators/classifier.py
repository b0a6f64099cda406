"""Model-based quality filtering: hashed linear text classifier.

Training-data-pipeline extension (the reference — a 300-line pandas
fraud scorer, ref scripts/run_pipeline.py — has no text-classifier
surface). The classic corpus-curation component: a linear classifier
over hashed bag-of-words features (the fastText / logistic-regression
shape used for "looks like curated text" filtering in GPT-3-style and
CCNet-style pipelines) scores every document, and the pipeline keeps
docs above a logit threshold.

Scale shape (mirrors operators/selection.py's DSIR layout): the MODEL
is one ``n_buckets``-row broadcast table (bucket → quantized weight) —
it never shuffles and never grows with the corpus. The corpus-side cost
is a map-side-combined (doc, bucket) count aggregation over the token
explode and a per-doc roll-up, both keyed by doc-dominated keys. The
corpus is never self-joined; scoring is embarrassingly parallel.

Weights are QUANTIZED to integer 1e-6 units so the per-document logit
is an exact BIGINT dot product — order-independent on any partitioning
and bit-reproducible against a SQL oracle (float dot products are
neither).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .packing import md5_bucket
from .text import tokens

#: Quantization unit for weights: logits are exact multiples of 1e-6.
WEIGHT_Q = 1e6


def synthetic_quality_weights(
    spark: SparkSession, n_buckets: int = 1024, seed: int = 1
) -> DataFrame:
    """Deterministic stand-in weight table (bucket, w_q): a Knuth
    multiplicative hash of the bucket id mapped to [-1, 1), quantized.
    Engine-portable (plain integer arithmetic — the SQL oracle
    reproduces it exactly); production swaps in a TRAINED table of the
    same (bucket, w_q) shape."""
    h = (F.col("id") + F.lit(seed)) * F.lit(2654435761)
    u = F.pmod(h, F.lit(2**31)).cast("double") / F.lit(float(2**30))
    return spark.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket"),
        F.floor((u - F.lit(1.0)) * F.lit(WEIGHT_Q)).cast("long").alias("w_q"),
    )


def hashed_linear_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1024,
    bias_q: int = 0,
    normalize_by_length: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a linear model over hashed-unigram
    counts: logit = (bias_q + Σ_b c_b · w_q[b]) / 1e6, optionally
    divided by the token count (length normalization — fastText's mean
    pooling — so long documents don't dominate on magnitude alone).

    ``weights``: (bucket, w_q) with w_q in integer 1e-6 units — a
    broadcast-sized model regardless of corpus size. Buckets absent
    from the table weigh 0 (hash-trick convention).

    Returns (id, n_tokens, logit_q, logit, predicted) where ``logit_q``
    is the exact integer numerator (BIGINT — the oracle-stable value),
    ``logit`` the IEEE quotient, and ``predicted`` = logit > 0.
    """
    db = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .select("_id", md5_bucket(F.col("_tok"), n_buckets).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scored = (
        db.join(F.broadcast(weights), "bucket", "left")
        .groupBy("_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            (
                F.lit(bias_q)
                + F.sum(F.col("c") * F.coalesce(F.col("w_q"), F.lit(0)))
            )
            .cast("long")
            .alias("logit_q"),
        )
    )
    denom = (
        F.col("n_tokens").cast("double") * F.lit(WEIGHT_Q)
        if normalize_by_length
        else F.lit(WEIGHT_Q)
    )
    return scored.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        "logit_q",
        (F.col("logit_q").cast("double") / denom).alias("logit"),
        (F.col("logit_q") > 0).alias("predicted"),
    )
