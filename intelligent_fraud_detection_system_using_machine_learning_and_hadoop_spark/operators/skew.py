"""Skew mitigation: hash-sharded exact distinct counting.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in session.py) handles most sort-merge skew at runtime; the
form here covers what AQE can't: exact COUNT(DISTINCT) whose per-key
value set lands on one reducer no matter how the partials combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_distinct_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT value) in two bounded stages:
    shard by ``hash(value) % n_salts`` first, count distinct within
    each (key, shard), then SUM the shard counts per key.

    A random salt would be valid only for re-aggregatable algebra —
    distinct counts are NOT: the same value could land in two shards
    and be counted twice. The shard here is a function of the VALUE, so
    every distinct value maps to exactly ONE shard: per-shard distinct
    sets partition the per-key distinct set and their cardinalities add
    up exactly. The hot key's value set is spread over ``n_salts`` tasks
    instead of one, and stage 2 only sums ``n_salts`` small longs per
    key.

    Equivalent result to ``groupBy(keys).agg(countDistinct(value))``
    (pinned by pytest and by the oracle twin of the registered query);
    use the plain form until a hot key actually hurts — two shuffles
    beat one only when the one is skew-bound.
    """
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    per_shard = df.groupBy(*key_cols, salt.alias(_SALT)).agg(
        F.countDistinct(value_col).alias("_d")
    )
    return per_shard.groupBy(*key_cols).agg(
        F.sum("_d").cast("long").alias(out_col)
    )
