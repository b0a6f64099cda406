"""Skew operators (operators/skew.py): the hash-sharded distinct count
must be EXACTLY equivalent to the plain form on a skewed fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.skew import (
    salted_distinct_count,
)


def _skewed_fixture(spark):
    # key 0 is hot: 5000 rows, 700 distinct values; keys 1-20 are tiny
    rows = [(0, i % 700) for i in range(5000)]
    rows += [(k, v) for k in range(1, 21) for v in range(k)]
    return spark.createDataFrame(rows, "k long, v long")


def test_salted_distinct_count_matches_plain(spark):
    df = _skewed_fixture(spark)
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    for n_salts in (1, 4, 16):
        salted = {
            r["k"]: r["n_distinct"]
            for r in salted_distinct_count(df, ["k"], "v", n_salts).collect()
        }
        assert salted == plain
    assert plain[0] == 700
