"""Evaluation against the reference's OWN labeled dataset
(data/raw/simulated_subsidy_claims_10k.csv, 11,700 rows with
FraudLabel) — the evaluation pass SURVEY.md §5 plans and the reference
never ran. Pins that the engine's detectors carry real signal on the
reference's data, not just that they execute."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.evaluate import (
    evaluate_binary,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.rules import (
    score_claims,
)

CSV = "/root/reference/data/raw/simulated_subsidy_claims_10k.csv"
pytestmark = pytest.mark.skipif(
    not os.path.exists(CSV), reason="reference checkout not present"
)

LABELED_SCHEMA = T.StructType(
    [
        T.StructField("Name", T.StringType()),
        T.StructField("Aadhaar", T.LongType()),
        T.StructField("ClaimAmount", T.LongType()),
        T.StructField("SubsidyType", T.StringType()),
        T.StructField("Date", T.DateType()),
        T.StructField("FraudLabel", T.IntegerType()),
    ]
)


@pytest.fixture(scope="module")
def labeled(spark):
    return (
        spark.read.schema(LABELED_SCHEMA)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(CSV)
        .cache()
    )


def test_labeled_set_shape(labeled):
    assert labeled.count() == 11700
    n_pos = labeled.where(F.col("FraudLabel") == 1).count()
    assert n_pos == 1700


def test_rule_detector_carries_signal_on_labeled_set(labeled):
    scored = score_claims(labeled)
    metrics = evaluate_binary(
        scored, "FraudLabel", F.col("FraudType") != "Normal"
    ).collect()[0]
    base_rate = 1700 / 11700  # precision of a flag-everything detector
    # rules must beat the random baseline with meaningful lift, and
    # still catch a substantial share of labeled fraud
    assert metrics["precision"] > 1.5 * base_rate, dict(metrics.asDict())
    assert metrics["recall"] > 0.3, dict(metrics.asDict())
    # ... while not flagging everything
    flagged = scored.where(F.col("FraudType") != "Normal").count()
    assert flagged < 0.8 * 11700


def test_pca_detector_runs_on_labeled_set(labeled):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        fit_preprocessor,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.scoring import (
        batch_threshold,
        pca_reconstruction_scores,
        with_ml_verdict,
    )

    _, feats = fit_preprocessor(labeled)
    scored = pca_reconstruction_scores(feats, k=4)
    out = with_ml_verdict(scored, batch_threshold(scored))
    n = out.count()
    n_susp = out.where(F.col("MLFraud") == "Suspicious").count()
    assert n == 11700
    # mean+2σ thresholding flags a small tail, never the bulk
    assert 0 < n_susp < 0.2 * n


def test_supervised_rf_beats_unsupervised_on_labeled_set(labeled, spark):
    """The reference SHIPS FraudLabel and never reads it; with labels,
    a seeded MLlib RandomForest (deterministic hash split, fixed seed)
    should clearly beat both the flag-everything baseline and the
    unsupervised rule detector's precision at comparable recall —
    pinning that the engine's MLlib surface supports the supervised
    path end-to-end (preprocess Pipeline → fit → score → evaluate)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        fit_preprocessor,
        with_date_numeric,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.packing import (
        md5_bucket,
    )

    df = labeled.withColumn("_b", md5_bucket(F.col("Aadhaar").cast("string") , 100))
    train = df.where(F.col("_b") < 70)
    test = df.where(F.col("_b") >= 70)
    model, tr = fit_preprocessor(train)
    tr = tr.withColumn("label", F.col("FraudLabel").cast("double"))
    te = model.transform(with_date_numeric(test)).withColumn(
        "label", F.col("FraudLabel").cast("double")
    )
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="label", numTrees=30, seed=7, maxDepth=6
    ).fit(tr)
    pred = rf.transform(te)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(pred)
    # labels derive from real structure in the data -> supervised AUC
    # must be far above coin-flip
    assert auc > 0.75, auc
    # determinism: same seed + same deterministic split -> same AUC
    rf2 = RandomForestClassifier(
        featuresCol="features", labelCol="label", numTrees=30, seed=7, maxDepth=6
    ).fit(tr)
    auc2 = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(rf2.transform(te))
    assert auc == auc2


def test_exact_auc_differential(spark):
    """exact_auc vs a plain-Python tie-adjusted Mann-Whitney AUC, and
    the degenerate single-class NULL."""
    import random

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.evaluate import (
        exact_auc,
    )

    rng = random.Random(11)
    # heavy ties (scores drawn from 20 values), label correlated
    rows = []
    for _ in range(500):
        s = float(rng.randrange(20))
        y = 1 if rng.random() < (s + 1) / 40 else 0
        rows.append((s, y))
    df = spark.createDataFrame(rows, "score double, y int")
    got = exact_auc(df, "score", "y").first()

    # python reference: avg ranks with ties
    svals = sorted(s for s, _ in rows)
    import bisect

    def avg_rank2x(v):  # doubled average rank
        lt = bisect.bisect_left(svals, v)
        eq = bisect.bisect_right(svals, v) - lt
        return 2 * lt + eq + 1

    n = len(rows)
    n_pos = sum(y for _, y in rows)
    pos_r2 = sum(avg_rank2x(s) for s, y in rows if y)
    auc = float(pos_r2 - n_pos * (n_pos + 1)) / float(2 * n_pos * (n - n_pos))
    assert (got["n"], got["n_pos"], got["n_neg"]) == (n, n_pos, n - n_pos)
    assert got["auc"] == auc  # bit-exact
    assert 0.6 < got["auc"] < 0.9  # the planted signal is visible

    # perfect separation -> exactly 1.0; single class -> NULL
    sep = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)], "score double, y int"
    )
    assert exact_auc(sep, "score", "y").first()["auc"] == 1.0
    one = spark.createDataFrame([(1.0, 1), (2.0, 1)], "score double, y int")
    assert exact_auc(one, "score", "y").first()["auc"] is None
