"""ML scoring, train/score pipeline, and streaming semantics
(SURVEY.md §2.9/§2.10, §7 steps 4-8)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import (
    pipeline,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.autoencoder import (
    NumpyAutoencoder,
    autoencoder_scores,
    train_autoencoder,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.evaluate import (
    evaluate_binary,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
    fit_preprocessor,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.scoring import (
    batch_threshold,
    pca_reconstruction_scores,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.schema import (
    CLAIMS_SCHEMA,
)


def claims_fixture(spark, n=200, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    base = dt.date(2024, 1, 1)
    for i in range(n):
        rows.append(
            (
                f"Person{i}",
                100000000000 + i,
                int(rng.randint(1000, 20000)),
                ["LPG", "Housing", "Farming", "Education"][i % 4],
                base + dt.timedelta(days=int(rng.randint(0, 365))),
            )
        )
    # one extreme outlier the detector must rank highest
    rows.append(("Outlier", 100000009999, 5_000_000, "Housing", base))
    return spark.createDataFrame(rows, CLAIMS_SCHEMA)


def test_autoencoder_deterministic(spark):
    x = np.random.RandomState(0).standard_normal((300, 6))
    m1 = train_autoencoder(x, epochs=5, seed=42)
    m2 = train_autoencoder(x, epochs=5, seed=42)
    for a, b in zip(m1.params(), m2.params()):
        np.testing.assert_array_equal(a, b)
    # state round-trip preserves the forward exactly
    m3 = NumpyAutoencoder.from_state(m1.state())
    np.testing.assert_array_equal(m1.forward(x), m3.forward(x))


def test_autoencoder_learns_identity_ish(spark):
    rng = np.random.RandomState(1)
    x = rng.standard_normal((500, 6))
    model = train_autoencoder(x, epochs=30, seed=42)
    err_trained = float(np.mean((x - model.forward(x)) ** 2))
    err_init = float(
        np.mean((x - NumpyAutoencoder(6, seed=42).forward(x)) ** 2)
    )
    assert err_trained < err_init * 0.5


def test_pca_outlier_ranks_highest(spark):
    claims = claims_fixture(spark)
    _, feats = fit_preprocessor(claims)
    scored = pca_reconstruction_scores(feats, k=3)
    top = scored.orderBy(F.col("ReconstructionError").desc()).first()
    assert top["Name"] == "Outlier"
    assert scored.where(F.col("ReconstructionError") < 0).count() == 0


def test_pca_moments_path_matches_mllib_path(spark):
    """The two-pass moments PCA (one per-category aggregate + driver
    eigensolve, used by the anomaly_pca catalog query) must reproduce
    the MLlib pipeline's reconstruction errors exactly: same feature
    layout (numerics, alphabetAsc one-hots, keep-overflow slot), same
    sample-std standardization, same top-k subspace — eigenvector sign
    and eigenvalue scaling cancel in ‖z‖² − ‖Wᵀz‖²."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.scoring import (
        pca_scores_via_moments,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        with_date_numeric,
    )

    claims = with_date_numeric(claims_fixture(spark))
    _, feats = fit_preprocessor(claims)
    mllib = {
        r["Aadhaar"]: r["ReconstructionError"]
        for r in pca_reconstruction_scores(feats, k=3)
        .select("Aadhaar", "ReconstructionError")
        .collect()
    }
    fast = {
        r["Aadhaar"]: r["ReconstructionError"]
        for r in pca_scores_via_moments(
            claims,
            id_cols=["Aadhaar"],
            numeric_cols=["ClaimAmount", "DateNumeric"],
            categorical_col="SubsidyType",
            k=3,
        ).collect()
    }
    assert set(mllib) == set(fast)
    scale = max(max(mllib.values()), 1.0)
    for key, v in mllib.items():
        assert abs(v - fast[key]) <= 1e-9 * scale, key


def test_pca_moments_null_category_matches_mllib(spark):
    """NULL categories must land in the handleInvalid='keep' overflow
    slot (as StringIndexer routes them), not crash the alphabetAsc sort
    or get their own one-hot column — pinned differentially vs MLlib."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.scoring import (
        pca_scores_via_moments,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        with_date_numeric,
    )

    claims = with_date_numeric(claims_fixture(spark))
    claims = claims.withColumn(
        "SubsidyType",
        F.when(F.col("Aadhaar") % 7 == 0, None).otherwise(F.col("SubsidyType")),
    )
    assert claims.where(F.col("SubsidyType").isNull()).count() > 0
    _, feats = fit_preprocessor(claims)
    mllib = {
        r["Aadhaar"]: r["ReconstructionError"]
        for r in pca_reconstruction_scores(feats, k=3)
        .select("Aadhaar", "ReconstructionError")
        .collect()
    }
    fast = {
        r["Aadhaar"]: r["ReconstructionError"]
        for r in pca_scores_via_moments(
            claims,
            id_cols=["Aadhaar"],
            numeric_cols=["ClaimAmount", "DateNumeric"],
            categorical_col="SubsidyType",
            k=3,
        ).collect()
    }
    assert set(mllib) == set(fast)
    scale = max(max(mllib.values()), 1.0)
    for key, v in mllib.items():
        assert abs(v - fast[key]) <= 1e-9 * scale, key


def test_distributed_scoring_matches_local_forward(spark):
    claims = claims_fixture(spark, n=100)
    _, feats = fit_preprocessor(claims)
    from pyspark.ml.functions import vector_to_array

    local = np.stack(
        [
            np.asarray(r["farr"])
            for r in feats.select(
                "Aadhaar", vector_to_array(F.col("features")).alias("farr")
            )
            .orderBy("Aadhaar")
            .collect()
        ]
    )
    model = train_autoencoder(local, epochs=3, seed=42)
    expect = np.mean((local - model.forward(local)) ** 2, axis=1)
    got = (
        autoencoder_scores(feats, model, id_cols=["Aadhaar"])
        .orderBy("Aadhaar")
        .toPandas()["ReconstructionError"]
        .to_numpy()
    )
    np.testing.assert_allclose(got, expect, rtol=1e-12)


def test_pipeline_train_then_score(spark, tmp_path):
    claims = claims_fixture(spark)
    model_dir = str(tmp_path / "model")
    pipeline.train(claims, model_dir)
    scored = pipeline.score(claims, model_dir=model_dir)
    rows = scored.collect()
    assert len(rows) == claims.count()
    assert {"RuleFraud", "MLFraud", "ReconstructionError", "FraudType"} <= set(
        scored.columns
    )
    by_name = {r["Name"]: r for r in rows}
    assert by_name["Outlier"]["RuleFraud"].startswith("HighClaimAmount") or (
        "HighClaimAmount" in by_name["Outlier"]["RuleFraud"]
    )
    # rule verdict wins in the combination (reference M7)
    for r in rows:
        if r["RuleFraud"] != "Normal":
            assert r["FraudType"] == r["RuleFraud"]


def test_pipeline_pca_fallback(spark):
    claims = claims_fixture(spark, n=80)
    scored = pipeline.score(claims, scorer="pca")
    assert scored.where(F.col("MLFraud") == "Suspicious").count() >= 1


def test_evaluate_binary_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 1), (0, 0), (1, 1), (0, 0)], "label int, pred int"
    )
    r = evaluate_binary(df, "label", F.col("pred") == 1).collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 2)
    assert r["precision"] == pytest.approx(2 / 3)
    assert r["recall"] == pytest.approx(2 / 3)
    assert r["f1"] == pytest.approx(2 / 3)


def test_streaming_hourly_equals_batch(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        REGISTRY,
    )

    batch = {
        (r["hour_ts"], r["event_type"]): (r["n"], r["sum_value"])
        for r in REGISTRY["events_hourly"].builder(spark, sf_dir).collect()
    }
    stream = {
        (r["hour_ts"], r["event_type"]): (r["n"], r["sum_value"])
        for r in REGISTRY["streaming_events_hourly"].builder(spark, sf_dir).collect()
    }
    assert batch == stream


def test_streaming_claims_scoring_foreachbatch(spark, tmp_path):
    import glob

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    import os

    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "batch1.csv"), "w") as f:
        f.write("Name,Aadhaar,ClaimAmount,SubsidyType,Date\n")
        f.write("Asha,100000000001,5000,LPG,2024-01-01\n")
        f.write("Binod,100000000001,7000,LPG,2024-01-03\n")

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming import (
        stream_score_claims,
    )

    stream_score_claims(spark, in_dir, out_dir, CLAIMS_SCHEMA)
    out = spark.read.parquet(out_dir)
    got = {r["Name"]: r["RuleFraud"] for r in out.collect()}
    assert got["Asha"] == "DuplicateAadhaar;"
    # batch-relative q99 of {5000,7000} ≈ 6980 → 7000 also trips the
    # high-amount rule (reference M6/P5 semantics: thresholds are
    # per-batch)
    assert got["Binod"] == "DuplicateAadhaar;HighClaimAmount;FrequentClaims;"
    assert glob.glob(os.path.join(out_dir, "*.parquet"))


def test_stateful_user_stats_equals_batch_groupby(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_user_stats_stateful,
    )

    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in stream_user_stats_stateful(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], r["s"], r["m"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
                .cast("long")
                .cast("double")
                / 100.0
            ).alias("s"),
            F.max("value").alias("m"),
        )
        .collect()
    }
    assert got == want


def test_streaming_sessions_subset_of_batch(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.catalog import (
        REGISTRY,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_sessionize,
    )

    emitted = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in stream_sessionize(spark, sf_dir).collect()
    }
    # batch gaps-and-islands sessions, re-keyed by (user, start-ts)
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from pyspark.sql import Window as W

    e = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    boundary = F.when(F.lag("ts", 1).over(w).isNull() | (gap > 1800), 1).otherwise(0)
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in e.withColumn("sid", F.sum(boundary).over(run))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "session_start", "n_events")
        .collect()
    }
    assert emitted, "stream emitted no sessions"
    assert emitted.issubset(batch)
    # everything except possibly the last open session per user is emitted
    assert len(batch) - len(emitted) <= e.select("user_id").distinct().count()


def test_distributed_training_reduces_loss_and_scores(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.autoencoder import (
        autoencoder_scores,
        train_autoencoder_distributed,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.ml_ops import (
        _orders_features,
    )

    feats = _orders_features(spark, sf_dir).select("o_orderkey", "features")
    model, losses = train_autoencoder_distributed(feats, epochs=12, lr=1e-2)
    # full-batch Adam on a reconstruction task must make real progress
    assert losses[-1] < 0.7 * losses[0], losses
    # and the trained weights score distributed like any other model
    scored = autoencoder_scores(feats, model, id_cols=["o_orderkey"])
    row = scored.agg(F.count(F.lit(1)).alias("n")).collect()[0]
    assert row["n"] == feats.count()


def test_distributed_training_tree_merge_matches_flat(spark, sf_dir):
    """Forcing driver_fan_in below the partition count must engage the
    executor-side merge stage and still produce the SAME full-batch
    gradients — the tree reorders float addition only across contiguous
    pid groups, so losses agree to float tolerance and training
    progresses identically."""
    import numpy as np

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.autoencoder import (
        train_autoencoder_distributed,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.ml_ops import (
        _orders_features,
    )

    feats = (
        _orders_features(spark, sf_dir)
        .select("o_orderkey", "features")
        .repartition(8)
    )
    m_flat, l_flat = train_autoencoder_distributed(
        feats, epochs=3, lr=1e-2, driver_fan_in=64
    )
    m_tree, l_tree = train_autoencoder_distributed(
        feats, epochs=3, lr=1e-2, driver_fan_in=2
    )
    np.testing.assert_allclose(l_tree, l_flat, rtol=1e-9)
    for a, b in zip(m_flat.params(), m_tree.params()):
        np.testing.assert_allclose(a, b, rtol=1e-7, atol=1e-10)


def _jobs_in_group(spark, group: str, fn):
    """(fn(), number of Spark jobs ``fn`` launched). Counted in a
    dedicated job group: the global no-group count is unstable late in a
    long suite (the retained-jobs buffer evicts old IDs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


@pytest.fixture(scope="module")
def model_60(spark, tmp_path_factory):
    """An autoencoder model dir trained on ``claims_fixture(n=60)``."""
    model_dir = str(tmp_path_factory.mktemp("claims60") / "model")
    pipeline.train(claims_fixture(spark, n=60), model_dir)
    return model_dir


def test_score_is_one_lazy_plan_after_model_load(spark, model_60):
    """EP1 laziness: once the model dir is loaded, score() runs no job
    at all — the batch-relative threshold stays inside the Catalyst plan
    as a scalar subquery over the error aggregate, and the preprocessor
    comes from load_preprocessor's memo."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        load_preprocessor,
    )
    from tests.test_plan_shapes import plan_of, subqueries_of

    claims = claims_fixture(spark, n=60)
    model_dir = model_60
    load_preprocessor(os.path.join(model_dir, "preprocessor"))

    for attempt in ("first", "second"):
        scored, jobs = _jobs_in_group(
            spark, f"lazy_probe_score_{attempt}",
            lambda: pipeline.score(claims, model_dir=model_dir),
        )
        assert jobs == 0, f"{attempt} score() ran {jobs} job(s)"
    plan = plan_of(scored)
    assert "stddev_pop(" in subqueries_of(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    # the plan still evaluates correctly
    assert scored.count() == 61


def _score_at_width(spark, claims, width, **kw):
    """pipeline.score's columns and Name-sorted rows at one
    ``spark.sql.shuffle.partitions`` width (caches released after)."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.cache import (
        release_caches,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        scored = pipeline.score(claims, **kw)
        return scored.columns, sorted(scored.collect(), key=lambda r: r["Name"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_caches()


def test_score_is_independent_of_shuffle_width(spark, model_60):
    """Widths 3 and 11 give the same scored rows. ReconstructionError
    agrees to 1e-12 relative, not bitwise: the model pass's numpy
    forward is not bitwise reproducible from run to run."""
    claims = claims_fixture(spark, n=200)
    cols, narrow = _score_at_width(spark, claims, 3, model_dir=model_60)
    cols_wide, wide = _score_at_width(spark, claims, 11, model_dir=model_60)
    assert cols == cols_wide
    err = cols.index("ReconstructionError")
    assert len(narrow) == len(wide) == 201
    for a, b in zip(narrow, wide):
        assert a[:err] + a[err + 1 :] == b[:err] + b[err + 1 :]
        assert a[err] == pytest.approx(b[err], rel=1e-12, abs=0)


@pytest.mark.parametrize("scorer", ["autoencoder", "pca"])
def test_score_empty_batch_keeps_schema(spark, model_60, scorer):
    """Both scorers return 0 rows with the autoencoder's schema."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.schema import (
        CLAIMS_SCHEMA,
    )

    empty = pipeline.score(
        spark.createDataFrame([], CLAIMS_SCHEMA), model_dir=model_60, scorer=scorer
    )
    full = pipeline.score(claims_fixture(spark, n=3), model_dir=model_60)
    assert empty.schema == full.schema
    assert empty.count() == 0


@pytest.mark.parametrize("n", [60, 80, 200])
def test_pca_scorer_is_independent_of_shuffle_width(spark, n):
    """The PCA scorer keeps a residual subspace (k below the feature
    covariance's rank), so the planted outlier scores highest and the
    Suspicious set does not depend on the shuffle width."""
    claims = claims_fixture(spark, n=n)
    suspicious = []
    for width in (3, 11):
        _, rows = _score_at_width(spark, claims, width, scorer="pca")
        top = max(rows, key=lambda r: r["ReconstructionError"])
        assert top["Name"] == "Outlier"
        suspicious.append({r["Name"] for r in rows if r["MLFraud"] == "Suspicious"})
    assert suspicious[0] == suspicious[1]
    assert "Outlier" in suspicious[0]


def test_score_runs_one_model_pass_without_row_key(spark, model_60):
    """The autoencoder error is a column of the scored rows: the
    physical plan holds ONE Arrow Python node (formatted explain lists
    each distinct node once, however many branches read the cache), no
    mapInPandas pass and no row key to join it back by."""
    import re

    from tests.test_plan_shapes import plan_of

    claims = claims_fixture(spark, n=60)
    plan = plan_of(pipeline.score(claims, model_dir=model_60))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    for absent in ("MapInPandas", "_row_md5", "_row_id"):
        assert absent not in plan, absent


def test_load_preprocessor_memo_reloads_on_retrain(spark, tmp_path):
    """An unchanged model dir returns the SAME loaded model without a
    job; retraining into the same dir changes its fingerprint, so the
    next load is a fresh model."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.ml.preprocess import (
        load_preprocessor,
    )

    model_dir = str(tmp_path / "model")
    path = os.path.join(model_dir, "preprocessor")
    pipeline.train(claims_fixture(spark, n=60), model_dir)
    first = load_preprocessor(path)
    again, jobs = _jobs_in_group(spark, "memo_hit", lambda: load_preprocessor(path))
    assert again is first
    assert jobs == 0
    pipeline.train(claims_fixture(spark, n=80, seed=8), model_dir)
    fresh = load_preprocessor(path)
    assert fresh is not first
    assert fresh.stages[-1].mean != first.stages[-1].mean


def test_streaming_topk_trending_equals_batch(spark, sf_dir):
    """The incremental windowed-count + sink-side rank must equal the
    batch date_trunc + row_number heavy-hitters plan exactly."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_topk_trending,
    )

    rank_w = W.partitionBy("hour_ts").orderBy(F.desc("n_events"), F.asc("event_type"))
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("rnk", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rnk") <= 3)
    )
    to_set = lambda df: {  # noqa: E731
        (r.hour_ts, r.event_type, r.n_events, r.rnk) for r in df.collect()
    }
    got = to_set(stream_topk_trending(spark, sf_dir))
    want = to_set(batch)
    assert got == want and len(got) > 0


def test_drop_duplicates_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the BOUNDED-state streaming dedup
    (an id's dedup state evicts once the watermark passes its event
    time + delay) — duplicates arriving within the window drop, while a
    re-occurrence after the state expired is re-emitted. The watermark
    advances one micro-batch behind the data, so a middle batch carries
    it forward before the late re-occurrence arrives. The unbounded
    dropDuplicates (stream_distinct_pairs) keeps every key forever;
    this is the API a forever-running scrubber actually deploys."""
    import os
    from datetime import datetime

    d = str(tmp_path)
    batches = {
        "b1": [
            (1, datetime(2024, 1, 1, 0, 0)),
            (1, datetime(2024, 1, 1, 0, 10)),  # dup within 1h: drop
            (2, datetime(2024, 1, 1, 0, 20)),
        ],
        # advances the watermark to 8:00 (applied from the NEXT batch)
        "b2": [(4, datetime(2024, 1, 1, 9, 0))],
        # a batch under the advanced watermark: its cleanup phase
        # evicts k=1's expired state (expiry 1:00 < wm 8:00)
        "b3": [(5, datetime(2024, 1, 1, 9, 10))],
        # k=1 state gone -> re-emitted
        "b4": [
            (1, datetime(2024, 1, 1, 9, 30)),
            (3, datetime(2024, 1, 1, 9, 35)),
        ],
    }
    for name, rows in batches.items():
        spark.createDataFrame(rows, "k long, ts timestamp").coalesce(
            1
        ).write.parquet(os.path.join(d, name))
    schema = spark.read.parquet(os.path.join(d, "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/b*")
    )
    out = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.format("memory")
        .queryName("ddww_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r["k"], r["ts"]) for r in spark.table("ddww_t").collect())
    assert [k for k, _ in got] == [1, 1, 2, 3, 4, 5]
    # the re-emitted id-1 row is the LATE one (state had expired)
    assert got[1][1] == datetime(2024, 1, 1, 9, 30)


def test_stream_attribution_quiet_day_returns_empty(spark, tmp_path):
    """ADVICE r8: a stream with NO purchase events must degrade to an
    empty attribution result (the batch twin's behavior), not crash on
    createDataFrame(None, schema)."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_attribution,
    )

    quiet = str(tmp_path / "quiet_sf")
    import os

    os.makedirs(quiet, exist_ok=True)
    rows = [
        (i, f"2024-01-01 0{i % 10}:00:00", i % 7, t, float(i), "{}")
        for i, t in enumerate(["view", "click"] * 20)
    ]
    (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(quiet, "events.parquet"))
    )
    out = stream_attribution(spark, quiet, n_files=2)
    assert out.count() == 0
    assert out.columns == [
        "touch_type", "n_touches", "n_conversions",
        "credited_value", "credited_conversions",
    ]


def test_foreachbatch_replay_is_idempotent(spark, sf_dir):
    """VERDICT r8 item 8: foreachBatch is at-least-once — after a crash
    the SAME batch_id is re-invoked. The additive MV/attribution folds
    must apply each batch exactly once (last-applied-id guard): a
    replay is a no-op, a NEW id still folds."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _make_attribution_fold,
        _make_incremental_agg_fold,
    )

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    ev = read_table(spark, sf_dir, "events")
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)

    # --- incremental aggregate MV fold ---
    state = _ParquetFoldState(spark, "test_mv")
    fold = _make_incremental_agg_fold(spark, state)
    fold(half_a, 0)
    snap = sorted(map(tuple, state.read().collect()))
    fold(half_a, 0)  # crash-replay of batch 0
    assert sorted(map(tuple, state.read().collect())) == snap  # no double count
    fold(half_b, 1)  # genuinely new batch still folds
    assert sorted(map(tuple, state.read().collect())) != snap

    # --- attribution fold ---
    touches = ev.where(F.col("event_type").isin("view", "click"))
    st2 = _ParquetFoldState(spark, "test_attr")
    fold2 = _make_attribution_fold(spark, st2, touches)
    fold2(half_a, 0)
    snap2 = sorted(map(tuple, st2.read().collect()))
    assert snap2  # purchases exist in half_a at every sf
    fold2(half_a, 0)  # replay
    assert sorted(map(tuple, st2.read().collect())) == snap2
    fold2(half_b, 1)
    assert sorted(map(tuple, st2.read().collect())) != snap2


def test_foreachbatch_failed_batch_is_retried(spark, sf_dir):
    """ADVICE r9: the last-applied-id guard must be recorded AFTER the
    state update. If the fold crashes mid-batch (the at-least-once
    replay scenario), the re-invocation with the SAME batch_id must
    redo the work — recording the id first would skip the retry and
    silently drop the batch (at-most-once)."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _make_attribution_fold,
        _make_incremental_agg_fold,
    )

    ev = read_table(spark, sf_dir, "events")

    class _Boom(Exception):
        pass

    class _ExplodingBatch:
        """Wraps a real batch but blows up inside the fold's Spark work
        (agg_state/linear_attribution call .groupBy / .where on it)."""

        def __init__(self, df):
            self._df = df

        def isEmpty(self):
            return False

        def __getattr__(self, name):
            raise _Boom(name)

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    # --- incremental aggregate MV fold: crash, then successful retry ---
    state = _ParquetFoldState(spark, "test_mv_retry")
    fold = _make_incremental_agg_fold(spark, state)
    try:
        fold(_ExplodingBatch(ev), 0)
    except _Boom:
        pass
    # crash must NOT commit a snapshot (no _SUCCESS -> not applied)
    assert state.last_batch() == -1
    fold(ev, 0)  # same-id retry does the work
    assert state.last_batch() == 0
    assert state.read().count()  # the batch's data landed

    # --- attribution fold: same contract ---
    touches = ev.where(F.col("event_type").isin("view", "click"))
    st2 = _ParquetFoldState(spark, "test_attr_retry")
    fold2 = _make_attribution_fold(spark, st2, touches)

    class _ExplodingConvs:
        def where(self, *_a, **_k):
            raise _Boom("where")

    try:
        fold2(_ExplodingConvs(), 0)
    except _Boom:
        pass
    assert st2.last_batch() == -1
    fold2(ev, 0)  # retry succeeds
    assert st2.last_batch() == 0
    assert st2.read().count()


def test_fold_state_stays_off_the_driver(spark, sf_dir, monkeypatch):
    """VERDICT r12 item 3 (state residence): the foreachBatch folds
    keep their |entities|/|keys|-row state as committed parquet
    snapshots merged by distributed groupBys — NO DataFrame.collect /
    toPandas / toLocalIterator may fire anywhere in a fold or in the
    drained-state read path. Runs the two factored folds directly and
    the two inline-fold jobs end-to-end under a spy."""
    from pyspark.sql import DataFrame, functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _make_attribution_fold,
        _make_incremental_agg_fold,
        _ParquetFoldState,
        stream_benford,
        stream_peer_outliers,
        stream_structuring,
    )

    ev = read_table(spark, sf_dir, "events")
    touches = ev.where(F.col("event_type").isin("view", "click"))
    halves = [ev.where(F.col("event_id") % 2 == i) for i in (0, 1)]
    mv_state = _ParquetFoldState(spark, "test_mv_residence")
    attr_state = _ParquetFoldState(spark, "test_attr_residence")
    mv_fold = _make_incremental_agg_fold(spark, mv_state)
    attr_fold = _make_attribution_fold(spark, attr_state, touches)

    calls: list[str] = []
    for name in ("collect", "toPandas", "toLocalIterator"):
        orig = getattr(DataFrame, name)

        def spy(self, *a, _n=name, _o=orig, **k):
            calls.append(_n)
            return _o(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)

    for i, h in enumerate(halves):
        mv_fold(h, i)
        attr_fold(h, i)
    # inline folds: the whole drained job, state read included —
    # benford included since VERDICT r13 item 6 removed the last
    # driver-resident fold exemption
    structuring = stream_structuring(spark, sf_dir, n_files=3)
    peers = stream_peer_outliers(spark, sf_dir, n_files=3)
    benford = stream_benford(spark, sf_dir, n_files=3)
    assert calls == [], f"driver materialization in a fold path: {calls}"
    # the spy didn't break the queries themselves
    assert structuring.count() >= 0 and peers.count() > 0
    assert benford.count() > 0
    assert mv_state.last_batch() == 1 and attr_state.last_batch() == 1


def _sum_n():
    """``apply_delta`` aggs of the test folds: keyed sum of ``n``."""
    from pyspark.sql import functions as F

    return [F.sum("n").cast("long").alias("n")]


def test_fold_state_bucketed_merge_reads_only_touched_buckets(spark):
    """VERDICT r13 item 5 plan-guard: apply_delta's per-batch merge
    must read ≤ the touched buckets. Proof by poison: after batch 0
    populates every bucket, an UNTOUCHED bucket's parquet bytes are
    corrupted on disk — if the batch-1 merge (touching one other
    bucket) read it, the job would throw; it must instead succeed and
    advance ONLY the touched bucket's version."""
    import glob
    import os

    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    n_buckets = 4
    # xxhash64 is seed-stable: derive one key per bucket from Spark
    # itself so the fixture can't drift from the implementation's hash
    mapping = {
        r["b"]: r["id"]
        for r in spark.range(200)
        .select(
            "id", F.pmod(F.xxhash64("id"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .collect()
        if r["b"] is not None
    }
    assert set(mapping) == set(range(n_buckets))
    state = _ParquetFoldState(spark, "test_buckets", n_buckets=n_buckets)
    all_keys = spark.createDataFrame(
        [(mapping[b], 1) for b in range(n_buckets)], "k long, n long"
    )
    state.apply_delta(all_keys, 0, ["k"], _sum_n())
    assert [state._bucket_last(k) for k in range(n_buckets)] == [0] * n_buckets

    # poison an untouched bucket's data file
    victim = (set(range(n_buckets)) - {0}).pop()
    files = glob.glob(os.path.join(state._bucket_dir(victim), "v0", "*.parquet"))
    assert files
    saved = open(files[0], "rb").read()
    with open(files[0], "wb") as fh:
        fh.write(b"not a parquet file")

    one_key = spark.createDataFrame([(mapping[0], 1)], "k long, n long")
    state.apply_delta(one_key, 1, ["k"], _sum_n())  # must not read victim
    assert state._bucket_last(0) == 1
    assert all(
        state._bucket_last(k) == 0 for k in range(n_buckets) if k != 0
    )

    # restore and check the fold algebra end-to-end
    with open(files[0], "wb") as fh:
        fh.write(saved)
    got = {r["k"]: r["n"] for r in state.read().collect()}
    want = {mapping[b]: (2 if b == 0 else 1) for b in range(n_buckets)}
    assert got == want


def test_fold_state_survives_driver_restart_with_stable_path(spark, tmp_path):
    """ADVICE r13: with a caller-supplied stable path, BOTH the state
    and the exactly-once replay guard survive a driver restart (a new
    _ParquetFoldState on the same path resumes from the committed
    snapshots); the default tempdir form only claims within-process
    survival."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    p = str(tmp_path / "fold_state")
    s1 = _ParquetFoldState(spark, "restart", path=p)
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    s1.apply_delta(d0, 0, ["k"], _sum_n())

    # "restart": a fresh instance pointed at the same path
    s2 = _ParquetFoldState(spark, "restart", path=p)
    assert s2.last_batch() == 0
    assert {tuple(r) for r in s2.read().collect()} == {(1, 10), (2, 20)}
    # the replay guard survived too: re-applying batch 0 is a no-op
    s2.apply_delta(d0, 0, ["k"], _sum_n())
    assert {tuple(r) for r in s2.read().collect()} == {(1, 10), (2, 20)}
    # and a new batch folds
    s2.apply_delta(
        spark.createDataFrame([(1, 5)], "k long, n long"),
        1,
        ["k"],
        _sum_n(),
    )
    assert {tuple(r) for r in s2.read().collect()} == {(1, 15), (2, 20)}


def test_fold_state_retry_replaces_uncommitted_leftover(spark):
    """ADVICE r14 (crash recovery): simulate a crash BETWEEN
    shutil.move and the _SUCCESS touch — dest exists with the merged
    files but no marker. The retry must REPLACE that leftover, not
    nest the fresh merge inside it as a spurious '_kb=' subdir; the
    recovered state must read back exactly once."""
    import os
    import shutil

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    state = _ParquetFoldState(spark, "test_crash_window", n_buckets=2)
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    state.apply_delta(d0, 0, ["k"], _sum_n())

    # forge the crash window for every bucket of batch 1: v1 moved
    # into place but _SUCCESS not yet touched — which also means the
    # prune of v0 (it runs after the touch) has not happened, so v0
    # must still be the committed version. Snapshot v0 first, apply
    # batch 1 for real, then rewind to the mid-commit state.
    import tempfile

    snap = tempfile.mkdtemp(prefix="ifds_v0_snap_")
    for k in range(state.n_buckets):
        v0 = os.path.join(state._bucket_dir(k), "v0")
        if os.path.isdir(v0):
            shutil.copytree(v0, os.path.join(snap, f"b{k}"))
    d1 = spark.createDataFrame([(1, 5), (2, 7)], "k long, n long")
    state.apply_delta(d1, 1, ["k"], _sum_n())
    stale = []
    for k in range(state.n_buckets):
        dest = os.path.join(state._bucket_dir(k), "v1")
        if os.path.isdir(dest):
            os.remove(os.path.join(dest, "_SUCCESS"))
            stale.append(dest)
        saved = os.path.join(snap, f"b{k}")
        if os.path.isdir(saved):
            shutil.copytree(
                saved, os.path.join(state._bucket_dir(k), "v0")
            )
    assert stale, "batch 1 committed no buckets — fixture broken"
    assert state.last_batch() == 0  # uncommitted v1 is invisible
    shutil.rmtree(snap, ignore_errors=True)

    # the foreachBatch retry re-invokes with the SAME batch id
    state.apply_delta(d1, 1, ["k"], _sum_n())
    assert state.last_batch() == 1
    for dest in stale:
        nested = [n for n in os.listdir(dest) if n.startswith("_kb=")]
        assert nested == [], f"retry nested fresh files inside {dest}"
    got = {r["k"]: r["n"] for r in state.read().collect()}
    assert got == {1: 15, 2: 27}
    shutil.rmtree(state.dir, ignore_errors=True)


def test_fold_state_null_key_folds_cleanly(spark):
    """ADVICE r14 (null fold keys): xxhash64 skips null inputs and
    returns its seed, so a null-keyed delta row lands in a REAL
    integer bucket (never __HIVE_DEFAULT_PARTITION__) and the fold
    completes; null is a legal group key end-to-end."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    state = _ParquetFoldState(spark, "test_null_key", n_buckets=4)
    d0 = spark.createDataFrame([(None, 3), ("a", 1)], "k string, n long")
    state.apply_delta(d0, 0, ["k"], _sum_n())
    d1 = spark.createDataFrame([(None, 4)], "k string, n long")
    state.apply_delta(d1, 1, ["k"], _sum_n())
    got = {r["k"]: r["n"] for r in state.read().collect()}
    assert got == {None: 7, "a": 1}

    # the key-set state (empty aggs): a distinct union, null included
    keys = _ParquetFoldState(spark, "test_null_keyset", n_buckets=4)
    keys.apply_delta(d0.select("k"), 0, ["k"], [])
    keys.apply_delta(d1.select("k"), 1, ["k"], [])
    assert {r["k"] for r in keys.read().collect()} == {None, "a"}


def test_fold_state_output_log_commits_each_batch_once(spark):
    """The per-batch output log (the hits of the duplicate-charge and
    impossible-velocity folds): an empty log reads back as an empty
    frame with the hit schema; re-committing a committed batch id is a
    no-op that never builds its rows; a version dir left without
    _SUCCESS by a crash is invisible to reads, and the same-id retry
    replaces it instead of nesting inside it."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    schema = "event_id long, gap_s long"
    state = _ParquetFoldState(spark, "test_log")
    empty = state.read_log(schema)
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame([], schema).schema

    state.log(0, lambda: spark.createDataFrame([(1, 5)], schema))

    def boom():
        raise AssertionError("a committed batch must not be rebuilt")

    state.log(0, boom)  # replay of a committed batch
    assert [tuple(r) for r in state.read_log(schema).collect()] == [(1, 5)]

    # crash window: batch 1's files written, _SUCCESS never touched
    state.log(1, lambda: spark.createDataFrame([(2, 9)], schema))
    v1 = os.path.join(state._log_path(), "v1")
    os.remove(os.path.join(v1, "_SUCCESS"))
    assert [tuple(r) for r in state.read_log(schema).collect()] == [(1, 5)]

    state.log(1, lambda: spark.createDataFrame([(3, 7)], schema))  # retry
    nested = [n for n in os.listdir(v1) if os.path.isdir(os.path.join(v1, n))]
    assert nested == [], f"retry nested {nested} inside {v1}"
    got = sorted(tuple(r) for r in state.read_log(schema).collect())
    assert got == [(1, 5), (3, 7)]


def _parquet_io_spy(monkeypatch):
    """Record the path of every ``DataFrameWriter.parquet`` call, and
    for every ``DataFrameReader.parquet`` call whether its reader was
    given a schema (a schema-less read of existing files launches a
    footer-inference job)."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    writes: list[str] = []
    reads: list[bool] = []
    write_parquet = DataFrameWriter.parquet
    read_schema = DataFrameReader.schema
    read_parquet = DataFrameReader.parquet

    def spy_write(self, path, *a, **k):
        writes.append(path)
        return write_parquet(self, path, *a, **k)

    def spy_schema(self, schema):
        out = read_schema(self, schema)
        out._spied_schema = True
        return out

    def spy_read(self, *paths, **k):
        reads.append(getattr(self, "_spied_schema", False))
        return read_parquet(self, *paths, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(DataFrameReader, "schema", spy_schema)
    monkeypatch.setattr(DataFrameReader, "parquet", spy_read)
    return writes, reads


def test_fold_state_commits_each_batch_in_one_write(spark, monkeypatch):
    """Each applied batch is ONE parquet write (the bucket-partitioned
    merge; no ``_delta_v*`` scratch copy of the delta), the previous
    state is read with the known schema, and once a store has folded a
    batch its ``read()`` launches no job at all (no footer inference) —
    for the bucketed and the whole-snapshot layout alike."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    writes, reads = _parquet_io_spy(monkeypatch)
    state = _ParquetFoldState(spark, "test_one_write", n_buckets=4)
    d0 = spark.createDataFrame([(k, 1) for k in range(20)], "k long, n long")
    state.apply_delta(d0, 0, ["k"], _sum_n())
    assert len(writes) == 1
    d1 = spark.createDataFrame([(k, 2) for k in range(10, 30)], "k long, n long")
    state.apply_delta(d1, 1, ["k"], _sum_n())
    assert len(writes) == 2, writes
    assert not any("_delta_v" in p for p in writes), writes
    assert reads and all(reads), "a fold-state read ran without a schema"
    assert not [n for n in os.listdir(state.dir) if n.startswith("_")]

    got, jobs = _jobs_in_group(spark, "fold_state_read", state.read)
    assert jobs == 0, f"read() of folded state ran {jobs} job(s)"
    want = {k: (1 if k < 10 else 3 if k < 20 else 2) for k in range(30)}
    assert {r["k"]: r["n"] for r in got.collect()} == want

    whole = _ParquetFoldState(spark, "test_one_write_whole")
    whole.write(d0, 0)
    snap, jobs = _jobs_in_group(spark, "fold_state_read_whole", whole.read)
    assert jobs == 0, f"read() of a whole snapshot ran {jobs} job(s)"
    assert snap.count() == 20


def test_fold_state_replay_writes_nothing(spark, monkeypatch):
    """Replaying a committed batch id (foreachBatch's at-least-once
    retry) writes no parquet and leaves every bucket's committed
    version and files exactly as they were."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    state = _ParquetFoldState(spark, "test_replay_noop", n_buckets=4)
    d0 = spark.createDataFrame([(k, 1) for k in range(20)], "k long, n long")
    state.apply_delta(d0, 0, ["k"], _sum_n())
    state.apply_delta(d0, 1, ["k"], _sum_n())

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(d, f), state.dir),
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, files in os.walk(state.dir)
            for f in files
        )

    before = tree()
    versions = [state._bucket_last(k) for k in range(state.n_buckets)]
    writes, _ = _parquet_io_spy(monkeypatch)
    state.apply_delta(d0, 1, ["k"], _sum_n())
    assert writes == []
    assert [state._bucket_last(k) for k in range(state.n_buckets)] == versions
    assert tree() == before
    assert {r["n"] for r in state.read().collect()} == {2}


def test_fold_state_rejects_type_changing_aggs(spark, monkeypatch):
    """State written by one batch is read back by the next with the
    delta's schema, so a merge that changes a column's type (``sum``
    over an ``int`` gives ``bigint``) must fail by name before anything
    is written."""
    import os

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    writes, _ = _parquet_io_spy(monkeypatch)
    state = _ParquetFoldState(spark, "test_type_check", n_buckets=2)
    d0 = spark.createDataFrame([(1, 3), (2, 4)], "k long, n int")
    with pytest.raises(ValueError, match=r"'n', 'bigint'.*'n', 'int'"):
        state.apply_delta(d0, 0, ["k"], [F.sum("n").alias("n")])
    assert writes == []
    assert os.listdir(state.dir) == []
    assert state.last_batch() == -1


def test_fold_state_computes_a_join_delta_once(spark):
    """A delta that joins the batch against static history feeds both
    the bucket observation and the merge write; it is computed once for
    the two (cached, then released), not once per job. Each row of the
    static side passes a counting filter, so a second computation shows
    as a doubled count. A delta its caller cached is left cached."""
    from pyspark.sql.types import BooleanType

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    scanned = spark.sparkContext.accumulator(0)

    def counted(_):
        scanned.add(1)
        return True

    # nondeterministic: the optimizer must not copy the filter across
    # the join condition onto the batch side
    count = F.udf(counted, BooleanType()).asNondeterministic()
    history = spark.range(40).where(count("id"))
    batch = spark.createDataFrame([(k, 1) for k in range(0, 40, 2)], "k long, n long")
    delta = batch.join(history, batch.k == history.id).select("k", "n")
    state = _ParquetFoldState(spark, "test_join_delta", n_buckets=4)
    state.apply_delta(delta, 0, ["k"], _sum_n())
    assert scanned.value == 40
    assert not delta.is_cached
    assert {r["k"]: r["n"] for r in state.read().collect()} == {
        k: 1 for k in range(0, 40, 2)
    }
    # a delta its caller cached stays cached
    delta.persist()
    state.apply_delta(delta, 1, ["k"], _sum_n())
    assert delta.is_cached
    delta.unpersist()
    assert {r["n"] for r in state.read().collect()} == {2}


def test_fold_state_restart_rejects_renamed_column(spark, tmp_path):
    """A fresh store on a stable path reads the previous run's state
    with the schema its files carry, not with this run's delta schema:
    a column renamed between runs fails the merge by name instead of
    being read back as nulls that ``sum`` would silently drop."""
    from pyspark.errors import AnalysisException

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    p = str(tmp_path / "fold_state")
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    _ParquetFoldState(spark, "renamed", path=p, n_buckets=2).apply_delta(
        d0, 0, ["k"], _sum_n()
    )

    s2 = _ParquetFoldState(spark, "renamed", path=p, n_buckets=2)
    d1 = spark.createDataFrame([(1, 5)], "k long, m long")
    with pytest.raises(AnalysisException, match='column name "n"'):
        s2.apply_delta(d1, 1, ["k"], [F.sum("m").cast("long").alias("m")])
    assert s2.last_batch() == 0
    assert {tuple(r) for r in s2.read().collect()} == {(1, 10), (2, 20)}


def test_incremental_cc_fold_contract(spark, sf_dir):
    """The contracted-graph CC fold: replay of an applied batch is a
    no-op; a crashed batch is retried (last_batch recorded only after
    the state update); incremental folding over two halves equals
    batch CC over the union."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.graph import (
        connected_components,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _make_incremental_cc_fold,
    )

    def li(rows):
        return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

    # orders: o1={1,2}, o2={2,3} in batch A; o3={10,11}, o4={3,4} in B
    batch_a = li([(1, 1), (1, 2), (2, 2), (2, 3)])
    batch_b = li([(3, 10), (3, 11), (4, 3), (4, 4)])

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        _ParquetFoldState,
    )

    state = _ParquetFoldState(spark, "test_cc")
    fold = _make_incremental_cc_fold(spark, state)
    fold(batch_a, 0)
    snap = sorted(map(tuple, state.read().collect()))
    assert snap  # components {1,2,3}
    fold(batch_a, 0)  # replay: no-op
    assert sorted(map(tuple, state.read().collect())) == snap
    fold(batch_b, 1)
    got = {
        r["id"]: r["component"] for r in state.read().collect()
    }
    # batch CC over ALL edges must agree
    all_edges = (
        li([(1, 1), (1, 2), (2, 2), (2, 3), (3, 10), (3, 11), (4, 3), (4, 4)])
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select(F.col("p.u").alias("id_a"), F.col("p.v").alias("id_b"))
    )
    want = {
        r["id"]: r["component"]
        for r in connected_components(all_edges).collect()
    }
    assert got == want  # {1,2,3,4} -> 1 ; {10,11} -> 10

    # crash mid-batch: retry with the same id must redo the work
    class _Boom(Exception):
        pass

    class _ExplodingBatch:
        def groupBy(self, *_a, **_k):
            raise _Boom("groupBy")

    st2 = _ParquetFoldState(spark, "test_cc_retry")
    fold2 = _make_incremental_cc_fold(spark, st2)
    try:
        fold2(_ExplodingBatch(), 0)
    except _Boom:
        pass
    assert st2.last_batch() == -1
    fold2(batch_a, 0)
    assert st2.last_batch() == 0 and st2.read().count()


def test_stream_velocity_flags_equals_batch_across_boundaries(spark):
    """The streaming velocity screen must reproduce the batch RANGE
    frame exactly even when trailing windows straddle micro-batch
    boundaries: 6 files (more boundaries than the registered 4) over
    sf0.001 — byte-equal per event, all 1000 rows."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
        velocity_flags,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
        stream_velocity_flags,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_id"]: (
            r["epoch_s"],
            r["n_trailing"],
            r["cents_trailing"],
            r["velocity_flag"],
            r["spend_flag"],
        )
        for r in stream_velocity_flags(spark, sf, n_files=6).collect()
    }
    want = {
        r["event_id"]: (
            r["epoch_s"],
            r["n_trailing"],
            r["cents_trailing"],
            r["velocity_flag"],
            r["spend_flag"],
        )
        for r in velocity_flags(
            read_table(spark, sf, "events"),
            window_seconds=3600,
            count_threshold=3,
            cents_threshold=200_00,
        ).collect()
    }
    assert len(got) == len(want) and got == want


class TestStreamingBenford:
    def test_drained_equals_batch_and_fold_is_additive(self, spark, sf_dir):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.fraud_stats import (
            benford_profile,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
            read_table,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_benford,
        )

        got = sorted(
            tuple(r) for r in stream_benford(spark, sf_dir, n_files=4).collect()
        )
        want = sorted(
            tuple(r)
            for r in benford_profile(
                read_table(spark, sf_dir, "events"), "value", "event_type"
            ).collect()
        )
        assert got == want  # bit-for-bit, incl. the chi2 doubles

    def test_duplicate_batch_id_is_noop(self, spark):
        # replicate the fold contract directly: a same-id re-invocation
        # (foreachBatch at-least-once retry) must not double-count
        from pyspark.sql import functions as F

        rows = [(1, "a", 12.3), (2, "a", 94.1), (3, "b", 55.0)]
        ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        state = {"rows": [], "last_batch": -1}
        schema = "grp string, digit int, n_obs long"

        def fold(batch_df, batch_id):
            if batch_id <= state["last_batch"]:
                return
            cents = F.round(F.col("value") * 100).cast("long")
            delta = (
                batch_df.where(cents > 0)
                .select(
                    F.col("event_type").alias("grp"),
                    F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"),
                )
                .groupBy("grp", "digit")
                .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
            )
            if state["rows"]:
                prev = spark.createDataFrame(state["rows"], schema)
                delta = (
                    prev.unionByName(delta)
                    .groupBy("grp", "digit")
                    .agg(F.sum("n_obs").cast("long").alias("n_obs"))
                )
            state["rows"] = delta.collect()
            state["last_batch"] = batch_id

        fold(ev, 0)
        once = sorted(tuple(r) for r in state["rows"])
        fold(ev, 0)  # duplicate id -> no-op
        assert sorted(tuple(r) for r in state["rows"]) == once
        fold(ev, 1)  # genuinely new batch folds in
        twice = {(r["grp"], r["digit"]): r["n_obs"] for r in state["rows"]}
        assert twice[("a", 1)] == 2  # 12.3 -> cents 1230 -> digit 1, x2


class TestStreamingStructuring:
    def test_drained_equals_batch(self, spark, sf_dir):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_structuring,
        )

        got = sorted(
            tuple(r) for r in stream_structuring(spark, sf_dir, n_files=4).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["structuring_orders"].builder(spark, sf_dir).collect()
        )
        assert got == want  # bit-for-bit incl. the frac doubles


class TestStreamingDormancy:
    def test_drained_equals_batch(self, spark, sf_dir):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_dormancy_flags,
        )

        got = sorted(
            tuple(r)
            for r in stream_dormancy_flags(spark, sf_dir, n_files=3).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["dormancy_reactivation_orders"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert got == want  # gap integers, dates and flags, row for row


class TestStreamingPeerOutlier:
    def test_drained_equals_batch(self, spark, sf_dir):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_peer_outliers,
        )

        got = sorted(
            tuple(r)
            for r in stream_peer_outliers(spark, sf_dir, n_files=3).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["peer_outlier_customers"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert got == want  # LOO moments and z doubles, row for row


class TestStreamingFraudRiskReport:
    def test_drained_equals_batch_full_chain(self, spark, sf_dir):
        """VERDICT r12 item 4: the composed risk report streams — one
        applyInPandasWithState pass folding velocity + burstiness +
        Benford sufficient statistics, drained ≡ the batch full-chain
        report bit-for-bit (every double: burstiness, benford_chi2;
        every flag, score, verdict)."""
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
            REGISTRY,
        )
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.streaming.jobs import (
            stream_fraud_risk_report,
        )

        got = sorted(
            tuple(r)
            for r in stream_fraud_risk_report(spark, sf_dir, n_files=3).collect()
        )
        want = sorted(
            tuple(r)
            for r in REGISTRY["fraud_risk_report_events"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert got == want
