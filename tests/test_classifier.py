"""Hashed linear quality classifier (operators/classifier.py)."""

from __future__ import annotations

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.classifier import (
    WEIGHT_Q,
    hashed_linear_scores,
    synthetic_quality_weights,
)


def test_synthetic_weights_shape_and_range(spark):
    w = synthetic_quality_weights(spark, n_buckets=64)
    rows = w.collect()
    assert len(rows) == 64
    assert len({r["bucket"] for r in rows}) == 64
    for r in rows:
        assert -WEIGHT_Q <= r["w_q"] < WEIGHT_Q


def test_logit_is_exact_integer_dot_product(spark):
    """The quantized logit must equal a hand-computed Python dot product
    over the same md5 buckets — exact, not approximately."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "Alpha  ALPHA")],
        "doc_id long, text string",
    )
    n_buckets = 64
    w = synthetic_quality_weights(spark, n_buckets=n_buckets)
    wmap = {r["bucket"]: r["w_q"] for r in w.collect()}
    out = {
        r["doc_id"]: r
        for r in hashed_linear_scores(docs, w, n_buckets=n_buckets).collect()
    }

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    for doc_id, text in [(1, "alpha beta beta gamma"), (2, "alpha alpha")]:
        toks = text.split()
        expect = sum(wmap.get(bucket(t), 0) for t in toks)
        assert out[doc_id]["logit_q"] == expect
        assert out[doc_id]["n_tokens"] == len(toks)
        assert out[doc_id]["logit"] == expect / (len(toks) * WEIGHT_Q)
