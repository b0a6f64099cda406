"""Autoencoder anomaly scorer (SURVEY.md §2.10 M4–M5, §2.8 U2/U3).

Reference parity: 2-layer encoder/decoder (in→64→32→64→in, ReLU), Adam
lr=1e-3, MSE, 50 epochs, batch 64, shuffled (``train.py:44-81``), with
two deliberate fixes over the reference:

* **One consistent module.** The reference trains a decoder with no
  output activation but loads the weights into a class that appends
  Sigmoid at inference (``train.py:53-57`` vs ``scripts/model_def.py:27``
  — SURVEY.md M4 architecture mismatch). Here train and inference share
  one forward: linear output, correct for standardized (negative-able)
  features.
* **Seeded end-to-end** (init + minibatch shuffling) so scores are
  reproducible.

Implementation is pure numpy (torch isn't available in this
environment; the module is dependency-free and deterministic). Training
runs on driver-collected features — correct at the reference's scale
(30–10k rows; SURVEY.md §7 step 6) — while **scoring is distributed**:
weights broadcast to executors, forward pass vectorized per Arrow batch
in one scalar ``pandas_udf`` (the 10-100× path vs row-at-a-time UDFs). For
cluster-scale *training*, swap in a data-parallel trainer behind the
same weight container.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class NumpyAutoencoder:
    """in→64→32→64→in MLP autoencoder with ReLU hidden activations and
    a linear output (see module docstring)."""

    def __init__(self, in_dim: int, hidden: int = 64, code: int = 32, seed: int = 42):
        rng = np.random.RandomState(seed)
        sizes = [(in_dim, hidden), (hidden, code), (code, hidden), (hidden, in_dim)]
        self.weights = [
            rng.standard_normal((a, b)).astype(np.float64) * np.sqrt(2.0 / a)
            for a, b in sizes
        ]
        self.biases = [np.zeros(b, dtype=np.float64) for _, b in sizes]

    def forward(self, x: np.ndarray) -> np.ndarray:
        h = x
        acts = []
        for i, (w, b) in enumerate(zip(self.weights, self.biases)):
            z = h @ w + b
            h = np.maximum(z, 0.0) if i < len(self.weights) - 1 else z
            acts.append(h)
        return h

    def forward_with_cache(self, x):
        h = x
        cache = [x]
        for i, (w, b) in enumerate(zip(self.weights, self.biases)):
            z = h @ w + b
            h = np.maximum(z, 0.0) if i < len(self.weights) - 1 else z
            cache.append(h)
        return h, cache

    def params(self) -> list[np.ndarray]:
        return self.weights + self.biases

    def state(self) -> dict:
        return {
            "weights": [w.tolist() for w in self.weights],
            "biases": [b.tolist() for b in self.biases],
        }

    @classmethod
    def from_state(cls, state: dict) -> "NumpyAutoencoder":
        obj = cls.__new__(cls)
        obj.weights = [np.asarray(w, dtype=np.float64) for w in state["weights"]]
        obj.biases = [np.asarray(b, dtype=np.float64) for b in state["biases"]]
        return obj


def train_autoencoder(
    x: np.ndarray,
    hidden: int = 64,
    code: int = 32,
    epochs: int = 50,
    batch_size: int = 64,
    lr: float = 1e-3,
    seed: int = 42,
) -> NumpyAutoencoder:
    """Adam + MSE minibatch training (reference ``train.py:64-81``
    hyperparameters), manual backprop, fully seeded."""
    model = NumpyAutoencoder(x.shape[1], hidden, code, seed)
    rng = np.random.RandomState(seed + 1)
    params = model.params()
    m = [np.zeros_like(p) for p in params]
    v = [np.zeros_like(p) for p in params]
    b1, b2, eps = 0.9, 0.999, 1e-8
    t = 0
    n = x.shape[0]
    for _ in range(epochs):
        order = rng.permutation(n)
        for start in range(0, n, batch_size):
            xb = x[order[start : start + batch_size]]
            out, cache = model.forward_with_cache(xb)
            grad_out = 2.0 * (out - xb) / (xb.shape[0] * xb.shape[1])
            grads_w, grads_b = [], []
            g = grad_out
            for i in range(len(model.weights) - 1, -1, -1):
                a_prev = cache[i]
                if i < len(model.weights) - 1:
                    g = g * (cache[i + 1] > 0)
                grads_w.append(a_prev.T @ g)
                grads_b.append(g.sum(axis=0))
                g = g @ model.weights[i].T
            grads = grads_w[::-1] + grads_b[::-1]
            t += 1
            for p, gp, mi, vi in zip(params, grads, m, v):
                mi *= b1
                mi += (1 - b1) * gp
                vi *= b2
                vi += (1 - b2) * gp * gp
                m_hat = mi / (1 - b1**t)
                v_hat = vi / (1 - b2**t)
                p -= lr * m_hat / (np.sqrt(v_hat) + eps)
    return model


def reconstruction_error(features_df: DataFrame, model: NumpyAutoencoder) -> Column:
    """Per-row MSE reconstruction error of ``features_df``'s ``features``
    vector, as a column (reference U2). The weight state is broadcast
    once; one scalar-iterator Arrow ``pandas_udf`` rebuilds the model
    once per partition and runs the vectorized forward per Arrow batch.
    Only the feature array crosses into Python: the row's other columns
    stay in the JVM beside it, so the error lands in the row it was
    computed from, with no row key and no join."""
    bc = features_df.sparkSession.sparkContext.broadcast(model.state())

    @F.pandas_udf(T.DoubleType())
    def mse(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        local = NumpyAutoencoder.from_state(bc.value)
        for farr in batches:
            x = np.stack(farr.to_numpy())
            yield pd.Series(np.mean((x - local.forward(x)) ** 2, axis=1))

    return mse(vector_to_array(F.col("features")))


def autoencoder_scores(
    features_df: DataFrame,
    model: NumpyAutoencoder,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed scoring: ``id_cols`` plus :func:`reconstruction_error`
    as ``ReconstructionError``. The default id column ``_row_id`` is
    generated when the input lacks it."""
    id_cols = id_cols or ["_row_id"]
    if id_cols == ["_row_id"] and "_row_id" not in features_df.columns:
        features_df = features_df.withColumn(
            "_row_id", F.monotonically_increasing_id()
        )
    return features_df.select(
        *id_cols,
        reconstruction_error(features_df, model).alias("ReconstructionError"),
    )


def _backprop_sum(model: NumpyAutoencoder, xb: np.ndarray) -> tuple[list, float]:
    """Sum-form gradients (not averaged over rows) + summed loss, so
    per-partition partials are mergeable by plain addition."""
    out, cache = model.forward_with_cache(xb)
    diff = out - xb
    loss_sum = float(np.sum(diff * diff) / xb.shape[1])
    g = 2.0 * diff / xb.shape[1]
    grads_w, grads_b = [], []
    for i in range(len(model.weights) - 1, -1, -1):
        a_prev = cache[i]
        if i < len(model.weights) - 1:
            g = g * (cache[i + 1] > 0)
        grads_w.append(a_prev.T @ g)
        grads_b.append(g.sum(axis=0))
        g = g @ model.weights[i].T
    return grads_w[::-1] + grads_b[::-1], loss_sum


def train_autoencoder_distributed(
    features_df: DataFrame,
    hidden: int = 64,
    code: int = 32,
    epochs: int = 20,
    lr: float = 1e-3,
    seed: int = 42,
    driver_fan_in: int = 64,
) -> tuple[NumpyAutoencoder, list[float]]:
    """Data-parallel full-batch training (SURVEY.md §7 step 6's
    cluster-scale path): per epoch, the current weights broadcast to
    executors, each partition computes SUM gradients over its rows via
    an Arrow-batched ``mapInPandas`` (one flattened vector per
    partition), the driver merges partials and applies one Adam step.

    This is synchronous data-parallel SGD with exact full-batch
    gradients — the same merge structure TorchDistributor/allreduce
    uses, expressed with Spark primitives: features never leave the
    executors; only (n_params)-sized gradient vectors travel. Returns
    (model, per-epoch mean losses).

    When the scan has more than ``driver_fan_in`` partitions, an
    intermediate executor-side merge stage (treeAggregate's shape,
    written as a ``groupBy(pid // g).applyInPandas``) combines partials
    before collect, so the driver receives at most ``driver_fan_in``
    model-sized vectors per epoch instead of one per data partition —
    at 10k input partitions the difference between collecting 10k×
    n_params floats and 64×. Grouping is by contiguous pid ranges and
    every level sums in pid order, so the fit stays deterministic for a
    fixed input partitioning and fan-in (float addition is
    order-sensitive; the order here is a function of (partitioning,
    driver_fan_in) only).
    """
    spark = features_df.sparkSession
    arr_df = features_df.select(
        vector_to_array(F.col("features")).alias("_farr")
    ).persist()
    # one combined setup job: row count + feature width (a separate
    # .head() probe would be a second full-stage job per fit)
    setup = arr_df.agg(
        F.count(F.lit(1)).alias("__n"), F.max(F.size("_farr")).alias("__d")
    ).first()
    n_total, in_dim = setup["__n"], setup["__d"]
    if not n_total:
        raise ValueError("train_autoencoder_distributed needs at least 1 row")

    model = NumpyAutoencoder(in_dim, hidden, code, seed)
    params = model.params()
    shapes = [p.shape for p in params]
    sizes = [int(np.prod(s)) for s in shapes]
    mom = [np.zeros_like(p) for p in params]
    vel = [np.zeros_like(p) for p in params]
    b1, b2, eps = 0.9, 0.999, 1e-8

    schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType(), False),
            T.StructField("grads", T.ArrayType(T.DoubleType()), False),
            T.StructField("loss_sum", T.DoubleType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )
    losses: list[float] = []
    for step in range(1, epochs + 1):
        bc = spark.sparkContext.broadcast(model.state())

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            local = NumpyAutoencoder.from_state(bc.value)
            acc = None
            loss = 0.0
            cnt = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["_farr"].to_numpy())
                grads, ls = _backprop_sum(local, x)
                flat = np.concatenate([g.ravel() for g in grads])
                acc = flat if acc is None else acc + flat
                loss += ls
                cnt += len(x)
            if cnt:
                yield pd.DataFrame(
                    {
                        "pid": [TaskContext.get().partitionId()],
                        "grads": [acc.tolist()],
                        "loss_sum": [loss],
                        "cnt": [cnt],
                    }
                )

        partial_df = arr_df.mapInPandas(partials, schema=schema)
        n_parts = arr_df.rdd.getNumPartitions()
        if n_parts > driver_fan_in:
            group = -(-n_parts // driver_fan_in)  # ceil: ≤ fan_in groups

            def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("pid")  # pid-order sum within group
                acc = None
                for g_arr in pdf["grads"]:
                    a = np.asarray(g_arr)
                    acc = a if acc is None else acc + a
                return pd.DataFrame(
                    {
                        "pid": [int(pdf["pid"].iloc[0])],  # min pid = group order
                        "grads": [acc.tolist()],
                        "loss_sum": [float(pdf["loss_sum"].sum())],
                        "cnt": [int(pdf["cnt"].sum())],
                    }
                )

            partial_df = (
                partial_df.groupBy((F.col("pid") / group).cast("int").alias("_g"))
                .applyInPandas(
                    lambda pdf: merge_group(pdf.drop(columns="_g", errors="ignore")),
                    schema=schema,
                )
            )
        rows = partial_df.collect()
        bc.destroy()
        # merge partials in (group-)partition order → deterministic for
        # a fixed partitioning (float addition is order-sensitive)
        rows.sort(key=lambda r: r["pid"])
        total = np.zeros(sum(sizes))
        for r in rows:
            total += np.asarray(r["grads"])
        losses.append(sum(r["loss_sum"] for r in rows) / n_total)
        mean_grads = total / n_total
        offset = 0
        for p, mi, vi, sz, shp in zip(params, mom, vel, sizes, shapes):
            gp = mean_grads[offset : offset + sz].reshape(shp)
            offset += sz
            mi *= b1
            mi += (1 - b1) * gp
            vi *= b2
            vi += (1 - b2) * gp * gp
            p -= lr * (mi / (1 - b1**step)) / (np.sqrt(vi / (1 - b2**step)) + eps)
    arr_df.unpersist()
    return model, losses
