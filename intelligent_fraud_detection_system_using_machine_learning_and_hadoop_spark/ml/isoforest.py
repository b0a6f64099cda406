"""Isolation Forest anomaly scoring (Liu, Ting, Zhou, ICDM 2008 —
public): the standard unsupervised fraud detector the reference's
autoencoder family complements — trees isolate anomalies in few random
splits, so the EXPECTED PATH LENGTH over a forest is short exactly for
the points the autoencoder would reconstruct badly.

Spark-first split of the algorithm:

* **Training is sample-bounded, driver-side, seeded.** iForest trains
  on small uniform subsamples BY DESIGN (ψ = 256 per tree in the
  paper); the driver never holds more than ``n_trees · sample_size``
  rows, drawn deterministically by md5-rank (engine/partitioning
  independent) in one Spark job — the BPE/learn-on-sample discipline
  (operators/bpe.py). Each tree's splits come from a
  ``numpy.random.RandomState`` seeded by (seed, tree) — bit-stable
  across runs and machines.
* **Scoring is distributed, Arrow-vectorized, stateless.** The fitted
  forest is a few KB of flattened node arrays, broadcast; scoring maps
  each Arrow batch through a vectorized tree walk (every node level
  advances ALL rows at once — no per-row Python recursion), appending
  ``iforest_score`` = 2^(−E[h]/c(ψ)). Linear scan, zero shuffles,
  like autoencoder_scores (ml/autoencoder.py).

No SQL oracle (randomized model — the driver records a rows-only
check); determinism, partitioning-invariance, and the planted-outlier
ranking are pinned in tests/test_isoforest.py.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _c(n: float) -> float:
    """Average BST unsuccessful-search depth — the paper's c(n)."""
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649015329
    return 2.0 * h - 2.0 * (n - 1) / n


class _Tree:
    """Flattened isolation tree: arrays indexed by node id; leaves
    carry the node's training-sample size for the c(size) adjustment."""

    __slots__ = ("feature", "threshold", "left", "right", "size")

    def __init__(self):
        self.feature: list[int] = []
        self.threshold: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.size: list[int] = []

    def _grow(self, x: np.ndarray, rng: np.random.RandomState, depth: int, limit: int) -> int:
        nid = len(self.feature)
        self.feature.append(-1)
        self.threshold.append(0.0)
        self.left.append(-1)
        self.right.append(-1)
        self.size.append(len(x))
        if depth >= limit or len(x) <= 1:
            return nid
        # random feature with spread; random split within its range
        spread = [j for j in range(x.shape[1]) if x[:, j].min() < x[:, j].max()]
        if not spread:
            return nid
        j = int(spread[rng.randint(len(spread))])
        lo, hi = float(x[:, j].min()), float(x[:, j].max())
        t = float(rng.uniform(lo, hi))
        mask = x[:, j] < t
        self.feature[nid] = j
        self.threshold[nid] = t
        self.left[nid] = self._grow(x[mask], rng, depth + 1, limit)
        self.right[nid] = self._grow(x[~mask], rng, depth + 1, limit)
        return nid

    def path_lengths(self, x: np.ndarray) -> np.ndarray:
        """Vectorized level-order walk: all rows advance together."""
        node = np.zeros(len(x), dtype=np.int64)
        depth = np.zeros(len(x), dtype=np.float64)
        feature = np.asarray(self.feature)
        threshold = np.asarray(self.threshold)
        left = np.asarray(self.left)
        right = np.asarray(self.right)
        size = np.asarray(self.size)
        active = feature[node] >= 0
        while active.any():
            f = feature[node[active]]
            t = threshold[node[active]]
            rows = x[active]
            goes_left = rows[np.arange(len(rows)), f] < t
            nxt = np.where(goes_left, left[node[active]], right[node[active]])
            node[active] = nxt
            depth[active] += 1.0
            active = feature[node] >= 0
        leaf_sizes = size[node].astype(np.float64)
        adj = np.array([_c(s) for s in leaf_sizes])
        return depth + adj


def train_isolation_forest(
    df: DataFrame,
    cols: list[str],
    id_col: str,
    n_trees: int = 64,
    sample_size: int = 256,
    seed: int = 0,
) -> dict:
    """Fit an isolation forest on a deterministic md5-rank subsample.
    Returns a plain-dict model (trees + metadata) small enough to
    broadcast — the driver holds ≤ n_trees·sample_size rows, ever."""
    need = n_trees * sample_size
    sample = (
        df.select(
            F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))).alias(
                "_r"
            ),
            *[F.col(c).cast("double").alias(c) for c in cols],
        )
        .orderBy("_r")
        .limit(need)
        .drop("_r")
        .toPandas()
    )
    x_all = sample[cols].to_numpy(dtype=np.float64)
    psi = min(sample_size, len(x_all))
    limit = max(1, int(math.ceil(math.log2(max(psi, 2)))))
    trees = []
    for t in range(n_trees):
        rng = np.random.RandomState((seed * 1_000_003 + t) % (2**32))
        idx = rng.choice(len(x_all), size=psi, replace=False)
        tree = _Tree()
        tree._grow(x_all[idx], rng, 0, limit)
        trees.append(
            {
                "feature": tree.feature,
                "threshold": tree.threshold,
                "left": tree.left,
                "right": tree.right,
                "size": tree.size,
            }
        )
    return {"cols": list(cols), "psi": psi, "trees": trees}


def score_isolation_forest(df: DataFrame, model: dict, id_col: str) -> DataFrame:
    """Append ``iforest_score`` (0..1, higher = more anomalous) via one
    Arrow mapInPandas pass over the broadcast forest. Plan: scan →
    Python map — no shuffle, no state."""
    cols = model["cols"]
    cn = _c(float(model["psi"]))
    from pyspark.sql.types import DoubleType, StructField, StructType

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(model)
    # StructType.add mutates in place — build a fresh copy so the input
    # frame's cached schema stays untouched
    schema = StructType(
        list(df.schema.fields) + [StructField("iforest_score", DoubleType())]
    )

    def scorer(batches):
        m = bc.value
        trees = []
        for td in m["trees"]:
            t = _Tree()
            t.feature, t.threshold = td["feature"], td["threshold"]
            t.left, t.right, t.size = td["left"], td["right"], td["size"]
            trees.append(t)
        for pdf in batches:
            x = pdf[cols].to_numpy(dtype=np.float64)
            if len(x):
                depths = np.mean([t.path_lengths(x) for t in trees], axis=0)
                pdf = pdf.assign(
                    iforest_score=np.power(2.0, -depths / cn) if cn else 0.5
                )
            else:
                pdf = pdf.assign(iforest_score=np.zeros(0))
            yield pdf

    return df.mapInPandas(scorer, schema)
