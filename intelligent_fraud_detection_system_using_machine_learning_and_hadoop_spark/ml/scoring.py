"""Anomaly scoring (SURVEY.md §2.10 M5–M7, §2.8 U2).

Two scorers over the preprocessed ``features`` vector:

* **PCA reconstruction error** (Spark-native primary): project the
  standardized features onto the top-k principal subspace; the anomaly
  score is the squared residual norm ‖x‖² − ‖Wᵀx‖² (W orthonormal,
  features already mean-centered by the scaler). Same "distance from
  the normal subspace" semantics as the reference's autoencoder
  (SURVEY.md §7 step 5) with zero Python in the row path.
* **Autoencoder** (reference parity): see ``autoencoder.py`` — scored
  through one Arrow-batched scalar ``pandas_udf`` with driver-broadcast
  weights (the reference's U2 torch forward, ``run_pipeline.py:62-64``).

Thresholding preserves the reference's **batch-relative** semantics
(M6, ``run_pipeline.py:66-67``): mean + 2·population-std of the current
batch's errors, recomputed per scoring run — a row's verdict depends on
its batch, by design. ``stddev_pop`` matches numpy's ddof=0
(SURVEY.md A6 parity note).
"""

from __future__ import annotations

from pyspark.ml.feature import PCA, PCAModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_sq(arr_col) -> Column:
    return F.aggregate(arr_col, F.lit(0.0), lambda a, v: a + v * v)


def fit_pca(features_df: DataFrame, k: int = 8) -> PCAModel:
    """Fit top-k PCA with k clamped below the features' covariance rank,
    so there is always a residual subspace: at k ≥ rank the residual is
    float noise (~1e-14) whose order follows summation order, not the
    data. The rank comes from ``explainedVariance`` (each component's
    share of the total variance), counting shares above 1e-9; one refit
    runs only when that lowers k."""
    dim = features_df.select("features").head()["features"].size
    k = max(1, min(k, dim - 1))
    pca = PCA(k=k, inputCol="features", outputCol="pca_proj")
    model = pca.fit(features_df)
    ev = model.explainedVariance.toArray()
    # variance the k components leave unexplained means rank > k
    rank = int((ev > 1e-9).sum()) + int(1.0 - ev.sum() > 1e-9)
    if max(1, rank - 1) < k:
        model = pca.setK(max(1, rank - 1)).fit(features_df)
    return model


def pca_reconstruction_scores(
    features_df: DataFrame, model: PCAModel | None = None, k: int = 8
) -> DataFrame:
    """Append ``ReconstructionError``: squared residual of the top-k
    PCA projection. Columnar end-to-end — vectors become arrays and the
    norms are JVM-side folds, so the scoring pass is a pure map."""
    model = model or fit_pca(features_df, k)
    projected = model.transform(features_df)
    x = vector_to_array(F.col("features"))
    p = vector_to_array(F.col("pca_proj"))
    return projected.withColumn(
        "ReconstructionError", F.greatest(_norm_sq(x) - _norm_sq(p), F.lit(0.0))
    )


def pca_scores_via_moments(
    df: DataFrame,
    id_cols: list[str],
    numeric_cols: list[str],
    categorical_col: str,
    k: int = 4,
) -> DataFrame:
    """PCA reconstruction error in TWO passes over the raw table — the
    scale-path twin of ``fit_preprocessor`` + :func:`fit_pca` (which is
    ~8 sequential MLlib jobs: indexer fit, scaler summary, PCA Gramian,
    transform, plus persists).

    Works because every feature is either a raw numeric or a one-hot
    *indicator* of ``categorical_col``: all first/second moments of the
    assembled feature vector are exact functions of per-category counts
    and per-category numeric moments. So:

    1. ONE ``groupBy(category)`` aggregate (tiny result: one row per
       category) is collected and the full mean vector and sample
       covariance of the MLlib feature layout — numerics, then
       alphabetAsc one-hot slots, then the ``keep`` overflow slot
       (which absorbs NULL categories, exactly as StringIndexer's
       handleInvalid="keep" does) — are reconstructed exactly on the
       driver.
    2. The standardized-feature covariance (= correlation matrix) is
       eigensolved there (d×d with d = |numerics| + |categories| + 1 —
       driver-trivial), and the top-k eigenvectors are folded back into
       the plan as literals: ``err = ‖z‖² − ‖Wᵀz‖²`` is a pure column
       expression over the raw columns.

    Identical subspace → identical scores as the MLlib path (eigenvector
    sign and eigenvalue scaling cancel in the error; pinned by a
    differential pytest). At 100 TB this is two column-pruned scans and
    one ~|categories|-row shuffle, versus MLlib's repeated passes over a
    persisted VectorUDT matrix.
    """
    import numpy as np

    num = list(numeric_cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(num):
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"__s{i}"))
        for j in range(i, len(num)):
            aggs.append(
                F.sum(
                    (F.col(c).cast("double") * F.col(num[j]).cast("double"))
                ).alias(f"__p{i}_{j}")
            )
    stats = (
        df.groupBy(F.col(categorical_col).alias("__cat")).agg(*aggs).collect()
    )
    # one-hot moments reconstruction is for LOW-cardinality categoricals
    # (as one-hot features are generally); a high-cardinality column
    # would make both the collect and the d×d eigensolve driver-heavy —
    # fail loudly rather than degrade silently.
    if len(stats) > 1000:
        raise ValueError(
            f"{categorical_col} has {len(stats)} categories; "
            "pca_scores_via_moments expects a low-cardinality one-hot column"
        )
    # NULL categories are StringIndexer-invalid: handleInvalid="keep"
    # routes them to the trailing overflow slot, not their own one-hot
    # column — split them out before the alphabetAsc sort (None is also
    # unorderable against str).
    null_r = next((r for r in stats if r["__cat"] is None), None)
    cats = sorted(
        r["__cat"] for r in stats if r["__cat"] is not None
    )  # alphabetAsc = StringIndexer order
    by_cat = {r["__cat"]: r for r in stats}
    n_num, n_cat = len(num), len(cats)
    d = n_num + n_cat + 1  # + handleInvalid="keep" overflow slot
    N = sum(r["__n"] for r in stats)
    if N < 2:
        raise ValueError("pca_scores_via_moments needs at least 2 rows")

    # exact mean vector and raw second-moment matrix of the assembled
    # feature layout [numerics..., onehots..., overflow]
    mu = np.zeros(d)
    m2 = np.zeros((d, d))  # E-sums: m2[i,j] = Σ x_i x_j over rows
    for i in range(n_num):
        mu[i] = sum(r[f"__s{i}"] for r in stats) / N
        for j in range(i, n_num):
            m2[i, j] = m2[j, i] = sum(r[f"__p{min(i,j)}_{max(i,j)}"] for r in stats)
    for ci, cval in enumerate(cats):
        r = by_cat[cval]
        col = n_num + ci
        mu[col] = r["__n"] / N
        m2[col, col] = r["__n"]  # indicator² = indicator
        for i in range(n_num):  # Σ x_i·1_c = per-category numeric sum
            m2[i, col] = m2[col, i] = r[f"__s{i}"]
        # cross-category products are all zero (disjoint indicators)
    if null_r is not None:  # overflow slot moments from the NULL group
        ov = n_num + n_cat
        mu[ov] = null_r["__n"] / N
        m2[ov, ov] = null_r["__n"]  # indicator² = indicator
        for i in range(n_num):
            m2[i, ov] = m2[ov, i] = null_r[f"__s{i}"]
    cov = (m2 - N * np.outer(mu, mu)) / (N - 1)  # sample covariance (MLlib ddof=1)
    std = np.sqrt(np.clip(np.diag(cov), 0.0, None))
    nz = std > 1e-15
    corr = np.zeros((d, d))
    corr[np.ix_(nz, nz)] = cov[np.ix_(nz, nz)] / np.outer(std[nz], std[nz])
    k = max(1, min(k, d - 1))
    _, vecs = np.linalg.eigh(corr)  # ascending; top-k = last k columns
    W = vecs[:, -k:]

    # standardized feature expressions (constant-zero slots drop out)
    z: list = []
    for i, c in enumerate(num):
        z.append(
            (F.col(c).cast("double") - F.lit(float(mu[i]))) / F.lit(float(std[i]))
            if nz[i]
            else F.lit(0.0)
        )
    for ci, cval in enumerate(cats):
        col = n_num + ci
        ind = F.when(F.col(categorical_col) == cval, 1.0).otherwise(0.0)
        z.append(
            (ind - F.lit(float(mu[col]))) / F.lit(float(std[col]))
            if nz[col]
            else F.lit(0.0)
        )
    ov = n_num + n_cat  # overflow slot: NULL-category indicator
    z.append(
        (
            F.when(F.col(categorical_col).isNull(), 1.0).otherwise(0.0)
            - F.lit(float(mu[ov]))
        )
        / F.lit(float(std[ov]))
        if nz[ov]
        else F.lit(0.0)
    )
    norm_sq = sum((zi * zi for zi in z), F.lit(0.0))
    proj_sq = F.lit(0.0)
    for j in range(k):
        pj = sum(
            (z[i] * F.lit(float(W[i, j])) for i in range(d) if abs(W[i, j]) > 0),
            F.lit(0.0),
        )
        proj_sq = proj_sq + pj * pj
    return df.select(
        *id_cols,
        F.greatest(norm_sq - proj_sq, F.lit(0.0)).alias("ReconstructionError"),
    )


def batch_threshold_df(
    scored: DataFrame, err_col: str = "ReconstructionError", sigmas: float = 2.0
) -> DataFrame:
    """Reference M6 as a LAZY 1-row DataFrame (column ``__ml_thr``):
    mean + 2·population-std of the current batch's errors. Use it as a
    scalar subquery (``.scalar()``, as :func:`with_ml_verdict` does) or
    as the broadcast side of a 1-row ``crossJoin`` — either way the
    scalar barrier stays inside one Catalyst plan instead of an eager
    ``.collect()``."""
    return scored.agg(
        (
            F.mean(err_col)
            + F.lit(sigmas) * F.coalesce(F.stddev_pop(err_col), F.lit(0.0))
        ).alias("__ml_thr")
    )


def batch_threshold(
    scored: DataFrame, err_col: str = "ReconstructionError", sigmas: float = 2.0
) -> float:
    """Eager scalar form of :func:`batch_threshold_df` (population std,
    matching numpy ddof=0 — ``run_pipeline.py:66``). Prefer the lazy
    DataFrame form inside query plans."""
    row = batch_threshold_df(scored, err_col, sigmas).collect()[0]
    return float(row["__ml_thr"])


def with_ml_verdict(
    scored: DataFrame,
    threshold: float | None = None,
    err_col: str = "ReconstructionError",
) -> DataFrame:
    """Reference M5/M7 verdict: 'Suspicious' iff error > threshold.

    With ``threshold=None`` the cutoff is the batch-relative threshold
    as a scalar subquery over ``scored``: building the plan runs no job
    and nothing is collected to the driver."""
    thr = (
        F.lit(threshold)
        if threshold is not None
        else batch_threshold_df(scored, err_col).scalar()
    )
    return scored.withColumn(
        "MLFraud", F.when(F.col(err_col) > thr, "Suspicious").otherwise("Normal")
    )
