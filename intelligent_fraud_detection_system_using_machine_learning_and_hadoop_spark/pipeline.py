"""End-to-end train / score entry points — the engine-level equivalents
of the reference's three entry points (SURVEY.md §3):

* :func:`train` ↔ ``train.py`` (EP2): fit preprocessor + autoencoder,
  persist both under one model dir.
* :func:`score` ↔ ``scripts/run_pipeline.py`` (EP1/EP3): rules + ML
  scoring + combined verdict as one lazy plan, writable with
  ``sources.writers``.

Unlike the reference there is no subprocess boundary and no CSV
exchange between stages — the "plan" is a DataFrame, Catalyst schedules
it, and the three scalar aggregates the reference materializes eagerly
(min date, q99, error mean/std — SURVEY.md §3 EP1 note) all stay lazy
as scalar subqueries inside the plan. The autoencoder runs as one Arrow
Python pass whose error is a column of the scored rows; the frame is
cached once after that column, where the threshold subquery and the
verdict fan out (see :func:`score`).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import swap_cache
from .ml.autoencoder import NumpyAutoencoder, reconstruction_error, train_autoencoder
from .ml.preprocess import fit_preprocessor, load_preprocessor, with_date_numeric
from .ml.scoring import pca_reconstruction_scores, with_ml_verdict
from .operators.rules import RuleConfig, with_rule_flags
from .functions.exprs import combine_fraud


def train(
    claims: DataFrame, model_dir: str, seed: int = 42, distributed: bool = False
) -> None:
    """EP2: fit preprocessing + autoencoder on a claims DataFrame and
    persist to ``model_dir`` (PipelineModel dir + weight JSON).

    ``distributed=False`` is bit-for-bit reference parity
    (``train.py:64-81``: in-memory minibatch Adam on the driver —
    correct at the reference's 30–10k-row scale). ``distributed=True``
    switches to the data-parallel trainer (gradients merged across
    executors via mapInPandas; features never leave the cluster) — the
    setting for any corpus that doesn't fit one machine."""
    from .ml.autoencoder import train_autoencoder_distributed

    pre, feats = fit_preprocessor(claims)
    pre.write().overwrite().save(os.path.join(model_dir, "preprocessor"))
    if distributed:
        model, _losses = train_autoencoder_distributed(feats, seed=seed)
    else:
        x = np.stack(
            [
                np.asarray(r["farr"], dtype=np.float64)
                for r in feats.select(
                    vector_to_array(F.col("features")).alias("farr")
                ).collect()
            ]
        )
        model = train_autoencoder(x, seed=seed)
    with open(os.path.join(model_dir, "autoencoder.json"), "w") as f:
        json.dump(model.state(), f)


def score(
    claims: DataFrame,
    model_dir: str | None = None,
    cfg: RuleConfig = RuleConfig(),
    scorer: str = "auto",
) -> DataFrame:
    """EP1/EP3: the full reference pipeline on one DataFrame.

    ``scorer``: 'autoencoder' (requires model_dir), 'pca' (self-fit,
    Spark-native), or 'auto' (autoencoder if a model dir is given).
    Thresholding is batch-relative (reference M6 semantics).

    ``ReconstructionError`` is a column of the flagged frame itself, so
    each row's error is computed from that row's features, whatever the
    partitioning or a recompute does. The frame is cached once, after
    that column (``pipeline.score.scored``): the threshold subquery and
    the verdict both read the cache, so the rules and the model pass
    run once per action. The PCA scorer also caches the flagged frame,
    which its fits read. The preprocessor comes from
    ``load_preprocessor``'s memo: a repeated call with an unchanged
    model dir in one session runs no job until the caller's action.
    """
    if scorer == "auto":
        scorer = "autoencoder" if model_dir else "pca"

    # DateNumeric's batch-min subquery scans the input's Date column, not
    # a second copy of the rules subtree
    flagged = with_rule_flags(with_date_numeric(claims), cfg)
    out_cols = [c for c in flagged.columns if c != "DateNumeric"]
    if scorer == "autoencoder":
        pre = load_preprocessor(os.path.join(model_dir, "preprocessor"))
        with open(os.path.join(model_dir, "autoencoder.json")) as f:
            model = NumpyAutoencoder.from_state(json.load(f))
        feats = pre.transform(flagged)
        scored = feats.select(
            *out_cols, reconstruction_error(feats, model).alias("ReconstructionError")
        )
    else:
        flagged = swap_cache("pipeline.score.flagged", flagged)
        _, feats = fit_preprocessor(flagged)
        scored = pca_reconstruction_scores(feats).select(*out_cols, "ReconstructionError")
    scored = with_ml_verdict(swap_cache("pipeline.score.scored", scored))
    return scored.withColumn(
        "FraudType", combine_fraud(F.col("RuleFraud"), F.col("MLFraud"))
    )
