"""MLlib preprocessing pipeline (SURVEY.md §2.10 M1–M3, §2.1 S7).

Replaces the reference's sklearn OneHotEncoder + StandardScaler +
np.hstack (``train.py:22-30``, applied ``scripts/run_pipeline.py:52-54``)
with a persistable MLlib ``Pipeline``:

    StringIndexer → OneHotEncoder → VectorAssembler → StandardScaler

Documented parity deltas vs the reference (SURVEY.md §7 "semantic
parity traps") — deliberate, not bugs:

* **Unknown categories** (M1): sklearn ``handle_unknown='ignore'``
  emits an all-zeros row; MLlib ``handleInvalid='keep'`` adds one
  overflow slot, so the feature dim is ``n_categories + 1``. Same
  information, one extra column.
* **Standardization variance** (M2): sklearn scales by the population
  std (ddof=0), MLlib by the sample std (ddof=1) — values differ by
  √(n/(n−1)); immaterial for anomaly ranking, called out for anyone
  comparing feature matrices bit-for-bit.
* **Date feature** (P4): days since the batch-min date, a scalar
  subquery fed to ``datediff`` — exactly the reference's
  ``(Date - Date.min()).dt.days`` (``train.py:19``).

Model persistence is ``PipelineModel.save/load`` (one directory, HDFS/
object-store ready) instead of the reference's joblib+torch file pairs.
A load reads every stage's metadata and data through Spark jobs, so
:func:`load_preprocessor` keeps one loaded model per path.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import (
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import dataset_fingerprint

#: Reference feature bindings (``train.py:15``): numeric ClaimAmount +
#: day-offset Date, categorical SubsidyType.
CLAIMS_FEATURES = {
    "numeric_cols": ["ClaimAmount", "DateNumeric"],
    "categorical_cols": ["SubsidyType"],
}


def with_date_numeric(
    df: DataFrame, date_col: str = "Date", out_col: str = "DateNumeric"
) -> DataFrame:
    """Days since the batch-min date (reference P4/A5). The global min
    is a scalar subquery: the derivation stays inside one lazy plan with
    no driver collect, and a consumer that never reads ``out_col`` prunes
    the subquery with it."""
    return df.withColumn(
        out_col, F.datediff(F.col(date_col), df.agg(F.min(date_col)).scalar())
    )


def build_preprocessor(
    numeric_cols: list[str], categorical_cols: list[str]
) -> Pipeline:
    stages = []
    ohe_outputs = []
    for c in categorical_cols:
        idx = StringIndexer(
            inputCol=c,
            outputCol=f"{c}_idx",
            handleInvalid="keep",
            stringOrderType="alphabetAsc",  # deterministic category order
        )
        ohe = OneHotEncoder(
            inputCol=f"{c}_idx",
            outputCol=f"{c}_oh",
            dropLast=False,
            handleInvalid="keep",
        )
        stages += [idx, ohe]
        ohe_outputs.append(f"{c}_oh")
    assembler = VectorAssembler(
        inputCols=numeric_cols + ohe_outputs, outputCol="features_raw"
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    return Pipeline(stages=stages + [assembler, scaler])


def fit_preprocessor(
    df: DataFrame,
    numeric_cols: list[str] | None = None,
    categorical_cols: list[str] | None = None,
) -> tuple[PipelineModel, DataFrame]:
    """Fit the preprocessing pipeline and return (model, transformed df
    with a ``features`` vector column)."""
    numeric_cols = numeric_cols or CLAIMS_FEATURES["numeric_cols"]
    categorical_cols = categorical_cols or CLAIMS_FEATURES["categorical_cols"]
    if "DateNumeric" in numeric_cols and "DateNumeric" not in df.columns:
        df = with_date_numeric(df)
    model = build_preprocessor(numeric_cols, categorical_cols).fit(df)
    return model, model.transform(df)


#: path -> ((content fingerprint, applicationId), loaded model)
_LOADED: dict[str, tuple[tuple[str, str], PipelineModel]] = {}


def load_preprocessor(path: str) -> PipelineModel:
    """``PipelineModel.load(path)``, memoized per path. The memo is
    keyed by the directory's content fingerprint (file names, sizes,
    mtimes) and the running SparkContext's ``applicationId``: retraining
    into the same directory, or a new session, loads afresh. A path the
    fingerprint cannot read (a remote URI) is loaded every time. Callers
    share the returned model, so none may change its params. Two threads
    missing at once both load; either model is valid."""
    try:
        key = (
            dataset_fingerprint(path),
            SparkSession.active().sparkContext.applicationId,
        )
    except OSError:
        return PipelineModel.load(path)
    hit = _LOADED.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    model = PipelineModel.load(path)
    _LOADED[path] = (key, model)
    return model
