"""Incremental aggregate maintenance (materialized-view delta merge).

Engine-completeness extension (the reference — a pandas scorer, ref
scripts/run_pipeline.py — recomputes everything per run): a nightly
pipeline that maintains per-key aggregates over an append-only fact
stream should fold each day's delta into yesterday's aggregate STATE,
not re-scan the full history. This module implements the classic
partial-aggregate algebra: every supported aggregate (count, sum, min,
max — and avg derived from count+sum) is MERGEABLE, so

    state(full) == merge(state(prev), state(delta))

holds exactly, which is precisely what the SQL oracle attests (the
oracle aggregates the full table directly; the query merges two
independently-built states).

Sums accumulate in integer cents (exact BIGINT — no float
summation-order hazard across merges). Deltas are INSERT-only: min/max
are not retractable aggregates; deletions require either a retractable
state (count per value) or a rebuild, which is the standard MV
maintenance trade-off and is documented, not hidden.

Scale shape: building a state is one map-side-combined groupBy of the
(small) delta; merging is a key-keyed union+groupBy where the big side
is the STATE table (|keys| rows, not |facts| rows). With the state
stored bucketed by key the merge needs no state-side shuffle — the
same layout argument as operators/merge.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_COLS = ("n_rows", "sum_cents", "min_value", "max_value")


def agg_state(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Build the mergeable aggregate state of ``df``:
    (keys..., n_rows, sum_cents, min_value, max_value)."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(v * 100).cast("long")).cast("long").alias("sum_cents"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def merge_aggs() -> list:
    """The merge step's aggregates over ``prev ∪ delta`` grouped by the
    state keys (also the ``aggs`` of a streaming ``apply_delta`` fold)."""
    return [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ]


def merge_agg_state(
    prev: DataFrame, delta: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold a delta state into the previous state — the algebra's merge
    step. Both inputs must share the state schema; new keys appear,
    existing keys combine."""
    return prev.unionByName(delta).groupBy(*keys).agg(*merge_aggs())


def finalize(state: DataFrame) -> DataFrame:
    """Present the state as user-facing aggregates: count, sum, avg,
    min, max (sum/avg as IEEE doubles of the exact cent totals)."""
    return state.select(
        *[c for c in state.columns if c not in STATE_COLS],
        F.col("n_rows"),
        (F.col("sum_cents").cast("double") / 100.0).alias("sum_value"),
        (
            F.col("sum_cents").cast("double")
            / (F.col("n_rows").cast("double") * 100.0)
        ).alias("avg_value"),
        F.col("min_value"),
        F.col("max_value"),
    )
