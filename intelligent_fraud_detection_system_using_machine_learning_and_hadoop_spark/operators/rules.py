"""Rule-based fraud detection (the reference's flagship pipeline,
``scripts/run_pipeline.py:22-43``), re-expressed as one lazy DataFrame
plan.

The four reference rules:

1. ``DuplicateAadhaar`` — one Aadhaar used with ≥2 distinct names
   (``run_pipeline.py:23-26``: groupby-nunique + ``isin``).
2. ``MultiAadhaar`` — one name holding ≥2 distinct Aadhaar
   (``run_pipeline.py:28-31``).
3. ``HighClaimAmount`` — amount strictly above the global 0.99 quantile
   (``run_pipeline.py:33-35``; pandas interpolated percentile).
4. ``FrequentClaims`` — another claim by the same Aadhaar ≤7 days before
   (``run_pipeline.py:38-41``: sort + groupby-shift + day diff).

Spark-first differences from the reference (SURVEY.md §2.3/§2.5):

* Rules 1–2 are window ``collect_set`` flags — one shuffle per key
  column, no collect-to-driver ``isin`` list, no re-join. A
  ``strategy="semi_join"`` variant keeps the grouped-agg + broadcast
  left-semi shape for skew-prone key distributions (the offender set is
  tiny → broadcast).
* Rule 4's lag window orders by (date, tiebreak) — pandas ``shift`` after
  a stable sort is deterministic on date ties, Spark needs the explicit
  tiebreaker (SURVEY.md §2.5 ordering caveat).
* The first-claim lag is NULL: ``null <= 7`` is null → flag drops out,
  matching pandas ``NaN <= 7 == False`` semantics.
* Everything stays on ONE DataFrame, which makes the reference's
  positional-assignment misalignment bug (``run_pipeline.py:82-87``,
  SURVEY.md §2.8) structurally impossible.

At 100 TB: the two shuffles (by name, then by id for rule 1 and rule
4's lag together) are the whole cost; rule 3's threshold is a scalar —
exact percentile needs a global order statistic (use ``exact=False`` for
the sketch-based single-pass estimate at scale). Per-key state for
``collect_set`` is bounded by distinct names per id (small by
construction of the domain).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import (
    assemble_flags,
    combine_fraud,
    flag_when,
    percentile_scalar_df,
)


@dataclass(frozen=True)
class RuleConfig:
    """Column bindings + thresholds for the rule engine.

    Defaults bind to the reference's claims schema; the driver-testdata
    queries rebind (e.g. orders: id=o_custkey, amount=o_totalprice).
    """

    id_col: str = "Aadhaar"
    name_col: str = "Name"
    amount_col: str = "ClaimAmount"
    date_col: str = "Date"
    tiebreak_cols: tuple[str, ...] = ()
    amount_quantile: float = 0.99
    frequent_days: int = 7
    exact: bool = True  # exact percentile (reference parity) vs sketch (100 TB path)
    strategy: str = "window"  # "window" | "semi_join"
    labels: dict[str, str] = field(
        default_factory=lambda: {
            "dup_id": "DuplicateAadhaar",
            "multi_id": "MultiAadhaar",
            "high_amount": "HighClaimAmount",
            "frequent": "FrequentClaims",
        }
    )


def _distinct_gt1_window(df: DataFrame, key: str, of: str, out: str) -> DataFrame:
    """Flag rows whose ``key`` maps to >1 distinct ``of`` — single
    window pass (``countDistinct`` is unsupported over windows, so
    ``size(collect_set(...))``; SURVEY.md W3)."""
    w = Window.partitionBy(key)
    return df.withColumn(out, F.size(F.collect_set(of).over(w)) > 1)


def _distinct_gt1_semijoin(df: DataFrame, key: str, of: str, out: str) -> DataFrame:
    """Same flag via grouped-agg + broadcast left-semi join — the shape
    to prefer when one key is hot enough to skew the window shuffle
    (offender set is small → broadcast, no second shuffle of the fact
    table)."""
    offenders = (
        df.groupBy(key)
        .agg(F.countDistinct(of).alias("_n"))
        .where(F.col("_n") > 1)
        .select(key)
    )
    flagged = df.join(F.broadcast(offenders.withColumn(out, F.lit(True))), key, "left")
    return flagged.withColumn(out, F.coalesce(F.col(out), F.lit(False)))


def with_rule_flags(df: DataFrame, cfg: RuleConfig = RuleConfig()) -> DataFrame:
    """Append boolean rule columns + the combined ``RuleFraud`` string.

    Output columns: ``is_dup_id, is_multi_id, is_high_amount,
    is_frequent, RuleFraud`` (plus ``DaysDiff`` — the reference also
    exposes its lag delta, ``run_pipeline.py:40``).

    Window-tie determinism (SURVEY.md §2.5): the reference's pandas
    ``sort_values(['Aadhaar','Date'])`` is a *stable* sort, so equal
    dates keep input order and the lag is reproducible. A Spark window
    on a tied date is not. When ``cfg.tiebreak_cols`` is empty we
    synthesize an ingest-order tiebreaker (monotonically_increasing_id —
    file order for a straight single-source read), reproducing the
    reference's tie behavior.
    """
    src = df
    tiebreaks: tuple[str, ...] = cfg.tiebreak_cols
    if not tiebreaks:
        df = df.withColumn("__ingest_order", F.monotonically_increasing_id())
        tiebreaks = ("__ingest_order",)

    # The name-keyed flag goes first, so the DaysDiff lag and the
    # id-keyed flag sit next to each other: under the window strategy
    # both read one hashpartitioning(id) exchange and one sort (the lag's
    # (id, date, tiebreak) order also serves the unordered window).
    dist = _distinct_gt1_window if cfg.strategy == "window" else _distinct_gt1_semijoin
    out = dist(df, cfg.name_col, cfg.id_col, "is_multi_id")
    order = [F.col(cfg.date_col).asc()] + [F.col(c).asc() for c in tiebreaks]
    w = Window.partitionBy(cfg.id_col).orderBy(*order)
    out = out.withColumn(
        "DaysDiff", F.datediff(F.col(cfg.date_col), F.lag(cfg.date_col, 1).over(w))
    )
    out = dist(out, cfg.id_col, cfg.name_col, "is_dup_id")

    # Rule 3's threshold is a scalar subquery, not an eager .first(): the
    # whole rule engine stays one Catalyst plan, matching the reference's
    # single pass (run_pipeline.py:22-43). A null threshold (empty or
    # all-null input) flags nothing, like pandas' NaN compare.
    thr = percentile_scalar_df(
        src, cfg.amount_col, {"__amount_thr": cfg.amount_quantile}, exact=cfg.exact
    ).scalar()
    out = out.withColumn(
        "is_high_amount",
        F.when(thr.isNull(), F.lit(False)).otherwise(F.col(cfg.amount_col) > thr),
    )
    # NULL DaysDiff (first claim per id) → null condition → no flag.
    out = out.withColumn(
        "is_frequent",
        F.coalesce(F.col("DaysDiff") <= cfg.frequent_days, F.lit(False)),
    )

    labels = cfg.labels
    out = out.withColumn(
        "RuleFraud",
        assemble_flags(
            flag_when(F.col("is_dup_id"), labels["dup_id"]),
            flag_when(F.col("is_multi_id"), labels["multi_id"]),
            flag_when(F.col("is_high_amount"), labels["high_amount"]),
            flag_when(F.col("is_frequent"), labels["frequent"]),
        ),
    )
    # Output layout: the input columns, then the flags. Under semi_join
    # the name and id keys lead, as a using-join on id, then on name, lays
    # them out.
    lead = [] if cfg.strategy == "window" else [cfg.name_col, cfg.id_col]
    flags = ["is_dup_id", "is_multi_id", "is_high_amount", "DaysDiff", "is_frequent"]
    return out.select(*lead, *(c for c in src.columns if c not in lead), *flags, "RuleFraud")


def score_claims(
    df: DataFrame,
    cfg: RuleConfig = RuleConfig(),
    ml_verdict: Column | None = None,
) -> DataFrame:
    """Full scoring: rules + (optional) ML verdict + combined
    ``FraudType`` (reference EP1, ``run_pipeline.py:11-94``).

    ``ml_verdict`` is a column expression (e.g. from
    ``ml.scoring.with_anomaly_verdict``); absent, MLFraud is 'Normal'
    and FraudType reduces to the rule verdict — the reference's
    rule-priority combination (``run_pipeline.py:70-78``).
    """
    out = with_rule_flags(df, cfg)
    out = out.withColumn(
        "MLFraud", ml_verdict if ml_verdict is not None else F.lit("Normal")
    )
    return out.withColumn(
        "FraudType", combine_fraud(F.col("RuleFraud"), F.col("MLFraud"))
    )
