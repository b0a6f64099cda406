"""Rule-engine semantics on hand-computed claims fixtures
(FIXTURES.md §1; reference behavior per SURVEY.md §2.2/§2.5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.rules import (
    RuleConfig,
    score_claims,
    with_rule_flags,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.schema import (
    CLAIMS_SCHEMA,
)


def make_claims(spark, rows):
    return spark.createDataFrame(
        [
            (n, a, amt, s, dt.date.fromisoformat(d))
            for (n, a, amt, s, d) in rows
        ],
        schema=CLAIMS_SCHEMA,
    )


FIXTURE = [
    # one Aadhaar, two names → DuplicateAadhaar on both rows
    ("Asha", 100000000001, 5000, "LPG", "2024-01-01"),
    ("Binod", 100000000001, 7000, "LPG", "2024-01-03"),  # +2d → FrequentClaims
    # one name, two Aadhaars → MultiAadhaar; amount in top 1%
    ("Asha", 100000000002, 900000, "Housing", "2024-02-01"),
    # clean single claim
    ("Chitra", 100000000003, 4000, "Farming", "2024-03-01"),
    # >7-day gap must NOT flag
    ("Deep", 100000000004, 4500, "Education", "2024-01-01"),
    ("Deep", 100000000004, 4600, "Education", "2024-02-01"),
]


def verdicts(df):
    return {
        (r["Name"], r["Aadhaar"], r["ClaimAmount"]): r["RuleFraud"]
        for r in df.collect()
    }


def test_rule_flags_reference_semantics(spark):
    out = verdicts(with_rule_flags(make_claims(spark, FIXTURE)))
    assert out[("Asha", 100000000001, 5000)] == "DuplicateAadhaar;MultiAadhaar;"
    assert (
        out[("Binod", 100000000001, 7000)]
        == "DuplicateAadhaar;FrequentClaims;"
    )
    assert (
        out[("Asha", 100000000002, 900000)]
        == "MultiAadhaar;HighClaimAmount;"
    )
    assert out[("Chitra", 100000000003, 4000)] == "Normal"
    assert out[("Deep", 100000000004, 4500)] == "Normal"
    assert out[("Deep", 100000000004, 4600)] == "Normal"  # 31-day gap


def test_single_row_no_null_leak(spark):
    # lag → null; null <= 7 must not flag (SURVEY.md P7 NaN-vs-null trap)
    df = make_claims(spark, [("Solo", 100000000009, 100, "LPG", "2024-01-01")])
    row = with_rule_flags(df).collect()[0]
    assert row["RuleFraud"] == "Normal"
    assert row["DaysDiff"] is None


@pytest.mark.parametrize("strategy", ["window", "semi_join"])
def test_all_null_amounts_flag_no_high_amount(spark, strategy):
    # a NULL q99 threshold flags nothing, like pandas' NaN compare
    df = make_claims(spark, FIXTURE).withColumn("ClaimAmount", F.lit(None).cast("long"))
    rows = with_rule_flags(df, RuleConfig(strategy=strategy)).collect()
    assert len(rows) == len(FIXTURE)
    assert not any(r["is_high_amount"] for r in rows)
    assert not any("HighClaimAmount" in r["RuleFraud"] for r in rows)


def test_semijoin_strategy_matches_window(spark):
    base = make_claims(spark, FIXTURE)
    w = with_rule_flags(base, RuleConfig(strategy="window"))
    s = with_rule_flags(base, RuleConfig(strategy="semi_join"))
    assert verdicts(w) == verdicts(s)


def test_combined_fraudtype_rule_priority(spark):
    df = make_claims(spark, FIXTURE)
    scored = score_claims(df, ml_verdict=F.lit("Suspicious"))
    for r in scored.collect():
        if r["RuleFraud"] != "Normal":
            assert r["FraudType"] == r["RuleFraud"]  # rule verdict wins
        else:
            assert r["FraudType"] == "Suspicious"  # else ML verdict


def test_same_date_ties_deterministic(spark):
    # two same-date claims for one Aadhaar: deterministic given tiebreak
    rows = [
        ("Esha", 100000000005, 100, "LPG", "2024-01-10"),
        ("Esha", 100000000005, 200, "LPG", "2024-01-10"),
    ]
    cfg = RuleConfig(tiebreak_cols=("ClaimAmount",))
    out1 = with_rule_flags(make_claims(spark, rows), cfg).collect()
    out2 = with_rule_flags(make_claims(spark, list(reversed(rows))), cfg).collect()
    d1 = {r["ClaimAmount"]: r["DaysDiff"] for r in out1}
    d2 = {r["ClaimAmount"]: r["DaysDiff"] for r in out2}
    assert d1 == d2 == {100: None, 200: 0}


def test_exact_percentile_matches_pandas(spark):
    import pandas as pd

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.functions.exprs import (
        exact_percentile,
    )

    vals = [509.0, 1200.0, 88.5, 43210.0, 7.25, 999.0, 123456.0, 55.5]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    # numpy interpolates with a symmetrized lerp (b-(b-a)*(1-t) for
    # t>=0.5); ours is the plain a+(b-a)*t the DuckDB oracle mirrors
    # bit-exactly — so pandas parity is to 1 ulp, not bitwise.
    for q in (0.5, 0.9, 0.99):
        assert exact_percentile(df, "v", q) == pytest.approx(
            pd.Series(vals).quantile(q), rel=1e-14
        )
