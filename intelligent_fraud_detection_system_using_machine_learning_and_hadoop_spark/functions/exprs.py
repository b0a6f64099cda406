"""Scalar/column expression library (SURVEY.md §2.2 P1–P9, §2.7 F1–F7).

Everything here is a pure Catalyst column expression — JVM-side, inside
whole-stage codegen, no Python in the hot path. The reference does the
same work row-at-a-time in pandas (``scripts/run_pipeline.py:22-43,
70-78``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def flag_when(cond: Column, label: str) -> Column:
    """A single fraud-rule flag: ``label`` when ``cond`` else NULL.

    NULL (not empty string) so that flag assembly can use
    ``array_compact`` — and so the reference's NaN-vs-null trap
    (``scripts/run_pipeline.py:41``, SURVEY.md P7: pandas ``NaN <= 7``
    is False, Spark ``null <= 7`` is null) is resolved explicitly here:
    a null condition yields a null flag, which drops out of the array.
    """
    return F.when(cond, F.lit(label))


def assemble_flags(*flags: Column, default: str = "Normal", sep: str = ";") -> Column:
    """Combine per-rule flags into the reference's ``RuleFraud`` string.

    The reference appends ``'X;'`` per fired rule then replaces the empty
    string with ``'Normal'`` (``scripts/run_pipeline.py:26,31,35,41,43``).
    Idiomatic Spark: build an array, drop nulls, join with ';' and keep
    the reference's trailing separator.
    """
    arr = F.array_compact(F.array(*flags))
    joined = F.concat(F.array_join(arr, sep), F.lit(sep))
    return F.when(F.size(arr) == 0, F.lit(default)).otherwise(joined)


def combine_fraud(rule: Column, ml: Column, normal: str = "Normal") -> Column:
    """Rule verdict wins; else ML verdict; else Normal.

    Replaces the reference's row-wise ``df.apply(combine_fraud, axis=1)``
    (``scripts/run_pipeline.py:70-78``) with a pure column expression —
    no UDF, no Python per row.
    """
    return (
        F.when(rule != normal, rule)
        .when(ml != normal, ml)
        .otherwise(F.lit(normal))
    )


def days_since(date_col: Column, anchor: Column | str) -> Column:
    """Whole days from ``anchor`` to ``date_col`` (reference P4,
    ``train.py:19`` / ``run_pipeline.py:47``: days since the batch min
    date)."""
    return F.datediff(date_col, anchor if isinstance(anchor, Column) else F.lit(anchor))


def portable_str_id(col: Column | str) -> Column:
    """60-bit content id of a string, bit-identical across engines: the
    first 15 hex chars of ``md5(utf8_bytes)`` read as an integer
    (always non-negative, < 2^60, so it fits a signed BIGINT in every
    SQL dialect).

    This is the portability bridge that lets string-keyed hash
    pipelines (MinHash signatures, SimHash token hashes) carry FULL
    DuckDB value oracles: Spark's ``xxhash64`` over a *string* hashes
    variable-length UTF-8 bytes (no tractable SQL twin — emulating the
    stripe/tail byte loops needs data-dependent recursion the DuckDB
    binder handles badly), but md5 is bit-stable by definition in both
    engines, and once the string is a LONG the existing
    ``xxhash64(long, seed)`` chain emulation
    (plans/data_ops.py::_xxh_hashlong_steps) takes over. DuckDB twin:
    ``CAST('0x' || substr(md5(col), 1, 15) AS BIGINT)`` — parity
    (incl. unicode) pinned by pytest."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def percentile_scalar_df(
    df: DataFrame, col: str, qs: dict[str, float], exact: bool = True
) -> DataFrame:
    """Lazy 1-row DataFrame of percentile scalars, read as a scalar
    subquery (``.scalar()``) or as a broadcast 1-row ``crossJoin`` side:
    either keeps the threshold inside ONE Catalyst plan (no job at
    plan-construction time, unlike :func:`exact_percentile`).

    ``qs`` maps output column name → quantile. ``exact=False`` swaps in
    the mergeable Greenwald-Khanna sketch (the 100 TB path — exact
    percentile fundamentally needs global order information).
    """
    c = F.col(col).cast("double")
    if exact:
        aggs = [F.percentile(c, F.lit(q)).alias(name) for name, q in qs.items()]
    else:
        aggs = [
            F.percentile_approx(c, F.lit(q), F.lit(10000)).alias(name)
            for name, q in qs.items()
        ]
    return df.agg(*aggs)


def exact_percentile(df: DataFrame, col: str, q: float) -> float:
    """Exact linear-interpolated percentile, matching pandas
    ``Series.quantile`` semantics (reference A4,
    ``scripts/run_pipeline.py:34``).

    pandas interpolates between order statistics; so does Spark's exact
    ``percentile`` aggregate: with the values sorted ascending as
    v[0..n-1] and h = (n-1)*q, the result is
    ``v[floor(h)] + (v[ceil(h)] - v[floor(h)]) * (h - floor(h))`` —
    the same IEEE formula the DuckDB oracles spell out.

    Single pass, map-side partial aggregation (per-partition value→count
    buffers merged at one reducer) — no global sort, no single-partition
    window. Memory scales with the number of *distinct* values; for
    100 TB / high-cardinality inputs prefer :func:`approx_percentile` —
    exact percentile fundamentally requires global order information.
    """
    row = (
        df.where(F.col(col).isNotNull())
        .select(
            F.percentile(F.col(col).cast("double"), F.lit(q)).alias("p")
        )
        .first()
    )
    return float("nan") if row is None or row["p"] is None else row["p"]


def approx_percentile(df: DataFrame, col: str, q: float, rel_err: float = 0.0001) -> float:
    """Scale-path percentile via Greenwald-Khanna sketch (single pass,
    mergeable across 1000 executors, no global sort)."""
    return df.approxQuantile(col, [q], rel_err)[0]
