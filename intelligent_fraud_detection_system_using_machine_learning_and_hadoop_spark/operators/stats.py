"""Distributed rank statistics: exact Spearman correlation without a
single-partition global sort.

Analytics extension (the reference — a 300-line pandas fraud scorer —
has no correlation surface; its nearest kin is the mean/std threshold
at ref scripts/run_pipeline.py:66). Spearman's rho is the robust
(rank-based) association measure a feature-engineering pass runs over
every numeric column pair; the textbook implementation ranks each
column with ONE global window — which in Spark means
``Window.orderBy(col)`` with no partition: every row through a single
reducer, the canonical does-not-scale plan.

Here ranks are computed distributedly, exactly:

* per column, values aggregate to a (value, count) table — ties
  collapse BEFORE any ordering work;
* the "< v" cumulative count is a range-bucketed prefix sum (the same
  idiom as operators/packing.py::pack_sequences): bucket by value
  range (order-preserving), cumsum inside each bucket under a
  PARTITIONED window, roll bucket totals (n_buckets rows) into
  broadcast prefix offsets;
* the average rank of a tie group is kept as an exact INTEGER by
  doubling: r2(v) = 2·|{x < v}| + |{x = v}| + 1 = 2·avg_rank(v).

With centered ranks c = r2 − (n+1) (Σc = 0 exactly), Spearman is
Pearson on ranks: rho = Σc_x·c_y / sqrt(Σc_x² · Σc_y²) — the sums are
exact DECIMALs (Σ rank² ≈ 4n³ overflows BIGINT past n≈1.3e6, found by
the sf1 scaling run; decimal→double rounds identically to
bigint→double so the oracle's BIGINT/HUGEINT twins stay bitwise at
gate scales), order-independent on any partitioning, and the final
three operations (exact→DOUBLE casts, one multiply, one sqrt, one
divide) are correctly-rounded IEEE, so any engine reproduces the float
bit-for-bit. No approximation anywhere: this is the exact tie-adjusted
Spearman, just computed in a shuffle-bounded shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def avg_rank2(
    df: DataFrame, val_col: str, n_buckets: int = 64,
    cast_type: str = "double",
) -> DataFrame:
    """Exact doubled-average-rank lookup table for one numeric column:
    (value, r2) with r2 = 2·avg_rank. Rows join this value-keyed table
    to pick up their rank; massive tie groups make hot join keys, for
    which the standard salt/broadcast splits apply.

    Buckets use sampled EQUI-DEPTH boundaries over the distinct-value
    table (operators/bucketing.py — VERDICT r8 item 6): equal-width
    ranges collapse a heavy-tailed column's distinct values into one
    bucket and re-serialize the per-bucket cumsum; depth boundaries
    keep the 64-way parallelism on any distribution. The boundaries
    are a lazy percentile_approx branch of the same plan (the shape
    the old min/max branch had — no extra pass); the output is
    invariant to the boundary choice.

    ``cast_type`` is the type the value column is grouped/ranked in —
    "double" by default; pass "long" for exact-integer columns whose
    magnitude may exceed 2⁵³ (double would collapse distinct values
    into ties and change the ranks). The bucket id still derives from
    a double cast internally, which is safe: a many-to-one monotone
    mapping is still order-preserving, the only property the bucketed
    prefix sum needs."""
    from .bucketing import with_equi_depth_bucket

    v = F.col(val_col).cast(cast_type)
    vc = (
        df.select(v.alias("_v"))
        .where(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    )
    b = with_equi_depth_bucket(vc, "_v", n_buckets)
    cum = b.withColumn(
        "_cum_le",
        F.sum("_cnt").over(
            W.partitionBy("_bkt").orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    totals = b.groupBy("_bkt").agg(F.sum("_cnt").alias("_tot"))
    prefix = totals.withColumn(
        "_prefix",
        F.coalesce(
            F.sum("_tot").over(
                W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bkt", "_prefix")
    return (
        cum.join(F.broadcast(prefix), "_bkt")
        .withColumn("_lt", F.col("_prefix") + F.col("_cum_le") - F.col("_cnt"))
        .select(
            F.col("_v").alias(val_col),
            (F.lit(2) * F.col("_lt") + F.col("_cnt") + F.lit(1))
            .cast("long")
            .alias("r2"),
        )
    )


def spearman_pairs(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact tie-adjusted Spearman rho for every unordered pair of
    ``cols`` (pairs in the given order): one output row per pair,
    (col_x, col_y, n, rho). Null-free input assumed (callers filter;
    the driver tables are null-free in these columns).

    Integer-width note: the raw moments are Σ r2·r2 ≤ 4n³ — BIGINT
    sums overflow past n ≈ 1.3·10⁶ rows (the r10 sf1 scale-curve run
    hit exactly this: ANSI ARITHMETIC_OVERFLOW at n = 6·10⁶), so the
    moments are DECIMAL: r2 cast to decimal(13,0), products
    decimal(27,0), sums exact to n ≈ 10¹² — still one map-side-combined
    aggregation, no extra pass. The decimal→double cast at the end
    rounds to nearest exactly like BIGINT→double, so the oracle's
    BIGINT twin stays bitwise at gate scales. The magnitude is
    inherent to exact rank moments, not to this formulation."""
    keyed = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    # Per-column rank machinery DELIBERATELY kept (r19, VERDICT r18
    # item 6 measured and REJECTED): folding the three avg_rank2
    # chains into one unpivoted (_c, _v) pass — one scan, one distinct
    # shuffle, per-_c bucketing/cumsum/prefix, swap-cached combined
    # rank table — cut the plan from 84 to 56 Exchanges but measured
    # SLOWER at BOTH scales (OPTIMIZATION_r19.md §6, same-session interleaved,
    # old wins all 6 pairwise reps: sf0.1 min 4.44 s vs 5.10 s folded,
    # sf1 5.06 vs 5.65). The melt triples the rows through the first
    # exchange (3×|rows| (tag, value) pairs vs three parallel columnar
    # scan+partial-agg chains AQE overlaps anyway), and the combined
    # rank table's persist puts a materialization barrier on the
    # critical path — same verdict class as the r18 exact_substring
    # and DSIR persists: recompute of cheap scan work beats
    # materialization. The "31 small jobs" this targeted are AQE stage
    # boundaries that overlap fine; job COUNT was never the wall.
    withr = keyed
    for c in cols:
        r = avg_rank2(keyed, c).withColumnRenamed("r2", f"_r2_{c}")
        withr = withr.join(r, c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    # center inside the aggregate: c = r2 − (n+1) needs n, so compute
    # raw moments instead and center algebraically — with S1 = Σr2 and
    # Sxy = Σ r2x·r2y:  Σcx·cy = Sxy − (n+1)·S1x − (n+1)·S1y + n·(n+1)²
    # ... all exact BIGINTs. (Σr2 = n(n+1) identically, so S1 = n(n+1),
    # and the expression simplifies to Sxy − n·(n+1)².)
    def _d(name: str):  # doubled rank as decimal(13,0): r2 ≤ 2n ≤ 2·10¹²
        return F.col(name).cast("decimal(13,0)")

    for c in cols:
        aggs.append(F.sum(_d(f"_r2_{c}") * _d(f"_r2_{c}")).alias(f"_s_{c}_{c}"))
    for cx, cy in pairs:
        aggs.append(
            F.sum(_d(f"_r2_{cx}") * _d(f"_r2_{cy}")).alias(f"_s_{cx}_{cy}")
        )
    m = withr.agg(*aggs)
    # centering term n·(n+1)² in decimal too (overflows BIGINT at
    # n ≥ 2.1·10⁶; value ≤ 1e37 fits decimal(38,0))
    nd = F.col("n").cast("decimal(13,0)")
    center = nd * (nd + 1) * (nd + 1)
    rows = []
    for cx, cy in pairs:
        cxx = F.col(f"_s_{cx}_{cx}") - center
        cyy = F.col(f"_s_{cy}_{cy}") - center
        cxy = F.col(f"_s_{cx}_{cy}") - center
        rows.append(
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col("n").alias("n"),
                (
                    cxy.cast("double")
                    / F.sqrt(cxx.cast("double") * cyy.cast("double"))
                ).alias("rho"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("_p")).select(
        "_p.col_x", "_p.col_y", "_p.n", "_p.rho"
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    val_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization report: exact interpolated ``lo``/``hi``
    percentiles (Spark's exact ``percentile`` aggregate — the same
    IEEE interpolation the oracle spells out, see
    plans/catalog.py::_pctile_cte), the count of rows clipped at each
    tail, and the winsorized mean.

    The mean keeps the exactness discipline: in-range values sum as
    fixed-point BIGINT cents (order-independent), the two clipped
    tails contribute ``n_tail · threshold`` with ONE multiply each,
    and the final expression is a pinned left-to-right
    ``(mid + n_lo·p_lo + n_hi·p_hi) / n`` — so any engine reproduces
    the double bitwise. Robust-scaling a feature (or trimming
    token-count outliers before packing) is this exact shape.

    Scale: one grouped percentile pass (ObjectHashAggregate holding
    per-group value buffers — exact order statistics need them; swap
    ``percentile_approx`` in for the GK-sketch 100 TB path), one
    broadcast join of the |groups|-row threshold table, one grouped
    fold. No global sort, no single-partition window."""
    v = F.col(val_col).cast("double")
    th = df.groupBy(F.col(group_col).alias("g")).agg(
        F.percentile(v, F.lit(lo)).alias("p_lo"),
        F.percentile(v, F.lit(hi)).alias("p_hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = df.select(
        F.col(group_col).alias("g"),
        v.alias("_v"),
        F.round(v * 100).cast("long").alias("_cents"),
    ).join(F.broadcast(th), "g")
    return (
        j.groupBy("g", "p_lo", "p_hi", "n")
        .agg(
            F.sum((F.col("_v") < F.col("p_lo")).cast("long"))
            .cast("long")
            .alias("n_below"),
            F.sum((F.col("_v") > F.col("p_hi")).cast("long"))
            .cast("long")
            .alias("n_above"),
            F.sum(
                F.when(
                    (F.col("_v") >= F.col("p_lo")) & (F.col("_v") <= F.col("p_hi")),
                    F.col("_cents"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_mid_cents"),
        )
        .select(
            F.col("g").alias(group_col),
            "n",
            "p_lo",
            "p_hi",
            "n_below",
            "n_above",
            (
                (
                    F.col("_mid_cents").cast("double") / F.lit(100.0)
                    + F.col("n_below").cast("double") * F.col("p_lo")
                    + F.col("n_above").cast("double") * F.col("p_hi")
                )
                / F.col("n").cast("double")
            ).alias("winsorized_mean"),
        )
    )


def equi_depth_histogram(
    df: DataFrame,
    val_col: str,
    id_col: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Equi-depth histogram with EXACT SQL ``ntile`` semantics —
    computed distributedly, with no global-order window.

    Every row gets its deterministic global rank under the total order
    ``(value, id)`` (ties broken by the unique id, so the bucketing is
    reproducible on any engine):

        rank = |{v' < v}| + row_number among equal values ordered by id

    The first term is the value-level range-bucketed prefix sum (the
    ``avg_rank2`` idiom); the second is a window PARTITIONED by the
    value — distributed across values, never a single global sort. The
    ntile bucket then follows from rank arithmetic alone (first
    ``n mod B`` buckets take ⌈n/B⌉ rows, the rest ⌊n/B⌋ — the standard
    SQL definition), so the result is bit-identical to
    ``ntile(B) OVER (ORDER BY v, id)`` while the plan stays
    shuffle-bounded: value-agg, per-value window, one broadcast of the
    B-row offsets + the 1-row count.

    Returns one row per bucket: (bucket, n_rows, min_v, max_v) —
    equi-depth boundaries for drift reports, calibration tables, or
    equi-height zone layout. Massive tie groups make a hot window
    partition; salt within the tie group (rank offset + salted
    row_number) if one value dominates the table."""
    bucketed = exact_ntile_assign(df, val_col, id_col, n_buckets)
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
    )


def exact_ntile_assign(
    df: DataFrame, val_col: str, id_col: str, n_buckets: int,
    cast_type: str = "double",
) -> DataFrame:
    """The distributed exact-ntile rank/bucket assignment shared by
    ``equi_depth_histogram`` and ``lorenz_concentration``: returns
    (_v, _id, _rank, bucket) under the total order (value, id) with
    SQL ``ntile`` bucket arithmetic — see equi_depth_histogram's
    docstring for the shape and scale argument.

    ``cast_type`` sets the type the values are ordered (and returned)
    in. The default "double" suits arbitrary numerics; exact-integer
    callers (lorenz_concentration's BIGINT cents) pass "long" so the
    total order — and hence the bucket assignment — stays exact past
    |v| ≥ 2⁵³, matching a BIGINT ``ORDER BY`` unconditionally."""
    v = F.col(val_col).cast(cast_type)
    rows = df.select(v.alias("_v"), F.col(id_col).alias("_id"))
    # value-level "< v" prefix counts (the avg_rank2 machinery keeps
    # r2 = 2·lt + cnt + 1, so lt = (r2 − cnt − 1) / 2 — join both)
    vc = rows.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    r2 = avg_rank2(rows, "_v", cast_type=cast_type).toDF("_v", "_r2")
    pre = vc.join(r2, "_v").select(
        "_v", F.expr("(_r2 - _cnt - 1) div 2").cast("long").alias("_lt")
    )
    w = W.partitionBy("_v").orderBy("_id")
    ranked = (
        rows.join(pre, "_v")
        .withColumn("_rank", F.col("_lt") + F.row_number().over(w))
    )
    n = rows.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    B = n_buckets
    return ranked.crossJoin(F.broadcast(n)).withColumn(
        "bucket",
        F.expr(
            f"""CASE WHEN (_rank - 1) < (_n % {B}) * ((_n div {B}) + 1)
                     THEN (_rank - 1) div ((_n div {B}) + 1) + 1
                     ELSE (_n % {B}) + ((_rank - 1) - (_n % {B}) * ((_n div {B}) + 1))
                            div (_n div {B}) + 1
                END"""
        ).cast("long"),
    )


def lorenz_concentration(
    df: DataFrame,
    id_col: str,
    cents_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Lorenz-curve concentration report over per-entity exact-cents
    totals — the Gini coefficient's visual companion ("the top decile
    of claimants takes X% of the money"), evaluated at exact ntile
    boundaries: entities sort ASCENDING by (cents, id) into
    ``n_buckets`` equal-count buckets (the shared exact_ntile_assign
    machinery — no global-order window), then per bucket the exact
    BIGINT cents total, cumulative cents, and the two pinned-IEEE
    cumulative shares that define the curve:

        (cum_frac_entities, cum_share_cents)

    Ties and the bucket arithmetic are the SQL ntile definition, so
    the DuckDB twin (a literal ``ntile(B) OVER (ORDER BY cents, id)``)
    reproduces every row bit-for-bit. The cents column is ordered and
    summed as native BIGINT end-to-end (``cast_type="long"`` — no
    double round-trip), so both the bucketing and the totals match
    the twin's BIGINT ORDER BY/SUM for the full BIGINT domain, not
    just |cents| < 2⁵³. The bucket cumsum is a B-row window —
    driver-bounded, not data-bounded."""
    bucketed = exact_ntile_assign(
        df, cents_col, id_col, n_buckets, cast_type="long"
    )
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(F.col("_v").cast("long")).cast("long").alias("cents_total"),
    )
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return per.select(
        "bucket",
        "n_entities",
        "cents_total",
        F.sum("cents_total").over(wb).cast("long").alias("cum_cents"),
        (
            F.sum("n_entities").over(wb).cast("double")
            / F.sum("n_entities").over(wall).cast("double")
        ).alias("cum_frac_entities"),
        F.when(
            F.sum("cents_total").over(wall) != 0,
            F.sum("cents_total").over(wb).cast("double")
            / F.sum("cents_total").over(wall).cast("double"),
        ).alias("cum_share_cents"),  # NULL when the ledger sums to zero
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    val_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population-drift report between a REFERENCE snapshot and a
    CURRENT one (the monitoring table behind a PSI dashboard): bucket
    both by the reference's equi-depth decile EDGES and compare the
    bucket mass.

    Returns one row per bucket: (bucket, n_ref, n_cur, p_ref, p_cur,
    abs_diff). ``p`` values are single IEEE divisions of exact BIGINT
    counts and ``abs_diff`` one subtraction — engine-bit-reproducible.
    The PSI statistic proper multiplies by ln(p/q) — transcendental,
    so deliberately NOT computed here; callers apply it to the exact
    fractions (the ranking/thresholding is unchanged, and the exact
    per-bucket masses are the auditable artifact anyway).

    Buckets are defined by VALUE edges (the max of each reference
    ntile bucket, edges 1..B−1): a row lands in bucket
    1 + |{edges e : v > e}|. Both snapshots assign by the same
    comparison — rows tying an edge go below it, identically
    everywhere. The edge table is B−1 rows, broadcast; each snapshot
    pays one scan + one groupBy. Reference deciles come from
    ``equi_depth_histogram`` — distributed, no global sort."""
    edges = (
        equi_depth_histogram(ref, val_col, id_col, n_buckets)
        .where(F.col("bucket") < n_buckets)
        .agg(F.sort_array(F.collect_list("max_v")).alias("_edges"))
    )

    def _assign(df: DataFrame, label: str) -> DataFrame:
        v = F.col(val_col).cast("double")
        return (
            df.select(v.alias("_v"))
            .crossJoin(F.broadcast(edges))
            .select(
                (
                    F.lit(1)
                    + F.size(
                        F.filter("_edges", lambda e: F.col("_v") > e)
                    )
                )
                .cast("long")
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias(f"n_{label}"))
        )

    a = _assign(ref, "ref")
    b = _assign(cur, "cur")
    tot = (
        ref.agg(F.count(F.lit(1)).cast("long").alias("_tr"))
        .crossJoin(cur.agg(F.count(F.lit(1)).cast("long").alias("_tc")))
    )
    return (
        a.join(b, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            (F.col("n_ref").cast("double") / F.col("_tr").cast("double")).alias(
                "p_ref"
            ),
            (F.col("n_cur").cast("double") / F.col("_tc").cast("double")).alias(
                "p_cur"
            ),
        )
        .withColumn("abs_diff", F.abs(F.col("p_cur") - F.col("p_ref")))
    )


def dyadic_ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    depth: int = 16,
) -> DataFrame:
    """Exponentially-weighted moving average with α = 1/2 truncated at
    ``depth`` lags — the classic trend smoother, made BIT-EXACT across
    engines by construction instead of by order-pinning:

        ewma(t) = Σ_{j=0..depth−1} x_{t−j} · 2^−(j+1)

    over INTEGER inputs (callers quantize to cents). Every weight is
    dyadic, so each product is an exact double, and with x < 2³⁰ the
    full sum carries ≤ 30 integer + ``depth`` fractional bits — under
    the 53-bit mantissa, so EVERY summation order gives the identical
    exact double. No pinned association, no quantization step: the
    oracle just writes the same Σ lag(x)·w and equality is bitwise.
    (Weights sum to 1 − 2^−depth; at depth 16 the deliberate 0.0015%
    low-bias beats renormalizing, which would break dyadic exactness.)

    Rows with fewer than ``depth`` predecessors in their key get NULL
    (no partial-window ramp-in ambiguity). One key-partitioned window
    ordered by ``order_cols`` (callers supply a tiebreaker column so
    the order — hence lag assignment — is total). ``depth`` chained
    ``lag`` calls over ONE window frame = a single shuffle, all inside
    whole-stage codegen; at any scale this is the cheapest possible
    exact sequential smoother."""
    w = W.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(value_col).cast("double")
    terms = [F.lag(x, j).over(w) * F.lit(2.0 ** -(j + 1)) for j in range(depth)]
    total = terms[0]
    for t in terms[1:]:
        total = total + t  # any association is exact — see docstring
    return df.withColumn("ewma", total)


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS trend) with EXACT
    integer moments: ``x_col`` and ``y_col`` must already be integer
    columns (callers quantize — epoch days, cents). With the five
    moments n, Σx, Σy, Σxy, Σx² accumulated as decimal(38,0). Exact
    for the documented domains (epoch days ≈ 10⁴, cents ≲ 10¹³: the
    largest product fits 26 digits, leaving ≥10¹² rows of summation
    headroom before the 38-digit cap — far past BIGINT's n≈10⁵ ceiling
    on Σx²; NOT unconditionally unbounded, since Spark caps decimal
    arithmetic at precision 38):

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    Numerator/denominator are exact decimals cast to DOUBLE for ONE
    division; the intercept pins the IEEE order (Σy − slope·Σx) then
    /n — the oracle spells the identical expression tree, so both are
    bit-reproducible. Degenerate groups (constant x → zero
    denominator) yield NULL slope/intercept rather than ±inf.

    One map-side-combined keyed aggregation — no window, no second
    pass; scales like any hash agg (skewed group = one reducer key,
    salt if a single group exceeds an executor). The per-segment
    trend-line primitive: "is this status's order value drifting up?"
    """
    d38 = "decimal(38,0)"
    # Inputs at decimal(18,0), not 38: an 18×18-digit product fits
    # decimal(37,0) EXACTLY (38,0×38,0 would hit Spark's precision-38
    # cap and could overflow to null under the old cast — ADVICE r10).
    x = F.col(x_col).cast("decimal(18,0)")
    y = F.col(y_col).cast("decimal(18,0)")
    m = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(d38).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    slope = F.when(den != 0.0, num / den)
    intercept = F.when(
        den != 0.0,
        (F.col("_sy").cast("double") - (num / den) * F.col("_sx").cast("double"))
        / F.col("_n").cast("double"),
    )
    return m.select(
        group_col,
        F.col("_n").cast("long").alias("n_rows"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, computed in exact integer arithmetic up to ONE final sum:

        chi² = Σ_cells (O·n − r·c)² / (r·c·n)

    (the algebraic form of Σ (O−E)²/E with E = r·c/n that clears all
    intermediate fractions). The difference O·n − r·c is one exact
    BIGINT (|O·n − r·c| ≤ n², exact while n < 2³¹·⁵ ≈ 3.0e9 rows —
    the documented width bound, same discipline as spearman_pairs);
    it is cast to DOUBLE BEFORE squaring, and the denominator is a
    pinned left-to-right DOUBLE product (r·c)·n — so neither the
    square (~n⁴) nor the r·c·n product (~n³) ever re-enters BIGINT,
    and ANSI mode cannot raise ARITHMETIC_OVERFLOW however skewed the
    marginals. Each cell's quotient is one IEEE division whose
    1e-9-quantized value (floor) sums as a BIGINT — so the statistic
    is order-independent and engine-bit-reproducible (a raw double sum
    over cells is neither). Returns one row: (n, n_cells, dof, chi2,
    cramers_v) with chi2 at 1e-9 resolution and Cramér's
    V = √(χ²/(n·min(r−1, c−1))) — the [0,1] effect size that makes
    chi² comparable across table sizes — as one division of the same
    chi2 double by an exact BIGINT product plus one sqrt (correctly
    rounded per IEEE 754, so V inherits the bit parity); NULL when
    either variable is constant (min(r−1, c−1) = 0).

    Scale: one contingency aggregation (|A|×|B| cells), two marginal
    roll-ups of that cell table (cell-table-sized, not data-sized),
    broadcast back. The p-value needs the incomplete gamma —
    transcendental, caller-side."""
    cells = (
        df.groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    ra = cells.groupBy("_a").agg(F.sum("_o").cast("long").alias("_r"))
    cb = cells.groupBy("_b").agg(F.sum("_o").cast("long").alias("_c"))
    n = cells.agg(F.sum("_o").cast("long").alias("_n"))
    na = cells.agg(F.countDistinct("_a").cast("long").alias("_na"))
    nb = cells.agg(F.countDistinct("_b").cast("long").alias("_nb"))
    q = 10**9
    terms = (
        cells.join(F.broadcast(ra), "_a")
        .join(F.broadcast(cb), "_b")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                f"CAST(floor("
                f"(CAST(_o * _n - _r * _c AS DOUBLE)"
                f" * CAST(_o * _n - _r * _c AS DOUBLE))"
                f" / ((CAST(_r AS DOUBLE) * CAST(_c AS DOUBLE))"
                f" * CAST(_n AS DOUBLE)) * {q}) AS BIGINT)"
            ).alias("_t")
        )
    )
    return (
        terms.agg(F.sum("_t").cast("long").alias("_chi_q"))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("_n").alias("n"),
            (F.col("_na") * F.col("_nb")).alias("n_cells"),
            ((F.col("_na") - 1) * (F.col("_nb") - 1)).alias("dof"),
            (F.col("_chi_q").cast("double") / F.lit(float(q))).alias("chi2"),
            F.when(
                F.least(F.col("_na") - 1, F.col("_nb") - 1) > 0,
                F.sqrt(
                    (F.col("_chi_q").cast("double") / F.lit(float(q)))
                    / (
                        F.col("_n")
                        * F.least(F.col("_na") - 1, F.col("_nb") - 1)
                    ).cast("double")
                ),
            ).alias("cramers_v"),
        )
    )


def trimmed_mean_by_group(
    df: DataFrame,
    group_col: str,
    val_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Per-group trimmed mean via an Arrow GROUPED_AGG ``pandas_udf`` —
    the one vectorized-UDF flavor the engine's Python surface did not
    yet exercise (mapInPandas/applyInPandas/cogroup cover the others):
    each group's values arrive as ONE Arrow-backed pandas Series, the
    UDF returns a scalar, and Spark runs it inside a hash aggregate
    (partial aggregation disabled for UDAFs — the group's values ship
    to one reducer, so group cardinality bounds the transfer, exactly
    like the exact-percentile aggregate).

    The UDF keeps the exactness discipline: values become integer
    cents, the trim drops ``floor(n·trim)`` from each end of the
    SORTED cents (ties interchangeable ⇒ deterministic), and the UDF
    emits the exact BIGINT sum of the middle — one IEEE division per
    group at the end. Returns (group, n, n_trimmed_each_end,
    trimmed_mean)."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints select the GROUPED_AGG flavor
    @pandas_udf("long")
    def _trimmed_sum_cents(v: pd.Series) -> int:
        cents = (v * 100).round().astype("int64").sort_values()
        k = int(len(cents) * trim)
        mid = cents.iloc[k : len(cents) - k] if k else cents
        return int(mid.sum())

    # a GROUPED_AGG UDF cannot share an agg with built-in functions —
    # two grouped passes, rejoined on the (tiny) group key
    sums = df.groupBy(F.col(group_col).alias("g")).agg(
        _trimmed_sum_cents(F.col(val_col).cast("double")).alias("_ts")
    )
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    g = sums.join(F.broadcast(counts), "g")
    k = (F.col("n").cast("double") * F.lit(trim)).cast("long")
    return g.select(
        F.col("g").alias(group_col),
        "n",
        k.alias("n_trimmed_each_end"),
        (
            (F.col("_ts").cast("double") / F.lit(100.0))
            / (F.col("n") - F.lit(2) * k).cast("double")
        ).alias("trimmed_mean"),
    )


def _rank_rows(df: DataFrame, val_col: str, id_col: str) -> DataFrame:
    """Deterministic dense row rank under (value, id): the equi-depth
    machinery factored out — value-prefix `<` counts + a per-value
    window ordered by id. Returns the input columns + ``_rank``
    (1-based) and ``_v`` (the double value)."""
    v = F.col(val_col).cast("double")
    rows = df.select(v.alias("_v"), F.col(id_col).alias("_id"))
    vc = rows.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    r2 = avg_rank2(rows, "_v").toDF("_v", "_r2")
    pre = vc.join(r2, "_v").select(
        "_v", F.expr("(_r2 - _cnt - 1) div 2").cast("long").alias("_lt")
    )
    w = W.partitionBy("_v").orderBy("_id")
    return (
        rows.join(pre, "_v")
        .withColumn("_rank", (F.col("_lt") + F.row_number().over(w)).cast("long"))
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    val_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact quantile normalization: replace each row's value by the
    GLOBAL distribution's value at the row's within-group quantile —
    the transform that puts every source's score scale on one footing
    before cross-source thresholding (the bioinformatics
    quantile-normalization / score-calibration primitive, distributed).

    For a row with within-group rank r among n_g (deterministic
    (value, id) order): its target position is the pandas-style
    interpolated order statistic of the WHOLE column at
    h = (N−1)·(r−1)/(n_g−1) (degenerate n_g = 1 → h = (N−1)/2), i.e.

        normalized = v_glob[⌊h⌋] + (v_glob[⌈h⌉] − v_glob[⌊h⌋])·(h − ⌊h⌋)

    computed with the SAME IEEE steps on every engine.

    Scale shape — everything stays distributed and exact:

    * within-group ranks: one grouped window over (group) after a
      group+value-level prefix (here a per-group window ordered by
      (v, id) — distributed across groups);
    * the global order-statistic LOOKUP inverts the global rank: the
      global value table carries each distinct value's rank interval
      [lo, hi]; probe positions join it by integer-bucketed containment
      (intervals split per covered bucket of width ⌈N/n_buckets⌉, so
      the join is an equi-join on the bucket id — no range-join scan,
      skew bounded by bucket width);
    * two probes per row (⌊h⌋, ⌈h⌉) ride the same join.

    Returns (group, id, value, normalized)."""
    rows = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(val_col).cast("double").alias("_v"),
    )
    # ---- within-group rank (deterministic) + group sizes ----
    wg = W.partitionBy("_g").orderBy("_v", "_id")
    ranked = rows.withColumn("_r", F.row_number().over(wg).cast("long"))
    sizes = rows.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_ng"))
    n = rows.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    probe = (
        ranked.join(F.broadcast(sizes), "_g")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "_h",
            F.when(
                F.col("_ng") == 1,
                (F.col("_n") - 1).cast("double") / F.lit(2.0),
            ).otherwise(
                (F.col("_n") - 1).cast("double")
                * (F.col("_r") - 1).cast("double")
                / (F.col("_ng") - 1).cast("double")
            ),
        )
        .withColumn("_klo", (F.floor("_h") + 1).cast("long"))
        .withColumn("_khi", (F.ceil("_h") + 1).cast("long"))
    )
    # ---- global inverse-rank table: value -> rank interval [lo, hi] ----
    g = _rank_rows(rows, "_v", "_id")  # reuses the distributed machinery
    iv = (
        g.groupBy("_v")
        .agg(F.min("_rank").alias("_lo"), F.max("_rank").alias("_hi"))
    )
    # bucket width from N (1-row broadcast); intervals explode per
    # covered bucket — total extra rows ≤ N/width + |distinct values|
    ivb = (
        iv.crossJoin(F.broadcast(n))
        .withColumn("_w", F.expr(f"greatest(1L, _n div {n_buckets})"))
        .withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.expr("(_lo - 1) div _w"), F.expr("(_hi - 1) div _w")
                )
            ),
        )
        .select("_bkt", "_v", "_lo", "_hi")
    )

    def _lookup(k_col: str, out: str) -> DataFrame:
        p = probe.select(
            "_g", "_id", F.col(k_col).alias("_k"),
            F.expr(f"greatest(1L, _n div {n_buckets})").alias("_w"),
        ).withColumn("_bkt", F.expr("(_k - 1) div _w"))
        return (
            p.join(ivb, "_bkt")
            .where((F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")))
            .select("_g", "_id", F.col("_v").alias(out))
        )
    lo = _lookup("_klo", "_vlo")
    hi = _lookup("_khi", "_vhi")
    return (
        probe.join(lo, ["_g", "_id"])
        .join(hi, ["_g", "_id"])
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_v").alias(val_col),
            (
                F.col("_vlo")
                + (F.col("_vhi") - F.col("_vlo"))
                * (F.col("_h") - F.floor("_h"))
            ).alias("normalized"),
        )
    )


def seasonal_decompose(
    series: DataFrame,
    ts_col: str = "bucket_ts",
    val_cents_col: str = "value_c",
    period: int = 24,
    half_window: int = 12,
    group_col: str | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition of a regular time
    series (value = trend + seasonal + residual): trend is the
    centered (2·half_window+1)-point moving average, the seasonal
    component the per-phase mean of the detrended series, residual the
    rest — the STL-lite decomposition a monitoring pipeline runs on an
    hourly metric before alerting on residuals.

    The phase is an EPOCH-HOUR counter modulo ``period``
    (``unix_timestamp div 3600 % period``), not hour-of-day — so any
    period works (weekly 168, bi-daily 48); ``hour(ts) % period``
    would silently collapse phases ≥ 24 (ADVICE r8). With the UTC
    session timezone the two coincide for the classic period=24.

    ``group_col`` decomposes each key's series independently (trend
    window, phase means, and residuals all partitioned by the key) —
    the production multi-series shape; ``None`` keeps the documented
    single-aggregated-series global window.

    Exactness discipline: the series values arrive as integer cents,
    the trend window sums BIGINTs (one IEEE division chain per row),
    the detrended values quantize to 1e-9 integers before the
    per-phase mean (float sums are order-dependent; BIGINT sums are
    not), and every division is a pinned two-operand IEEE op — engines
    agree bitwise.

    Scale note: ``series`` is an AGGREGATED series (one row per
    bucket[, key]), so the window runs over series-length rows —
    hours-per-year scale per key, not event scale; the grouped form
    keeps every key's window on its own partition. Returns
    ([group], ts, value, trend, seasonal, residual) for rows whose
    trend window is complete."""
    base = W.partitionBy(group_col) if group_col else W
    win = base.orderBy(ts_col).rowsBetween(-half_window, half_window)
    phase_keys = ([group_col] if group_col else []) + ["_phase"]
    t = (
        series.withColumn("_wn", F.count(F.lit(1)).over(win).cast("long"))
        .withColumn("_ws", F.sum(val_cents_col).over(win).cast("long"))
        .where(F.col("_wn") == 2 * half_window + 1)
        .withColumn(
            "value", F.col(val_cents_col).cast("double") / F.lit(100.0)
        )
        .withColumn(
            "trend",
            F.col("_ws").cast("double")
            / F.lit(100.0)
            / F.lit(float(2 * half_window + 1)),
        )
        .withColumn("_detr", F.col("value") - F.col("trend"))
        .withColumn(
            "_detr_q", F.floor(F.col("_detr") * F.lit(1e9)).cast("long")
        )
        .withColumn(
            "_phase",
            F.expr(
                f"pmod(unix_timestamp({ts_col}) div 3600, {int(period)})"
            ).cast("long"),
        )
    )
    seas = t.groupBy(*phase_keys).agg(
        (
            F.sum("_detr_q").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e9)
        ).alias("seasonal")
    )
    return (
        t.join(F.broadcast(seas), phase_keys)
        .select(
            *(([F.col(group_col)] if group_col else [])),
            F.col(ts_col),
            "value",
            "trend",
            "seasonal",
            (F.col("_detr") - F.col("seasonal")).alias("residual"),
        )
    )


def acf_daily(
    events: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series autocorrelation function at fixed ``lags`` over the
    DAILY value totals — the time-series diagnostic behind seasonality
    and burst detection ("does yesterday predict today?"), computed in
    exact integer arithmetic up to ONE final IEEE division per lag.

    Standard ACF estimator (statsmodels convention: lagged cross
    moments over the FULL-series centered sum of squares), cleared of
    the mean by cross-multiplying with n² — with x the day's exact
    cents, S = Σx, SS = Σx², and per lag k the tail moments
    P = Σ_{t>k} x_t·x_{t−k}, A = Σ_{t>k} x_t, B = Σ_{t>k} x_{t−k}:

        acf_k = (n²·P − n·S·(A+B) + (n−k)·S²) / (n²·SS − n·S²)

    Every moment accumulates as exact decimal (inputs cast to
    decimal(18,0) so products fit decimal(37,0) exactly — the
    grouped_ols width discipline; headroom ≥ 10¹² days of 10¹¹-cent
    totals before the 38-digit cap), numerator and denominator are
    exact decimals cast to DOUBLE for one division, so any engine —
    the DuckDB HUGEINT twin included — reproduces each acf bit-for-
    bit. Constant series (zero denominator) and series shorter than
    the lag yield NULL.

    Scale shape: one groupBy(series, day) roll-up, ONE key-partitioned
    window pass carrying all lags at once (days per series are unique,
    so ordering needs no tiebreaker), one keyed aggregation. No
    driver-side series, no per-lag repeat scans."""
    from pyspark.sql import Window

    d18 = "decimal(18,0)"
    daily = events.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    ).agg(
        F.sum(F.round(F.col(value_col) * 100).cast("long"))
        .cast(d18)
        .alias("x")
    )
    w = Window.partitionBy("grp").orderBy("day")
    lagged = daily.select(
        "grp",
        "x",
        *[F.lag("x", k).over(w).alias(f"_l{k}") for k in lags],
    )
    aggs = [
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    ]
    for k in lags:
        lk = F.col(f"_l{k}")
        aggs += [
            F.sum(F.col("x") * lk).alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("x"))).alias(f"a{k}"),
            F.sum(lk).alias(f"b{k}"),
        ]
    m = lagged.groupBy("grp").agg(*aggs)
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    den = (n * n * ss - n * s * s).cast("double")
    cols = [
        F.col("grp").alias(group_col),
        n.cast("long").alias("n_days"),
    ]
    for k in lags:
        p, a, b = F.col(f"p{k}"), F.col(f"a{k}"), F.col(f"b{k}")
        num = (n * n * p - n * s * (a + b) + (n - k) * s * s).cast("double")
        cols.append(
            F.when((n > k) & (den != 0.0), num / den).alias(f"acf_lag{k}")
        )
    return m.select(*cols)


#: −ln(0.01/2) — the α = 0.01 decision constant of Pettitt's
#: significance approximation, a pinned shared literal.
PETTITT_NEG_LOG_HALF_ALPHA = 5.298317366548037


def pettitt_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Pettitt changepoint test (Pettitt 1979, public) per series over
    the daily totals — the rank-based, distribution-free "WHEN did
    the level shift" screen completing the drift family (Benford
    drift localizes WHEN digits broke; this localizes WHEN the level
    moved, with no normality assumption): with r_i the rank of day
    i's total among the series' n days,

        U_t = 2·Σ_{i≤t} r_i − t(n+1),   K = max_{t<n} |U_t|

    and the change point is the earliest day attaining K. Everything
    is EXACT integer arithmetic: ranks enter as the doubled average
    rank r2 = 2·min-rank + tiecount − 1 (so U_t = Σ_{i≤t} r2_i −
    t(n+1) stays integral under ties), cumulated in one day-ordered
    window. The α = 0.01 decision uses Pettitt's approximation
    p ≈ 2·exp(−6K²/(n³+n²)) rearranged to the engine-independent
    comparison 6K² ≥ −ln(α/2)·(n³+n²) — exact decimal(38,0) products
    cast to double once on each side, the pinned-literal discipline.

    Scale shape: one (series, day) roll-up (map-side combinable),
    three series-keyed window passes over the |days|-row daily frame
    (value rank, tie count, day-ordered cumulative sum), one keyed
    max + one tiny argmin join-free struct-max. Series with n < 2
    days yield NULL K/change/decision. Returns one row per series:
    (group, n_days, k_stat, change_day, significant)."""
    daily = _daily_cents(events, group_col, ts_col, value_col)
    return pettitt_from_daily(daily, group_col)


def _daily_cents(
    events: DataFrame, group_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """(grp, day, x): exact integer daily cents totals per series —
    the ADDITIVE sufficient statistic the Pettitt/Mann–Kendall
    streaming twins fold per micro-batch (partial sums merge by
    keyed addition), shared with the batch operators so both run the
    identical finish."""
    return events.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    ).agg(
        F.sum(F.round(F.col(value_col) * 100).cast("long"))
        .cast("long")
        .alias("x")
    )


def pettitt_from_daily(daily: DataFrame, group_col: str) -> DataFrame:
    """Pettitt finish from the (grp, day, x) daily-totals frame — the
    benford_from_counts split for the streaming twin. The ranked
    cumulative frame fans out to the K-max and argmax legs, so it is
    persisted once via the bounded swap-cache (lineage re-derivation
    would re-run the scan + three windows per consumer)."""
    from ..cache import plan_key, swap_cache

    wv = W.partitionBy("grp").orderBy("x")
    wt = W.partitionBy("grp", "x")
    wd = W.partitionBy("grp").orderBy("day")
    wg = W.partitionBy("grp")
    u = (
        daily.withColumn(
            "_r2",
            (
                F.lit(2) * F.rank().over(wv)
                + F.count(F.lit(1)).over(wt)
                - F.lit(1)
            ).cast("long"),
        )
        .withColumn("_t", F.row_number().over(wd).cast("long"))
        .withColumn("_n", F.count(F.lit(1)).over(wg).cast("long"))
        .withColumn(
            "_u",
            F.sum("_r2")
            .over(wd.rowsBetween(W.unboundedPreceding, 0))
            .cast("long")
            - F.col("_t") * (F.col("_n") + F.lit(1)),
        )
    )
    u = swap_cache(plan_key("pettitt.u", u), u)
    base = u.groupBy("grp").agg(
        F.max("_n").cast("long").alias("n_days")
    )
    km = (
        u.where(F.col("_t") < F.col("_n"))
        .groupBy("grp")
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("_u")).alias("k"),
                    (-F.unix_timestamp(F.col("day"))).alias("_negd"),
                    F.col("day").alias("d"),
                )
            ).alias("_m")
        )
        .select(
            "grp",
            F.col("_m.k").cast("long").alias("k_stat"),
            F.col("_m.d").alias("change_day"),
        )
    )
    d38 = "decimal(38,0)"
    k = F.col("k_stat").cast(d38)
    n = F.col("n_days").cast(d38)
    return (
        base.join(km, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "k_stat",
            "change_day",
            F.when(
                F.col("k_stat").isNotNull(),
                (F.lit(6).cast(d38) * k * k).cast("double")
                >= F.lit(PETTITT_NEG_LOG_HALF_ALPHA)
                * (n * n * n + n * n).cast("double"),
            ).alias("significant"),
        )
        .orderBy(group_col)
    )


#: z²₀.₉₉₅ = χ²₀.₉₉(1) — the two-sided-99% normal decision constant
#: squared, the pinned literal the chi-square family already carries.
MK_Z99_SQ = 6.6348966010212145


def mann_kendall_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Mann–Kendall monotone-trend test (Mann 1945 / Kendall 1975,
    public) per series over the daily totals — the rank-based,
    distribution-free "is this series drifting" screen beside
    Pettitt's "WHERE did it shift" (Pettitt finds a step; MK detects
    a monotone creep a step test misses — the slow-escalation fraud
    shape). Exact integer statistic and variance:

        S = Σ_{i<j} sign(x_j − x_i)
        18·Var(S) = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)

    with the continuity-corrected decision |S|−1 vs the 99% normal
    bound computed by EXACT cross-multiplication, 18·(|S|−1)² ≥
    z²·18·Var (the z² literal is χ²₀.₉₉(1), shared with the
    chi-square family); z itself is reported via one pinned IEEE
    tree (m / sqrt(V18/18) — division and sqrt are correctly-rounded
    on both engines).

    Scale shape: one (series, day) roll-up, then ONE self-join on
    day pairs i < j WITHIN each series — |days|²/2 per series, a
    BOUNDED-domain quadratic (days are a calendar: 30 here, ~3.6k
    rows/series per decade ⇒ ≤ ~6.6M pairs/series), keyed on the
    series so copies parallelize; the tie term is a (series, value)
    aggregation. For multi-decade series switch to the O(n log n)
    merge-count form; at this engine's day counts the join IS the
    exact, twin-mirrorable plan. n < 2 yields NULL."""
    daily = _daily_cents(events, group_col, ts_col, value_col)
    return mann_kendall_from_daily(daily, group_col)


def mann_kendall_from_daily(daily: DataFrame, group_col: str) -> DataFrame:
    """Mann–Kendall finish from the (grp, day, x) daily-totals frame
    — the benford_from_counts split for the streaming twin. The
    daily frame fans out FOUR ways (both pair-join sides, the tie
    term, the day count), so it is persisted once via the bounded
    swap-cache — lineage re-derivation would re-run the data-sized
    scan + roll-up per consumer."""
    from ..cache import plan_key, swap_cache

    daily = swap_cache(plan_key("mann_kendall.daily", daily), daily)
    a = daily.select("grp", F.col("day").alias("_di"), F.col("x").alias("_xi"))
    b = daily.select("grp", F.col("day").alias("_dj"), F.col("x").alias("_xj"))
    s = (
        a.join(b, "grp")
        .where(F.col("_di") < F.col("_dj"))
        .groupBy("grp")
        .agg(
            F.sum(F.signum(F.col("_xj") - F.col("_xi")).cast("long"))
            .cast("long")
            .alias("s_stat")
        )
    )
    nrow = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    ties = (
        daily.groupBy("grp", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy("grp")
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - F.lit(1))
                * (F.lit(2) * F.col("_t") + F.lit(5))
            )
            .cast("long")
            .alias("_tie18")
        )
    )
    n = F.col("n_days")
    v18 = (n * (n - F.lit(1)) * (F.lit(2) * n + F.lit(5)) - F.col("_tie18")).cast(
        "long"
    )
    m = F.greatest(F.abs(F.col("s_stat")) - F.lit(1), F.lit(0)).cast("long")
    d38 = "decimal(38,0)"
    return (
        nrow.join(ties, "grp")
        .join(s, "grp", "left")
        .withColumn("_v18", v18)
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            "s_stat",
            F.when(
                (n >= 2) & (F.col("_v18") > 0),
                F.signum(F.col("s_stat")).cast("double")
                * m.cast("double")
                / F.sqrt(F.col("_v18").cast("double") / F.lit(18.0)),
            ).alias("z"),
            F.when(
                (n >= 2) & (F.col("_v18") > 0),
                (F.lit(18).cast(d38) * m.cast(d38) * m.cast(d38)).cast(
                    "double"
                )
                >= F.lit(MK_Z99_SQ) * F.col("_v18").cast("double"),
            ).alias("significant"),
        )
        .orderBy(group_col)
    )


def seasonal_mann_kendall_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonal Mann–Kendall trend test (Hirsch & Slack 1984, public)
    per series over the daily cents totals — the drift family's last
    gap (VERDICT r16 item 6): plain MK compares EVERY day pair, so a
    strong weekly cycle (quiet Sundays, busy Fridays) swamps S with
    cross-season sign noise and masks a real monotone creep. The
    seasonal variant computes the exact MK statistic WITHIN each
    season — weekday here, the ledger's natural cycle — and sums:

        S' = Σ_g S_g        18·Var(S') = Σ_g 18·Var(S_g)

    (independence across seasons per Hirsch–Slack; each season's
    variance carries its own tie correction). Decision and z repeat
    the ``mann_kendall_daily`` discipline exactly: continuity-
    corrected m = max(|S'|−1, 0), significance by the EXACT integer
    cross-multiplication 18·m² ≥ z²₀.₉₉·18·Var (shared χ²₀.₉₉(1)
    literal), z via the one pinned IEEE tree.

    Scale shape: the same day-grain roll-up as MK, then the pair join
    keyed on (series, season) — the extra season key CUTS the
    quadratic to Σ_g |days_g|² ≈ |days|²/7 per series (seven ~4×
    smaller quadratics), so the seasonal test is CHEAPER than the
    plain one at any day count. Ties aggregate at (series, season,
    value) grain. n_g < 2 seasons contribute S_g = 0, Var_g = 0."""
    daily = _daily_cents(events, group_col, ts_col, value_col)
    return seasonal_mann_kendall_from_daily(daily, group_col)


def seasonal_mann_kendall_from_daily(
    daily: DataFrame, group_col: str
) -> DataFrame:
    """Hirsch–Slack finish from the (grp, day, x) daily-totals frame
    (the benford_from_counts split, so a streaming twin can fold the
    additive daily frame and share this finish bit-for-bit). Season =
    weekday as 0=Sunday…6=Saturday — Spark's dayofweek minus 1,
    matching DuckDB's dayofweek for a mechanical oracle twin. The
    daily frame fans out three ways (both pair-join sides, the tie
    term), persisted once via the bounded swap-cache."""
    from ..cache import plan_key, swap_cache

    d = daily.withColumn(
        "_sea", (F.dayofweek(F.col("day")) - F.lit(1)).cast("int")
    )
    d = swap_cache(plan_key("seasonal_mk.daily", d), d)
    a = d.select(
        "grp", "_sea", F.col("day").alias("_di"), F.col("x").alias("_xi")
    )
    b = d.select(
        "grp", "_sea", F.col("day").alias("_dj"), F.col("x").alias("_xj")
    )
    s_g = (
        a.join(b, ["grp", "_sea"])
        .where(F.col("_di") < F.col("_dj"))
        .groupBy("grp", "_sea")
        .agg(
            F.sum(F.signum(F.col("_xj") - F.col("_xi")).cast("long"))
            .cast("long")
            .alias("_sg")
        )
    )
    n_g = d.groupBy("grp", "_sea").agg(
        F.count(F.lit(1)).cast("long").alias("_ng")
    )
    ties_g = (
        d.groupBy("grp", "_sea", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy("grp", "_sea")
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - F.lit(1))
                * (F.lit(2) * F.col("_t") + F.lit(5))
            )
            .cast("long")
            .alias("_tie18")
        )
    )
    ng = F.col("_ng")
    v18_g = (
        ng * (ng - F.lit(1)) * (F.lit(2) * ng + F.lit(5)) - F.col("_tie18")
    ).cast("long")
    per = (
        n_g.join(ties_g, ["grp", "_sea"])
        .join(s_g, ["grp", "_sea"], "left")
        .select(
            "grp",
            "_ng",
            F.coalesce(F.col("_sg"), F.lit(0)).cast("long").alias("_sg"),
            v18_g.alias("_v18g"),
        )
    )
    agg = per.groupBy("grp").agg(
        F.sum("_ng").cast("long").alias("n_days"),
        F.sum("_sg").cast("long").alias("s_stat"),
        F.sum("_v18g").cast("long").alias("_v18"),
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
    )
    n = F.col("n_days")
    m = F.greatest(F.abs(F.col("s_stat")) - F.lit(1), F.lit(0)).cast("long")
    d38 = "decimal(38,0)"
    return agg.select(
        F.col("grp").alias(group_col),
        "n_days",
        "n_seasons",
        "s_stat",
        F.when(
            (n >= 2) & (F.col("_v18") > 0),
            F.signum(F.col("s_stat")).cast("double")
            * m.cast("double")
            / F.sqrt(F.col("_v18").cast("double") / F.lit(18.0)),
        ).alias("z"),
        F.when(
            (n >= 2) & (F.col("_v18") > 0),
            (F.lit(18).cast(d38) * m.cast(d38) * m.cast(d38)).cast("double")
            >= F.lit(MK_Z99_SQ) * F.col("_v18").cast("double"),
        ).alias("significant"),
    ).orderBy(group_col)


def _median_by_rank(
    df: DataFrame, key: str, val: str, out: str, n_buckets: int = 64
) -> DataFrame:
    """Distributed EXACT per-group median by rank selection — the
    KS/Spearman equi-depth-bucketing machinery applied to quantile
    selection, so there is never a single-partition sort of the data
    (VERDICT r11 item 5: the previous per-series row_number window
    serialized all C(days,2) pairwise slopes of one series into one
    task).

    Global ranks compose from (a) a row_number window PARTITIONED BY
    (key, bucket) — parallelism = groups × buckets on any value
    distribution, since the boundaries are equi-depth — plus (b) the
    per-(key, bucket) count prefix sums, a ≤ n_buckets-row-per-group
    metadata window broadcast back onto the bucket keys. The median is
    the pinned expression 0.5·(lo + hi) over the two middle ranks
    (m+1) div 2 and m div 2 + 1 (equal when m is odd — then the value
    is exact), identical values to a global-sort selection, so oracles
    are unchanged. Returns one row per key: (key, out, _m_<out>)."""
    from .bucketing import with_equi_depth_bucket

    b = with_equi_depth_bucket(df.select(key, val), val, n_buckets)
    wkb = W.partitionBy(key, "_bkt").orderBy(val)
    ranked = b.select(
        key, val, "_bkt", F.row_number().over(wkb).alias("_rin")
    )
    counts = b.groupBy(key, "_bkt").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    woff = W.partitionBy(key).orderBy("_bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    wall = W.partitionBy(key).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    off = counts.select(
        key,
        "_bkt",
        F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off"),
        F.sum("_c").over(wall).cast("long").alias("_m"),
    )
    r = ranked.join(F.broadcast(off), [key, "_bkt"]).select(
        key,
        F.col(val),
        (F.col("_off") + F.col("_rin")).cast("long").alias("_rn"),
        "_m",
    )
    # integer rank arithmetic (Spark `/` on longs is DOUBLE): the
    # lower/upper middle ranks are (m+1) div 2 and m div 2 + 1 —
    # equal when m is odd
    sel = r.where(
        (F.col("_rn") == F.expr("(_m + 1) div 2"))
        | (F.col("_rn") == F.expr("_m div 2 + 1"))
    )
    return sel.groupBy(key).agg(
        (F.lit(0.5) * (F.min(val) + F.max(val))).alias(out),
        F.max("_m").cast("long").alias(f"_m_{out}"),
    )


def theil_sen_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series Theil-Sen robust trend over the daily value totals:
    slope = the MEDIAN of all C(n,2) pairwise slopes (cents per day),
    intercept = the median residual at that slope — the outlier-proof
    companion to grouped_ols (OLS breaks down at one bad day;
    Theil-Sen tolerates ~29% contamination).

    Exactness: each pairwise slope is ONE IEEE division of exact
    BIGINTs (Δcents / Δepoch-days); the median is selected by rank —
    row_number over (slope, day-pair) — and the even-count midpoint is
    the pinned expression 0.5·(lo + hi), which reduces to the exact
    value when lo = hi. No engine quantile builtin enters (their
    interpolation rules differ); the DuckDB twin spells the identical
    selection, so slope AND intercept reproduce bit-for-bit.

    Scale shape: the pair generation is a per-group self-join bounded
    by (days per series)² — ~6.6M pairs for a 10-year daily series,
    distributed work, never a driver array; the median selection is
    the shared equi-depth-bucketed rank machinery (_median_by_rank —
    VERDICT r11 item 5: no single-partition sort of the pair frame;
    the row_number window partitions by (series, bucket), pinned by
    tests/test_plan_shapes.py). Series with one day yield NULL slope
    (no pairs); the intercept medians over the n per-day residuals
    y − slope·x with the same rank selection."""
    daily = events.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
    ).agg(
        F.sum(F.round(F.col(value_col) * 100).cast("long"))
        .cast("long")
        .alias("y")
    ).select(
        "grp", "y", F.datediff(F.col("day"), F.lit("1970-01-01")).alias("x")
    )
    left = daily.select("grp", F.col("x").alias("x1"), F.col("y").alias("y1"))
    right = daily.select("grp", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = left.join(right, "grp").where(F.col("x1") < F.col("x2")).select(
        "grp",
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope"),
    )

    slopes = _median_by_rank(pairs, "grp", "slope", "med_slope")
    resid = daily.join(F.broadcast(slopes), "grp").select(
        "grp",
        "med_slope",
        (
            F.col("y").cast("double")
            - F.col("med_slope") * F.col("x").cast("double")
        ).alias("resid"),
    )
    inter = _median_by_rank(resid, "grp", "resid", "med_intercept")
    n_days = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        n_days.join(slopes, "grp", "left")
        .join(inter, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_days",
            F.col("_m_med_slope").alias("n_pairs"),
            F.col("med_slope").alias("slope_cents_per_day"),
            F.col("med_intercept").alias("intercept_cents"),
        )
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    n_buckets: int = 64,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic, distributed:

        D = max_v |F_a(v) − F_b(v)|

    over the pooled distinct values — the nonparametric "did this
    distribution shift?" test completing the drift family
    (distribution_drift reports bucket masses against FIXED decile
    edges; KS is the sup-norm over EVERY threshold, catching shifts
    that dodge any fixed bucketing).

    Exactness: with c_a(v) = |{x ∈ A : x ≤ v}| the integer cumulative
    counts, the comparison runs on the cleared-denominator integers
    |c_a(v)·n_b − c_b(v)·n_a| (decimal(38,0) — no width ceiling at any
    realistic n), so the argmax is exact and ONE final IEEE division
    produces D. Tie rule: the reported location is the SMALLEST value
    achieving the supremum (min over a (−d_num, v) struct).

    Scale: the same shape as avg_rank2 above — values collapse to a
    (value, count_a, count_b) table first (ties and duplicates gone
    before any ordering work), cumulative counts are equi-depth
    range-bucketed prefix sums (a PARTITIONED window per bucket +
    broadcast bucket-total offsets), never a single-partition global
    window over data. Returns one row:
    (n_a, n_b, d_stat, d_at_value)."""
    from .bucketing import with_equi_depth_bucket

    is_a = (F.col(group_col) == group_a).cast("long")
    is_b = (F.col(group_col) == group_b).cast("long")
    vc = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(value_col).cast("double").alias("_v"),
            is_a.alias("_ia"),
            is_b.alias("_ib"),
        )
        .where(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(
            F.sum("_ia").cast("long").alias("_ca"),
            F.sum("_ib").cast("long").alias("_cb"),
        )
    )
    b = with_equi_depth_bucket(vc, "_v", n_buckets)
    w = W.partitionBy("_bkt").orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    cum = b.select(
        "_bkt",
        "_v",
        F.sum("_ca").over(w).alias("_cum_a"),
        F.sum("_cb").over(w).alias("_cum_b"),
    )
    totals = b.groupBy("_bkt").agg(
        F.sum("_ca").alias("_ta"), F.sum("_cb").alias("_tb")
    )
    wp = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    prefix = totals.select(
        "_bkt",
        F.coalesce(F.sum("_ta").over(wp), F.lit(0)).alias("_pa"),
        F.coalesce(F.sum("_tb").over(wp), F.lit(0)).alias("_pb"),
    )
    n = vc.agg(
        F.sum("_ca").cast("decimal(38,0)").alias("_na"),
        F.sum("_cb").cast("decimal(38,0)").alias("_nb"),
    )
    d38 = "decimal(38,0)"
    diffs = (
        cum.join(F.broadcast(prefix), "_bkt")
        .crossJoin(F.broadcast(n))
        .select(
            "_v",
            "_na",
            "_nb",
            F.abs(
                (F.col("_pa") + F.col("_cum_a")).cast(d38) * F.col("_nb")
                - (F.col("_pb") + F.col("_cum_b")).cast(d38) * F.col("_na")
            ).alias("_dnum"),
        )
    )
    best = diffs.agg(
        F.min(F.struct((-F.col("_dnum")).alias("neg"), F.col("_v").alias("v")))
        .alias("_best"),
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
    )
    return best.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        (
            (-F.col("_best.neg")).cast("double")
            / (F.col("_na") * F.col("_nb")).cast("double")
        ).alias("d_stat"),
        F.col("_best.v").alias("d_at_value"),
    )


def mann_whitney(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) test between two
    groups, with the tie-corrected normal approximation z — the
    rank-based "is A stochastically larger than B?" companion to
    ks_two_sample's sup-norm (KS asks "any difference anywhere"; MW
    asks specifically about shift). ``exact_auc`` (ml/evaluate.py) is
    the same statistic normalized to [0,1]; this adds the U value and
    the significance z.

    Everything is value-level and exact: with the pooled doubled ranks
    r2(v) = 2·|{x < v}| + |{x = v}| + 1 (the avg_rank2 identity),

        2·U_a = Σ_v ca(v)·r2(v) − n_a·(n_a+1)          (exact integer)
        T     = Σ_v (c³ − c),  c = ca+cb                (tie correction)
        σ²    = n_a·n_b·(n³ − n − T) / (12·n·(n−1))
        z     = (2U_a − n_a·n_b) / (2·σ)

    All moments accumulate as decimal(38,0); the z expression tree is
    pinned (s_term and na·nb each cast exact→DOUBLE before the σ²
    multiply — the exact product would need ~n⁵ digits and overflow
    decimal(38,0) near pooled n ≈ 5e7 — then one division, one sqrt,
    one final division) so the DuckDB HUGEINT twin reproduces it
    bit-for-bit at every scale.
    Degenerate inputs (an empty group, n < 2, all values tied → σ = 0)
    yield NULL z. Returns one row:
    (n_a, n_b, u_a, z, auc_a) with auc_a = U_a/(n_a·n_b) and u_a the
    exact U (reported as a double — 2U is the integer; halving is an
    exact IEEE operation).

    Scale shape: identical to ks_two_sample — one value-level roll-up
    (ties collapse before any ordering), equi-depth-bucketed prefix
    sums for the "< v" counts, one final aggregation."""
    from .bucketing import with_equi_depth_bucket

    is_a = (F.col(group_col) == group_a).cast("long")
    is_b = (F.col(group_col) == group_b).cast("long")
    vc = (
        df.where(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(value_col).cast("double").alias("_v"),
            is_a.alias("_ia"),
            is_b.alias("_ib"),
        )
        .where(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(
            F.sum("_ia").cast("long").alias("_ca"),
            F.sum("_ib").cast("long").alias("_cb"),
        )
    )
    b = with_equi_depth_bucket(vc, "_v", n_buckets)
    w = W.partitionBy("_bkt").orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    cum = b.select(
        "_bkt",
        "_v",
        "_ca",
        "_cb",
        F.sum(F.col("_ca") + F.col("_cb")).over(w).alias("_cum_le"),
    )
    totals = b.groupBy("_bkt").agg(
        F.sum(F.col("_ca") + F.col("_cb")).alias("_tot")
    )
    wp = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    prefix = totals.select(
        "_bkt",
        F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_pref"),
    )
    d38 = "decimal(38,0)"
    r2 = (
        F.lit(2)
        * (F.col("_pref") + F.col("_cum_le") - (F.col("_ca") + F.col("_cb")))
        + (F.col("_ca") + F.col("_cb"))
        + F.lit(1)
    ).cast(d38)
    c_all = (F.col("_ca") + F.col("_cb")).cast(d38)
    m = (
        cum.join(F.broadcast(prefix), "_bkt")
        .agg(
            F.sum("_ca").cast(d38).alias("na"),
            F.sum("_cb").cast(d38).alias("nb"),
            F.sum(F.col("_ca").cast(d38) * r2).alias("sra2"),
            F.sum(c_all * c_all * c_all - c_all).alias("t_ties"),
        )
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u2 = F.col("sra2") - na * (na + 1)
    s_term = n * n * n - n - F.col("t_ties")
    # σ² numerator s_term·na·nb would need ~n⁵/4 digits as one exact
    # decimal product — past pooled n ≈ 5e7 that exceeds decimal(38,0)
    # and Spark would silently NULL while the DuckDB HUGEINT twin
    # raises.  Each factor alone fits comfortably (s_term < n³ ≲ 1e23,
    # na·nb ≲ 6e14 at n = 5e7), so cast BOTH to double and multiply in
    # IEEE — decimal→double and HUGEINT→double are both round-to-
    # nearest on the same integer value, so the twin stays bitwise at
    # every scale, not just below an overflow ceiling.
    sigma2_dbl = s_term.cast("double") * (na * nb).cast("double")
    z = F.when(
        (na > 0) & (nb > 0) & (n > 1) & (s_term > 0),
        (u2 - na * nb).cast("double")
        / (
            F.lit(2.0)
            * F.sqrt(
                sigma2_dbl
                / (F.lit(12) * n * (n - 1)).cast("double")
            )
        ),
    )
    auc = F.when(
        (na > 0) & (nb > 0), u2.cast("double") / (F.lit(2) * na * nb).cast("double")
    )
    return m.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.when((na > 0) & (nb > 0), u2.cast("double") / F.lit(2.0)).alias("u_a"),
        z.alias("z"),
        auc.alias("auc_a"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact Kruskal-Wallis H test across ALL groups of ``group_col``
    — the k-group generalization of mann_whitney ("do any of these
    segments' value distributions differ?"), computed on exact pooled
    ranks:

        H  = (3 / (n(n+1))) · Σ_i R2_i²/n_i  −  3(n+1)
        H' = H / (1 − T/(n³−n)),   T = Σ_v (c³ − c)

    with R2_i = Σ_{x∈i} r2(x) the group's doubled rank sum (exact
    decimal — the avg_rank2 identity folds R_i² / n_i into R2_i² / 4n_i
    and the 12 into 3) and H' the tie-corrected statistic.

    Determinism across engines: R2_i², n_i, T, n are exact integers;
    the one float sum over the k per-group quotients runs as an
    ORDERED cumulative window over the group key — a k-row sequential
    left-to-right IEEE chain both engines associate identically — and
    every remaining operation is a pinned expression tree, so the
    DuckDB HUGEINT twin reproduces H and H' bit-for-bit. All values
    tied (T = n³−n) yields NULL H'.

    Scale shape: value-level roll-ups only — (group, value) counts,
    pooled (value) counts, the equi-depth-bucketed prefix-sum rank
    table — then a k-row assembly. No per-row rank join, no global
    window over data. Returns one row: (n, n_groups, h, h_tie)."""
    from .bucketing import with_equi_depth_bucket

    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).cast("double").alias("_v")
    ).where(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gv = base.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_cgv")
    )
    vc = gv.groupBy("_v").agg(F.sum("_cgv").cast("long").alias("_cnt"))
    b = with_equi_depth_bucket(vc, "_v", n_buckets)
    w = W.partitionBy("_bkt").orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    cum = b.select("_bkt", "_v", "_cnt", F.sum("_cnt").over(w).alias("_cum_le"))
    totals = b.groupBy("_bkt").agg(F.sum("_cnt").alias("_tot"))
    wp = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    prefix = totals.select(
        "_bkt", F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_pref")
    )
    r2tab = (
        cum.join(F.broadcast(prefix), "_bkt")
        .select(
            "_v",
            (
                F.lit(2) * (F.col("_pref") + F.col("_cum_le") - F.col("_cnt"))
                + F.col("_cnt")
                + F.lit(1)
            )
            .cast(d38)
            .alias("_r2"),
        )
    )
    per_group = (
        gv.join(r2tab, "_v")
        .groupBy("_g")
        .agg(
            F.sum("_cgv").cast(d38).alias("_ni"),
            F.sum(F.col("_cgv").cast(d38) * F.col("_r2")).alias("_r2i"),
        )
    )
    # ordered k-row float sum of R2_i²/(4·n_i) — deterministic chain
    wg = W.orderBy("_g").rowsBetween(W.unboundedPreceding, 0)
    contrib = (F.col("_r2i") * F.col("_r2i")).cast("double") / (
        F.lit(4) * F.col("_ni")
    ).cast("double")
    summed = per_group.select(
        "_g",
        "_ni",
        F.sum(contrib).over(wg).alias("_s"),
        F.count(F.lit(1)).over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("_k"),
    )
    ties = vc.agg(
        F.sum(
            F.col("_cnt").cast(d38) * F.col("_cnt") * F.col("_cnt")
            - F.col("_cnt").cast(d38)
        ).alias("_t"),
        F.sum("_cnt").cast(d38).alias("_n"),
    )
    last = summed.agg(
        F.max(F.struct(F.col("_g").alias("g"), F.col("_s").alias("s"))).alias(
            "_last"
        ),
        F.max("_k").cast("long").alias("n_groups"),
    )
    j = last.crossJoin(F.broadcast(ties))
    n = F.col("_n")
    nn1 = (n * (n + 1)).cast("double")
    h = (F.lit(12.0) * F.col("_last.s")) / nn1 - (
        F.lit(3) * (n + 1)
    ).cast("double")
    ncube = n * n * n - n
    tie_den = (ncube - F.col("_t")).cast("double") / ncube.cast("double")
    return j.select(
        n.cast("long").alias("n"),
        F.col("n_groups"),
        h.alias("h"),
        F.when((ncube - F.col("_t")) > 0, h / tie_den).alias("h_tie"),
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    diff_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact Wilcoxon signed-rank test over a paired-difference column
    (integer-exact differences, e.g. cents) — the PAIRED companion to
    ``mann_whitney``: "did the same units shift between two
    conditions?" where MW compares two independent groups. The fraud
    reading: a coordinated behavior change (new fee evasion, account
    takeover wave) shifts per-entity spend between periods in a way
    the signed ranks detect regardless of amount scale.

    Standard (zero-excluded) Wilcoxon: drop d = 0 pairs, rank |d|
    ascending with average ranks for ties, W⁺ = Σ ranks of positive
    d. Everything stays exact until one pinned IEEE tail: with the
    doubled ranks r2(|d|) = 2·|{x < |d|}| + |{x = |d|}| + 1 (the
    avg_rank2 identity shared with MW/KW/AUC),

        2·W⁺    = Σ_{d>0} r2(|d|)                    (exact decimal)
        T       = Σ_ties (t³ − t)
        s_term  = 2·n·(n+1)·(2n+1) − T = 48·Var(W⁺)  (exact decimal)
        z       = (2·(2W⁺) − n·(n+1)) / (4·√(s_term/48))

    — numerator exact then cast double; s_term cast double, one /48,
    one sqrt, one ×4, one division: the twin reproduces z bitwise.
    Width bound: s_term < 4n³+T ≲ 5n³ holds in decimal(38,0) to
    n ≈ 1e11 pairs — document past that, don't widen. The only
    degenerate input is n = 0 nonzero diffs (NULL z): even with every
    |d| tied at one value, T = n³ − n leaves
    s_term = 2n(n+1)(2n+1) − (n³−n) > 0 for all n ≥ 1 (the all-tied
    variance is n(n+1)²/16), so the s_term = 0 guard protects n = 0
    only and the all-tied case yields a finite z (ADVICE r12
    docstring correction). Returns one row
    (n_pairs, n_nonzero, w_plus, z) with w_plus = 2W⁺/2 halved in
    IEEE (exact).

    Scale shape: the mann_whitney template — value-level roll-up on
    |d| (ties collapse before any ordering), equi-depth-bucketed
    prefix sums for the "<" counts, never a single-partition window,
    one final aggregation."""
    from .bucketing import with_equi_depth_bucket

    d38 = "decimal(38,0)"
    base = pairs.select(F.col(diff_col).cast("long").alias("_d")).where(
        F.col("_d").isNotNull()
    )
    n_pairs = base.agg(F.count(F.lit(1)).cast(d38).alias("n_all"))
    vc = (
        base.where(F.col("_d") != 0)
        .select(
            F.abs(F.col("_d")).alias("_v"),
            F.when(F.col("_d") > 0, 1).otherwise(0).cast("long").alias("_pos"),
        )
        .groupBy("_v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_c"),
            F.sum("_pos").cast("long").alias("_cpos"),
        )
    )
    b = with_equi_depth_bucket(vc, "_v", n_buckets)
    w = W.partitionBy("_bkt").orderBy("_v").rowsBetween(W.unboundedPreceding, 0)
    cum = b.select(
        "_bkt", "_v", "_c", "_cpos", F.sum("_c").over(w).alias("_cum_le")
    )
    totals = b.groupBy("_bkt").agg(F.sum("_c").alias("_tot"))
    wp = W.orderBy("_bkt").rowsBetween(W.unboundedPreceding, -1)
    prefix = totals.select(
        "_bkt", F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_pref")
    )
    r2 = (
        F.lit(2) * (F.col("_pref") + F.col("_cum_le") - F.col("_c"))
        + F.col("_c")
        + F.lit(1)
    ).cast(d38)
    c = F.col("_c").cast(d38)
    m = (
        cum.join(F.broadcast(prefix), "_bkt")
        .agg(
            F.sum("_c").cast(d38).alias("n"),
            F.sum(F.col("_cpos").cast(d38) * r2).alias("w2"),
            F.sum(c * c * c - c).alias("t_ties"),
        )
        .crossJoin(F.broadcast(n_pairs))
    )
    n = F.col("n")
    s_term = F.lit(2).cast(d38) * n * (n + 1) * (F.lit(2).cast(d38) * n + 1) - F.col(
        "t_ties"
    )
    z = F.when(
        (n > 0) & (s_term > 0),
        (F.lit(2).cast(d38) * F.col("w2") - n * (n + 1)).cast("double")
        / (F.lit(4.0) * F.sqrt(s_term.cast("double") / F.lit(48.0))),
    )
    return m.select(
        F.col("n_all").cast("long").alias("n_pairs"),
        F.coalesce(n, F.lit(0).cast(d38)).cast("long").alias("n_nonzero"),
        F.when(n > 0, F.col("w2").cast("double") / F.lit(2.0)).alias("w_plus"),
        z.alias("z"),
    )


def _holt_weights(depth: int):
    """Exact dyadic impulse-response weights of Holt's linear-trend
    recurrence at α = β = 1/2: weight of x_{t−j} in the state
    [level_t, trend_t] is Aʲ·c with A = [[1/2, 1/2], [−1/4, 3/4]],
    c = [1/2, 1/4] — all entries dyadic rationals with denominator
    ≤ 4^(j+1), so every weight is an EXACT double for any practical
    depth. Returns [(wl_j, wb_j)] as floats."""
    from fractions import Fraction as Fr

    a11, a12, a21, a22 = Fr(1, 2), Fr(1, 2), Fr(-1, 4), Fr(3, 4)
    cur = (Fr(1, 2), Fr(1, 4))
    out = []
    for _ in range(depth):
        out.append((float(cur[0]), float(cur[1])))
        cur = (a11 * cur[0] + a12 * cur[1], a21 * cur[0] + a22 * cur[1])
    return out


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    depth: int = 24,
) -> DataFrame:
    """Holt's double exponential smoothing (level + linear trend,
    Holt 1957 — public) at α = β = 1/2, truncated at ``depth`` lags —
    the trend-AWARE smoother the EWMA family lacks (dyadic_ewma tracks
    level only and lags behind a drifting series; Holt's trend state
    corrects the lag, and its one-step forecast level+trend is the
    standard baseline anomaly expectation for drifting meters).

    The recurrence unrolls to finite impulse responses: level_t =
    Σ_j wl_j·x_{t−j}, trend_t = Σ_j wb_j·x_{t−j} with [wl_j, wb_j] =
    Aʲ·c (``_holt_weights``) — every weight an EXACT dyadic double.
    Engine parity is by PINNED ASSOCIATION (the chi²/PMI discipline,
    not dyadic_ewma's any-order exactness: Holt weights carry up to
    2·depth fractional bits, so products round — identically on both
    engines because the oracle writes the SAME left-to-right
    w₀·x + w₁·lag₁ + … chain with the same %.17e literals). Truncation
    bias decays as |λ|ʲ = 2^(−j/2) (A's complex eigenvalues have
    modulus √½): ~2.4e-4 of the step response at depth 24 — the
    dyadic_ewma truncate-don't-renormalize tradeoff.

    Rows with fewer than ``depth`` predecessors get NULL (lag NULLs
    propagate — no ramp-in ambiguity). One key-partitioned window over
    ``order_cols`` (callers include a tiebreaker), 2·depth chained
    lags in ONE frame = a single shuffle, all whole-stage codegen.
    Returns the input plus (holt_level, holt_trend, holt_forecast =
    level + trend, the one-step-ahead expectation)."""
    w = W.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(value_col).cast("double")
    lags = [F.lag(x, j).over(w) for j in range(depth)]
    weights = _holt_weights(depth)
    level = lags[0] * F.lit(weights[0][0])
    trend = lags[0] * F.lit(weights[0][1])
    for j in range(1, depth):
        level = level + lags[j] * F.lit(weights[j][0])
        trend = trend + lags[j] * F.lit(weights[j][1])
    return (
        df.withColumn("holt_level", level)
        .withColumn("holt_trend", trend)
        .withColumn(
            "holt_forecast", F.col("holt_level") + F.col("holt_trend")
        )
    )


def _holt_winters_weights(depth: int, period: int):
    """Exact-rational impulse-response weights of the additive
    Holt–Winters recurrence (Winters 1960 — public) at
    α = β = γ = 1/2: with state [l, b, s_t, s_{t−1}, …, s_{t−period+1}]
    the update is state_t = M·state_{t−1} + c·x_t where every entry of
    M and c is a dyadic rational (substituting l_t through the b/s
    updates gives l: (½, ½, −½ on s_{t−m}), b: (−¼, ¾, −¼),
    s: (−¼, −¼, ¾), plus the seasonal shift identity). Returns
    [(wl_j, wb_j, ws_j, wf_j)] — the weight of x_{t−j} in level,
    trend, current season, and the season slot s_{t−period+1} the
    one-step forecast needs — as floats (Fractions converted once;
    beyond 53 fractional bits the conversion rounds, identically to
    the oracle's %.17e literals)."""
    from fractions import Fraction as Fr

    dim = period + 2
    M = [[Fr(0)] * dim for _ in range(dim)]
    M[0][0], M[0][1], M[0][dim - 1] = Fr(1, 2), Fr(1, 2), Fr(-1, 2)
    M[1][0], M[1][1], M[1][dim - 1] = Fr(-1, 4), Fr(3, 4), Fr(-1, 4)
    M[2][0], M[2][1], M[2][dim - 1] = Fr(-1, 4), Fr(-1, 4), Fr(3, 4)
    for i in range(3, dim):
        M[i][i - 1] = Fr(1)
    w = [Fr(1, 2), Fr(1, 4), Fr(1, 4)] + [Fr(0)] * (period - 1)
    out = []
    for _ in range(depth):
        out.append(
            (float(w[0]), float(w[1]), float(w[2]), float(w[dim - 1]))
        )
        w = [
            sum(M[i][k] * w[k] for k in range(dim)) for i in range(dim)
        ]
    return out


def holt_winters_additive(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    period: int = 7,
    depth: int = 21,
) -> DataFrame:
    """WINDOWED additive Holt–Winters smoothing (level + trend +
    period-``period`` season, Winters 1960) at α = β = γ = 1/2,
    truncated at ``depth`` lags — the seasonal member completing the
    smoothing family (dyadic_ewma = level, holt_linear = level+trend;
    this adds the weekly rhythm a ledger's daily series carries, so
    the forecast baseline stops flagging every Saturday as an
    anomaly).

    The recurrence unrolls to finite impulse responses exactly like
    ``holt_linear`` (state_t = Σ_j Mʲc·x_{t−j}, all-dyadic M —
    ``_holt_winters_weights``; FIR ≡ the zero-init recurrence is
    pytest-pinned to 1e-15 on random series). The truncation tail is
    heavier than Holt's (the seasonal root decays as (3/4)^(j/period)
    — ~0.12 of the step response at depth 21), so this is DEFINED as
    the depth-windowed smoother: both engines compute the identical
    truncated sum via pinned left-to-right association with %.17e
    literals, and the window-vs-infinite tradeoff is the operator's
    documented contract, not an accuracy claim.

    Rows with fewer than ``depth`` predecessors get NULL (lag NULLs
    propagate). One key-partitioned window, 4·depth chained lags in
    ONE frame = a single shuffle, whole-stage codegen. Returns the
    input plus (hw_level, hw_trend, hw_season, hw_forecast =
    level + trend + s_{t−period+1}, the one-step-ahead seasonal
    expectation)."""
    w = W.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(value_col).cast("double")
    lags = [F.lag(x, j).over(w) for j in range(depth)]
    weights = _holt_winters_weights(depth, period)
    level = lags[0] * F.lit(weights[0][0])
    trend = lags[0] * F.lit(weights[0][1])
    season = lags[0] * F.lit(weights[0][2])
    fslot = lags[0] * F.lit(weights[0][3])
    for j in range(1, depth):
        level = level + lags[j] * F.lit(weights[j][0])
        trend = trend + lags[j] * F.lit(weights[j][1])
        season = season + lags[j] * F.lit(weights[j][2])
        fslot = fslot + lags[j] * F.lit(weights[j][3])
    return (
        df.withColumn("hw_level", level)
        .withColumn("hw_trend", trend)
        .withColumn("hw_season", season)
        .withColumn(
            "hw_forecast",
            F.col("hw_level") + F.col("hw_trend") + fslot,
        )
    )


def weighted_quantiles_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    qs: list[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact WEIGHTED quantiles per group with integer weights — the
    inventory-style statistic ("the median dollar", not the median
    order: each value counts as many times as its weight) that plain
    percentile machinery can't express without materializing weight-
    many copies of every row.

    Convention (the lower weighted quantile, mirrored literally by the
    twin): for target q, the chosen value is the SMALLEST v whose
    cumulative weight W≤(v) satisfies W≤(v)·scale ≥ q·scale·W_total,
    compared in EXACT integers — q enters as an exact per-mille
    integer (q·1000, callers pick qs expressible there), so the
    comparison is BIGINT cum·1000 ≥ qm·W_total with no float
    boundary ambiguity at ties.

    Plan shape: ties collapse at (group, value) grain FIRST (exact
    integer weight sums — the value-level roll-up discipline of the
    rank family), then ONE group-partitioned cumulative window over
    the collapsed frame, then one aggregation picking each target's
    first qualifying value via min(struct). Weight-skew lands in the
    map-side combine of the roll-up; the window runs over |distinct
    values| rows, not |rows|. Returns (group, q, value, w_total)."""
    vw = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("double").alias("v"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0))
        .groupBy("g", "v")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    wcum = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = vw.select(
        "g",
        "v",
        F.sum("w").over(wcum).cast("decimal(38,0)").alias("cw"),
        F.sum("w").over(W.partitionBy("g")).cast("decimal(38,0)").alias("wt"),
    )
    out = None
    for q in qs:
        qm = int(round(q * 1000))
        if abs(qm / 1000.0 - q) > 1e-12:
            raise ValueError(f"q={q} not expressible in per-mille")
        pick = (
            cum.where(
                F.col("cw") * F.lit(1000).cast("decimal(38,0)")
                >= F.lit(qm).cast("decimal(38,0)") * F.col("wt")
            )
            .groupBy("g")
            .agg(
                F.min(F.struct("v")).alias("_s"),
                F.max("wt").cast("long").alias("w_total"),
            )
            .select(
                "g",
                F.lit(q).alias("q"),
                F.col("_s.v").alias("value"),
                "w_total",
            )
        )
        out = pick if out is None else out.unionByName(pick)
    return out.orderBy("g", "q")


def mahalanobis_outliers_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    d2_threshold: float = 13.815510557964274,
) -> DataFrame:
    """Exact 2-D Mahalanobis outlier screen — the MULTIVARIATE
    complement of the z-score family (peer_group_outliers / MAD): a
    point can be unremarkable on each axis yet far off the joint
    distribution (e.g. many orders but implausibly low spend — the
    structuring silhouette), which only the covariance-aware distance
    d² = (v−μ)ᵀ Σ⁻¹ (v−μ) sees.

    Everything up to one pinned IEEE tail is exact: the five moment
    sums (Σx, Σy, Σx², Σy², Σxy) accumulate as decimal(38,0) over
    integer inputs; the population covariance, the closed-form 2×2
    inverse and the quadratic form are then ONE fixed double
    expression tree (μ via /N, c__ via subtraction-of-squares, det =
    cxx·cyy − cxy², d² = (cyy·dx² − 2·cxy·dx·dy + cxx·dy²)/det — that
    spelling, mirrored literally by the twin). Width bound: Σx² needs
    N·max(x)² < 10³⁸ — document per caller, the grouped_ols
    discipline. Degenerate covariance (det ≤ 0: constant or perfectly
    collinear features) yields NULL d² and no flags. The default
    threshold is the χ²₂ 0.999 critical value as a pinned literal.

    Scale shape: one map-side-combinable global moment aggregation
    (ONE row), broadcast back over the points — the fact is scanned
    once per consumer and the moment branch resolves to a
    ReusedExchange at runtime (the structuring/peer-outlier pattern).
    Returns (id, x, y, d2, outlier_flag)."""
    d38 = "decimal(38,0)"
    base = points.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    m = base.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("_x").cast(d38).alias("sx"),
        F.sum("_y").cast(d38).alias("sy"),
        F.sum(F.col("_x").cast("decimal(19,0)") * F.col("_x").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxx"),
        F.sum(F.col("_y").cast("decimal(19,0)") * F.col("_y").cast("decimal(19,0)"))
        .cast(d38)
        .alias("syy"),
        F.sum(F.col("_x").cast("decimal(19,0)") * F.col("_y").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxy"),
    )
    j = base.crossJoin(F.broadcast(m))
    n = F.col("n").cast("double")
    mux = F.col("sx").cast("double") / n
    muy = F.col("sy").cast("double") / n
    cxx = F.col("sxx").cast("double") / n - mux * mux
    cyy = F.col("syy").cast("double") / n - muy * muy
    cxy = F.col("sxy").cast("double") / n - mux * muy
    det = cxx * cyy - cxy * cxy
    dx = F.col("_x").cast("double") - mux
    dy = F.col("_y").cast("double") - muy
    d2 = F.when(
        det > 0,
        (cyy * dx * dx - F.lit(2.0) * cxy * dx * dy + cxx * dy * dy) / det,
    )
    return j.select(
        F.col("_id").alias(id_col),
        F.col("_x").alias(x_col),
        F.col("_y").alias(y_col),
        d2.alias("d2"),
        F.coalesce(d2 > F.lit(float(d2_threshold)), F.lit(False)).alias(
            "outlier_flag"
        ),
    )


def mahalanobis_outliers_2d_grouped(
    points: DataFrame,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    d2_threshold: float = 13.815510557964274,
    min_group: int = 10,
) -> DataFrame:
    """PER-GROUP 2-D Mahalanobis outlier screen (VERDICT r12 item 8):
    :func:`mahalanobis_outliers_2d` with the baseline distribution
    computed within each peer group — the natural composition with
    ``peer_group_outliers``' peer keys: "far off the JOINT
    distribution OF THEIR COHORT" (a whale nation's normal spender is
    a global outlier but a peer non-event, and vice versa).

    Identical exact-moments-then-pinned-tail structure per group: the
    five decimal(38,0) moment sums aggregate at group grain
    (map-side-combinable, |groups| rows), re-join the points on the
    group key (AQE broadcasts when the group dimension is small), and
    the SAME fixed double expression tree as the global screen
    produces d². Groups with fewer than ``min_group`` points, or with
    degenerate covariance (det ≤ 0), yield NULL d² and no flags — the
    peer_group_outliers gating discipline. Unlike the leave-one-out z
    screen, the point is NOT excluded from its own baseline (matching
    the global screen's convention; with full covariance the LOO
    correction has no closed 2-D form this cheap).

    Width bound: per GROUP, n_g·max(x)² < 10³⁸ — smaller groups mean
    strictly smaller sums than the global screen's documented budget.
    Returns (id, group, x, y, d2, outlier_flag)."""
    d38 = "decimal(38,0)"
    base = points.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    m = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("_x").cast(d38).alias("sx"),
        F.sum("_y").cast(d38).alias("sy"),
        F.sum(F.col("_x").cast("decimal(19,0)") * F.col("_x").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxx"),
        F.sum(F.col("_y").cast("decimal(19,0)") * F.col("_y").cast("decimal(19,0)"))
        .cast(d38)
        .alias("syy"),
        F.sum(F.col("_x").cast("decimal(19,0)") * F.col("_y").cast("decimal(19,0)"))
        .cast(d38)
        .alias("sxy"),
    )
    j = base.join(m, "_g")
    n = F.col("n").cast("double")
    mux = F.col("sx").cast("double") / n
    muy = F.col("sy").cast("double") / n
    cxx = F.col("sxx").cast("double") / n - mux * mux
    cyy = F.col("syy").cast("double") / n - muy * muy
    cxy = F.col("sxy").cast("double") / n - mux * muy
    det = cxx * cyy - cxy * cxy
    dx = F.col("_x").cast("double") - mux
    dy = F.col("_y").cast("double") - muy
    ok = (F.col("n") >= F.lit(min_group).cast(d38)) & (det > 0)
    d2 = F.when(
        ok,
        (cyy * dx * dx - F.lit(2.0) * cxy * dx * dy + cxx * dy * dy) / det,
    )
    return j.select(
        F.col("_id").alias(id_col),
        F.col("_g").alias(group_col),
        F.col("_x").alias(x_col),
        F.col("_y").alias(y_col),
        d2.alias("d2"),
        F.coalesce(d2 > F.lit(float(d2_threshold)), F.lit(False)).alias(
            "outlier_flag"
        ),
    )


def conformal_thresholds(
    calib: DataFrame,
    group_col: str,
    score_col: str,
    alpha_num: int = 5,
    alpha_den: int = 100,
) -> DataFrame:
    """Split-conformal anomaly thresholds per group (Vovk's conformal
    prediction / Lei et al., public literature): given a CALIBRATION
    sample of anomaly scores, the per-group threshold is the k-th
    smallest score with

        k = ⌈(n + 1)·(1 − α)⌉  (clamped to n)

    — the finite-sample-valid quantile: a fresh exchangeable score
    exceeds it with probability ≤ α, with NO distributional
    assumption. This is how a modern pipeline calibrates "flag the
    top α%" so the promise holds on day one instead of after the
    fact; the companion of the BH-FDR ranking (that corrects multiple
    tests; this calibrates the single test's cutoff).

    Exactness: k is PURE INTEGER arithmetic —
    k = ((n+1)·(α_den − α_num) + α_den − 1) div α_den — and the
    threshold is the k-th order statistic by VALUE (tie-invariant:
    whatever order ties take, the k-th value is the same — the window
    orders by the score alone and needs no tiebreaker for the OUTPUT
    to be deterministic; this is the one sanctioned exception to the
    repo's unique-tiebreaker window rule, and it is an exception
    because the k-th VALUE, not the row at rank k, is what's
    returned). No interpolation, no floats until the score itself.

    Scale shape: one grouped window (partitioned by group — ranks are
    distributed across groups, never a global sort) + a 1-row-per-
    group filter. Returns (group, n_calib, k, threshold)."""
    rows = calib.select(
        F.col(group_col).alias("_g"),
        F.col(score_col).cast("double").alias("_s"),
    )
    wg = W.partitionBy("_g").orderBy("_s")
    ranked = rows.withColumn("_r", F.row_number().over(wg).cast("long"))
    sizes = rows.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    # integer division: Spark's `/` on longs is double — use DIV
    k = F.least(
        F.col("_n"),
        F.expr(
            f"CAST(((_n + 1) * {alpha_den - alpha_num} + {alpha_den - 1}) "
            f"DIV {alpha_den} AS BIGINT)"
        ),
    )
    return (
        ranked.join(sizes.withColumn("_k", k), "_g")
        .where(F.col("_r") == F.col("_k"))
        .select(
            F.col("_g").alias(group_col),
            F.col("_n").alias("n_calib"),
            F.col("_k").alias("k"),
            F.col("_s").alias("threshold"),
        )
    )


# Base for the two_proportion_ztest limb arithmetic: decimal(38,0)
# "words" of 18 decimal digits, so any single limb*scalar product
# (limb < 1e18, scalar <= 2e15) stays < 1e38 and every carry
# (product DIV base) fits a BIGINT — Spark's decimal DIV returns long.
_ZT_BASE = "CAST(1000000000000000000 AS DECIMAL(38,0))"
_ZT_MAX_GROUP = 10**15  # per-group count bound of the exact decision


def _limb_ge(lhs: list, rhs: list):
    """lhs >= rhs for equal-length little-endian limb Column lists."""
    cond = lhs[0] >= rhs[0]
    for lo, ro in zip(lhs[1:], rhs[1:]):
        cond = (lo > ro) | ((lo == ro) & cond)
    return cond


def _limb_mul_scalar(j: DataFrame, in_names, scalar_name, out_prefix):
    """Multiply a little-endian decimal(38,0) limb vector by a scalar
    column (contract: 0 <= scalar <= 2e15, limbs < 1e18, so every
    product < 1e38 and every carry fits BIGINT). Appends
    len(in_names)+1 limbs named {out_prefix}{i} via staged selects —
    each carry is a NAMED column, never a re-expanded subtree, so the
    codegen'd projection stays linear in limb count."""
    carry = None
    for i, name in enumerate(in_names):
        t = f"{out_prefix}_t{i}"
        prod = F.col(name) * F.col(scalar_name)
        if carry is not None:
            prod = prod + F.col(carry)
        j = j.select("*", prod.alias(t))
        carry = f"{out_prefix}_c{i}"
        j = j.select(
            "*",
            F.pmod(F.col(t), F.expr(_ZT_BASE)).alias(f"{out_prefix}{i}"),
            F.expr(f"CAST({t} DIV {_ZT_BASE} AS DECIMAL(38,0))").alias(carry),
        )
    j = j.select(
        "*", F.col(carry).alias(f"{out_prefix}{len(in_names)}")
    )
    return j, [f"{out_prefix}{i}" for i in range(len(in_names) + 1)]


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    crit_sq_num: int = 38416,
    crit_sq_den: int = 10000,
) -> DataFrame:
    """Pairwise two-proportion z-test across groups — the A/B
    significance primitive (pooled-variance z; any statistics text,
    public): for every unordered group pair, is the success-rate
    difference larger than chance at the critical value c (default
    c² = 3.8416, i.e. c = 1.96, two-sided 5%)?

    ONE fact-grain aggregate to the |groups|-row (n, x) table, then
    the pairwise decision on the tiny broadcast self-join — see
    ``two_proportion_ztest_from_counts`` for the exact-arithmetic
    contract (valid to 10¹⁵ rows per group; loud error beyond, never
    a silent NULL). The fact table is never re-scanned and never
    self-joined."""
    agg = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(success_col).cast("int")).cast("long").alias("x"),
    )
    return two_proportion_ztest_from_counts(
        agg, crit_sq_num=crit_sq_num, crit_sq_den=crit_sq_den
    )


def two_proportion_ztest_from_counts(
    counts: DataFrame,
    group_col: str = "group",
    n_col: str = "n",
    x_col: str = "x",
    crit_sq_num: int = 38416,
    crit_sq_den: int = 10000,
) -> DataFrame:
    """The pairwise decision on a precomputed (group, n, x) table.

    The DECISION is exact integer arithmetic — no sqrt, no float
    compare. With x = x₁+x₂, n = n₁+n₂, algebra collapses the pooled
    z² to a rational:

        z² = (x₁n₂ − x₂n₁)² · n / (n₁ · n₂ · x · (n−x))

    so ``significant`` is the cross-multiplication
    diff²·n·c²_den ≥ c²_num·n₁n₂·x·(n−x) — engine-independent at ties.

    Width (the r14 finding): a single decimal(38,0) cannot hold the
    left side — worst case it is n⁵·c²_den/16, 38 digits already at
    n ≈ 2.8×10⁷ combined rows per pair, nowhere near 100 TB group
    sizes. So the comparison is staged in TWO-LEVEL DECIMALS: both
    sides are computed as little-endian vectors of 18-digit
    decimal(38,0) limbs (diff split at 10¹⁸, schoolbook square with
    named-column carry chains, then scalar-multiply passes by c²_den,
    n and by c²_num, x, n−x), compared lexicographically. Every limb
    product is < 10³⁸ and every carry fits BIGINT provided
    n₁, n₂ ≤ 10¹⁵ (a quadrillion rows per group — beyond any 100 TB
    corpus), 0 ≤ x ≤ n, c²_num ≤ 10⁶, c²_den ≤ 10⁴; the bounds are
    enforced, not assumed: crit args are validated here, and a count
    outside contract routes the row into a raise_error() branch — a
    LOUD failure, never a silently NULL ``significant`` (inputs are
    clamped to 0 before the limb pipeline so no intermediate can
    overflow on the way to the raise). Verified by a planted-width
    pytest at n = 2.8×10⁷ / 3×10⁹ / 10¹² / 10¹⁵ against Python
    arbitrary-precision ints (tests/test_stats.py).

    The published ``z`` is the pinned IEEE tree
    (p₁−p₂)/sqrt(p̂(1−p̂)(1/n₁+1/n₂)) for human eyes, each exact
    operand cast to double once. Degenerate pairs (x = 0 or x = n:
    zero pooled variance) get NULL z and significant = false.

    Scale shape: all arithmetic on the groups×groups broadcast
    self-join of the aggregate — O(|groups|²) rows, fact-scale work
    is zero here. The DuckDB oracle twin keeps the single-level
    HUGEINT cross-multiplication: exact to ~2.8×10⁷ rows/group, and
    it ERRORS (HUGEINT overflow) rather than diverging beyond."""
    if not 0 < crit_sq_num <= 10**6:
        raise ValueError("crit_sq_num must be in (0, 1e6]")
    if not 0 < crit_sq_den <= 10**4:
        raise ValueError("crit_sq_den must be in (0, 1e4]")
    agg = counts.select(
        F.col(group_col).alias("group"),
        F.col(n_col).cast("long").alias("n"),
        F.col(x_col).cast("long").alias("x"),
    )
    a = agg.toDF("group_a", "n_a", "x_a")
    b = agg.toDF("group_b", "n_b", "x_b")
    j = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    lim = F.lit(_ZT_MAX_GROUP).cast("long")
    in_contract = (
        F.col("n_a").isNotNull()
        & F.col("n_b").isNotNull()
        & F.col("x_a").isNotNull()
        & F.col("x_b").isNotNull()
        & (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("n_a") <= lim)
        & (F.col("n_b") <= lim)
        & (F.col("x_a") >= 0)
        & (F.col("x_a") <= F.col("n_a"))
        & (F.col("x_b") >= 0)
        & (F.col("x_b") <= F.col("n_b"))
    )
    # clamp out-of-contract rows to 0 so NO intermediate can overflow;
    # the final CASE routes such rows to raise_error before the
    # clamped garbage is ever visible.
    def _cl(c):
        return F.when(in_contract, F.col(c)).otherwise(F.lit(0)).cast(
            "decimal(38,0)"
        )

    j = j.select(
        "*",
        in_contract.alias("_ok"),
        (_cl("n_a") + _cl("n_b")).alias("_n"),
        (_cl("x_a") + _cl("x_b")).alias("_x"),
        F.abs(
            _cl("x_a") * _cl("n_b") - _cl("x_b") * _cl("n_a")
        ).alias("_diff"),
        (_cl("n_a") * _cl("n_b")).alias("_w"),
        F.lit(crit_sq_num).cast("decimal(38,0)").alias("_cnum"),
        F.lit(crit_sq_den).cast("decimal(38,0)").alias("_cden"),
    )
    B = _ZT_BASE
    # split |diff| (<= 1e30) and n1*n2 (<= 1e30) into 18-digit limbs
    j = j.select(
        "*",
        (F.col("_n") - F.col("_x")).alias("_y"),
        F.pmod(F.col("_diff"), F.expr(B)).alias("_d0"),
        F.expr(f"CAST(_diff DIV {B} AS DECIMAL(38,0))").alias("_d1"),
        F.pmod(F.col("_w"), F.expr(B)).alias("_w0"),
        F.expr(f"CAST(_w DIV {B} AS DECIMAL(38,0))").alias("_w1"),
    )
    # diff² = d1²·B² + 2d1d0·B + d0² (terms < 1e36, 2e30, 1e24)
    j = j.select(
        "*",
        (F.col("_d0") * F.col("_d0")).alias("_p0"),
        (
            F.lit(2).cast("decimal(38,0)") * F.col("_d0") * F.col("_d1")
        ).alias("_p1"),
        (F.col("_d1") * F.col("_d1")).alias("_p2"),
    )
    # carry-normalize the square into 4 limbs _s0.._s3
    j = j.select(
        "*",
        F.pmod(F.col("_p0"), F.expr(B)).alias("_s0"),
        F.expr(f"CAST(_p0 DIV {B} AS DECIMAL(38,0))").alias("_q0"),
    )
    j = j.select("*", (F.col("_p1") + F.col("_q0")).alias("_t1"))
    j = j.select(
        "*",
        F.pmod(F.col("_t1"), F.expr(B)).alias("_s1"),
        F.expr(f"CAST(_t1 DIV {B} AS DECIMAL(38,0))").alias("_q1"),
    )
    j = j.select("*", (F.col("_p2") + F.col("_q1")).alias("_t2"))
    j = j.select(
        "*",
        F.pmod(F.col("_t2"), F.expr(B)).alias("_s2"),
        F.expr(f"CAST(_t2 DIV {B} AS DECIMAL(38,0))").alias("_s3"),
    )
    # lhs = diff² · c²_den · n   (two scalar passes; n <= 2e15)
    j, u = _limb_mul_scalar(j, ["_s0", "_s1", "_s2", "_s3"], "_cden", "_u")
    j, lhs = _limb_mul_scalar(j, u, "_n", "_l")
    # rhs = n₁n₂ · c²_num · x · (n−x)
    j, v = _limb_mul_scalar(j, ["_w0", "_w1"], "_cnum", "_v")
    j, r = _limb_mul_scalar(j, v, "_x", "_r")
    j, rhs = _limb_mul_scalar(j, r, "_y", "_e")
    rhs = rhs + ["_zero"] * (len(lhs) - len(rhs))
    j = j.select("*", F.lit(0).cast("decimal(38,0)").alias("_zero"))
    cmp_ge = _limb_ge(
        [F.col(c) for c in lhs], [F.col(c) for c in rhs]
    )
    degenerate = (F.col("_x") == F.lit(0)) | (F.col("_x") == F.col("_n"))
    p1 = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p2 = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pp = F.col("_x").cast("double") / F.col("_n").cast("double")
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.when(F.col("_ok") & ~degenerate, (p1 - p2) / se)
    significant = (
        F.when(F.col("_ok") & degenerate, F.lit(False))
        .when(F.col("_ok"), cmp_ge)
        .otherwise(
            F.expr(
                "CAST(raise_error('two_proportion_ztest: counts exceed "
                "the exact-width contract (0 < n <= 1e15 per group, "
                "0 <= x <= n, non-null)') AS BOOLEAN)"
            )
        )
    )
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        p1.alias("rate_a"),
        p2.alias("rate_b"),
        z.alias("z"),
        significant.alias("significant"),
    ).orderBy("group_a", "group_b")


def poisson_rate_ztest(
    counts: DataFrame,
    exposure: DataFrame,
    group_col: str = "grp",
    k1_col: str = "k1",
    k_col: str = "k",
) -> DataFrame:
    """Two-sample Poisson rate comparison via the conditional
    binomial (C-)test: for each group, stratum-1 events ``k1`` out of
    ``k`` total are Binomial(k, p) under the equal-rates null, where
    p = e1/e is the stratum-1 share of exposure (Przyborowski &
    Wilenski 1940; the standard exact-conditioning trick that removes
    the unknown common rate). ``exposure`` is a ONE-ROW frame with
    exact integer exposure counts ``e1``, ``e`` (e.g. weekend days
    observed vs total days observed) — broadcast, never shuffled.

    The normal approximation z = (k1 - k·p)/sqrt(k·p·(1-p)) is used
    (k is event-count sized, far past the rule-of-thumb k·p > 10),
    with the two-sided 99% decision pinned as a shared literal.
    Exactness: k1/k/e1/e are exact BIGINTs; z is a pinned IEEE tree
    reproduced term-for-term by the SQL twin.

    Scale shape: |groups|-row input (callers aggregate first), one
    broadcast crossJoin — free at any SF; the caller's aggregation is
    the only data-sized pass."""
    p = F.col("e1").cast("double") / F.col("e").cast("double")
    kd = F.col(k_col).cast("double")
    mu = kd * p
    z = (F.col(k1_col).cast("double") - mu) / F.sqrt(
        mu * (F.lit(1.0) - p)
    )
    return (
        counts.crossJoin(F.broadcast(exposure))
        .select(
            group_col,
            k1_col,
            k_col,
            p.alias("p_null"),
            z.alias("z"),
            # two-sided 99% normal critical value, pinned literal on
            # both engine sides (comparison operand, not statistic).
            (F.abs(z) > F.lit(2.5758293035489004)).alias("significant"),
        )
        .orderBy(group_col)
    )


def ljung_box_daily(
    events: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test per series over the
    daily totals: Q = n(n+2)·Σ_k ρ̂_k²/(n−k) on the ``acf_daily``
    coefficients (Ljung & Box 1978) — the standard "is there ANY
    autocorrelation structure" screen; for a ledger, autocorrelated
    daily spend is the structured-behavior signal the per-lag ACF
    diagnoses lag by lag. Under the null Q ~ χ²(m); the two-sided
    99% decision at m = |lags| df is a pinned shared literal
    (comparison operand, not statistic).

    Exactness: the ρ̂_k inherit acf_daily's bit-parity (exact decimal
    moments, one IEEE division each); Q is a pinned IEEE tree on
    them, reproduced term-for-term (same association order) by the
    SQL twin. Series too short for the deepest lag yield NULL Q and
    NULL decision on both engines. Same scale shape as acf_daily —
    the finish is |groups|-row arithmetic."""
    if tuple(lags) != tuple(range(1, len(lags) + 1)):
        raise ValueError("lags must be 1..m for the chi-square df claim")
    # pinned two-sided-99% chi-square critical values, χ²₀.₉₉(m)
    # (ADVICE r15: the guard above accepts any 1..m but the table
    # used to stop at 3, so lags=(1,2,3,4) crashed with a bare
    # KeyError — table extended to m ≤ 6 and the bound made explicit)
    _CRIT = {
        1: 6.6348966010212145,
        2: 9.21034037197618,
        3: 11.344866730144373,
        4: 13.276704135987622,
        5: 15.08627246938899,
        6: 16.811893829770927,
    }
    if len(lags) not in _CRIT:
        raise ValueError(
            f"lags depth m={len(lags)} exceeds the pinned chi-square "
            f"critical-value table (m <= {max(_CRIT)}); extend _CRIT "
            f"with the χ²_0.99(m) literal to go deeper"
        )
    crit = _CRIT[len(lags)]
    acf = acf_daily(
        events, lags=lags, group_col=group_col,
        ts_col=ts_col, value_col=value_col,
    )
    nd = F.col("n_days").cast("double")
    tsum = None
    for k in lags:
        a = F.col(f"acf_lag{k}")
        t = (a * a) / (nd - F.lit(float(k)))
        tsum = t if tsum is None else (tsum + t)
    q = nd * (nd + F.lit(2.0)) * tsum
    return acf.select(
        group_col,
        "n_days",
        *[f"acf_lag{k}" for k in lags],
        q.alias("lb_q"),
        (q > F.lit(crit)).alias("reject_white_noise"),
    ).orderBy(group_col)


def pacf_daily(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per series over the daily
    totals, via the Durbin–Levinson recursion UNROLLED to its
    closed-form rational functions of (ρ₁, ρ₂, ρ₃):

        φ₁₁ = ρ₁
        φ₂₂ = (ρ₂ − ρ₁²) / (1 − ρ₁²);     φ₂₁ = ρ₁ − φ₂₂·ρ₁
        φ₃₃ = ((ρ₃ − φ₂₁·ρ₂) − φ₂₂·ρ₁) / ((1 − φ₂₁·ρ₁) − φ₂₂·ρ₂)

    — the AR-order diagnostic completing the ACF family (an AR(p)
    series has φ_kk ≈ 0 past lag p, while its plain ACF decays
    forever). Because the recursion depth is FIXED, every φ is a
    pinned IEEE tree on acf_daily's bit-parity coefficients —
    reproduced association-for-association by the SQL twin — rather
    than a driver-side loop; no collect anywhere. Degenerate
    denominators (|ρ| hitting exactly 1 on a perfectly linear series)
    yield NULL by explicit guard on both engines rather than IEEE
    infinities. Same scale shape as acf_daily."""
    acf = acf_daily(
        events, lags=(1, 2, 3), group_col=group_col,
        ts_col=ts_col, value_col=value_col,
    )
    r1, r2, r3 = F.col("acf_lag1"), F.col("acf_lag2"), F.col("acf_lag3")
    den2 = F.lit(1.0) - r1 * r1
    phi22 = F.when(den2 != 0.0, (r2 - r1 * r1) / den2)
    staged = acf.withColumn("_phi22", phi22).withColumn(
        "_phi21", r1 - F.col("_phi22") * r1
    )
    p21, p22 = F.col("_phi21"), F.col("_phi22")
    num3 = (r3 - p21 * r2) - p22 * r1
    den3 = (F.lit(1.0) - p21 * r1) - p22 * r2
    return staged.select(
        group_col,
        "n_days",
        r1.alias("pacf_lag1"),
        p22.alias("pacf_lag2"),
        F.when(den3 != 0.0, num3 / den3).alias("pacf_lag3"),
    ).orderBy(group_col)


def loo_target_encode(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    encoding used in training-data pipelines: each row's category is
    replaced by the mean of the TARGET over the OTHER rows of the
    category, enc = (S_g − x)/(n_g − 1), so a row never sees its own
    label (the standard LOO remedy for target leakage; Micci-Barreca
    2001 family). Singleton categories fall back to the global LOO
    mean (S − x)/(N − 1) — the same guarantee at book scope.

    Exactness: S_g, S, n_g, N accumulate as exact integer cents; each
    encoding is ONE IEEE division of exact longs, bit-reproducible by
    the SQL twin. Scale shape: one |groups|-row keyed aggregation
    broadcast back + a 1-row global aggregate — no window, no
    data-sized join keys beyond the group column itself."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("grp"),
        cents.alias("_c"),
    )
    per = base.groupBy("grp").agg(
        F.sum("_c").cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    tot = base.agg(
        F.sum("_c").cast("long").alias("_ts"),
        F.count(F.lit(1)).cast("long").alias("_tn"),
    )
    loo = (F.col("_s") - F.col("_c")).cast("double") / (
        (F.col("_n") - F.lit(1)).cast("double")
    )
    glob = (F.col("_ts") - F.col("_c")).cast("double") / (
        (F.col("_tn") - F.lit(1)).cast("double")
    )
    return (
        base.join(F.broadcast(per), "grp")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("_id").alias(id_col),
            F.col("grp").alias(group_col),
            F.col("_c").alias("cents"),
            F.when(F.col("_n") > 1, loo).otherwise(glob).alias("loo_enc"),
        )
    )
