"""Plan-shape regression tests: encode the at-scale execution
properties (pushdown, broadcast, top-k, bucketing, salting) as
assertions on the optimized/physical plans, so a refactor that silently
degrades the plan fails CI even though results stay correct."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.catalog import (
    REGISTRY,
)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def subqueries_of(plan: str) -> str:
    """The scalar-subquery section of a formatted plan ("" if none)."""
    _, _, tail = plan.partition("===== Subqueries =====")
    return tail


def test_filters_push_into_parquet_scan(spark, sf_dir):
    plan = plan_of(REGISTRY["shipping_priority"].builder(spark, sf_dir))
    assert "PushedFilters" in plan
    # the three dimension/date predicates reach their scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(REGISTRY["status_priority_counts"].builder(spark, sf_dir))
    # only the grouping columns are read, not the whole orders schema
    assert "o_orderstatus" in plan
    assert "o_totalprice" not in plan


def test_rule_plan_is_fully_lazy(spark, sf_dir):
    """The p99 amount threshold must live INSIDE the rule plan (as a
    scalar subquery), not be eagerly computed into a literal: building
    the DataFrame must launch zero Spark jobs, and the physical plan
    must hold the percentile aggregate as a scalar subquery, with no
    broadcast cross join."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.rules import (
        with_rule_flags,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.catalog import (
        ORDERS_RULES,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    o = read_table(spark, sf_dir, "orders")  # the scan's schema job is read-side
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    df = with_rule_flags(o, ORDERS_RULES)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "rule-plan construction ran a Spark job"
    plan = plan_of(df)
    assert "percentile(" in subqueries_of(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_rule_windows_share_one_id_exchange(spark):
    """Window strategy: the id-keyed DaysDiff lag and the id-keyed
    distinct-name flag read ONE hashpartitioning(id) exchange; with the
    name-keyed flag that is two shuffles in all."""
    import datetime as dt

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.rules import (
        with_rule_flags,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.schema import (
        CLAIMS_SCHEMA,
    )

    claims = spark.createDataFrame(
        [("A", 1, 10, "LPG", dt.date(2024, 1, 1))], CLAIMS_SCHEMA
    )
    plan = plan_of(with_rule_flags(claims), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange hashpartitioning(Aadhaar") == 1, plan


def test_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(REGISTRY["revenue_by_nation"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(REGISTRY["topk_orders"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_doc_stats_is_map_only(spark, sf_dir):
    """No aggregation/join shuffles anywhere in the text-analysis pass.
    The single permitted exchange is the round-robin rebalance that
    spreads the CPU-bound map over all cores when the scan is
    under-partitioned (single-row-group test files) — and that rebalance
    must be an identity no-op on a well-partitioned input."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        ensure_min_partitions,
        read_table,
    )

    plan = plan_of(REGISTRY["doc_text_analysis"].builder(spark, sf_dir), "simple")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the round-robin rebalance only

    cores = spark.sparkContext.defaultParallelism
    wide = read_table(spark, sf_dir, "documents").repartition(cores)
    assert ensure_min_partitions(wide) is wide


def test_window_family_single_exchange(spark, sf_dir):
    """Three window specs (date-ordered lag, unordered collect_set,
    price-ordered ranking) all partition by o_custkey: ONE exchange,
    re-sorts only between specs."""
    plan = plan_of(REGISTRY["window_funcs_orders"].builder(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 3


def test_grouping_sets_single_expand(spark, sf_dir):
    """The full CUBE lattice runs as one Expand + one agg exchange —
    never one scan per grouping set — with both dims broadcast."""
    plan = plan_of(
        REGISTRY["grouping_analytics_orders"].builder(spark, sf_dir), "simple"
    )
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") == 2


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both windows and the groupBy share one user_id exchange."""
    plan = plan_of(REGISTRY["sessionize_events"].builder(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.writers import (
        write_parquet,
    )

    o = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(o, out, partition_by=["order_year"])

    back = spark.read.parquet(out).where(F.col("order_year") == 1995)
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "order_year" in plan
    # pruned scan reads only the matching partition directory
    want = o.where(F.col("order_year") == 1995).count()
    assert back.count() == want


def test_pack_sequences_no_global_window_over_data(spark, sf_dir):
    """The prefix sum must be the distributed shape: every window is
    partitioned (by bucket), so no single-partition window ever sees
    the data — the classic global-cumsum scale-killer."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        REGISTRY as FULL_REGISTRY,
    )

    df = FULL_REGISTRY["pack_sequences_documents"].builder(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the only unpartitioned window (the bucket-prefix rollup) runs over
    # the n_buckets-row aggregate, which sits under a groupBy — assert
    # the row-level cumsum window partitions by the bucket column
    assert "windowspecdefinition(_bkt" in optimized
    # bucket prefix joins back as a broadcast, never a shuffle join
    plan = plan_of(df, "simple")
    assert "BroadcastHashJoin" in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        REGISTRY as FULL_REGISTRY,
    )

    plan = plan_of(
        FULL_REGISTRY["chunk_documents_sliding"].builder(spark, sf_dir), "simple"
    )
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # round-robin rebalance only
    assert "Generate" in plan  # the posexplode expansion


def test_interleave_pushes_nothing_and_shuffles_nothing(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        REGISTRY as FULL_REGISTRY,
    )

    plan = plan_of(
        FULL_REGISTRY["interleave_sources_documents"].builder(spark, sf_dir),
        "simple",
    )
    # per-row predicate map + broadcast of the tiny rates table: the
    # corpus side never shuffles
    assert "hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    """Wordcount top-k must be TakeOrderedAndProject over the partial-
    aggregated vocab — never a global sort of the counts."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        REGISTRY as FULL_REGISTRY,
    )

    plan = plan_of(FULL_REGISTRY["token_vocab_topk"].builder(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan


def test_q19_disjunction_pushes_into_both_scans(spark, sf_dir):
    """Catalyst must derive per-side predicates from the OR-of-
    conjunction blocks and push them into BOTH parquet scans — the
    disjunction must not disable pushdown."""
    plan = plan_of(REGISTRY["disjunctive_brand_revenue"].builder(spark, sf_dir))
    assert plan.count("PushedFilters") >= 2
    assert "l_quantity" in plan.split("part.parquet")[0] or "l_quantity" in plan
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_q11_threshold_is_broadcast_not_collected(spark, sf_dir):
    """The global-value threshold must join in as a broadcast 1-row
    aggregate INSIDE the plan: the comparison appears as a join
    condition over the aggregated columns (tv/np), never as a
    constant-folded literal from an eager collect. (Scan metadata jobs
    are read-side and allowed — same stance as the rule-engine
    laziness guard.)"""
    plan = plan_of(REGISTRY["important_parts_value"].builder(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan
    # threshold columns are live plan references in the join condition
    assert "tv#" in plan and "np#" in plan


def test_salted_distinct_is_two_hash_aggregates(spark, sf_dir):
    """The sharded distinct must plan as bounded hash aggregates —
    never a sort-based aggregate over the raw value set — and carry the
    salt through the first grouping."""
    plan = plan_of(REGISTRY["salted_distinct_suppliers"].builder(spark, sf_dir))
    assert "xxhash64" in plan and "pmod" in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_line_dedup_single_window_no_self_join(spark, sf_dir):
    """First-occurrence selection must be ONE window (row_number over
    the line-hash key), not a groupBy-min + join-back that shuffles the
    exploded lines twice."""
    plan = plan_of(REGISTRY["line_dedup_documents"].builder(spark, sf_dir))
    assert plan.count("Window") >= 1
    assert "row_number" in plan
    # reassembly join joins per-DOC aggregates, not exploded lines:
    # the only SortMergeJoin keys must be the doc id
    assert "md5" in plan


def test_staged_text_stats_do_not_reexpand_tokenization(spark, sf_dir):
    """The quality/repetition scorers stage their tokenize/n-gram
    arrays as intermediate columns because lambda expressions sit
    outside codegen common-subexpression elimination — textually
    inlined fragments re-ran split() up to ~9x per row (6.7x slower at
    sf0.1, BENCH r7). Guard: the optimized plan of each scorer contains
    at most a few split() occurrences, not the blown-up inlined count."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.text import (
        with_quality_score,
        with_repetition_stats,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    d = read_table(spark, sf_dir, "documents")
    for fn, cap in ((with_quality_score, 2), (with_repetition_stats, 2)):
        optimized = fn(d)._jdf.queryExecution().optimizedPlan().toString()
        n_split = optimized.count("split(")
        assert 1 <= n_split <= cap, (fn.__name__, n_split)


def test_llm_pipeline_scan_count_is_bounded(spark, sf_dir):
    """llm_data_pipeline persists its fan-out frames; before that the
    fully-lazy composition re-derived the corpus via 16 parquet scans
    (77s at sf0.1). The cached plan reads the parquet at most a handful
    of times — InMemoryRelation absorbs the fan-out."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.data_ops import (
        llm_data_pipeline,
    )

    df = llm_data_pipeline(spark, sf_dir)
    # NB: textual "Scan parquet" counting is unreliable here because
    # InMemoryRelation/InMemoryTableScan nodes PRINT their cached child
    # plans (parquet scans included) even though execution reads the
    # cached blocks. The load-bearing assertion is that all three
    # fan-out frames resolve to in-memory scans at all.
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("InMemoryRelation") >= 3, optimized[:2000]
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("InMemoryTableScan") >= 3, phys[:2000]


def test_association_rules_broadcasts_item_stats(spark, sf_dir):
    plan = plan_of(REGISTRY["association_rules_parts"].builder(spark, sf_dir))
    # item-count + basket-count joins broadcast (dimension-sized);
    # the basket self-join must stay a shuffled equi-join (corpus-sized)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_attribution_join_is_user_keyed_hash_join(spark, sf_dir):
    plan = plan_of(REGISTRY["attribution_linear_events"].builder(spark, sf_dir))
    # touch ⋈ conversion must be an equi-join on the user key with the
    # time predicate as a join condition — never a nested-loop scan
    assert "CartesianProduct" not in plan
    assert "Join" in plan and "_u" in plan


def test_winsorize_threshold_join_broadcasts(spark, sf_dir):
    plan = plan_of(REGISTRY["winsorize_orders_by_status"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # |groups|-row threshold table


def test_fuzzy_join_verifies_on_candidates_only(spark, sf_dir):
    plan = plan_of(REGISTRY["fuzzy_join_part_names"].builder(spark, sf_dir))
    # the levenshtein DP must sit ABOVE the segment equi-join (verify
    # phase), and the PassJoin candidate join is a hash/merge equi-join
    # on (_ls, _j, _seg) — the plan carries both markers
    assert "levenshtein" in plan
    assert "_seg" in plan


def test_html_extraction_is_shuffle_free(spark, sf_dir):
    """HTML main-content extraction is per-row array lambdas — no
    KEYED exchange anywhere. The only exchange allowed is the single
    RoundRobin repartition of ensure_min_partitions (r18: a
    one-row-group corpus file yields a one-task scan that serializes
    the whole extraction — profiled 1.23 s single-task at sf0.1; on a
    real multi-file corpus the guard is a no-op and the plan is
    exchange-free)."""
    plan = plan_of(REGISTRY["html_extract_documents"].builder(spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "partitioning" in line.lower():
            assert "RoundRobinPartitioning" in line, line


def test_url_canonicalization_is_shuffle_free(spark, sf_dir):
    plan = plan_of(REGISTRY["url_canonicalize_documents"].builder(spark, sf_dir))
    assert "Exchange" not in plan


def test_domain_stats_single_aggregation(spark, sf_dir):
    """Domain roll-up: only aggregation exchanges — the countDistinct
    expands to the standard two-phase distinct aggregate (partial by
    (domain, url) → dedup → count), so ≤ 4 exchanges total and no
    joins or windows anywhere."""
    plan = plan_of(REGISTRY["domain_stats_documents"].builder(spark, sf_dir))
    assert plan.count("Exchange") <= 4
    assert "HashAggregate" in plan
    assert "Join" not in plan and "Window" not in plan


def test_triangle_census_has_no_wedge_join(spark, sf_dir):
    """The census must count via adjacency-array intersection, not by
    materializing the wedge fan-out: no join keyed on the (b1, b2)
    pair, and the intersection expression is present."""
    df = REGISTRY["triangle_count_parts"].builder(spark, sf_dir)
    plan = plan_of(df)
    assert "array_intersect" in plan
    assert "b1" not in plan and "b2" not in plan


def test_equi_depth_bucket_barrier_present(spark, sf_dir):
    """avg_rank2's bucket frame must end in repartition(_bkt): the
    exchange is the projection barrier that keeps the lambda-built
    bucket id out of window partition specs (Spark 4.1 rebinding bug)
    and the partitioning its cumsum window and totals agg reuse.
    (The runtime ReuseExchange dedup is an AQE-internal detail not
    visible to explain(); the barrier column IS.)"""
    plan = plan_of(REGISTRY["spearman_corr_lineitem"].builder(spark, sf_dir))
    assert "hashpartitioning(_bkt" in plan


def test_ols_trend_single_aggregation_pruned_scan(spark, sf_dir):
    """grouped_ols must be ONE two-phase keyed aggregate: a single
    Exchange (the final-agg shuffle; AQE may add nothing else), a
    partial HashAggregate below it (map-side combine of the five
    decimal moments), no join, no window, and the parquet scan pruned
    to exactly the two source columns."""
    plan = plan_of(REGISTRY["ols_trend_orders"].builder(spark, sf_dir))
    # formatted mode prints each node in the tree AND a detail block
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial + final
    assert "Join" not in plan and "Window" not in plan
    assert "o_orderstatus:string,o_totalprice:double" in plan.replace(" ", "")


def test_gini_arrow_grouped_map_single_exchange(spark, sf_dir):
    """applyInArrow Gini: pruned scan -> ONE group Exchange -> sort ->
    FlatMapGroupsInArrow. Cents quantization must sit BELOW the
    exchange (computed scan-side, shuffled as a long, not re-derived
    per group)."""
    plan = plan_of(REGISTRY["gini_by_status_orders"].builder(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "FlatMapGroupsInArrow" in plan
    assert "Join" not in plan and "Window" not in plan
    # cents computed below the shuffle: the Exchange's Input already
    # carries the quantized long column
    assert re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*_cents", plan)


def test_theil_sen_median_has_no_single_partition_pair_sort(spark, sf_dir):
    """The Theil-Sen median must select ranks via the equi-depth
    bucketed machinery (VERDICT r11 item 5): every row_number window —
    the only data-scale sort in the median — must be PARTITIONED BY
    (series, bucket), never by the series alone, so one series' C(n,2)
    pairwise slopes never serialize into a single task. (The per-key
    metadata windows over the <=64-row-per-series bucket counts use
    sum(), not row_number, and are exempt by construction.)"""
    plan = plan_of(REGISTRY["theil_sen_events"].builder(spark, sf_dir))
    rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert rn_specs, "expected row_number rank-selection windows"
    for spec in rn_specs:
        assert "_bkt" in spec, f"row_number window without bucket key: {spec}"


def test_structuring_base_rate_reuses_the_entity_exchange(spark, sf_dir):
    """The global base-rate branch consumes the per-entity aggregate a
    second time; DataFrame lineage prints it as a second scan+agg
    subtree, but at runtime the entity-keyed exchange MUST be shared
    (ReusedExchange) so the fact is scanned and partially aggregated
    once — the guard is on the EXECUTED plan, where reuse is decided."""
    df = REGISTRY["structuring_orders"].builder(spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in ep


def test_peer_outlier_reuses_the_entity_exchange(spark, sf_dir):
    df = REGISTRY["peer_outlier_customers"].builder(spark, sf_dir)
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in ep


def test_collusion_pairs_no_cartesian(spark, sf_dir):
    """The pair generation must be the keyed self-join (codegen path;
    see the array-lambda negative A/B in the docstring) — never a
    cartesian product."""
    plan = plan_of(REGISTRY["collusion_pairs_customers"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_weighted_quantiles_window_over_collapsed_values(spark, sf_dir):
    """The cumulative window must run over the (group, value)-collapsed
    roll-up — the plan carries a partial/final aggregate BELOW the
    window, so the window never sees raw lineitem rows."""
    plan = plan_of(REGISTRY["weighted_quantiles_lineitem"].builder(spark, sf_dir))
    assert "Window" in plan
    before_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in before_window  # the roll-up feeds it


def test_holt_single_window_shuffle(spark, sf_dir):
    """48 chained lags must share ONE window spec: a single exchange on
    event_type, not one per lag."""
    plan = plan_of(REGISTRY["holt_trend_events"].builder(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(event_type", plan)) == 1


def test_lsh_signature_folds_stay_in_codegen(spark, sf_dir):
    """r18 lambda-tax guard: the MinHash and SimHash signature builds
    must run as exploded codegen'd hash-aggregates, never as
    higher-order lambda folds (interpreted per element — the 24s
    regression class measured in SCALING r18). The physical plan
    shows HashAggregate with partial aggregation below the exchange
    (map-side combine: the exploded token stream collapses to |docs|
    rows before shuffling), and no `aggregate(` / `transform(` lambda
    over the hash stream in the hot projection."""
    for q in ("minhash_near_dup", "simhash_near_dup"):
        plan = plan_of(REGISTRY[q].builder(spark, sf_dir), "extended")
        phys = plan[plan.index("== Physical Plan =="):]
        assert "HashAggregate" in phys, q
        # the interpreted-fold forms would appear as lambda exprs over
        # the per-row arrays in the physical projection
        assert "aggregate(sequence(0" not in phys, q
        assert "transform(_sh" not in phys, q
