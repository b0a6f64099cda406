"""Term co-occurrence statistics: windowed pair counts and PMI lift.

Text-analysis extension (the reference — a pandas fraud scorer, ref
scripts/run_pipeline.py — has no text surface): which word pairs occur
together more often than chance — the statistic behind collocation
extraction, phrase mining and classical word embeddings (PMI matrices).

lift(a,b) = P(a,b) / (P(a)·P(b)) = (c_ab · T²) / (P · c_a · c_b)

with c_ab the windowed pair count, P total pairs, c_x unigram counts,
T total tokens. PMI = ln lift is transcendental, so the ORACLED value
is the lift itself, computed as IEEE doubles in one pinned association
(every factor cast to double, multiplied left-to-right) — deterministic
on any engine; the log is one monotone map the caller applies (ranking
is identical).

Scale shape: pair generation is a per-document positional self-join
(|pos_b − pos_a| ≤ window, pos_a < pos_b) — doc-keyed, embarrassingly
parallel, output linear in corpus × window. Pair counts aggregate
map-side-combined on (a, b); stopword-pair skew is absorbed by partial
aggregation (each mapper emits one partial row per hot pair). Unigram
counts and the two scalar totals re-join the vocabulary-keyed pair
table — vocab-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


def pmi_pairs(
    docs: DataFrame,
    window: int = 5,
    min_pair_count: int = 2,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` co-occurring term pairs by PMI lift:
    (term_a, term_b, pair_count, count_a, count_b, lift), term_a <
    term_b, ties broken by the pair for a total deterministic order."""
    pos = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "tok"),
    )
    from ..cache import swap_cache

    from ..cache import plan_key

    pos = swap_cache(plan_key(f"pmi_pairs.pos:{window}", pos), pos)
    a, b = pos.alias("a"), pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._id") == F.col("b._id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + window),
        )
        .select(
            F.least(F.col("a.tok"), F.col("b.tok")).alias("term_a"),
            F.greatest(F.col("a.tok"), F.col("b.tok")).alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    )
    uni = pos.groupBy(F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = pairs.agg(
        F.sum("pair_count").cast("long").alias("p_total")
    ).crossJoin(uni.agg(F.sum("cnt").cast("long").alias("t_total")))
    j = (
        pairs.where(F.col("pair_count") >= min_pair_count)
        .join(uni.withColumnRenamed("term", "term_a").withColumnRenamed("cnt", "count_a"), "term_a")
        .join(uni.withColumnRenamed("term", "term_b").withColumnRenamed("cnt", "count_b"), "term_b")
        .crossJoin(F.broadcast(totals))
    )
    # pinned association: ((((cab·T)·T) / P) / ca) / cb — one grouping,
    # reproducible IEEE-exactly by the SQL oracle
    lift = (
        (
            (
                F.col("pair_count").cast("double")
                * F.col("t_total").cast("double")
                * F.col("t_total").cast("double")
            )
            / F.col("p_total").cast("double")
        )
        / F.col("count_a").cast("double")
    ) / F.col("count_b").cast("double")
    return (
        j.select(
            "term_a", "term_b", "pair_count", "count_a", "count_b",
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "term_a", "term_b")
        .limit(top_k)
    )


def _distinct_capped_edges(
    edges: DataFrame,
    entity_col: str,
    counterparty_col: str,
    max_counterparty_degree: int | None,
) -> DataFrame:
    """Shared edge prep for the collusion screens: distinct
    (entity, counterparty) rows, with counterparties whose entity
    degree exceeds ``max_counterparty_degree`` dropped BEFORE any pair
    expansion (the stop-shingle analog — hubs witness no collusion and
    contribute deg² of the Σdeg² fan-out). The over-cap hub list is
    tiny by construction (it is the degree distribution's extreme
    tail), so the anti-join broadcasts."""
    e = edges.select(
        F.col(entity_col).alias("_e"), F.col(counterparty_col).alias("_c")
    ).distinct()
    if max_counterparty_degree is not None:
        cdeg = e.groupBy("_c").agg(F.count(F.lit(1)).alias("_cd"))
        e = e.join(
            F.broadcast(cdeg.where(F.col("_cd") > max_counterparty_degree)),
            "_c",
            "left_anti",
        ).select("_e", "_c")  # USING-joins put the key first; re-pin order
    return e


def counterparty_hub_report(
    edges: DataFrame,
    entity_col: str = "entity",
    counterparty_col: str = "counterparty",
    max_counterparty_degree: int | None = None,
    top_k: int = 100,
) -> DataFrame:
    """The EXPLICIT truncation-report companion to
    :func:`shared_counterparty_pairs` /
    :func:`shared_counterparty_rings` run with the same cap: the
    top-``top_k`` counterparties by entity degree with, per
    counterparty, the pair fan-out it contributes
    (``n_pairs_witnessed`` = C(d,2) — its share of the Σdeg² cost
    floor) and whether the cap drops it (``dropped``, with
    ``n_pairs_avoided`` = C(d,2) when dropped, else 0). A silent cap
    reads as "covered everything" when it didn't — publish this next
    to any capped collusion run. Because dropped hubs are by
    definition the TOP of the degree ordering, every dropped hub
    appears before any kept row; ordering (degree desc, counterparty)
    is total and exact.

    Scale shape: one map-side-combined distinct + keyed count — the
    counterparty-degree aggregate the capped screens already compute —
    then TakeOrderedAndProject; no pair expansion ever."""
    e = edges.select(
        F.col(entity_col).alias("_e"), F.col(counterparty_col).alias("_c")
    ).distinct()
    d = F.col("degree")
    # exact BIGINT C(d,2) (ADVICE r13): d·(d−1) is always even, so one
    # long multiply + shiftright(…,1) is exact everywhere the multiply
    # fits a long (d < ~3.04e9 — degree is bounded by |entities|, far
    # inside the documented width bound); the old IEEE `/2` lost
    # exactness past 2^53 (d ≈ 1.3e8). Oracle twin uses DuckDB's `//`.
    pairs = F.shiftright(d * (d - F.lit(1).cast("long")), 1)
    dropped = (
        F.lit(False)
        if max_counterparty_degree is None
        else d > F.lit(max_counterparty_degree).cast("long")
    )
    return (
        e.groupBy(F.col("_c").alias(counterparty_col))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(
            counterparty_col,
            "degree",
            pairs.cast("long").alias("n_pairs_witnessed"),
            dropped.alias("dropped"),
            F.when(dropped, pairs).otherwise(F.lit(0))
            .cast("long")
            .alias("n_pairs_avoided"),
        )
        .orderBy(F.desc("degree"), counterparty_col)
        .limit(top_k)
    )


def shared_counterparty_pairs(
    edges: DataFrame,
    entity_col: str = "entity",
    counterparty_col: str = "counterparty",
    min_shared: int = 2,
    top_k: int = 100,
    max_counterparty_degree: int | None = None,
) -> DataFrame:
    """Collusion-pair screen over a bipartite entity–counterparty
    graph: for every entity pair sharing ≥ ``min_shared``
    counterparties, the exact overlap, both degrees, and the Jaccard
    similarity of their counterparty sets — ranked top-``top_k`` by
    (jaccard desc, pair). Two customers transacting with nearly the
    SAME set of suppliers is the classic shared-counterparty collusion
    tell (shell networks, invoice rings) — the bipartite analog of the
    SCC circular-trading primitive, and structurally the same
    "who shares how much" shape as ``ngram_jaccard_pairs`` with
    counterparties as the shingles.

    Exact arithmetic: n_shared / deg / union are BIGINTs; jaccard is
    ONE pinned IEEE division n_shared/union, so ordering and values
    reproduce bitwise on any engine (ties broken by the pair key for a
    total order).

    Scale shape: distinct(entity, counterparty) → counterparty-keyed
    self-join (fan-out Σ deg²(counterparty)) → map-side-combined pair
    aggregation → two degree joins ONLY on pairs that survive
    ``min_shared``. The join form is DELIBERATE, settled by an sf0.1
    A/B on the 345M-pair fan-out (deg ≈ 600): the `_co_order_edges`
    array alternative (collect_set → slice/transform pairwise lambdas
    → explode) measured 137-139 s vs the join's 48 s — array lambdas
    evaluate outside whole-stage codegen (the repo's documented
    lambda pitfall), which is fatal at 600²-element expansions though
    it wins for order-sized (~4-element) sets; an explicit
    repartition before the explode did not move the needle (139.1 s).
    The Σ deg² pair count is the exact all-pairs cost floor; the cap
    below is the valve. The degree table is |entities|-sized — a
    dimension at test scale but NOT broadcastable at 10⁹ entities —
    so the degree joins are left to AQE (broadcast when small,
    shuffle-hash when not) rather than pinned broadcast. The quadratic risk is hub counterparties —
    every ledger has a utility/megastore everyone pays, contributing
    deg² pairs and zero collusion signal; ``max_counterparty_degree``
    is the stop-shingle analog (operators/dedup.py's discipline):
    counterparties above the cap are dropped BEFORE the self-join,
    bounding fan-out at cap²·|counterparties| with an explicit,
    documented semantic (hubs don't witness collusion); audit what the
    cap dropped with :func:`counterparty_hub_report`, and for corpora
    where the fan-out is dominated by UNIFORM high degrees rather than
    hubs (no cap can bind without losing signal) use the
    :func:`shared_counterparty_pairs_lsh` set-similarity leg, whose
    cost is bucket-local rather than Σdeg²."""
    e = _distinct_capped_edges(
        edges, entity_col, counterparty_col, max_counterparty_degree
    )
    deg = e.groupBy("_e").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    l = e.toDF("_ea", "_c")
    r = e.toDF("_eb", "_c")
    pairs = (
        l.join(r, "_c")
        .where(F.col("_ea") < F.col("_eb"))
        .groupBy("_ea", "_eb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    da = deg.toDF("_ea", "deg_a")
    db = deg.toDF("_eb", "deg_b")
    union = F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    return (
        pairs.join(da, "_ea")
        .join(db, "_eb")
        .select(
            F.col("_ea").alias("entity_a"),
            F.col("_eb").alias("entity_b"),
            "n_shared",
            "deg_a",
            "deg_b",
            union.cast("long").alias("n_union"),
            (F.col("n_shared").cast("double") / union.cast("double")).alias(
                "jaccard"
            ),
        )
        .orderBy(F.desc("jaccard"), "entity_a", "entity_b")
        .limit(top_k)
    )


def association_rules(
    baskets: DataFrame,
    min_pair_count: int = 5,
    basket_col: str = "basket_id",
    item_col: str = "item",
) -> DataFrame:
    """Classic market-basket association rules over (basket, item)
    pairs: every DIRECTED rule a→b whose pair support reaches
    ``min_pair_count`` baskets, with

        support(a→b)    = n_both / N
        confidence(a→b) = n_both / n_a
        lift(a→b)       = (n_both · N) / (n_a · n_b)

    — the Agrawal-Srikant Apriori statistics at pair depth (public;
    frequent-itemset mining beyond pairs composes this same shape per
    level). All counts are exact BIGINTs; the three ratios are single
    pinned IEEE divisions (lift multiplies the two integer products
    first), so any engine reproduces the doubles bitwise.

    Scale shape: the pair count is a basket-keyed self-join —
    per-basket fan-out C(k,2), shuffled once on the basket key, then
    map-side-combined on the (a, b) pair key; item counts are a
    vocabulary-sized aggregate broadcast back twice (antecedent and
    consequent). The `min_pair_count` filter applies BEFORE the
    broadcast joins, so only surviving rules pay the metric joins. A
    pathological basket with 10⁶ items would fan out quadratically —
    cap basket size upstream (standard practice) or pre-sample items
    per hot basket."""
    b = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    n_baskets = b.agg(
        F.countDistinct("_b").cast("long").alias("_n")
    )
    items = b.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_ni"))
    l = b.toDF("_b", "_ia")
    r = b.toDF("_b", "_ib")
    pairs = (
        l.join(r, "_b")
        .where(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .where(F.col("n_both") >= min_pair_count)
    )
    directed = pairs.select(
        F.col("_ia").alias("antecedent"),
        F.col("_ib").alias("consequent"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("_ib").alias("antecedent"),
            F.col("_ia").alias("consequent"),
            "n_both",
        )
    )
    ia = items.toDF("antecedent", "n_ant")
    ic = items.toDF("consequent", "n_cons")
    return (
        directed.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ant",
            "n_cons",
            (F.col("n_both").cast("double") / F.col("_n").cast("double")).alias(
                "support"
            ),
            (
                F.col("n_both").cast("double") / F.col("n_ant").cast("double")
            ).alias("confidence"),
            (
                (F.col("n_both") * F.col("_n")).cast("double")
                / (F.col("n_ant") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
    )


def shared_counterparty_rings(
    edges: DataFrame,
    entity_col: str = "entity",
    counterparty_col: str = "counterparty",
    min_shared: int = 2,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    max_counterparty_degree: int | None = None,
) -> DataFrame:
    """Collusion RINGS: the group form of ``shared_counterparty_pairs``
    — entities whose counterparty sets overlap above a Jaccard
    threshold form suspect-pair edges, and the connected components of
    that pair graph are the rings (a shell network is a component, not
    a pair list). The threshold J ≥ jaccard_num/jaccard_den is the
    exact integer cross-multiplication den·n_shared ≥ num·union —
    engine-independent at ties, like the pair screen's rate flags.

    Plan: the pair screen's Σdeg² self-join (same cost profile and
    hub-cap valve) filtered to the suspect edges — a tiny graph by
    construction (13 edges at sf0.01 with J ≥ ½) — then
    ``connected_components`` (large-star/small-star, O(log² n) rounds)
    labels the rings. Returns (entity, ring_id = min member,
    ring_size ≥ 2), one row per ring member."""
    from .graph import connected_components

    e = _distinct_capped_edges(
        edges, entity_col, counterparty_col, max_counterparty_degree
    )
    deg = e.groupBy("_e").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    l = e.toDF("_ea", "_c")
    r = e.toDF("_eb", "_c")
    pairs = (
        l.join(r, "_c")
        .where(F.col("_ea") < F.col("_eb"))
        .groupBy("_ea", "_eb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    da = deg.toDF("_ea", "deg_a")
    db = deg.toDF("_eb", "deg_b")
    union = F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    suspect = (
        pairs.join(da, "_ea")
        .join(db, "_eb")
        .where(
            F.lit(jaccard_den).cast("long") * F.col("n_shared")
            >= F.lit(jaccard_num).cast("long") * union
        )
        .select(F.col("_ea").alias("id_a"), F.col("_eb").alias("id_b"))
    )
    comp = connected_components(suspect)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("ring_size")
    )
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("id").alias(entity_col),
            F.col("component").alias("ring_id"),
            "ring_size",
        )
        .orderBy(entity_col)
    )


def shared_counterparty_pairs_lsh(
    edges: DataFrame,
    entity_col: str = "entity",
    counterparty_col: str = "counterparty",
    min_shared: int = 2,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    num_hashes: int = 64,
    bands: int = 32,
    max_counterparty_degree: int | None = None,
) -> DataFrame:
    """MinHash-LSH leg of the collusion-pair screen (VERDICT r12 item
    1): approximate candidate generation over counterparty SETS, exact
    verification — for ledgers where the Σdeg² self-join cost floor of
    :func:`shared_counterparty_pairs` is dominated by UNIFORMLY high
    counterparty degrees (no hub cap can bind without losing signal).
    Counterparty sets are just another set-Jaccard problem, so this
    reuses the document-dedup machinery verbatim
    (operators/dedup.py::_signatures_from_shingled / _lsh_buckets)
    with counterparties as the shingles.

    Semantics: returns ONLY pairs at Jaccard ≥ jaccard_num/jaccard_den
    (exact integer cross-multiplication at the threshold, the rings
    discipline) AND overlap ≥ ``min_shared`` — precision 1 by
    construction (every surfaced row is exact-verified on the true
    sets: BIGINT n_shared/deg/union, one pinned IEEE division);
    approximate only in RECALL (a qualifying pair missed by every
    band). With 32 bands of 2 rows a pair at Jaccard j collides with
    prob 1−(1−j²)³² (≈0.9999 at j=0.5) — the recall pytest measures it
    against the exact screen. Same output contract as the exact screen
    minus top-k (LSH output is already threshold-bounded).

    Scale shape — the whole point: per-entity signatures are a
    zero-shuffle fold over the collect_set'd counterparty array (ONE
    entity-keyed shuffle, the same exchange the degree count needs;
    64 hashes × deg map-side work, linear not quadratic); only
    (band, bucket) collisions generate candidates, so pair work is
    bucket-local — near-identical counterparty sets land together,
    Σdeg² never materializes. The exact verify joins the set arrays
    back onto the candidate sliver only. The optional hub cap composes
    (applied before signatures AND verify, so Jaccard is over the
    capped space in both legs, keeping parity with the capped exact
    screen)."""
    from .dedup import _lsh_buckets, _signatures_from_shingled

    # ADVICE r13: bands > num_hashes would make rows_per_band 0 —
    # xxhash64 over ZERO signature columns, i.e. one constant bucket
    # and the exact quadratic blowup this leg exists to avoid; a
    # non-dividing bands would silently ignore the trailing hashes.
    # Mirror the dedup.py call sites' implicit contract explicitly.
    if not (0 < bands <= num_hashes) or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes with 0 < bands <= num_hashes; "
            f"got bands={bands}, num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    e = _distinct_capped_edges(
        edges, entity_col, counterparty_col, max_counterparty_degree
    )
    sets = e.groupBy(F.col("_e").alias("_id")).agg(
        F.array_sort(F.collect_set("_c")).alias("_sh")
    )
    from ..cache import plan_key, swap_cache

    sets = swap_cache(plan_key("cooccur.lsh_sets", sets), sets)
    sig = _signatures_from_shingled(sets, num_hashes)
    # The r18 bucket persist was REVERTED here by the r19 sf1 A/B
    # (VERDICT r18 item 1): it removed the duplicate signature chain
    # from the plan (two explode → 64-min-agg → band-hash subtrees,
    # the alias self-join defeats exchange reuse), but on this
    # heap-heavy operator (the `sets` persist already holds the full
    # counterparty arrays) the extra materialization costs more than
    # the recompute it saves — driver bench +15% at sf0.1; sf1
    # same-session interleaved A/B ×2 (OPTIMIZATION_r19.md §1): persist mins
    # 47.22 / 25.74 s vs un-persisted 28.78 / 25.77 s, with the persist
    # side swinging 26→60 s (GC pressure) while the un-persisted side
    # held 26–31 s. The dedup.py MinHash twin KEEPS its persist — its
    # sf1 A/B confirmed 1.2× (small docs corpus, no array-heavy
    # sibling cache competing for the heap).
    buckets = _lsh_buckets(sig, bands, rows_per_band)
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("_ea"), F.col("b._id").alias("_eb"))
        .distinct()
    )
    sh_a = sets.select(F.col("_id").alias("_ea"), F.col("_sh").alias("_sha"))
    sh_b = sets.select(F.col("_id").alias("_eb"), F.col("_sh").alias("_shb"))
    n_shared = F.size(F.array_intersect("_sha", "_shb")).cast("long")
    v = (
        candidates.join(sh_a, "_ea")
        .join(sh_b, "_eb")
        .select(
            "_ea",
            "_eb",
            n_shared.alias("n_shared"),
            F.size("_sha").cast("long").alias("deg_a"),
            F.size("_shb").cast("long").alias("deg_b"),
        )
    )
    union = F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    return (
        v.where(
            (F.col("n_shared") >= min_shared)
            & (
                F.lit(jaccard_den).cast("long") * F.col("n_shared")
                >= F.lit(jaccard_num).cast("long") * union
            )
        )
        .select(
            F.col("_ea").alias("entity_a"),
            F.col("_eb").alias("entity_b"),
            "n_shared",
            "deg_a",
            "deg_b",
            union.cast("long").alias("n_union"),
            (F.col("n_shared").cast("double") / union.cast("double")).alias(
                "jaccard"
            ),
        )
        .orderBy(F.desc("jaccard"), "entity_a", "entity_b")
    )


def shared_counterparty_rings_lsh(
    edges: DataFrame,
    entity_col: str = "entity",
    counterparty_col: str = "counterparty",
    min_shared: int = 2,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    num_hashes: int = 64,
    bands: int = 32,
    max_counterparty_degree: int | None = None,
) -> DataFrame:
    """Collusion rings at scale (VERDICT r14 item 2): connected
    components over the LSH candidate pairs — the composition that
    retires the exact rings leg's one does-not-survive-100× plan.

    :func:`shared_counterparty_rings`' suspect-edge leg is the Σdeg²
    counterparty-keyed self-join, which SCALING r13 measured
    overrunning shuffle disk at sf3; this leg swaps it for
    :func:`shared_counterparty_pairs_lsh` (banded MinHash candidates,
    exact verification on the true sets — precision 1 by
    construction) and labels the SAME large-star/small-star
    components over the surviving edges. Semantics: identical output
    contract to the exact rings — (entity, ring_id = min member,
    ring_size ≥ 2) — and EQUAL results whenever every qualifying pair
    collides in some band (recall 1); approximate only in recall (a
    missed edge can split or shrink a ring), which is why the driver
    records rows-only while the ring-set-equality pytest
    (tests/test_fraud_stats.py) pins equality with the exact leg at
    gate scale and the planted-cohort recall holds at sf1/sf3.

    Scale shape: ONE entity-keyed shuffle for signatures (linear,
    64×deg map-side work), bucket-local candidate pairs (Σdeg² never
    materializes), exact verify on the candidate sliver, then
    O(log² n) CC rounds on the tiny-by-construction suspect graph —
    every leg keyed, no all-pairs anywhere."""
    from .graph import connected_components

    suspect = shared_counterparty_pairs_lsh(
        edges,
        entity_col,
        counterparty_col,
        min_shared=min_shared,
        jaccard_num=jaccard_num,
        jaccard_den=jaccard_den,
        num_hashes=num_hashes,
        bands=bands,
        max_counterparty_degree=max_counterparty_degree,
    ).select(
        F.col("entity_a").alias("id_a"), F.col("entity_b").alias("id_b")
    )
    comp = connected_components(suspect)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("ring_size")
    )
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("id").alias(entity_col),
            F.col("component").alias("ring_id"),
            "ring_size",
        )
        .orderBy(entity_col)
    )
