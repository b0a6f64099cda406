"""Iterative graph operators: connected components over an edge
DataFrame, and near-dup cluster labeling built on top of it.

The dedup family (``operators/dedup.py``) emits near-duplicate PAIRS;
corpus-level dedup needs the transitive closure of those pairs —
"A≈B, B≈C ⇒ {A,B,C} are one cluster, keep one document". That closure
is connected components, which no single SQL construct expresses: it is
the engine's one genuinely iterative algorithm, implemented here as a
driver-side loop of DataFrame rounds (each round = a constant number of
shuffles) with convergence detection.

Algorithm: alternating Large-Star / Small-Star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce
and Beyond", SoCC 2014). Unlike naive min-label propagation — whose
round count is the graph DIAMETER (a 1M-link chain of near-dups would
need 1M shuffles) — alternating stars converges in O(log² n) rounds on
any graph, and in practice a handful. Each round is expressed with
joins and aggregates only (no collect_list of neighborhoods, so a
celebrity node with 10M neighbors never materializes one giant array —
its neighborhood stays a distributed edge list).

The reference (a 300-line eager pandas pipeline) has no graph surface
at all; this is part of the LLM-data-pipeline extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Undirected canonical edge form of ``(src, dst)`` as long
    ``(u, v)``: u < v, no self-loops, distinct."""
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    return (
        e.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .distinct()
    )


#: Measured checkpoint-stat bytes per ~250k two-long edge rows (the
#: optimizer reports ~3.7 B/row for materialized long-pair frames);
#: one partition per this many bytes reproduces the sf3 sweet spot
#: (72M bidirected rows ≈ 268 MB ≈ 268 partitions vs the measured
#: optimum 256).
_CKPT_BYTES_PER_PARTITION = 1 << 20

#: Per-round frontier-broadcast cap of ``_min_relax``: stricter than
#: Catalyst's one-shot autoBroadcastJoinThreshold because the broadcast
#: is re-paid every round (measured crossover in ``_min_relax``).
_FRONTIER_BC_CAP = 1 << 20

#: Fixed-point grid of the sampled centralities' exact sums.
_Q = 1e12


def _sized_partitions_ckpt(df: DataFrame, scale: float = 1.0, cap: int = 2048):
    """FREE shuffle-width estimate for an eagerly localCheckpointed
    frame: the ``sizeInBytes`` Spark's LogicalRDD reports (13 ms, no
    job — a count() cost 0.4-0.8 s per operator at sf0.1, visible in
    the bench). Honesty note (r12): this is the ORIGINAL plan's
    Catalyst ESTIMATE propagated into the LogicalRDD, NOT the
    materialized byte count — a usable proxy ONLY for one-shot
    scan-derived frames (where the estimate tracks the scan, and the
    sf3 triangle A/B validated the widths it picks). It must never be
    read off iterated checkpoints: across full-outer-join rounds the
    estimate compounds ~1e6×/round (see ``_min_relax``), which the
    ``b >= 1<<40`` guard below would only catch two rounds too late.
    ``scale`` adjusts for derived frames (e.g. the bidirected union is
    2× the checkpoint).
    Returns None — keep the original AQE-coalescible plan — when the
    data doesn't demand more than the session default, when the stat
    is implausible (unknown-stats sentinel), or when the private
    accessor is unavailable.

    Where this applies was settled by sf3 A/B measurement (VERDICT r10
    item 3, SCALING.md "Shuffle-width rule"): widen ONE-SHOT |E|-row
    exchanges (triangle's adjacency build + intersection join:
    126.8 → 49.2 s at sf3), but do NOT widen the pre-partitioned
    frames the per-round ITERATIVE ops reuse — each round full-scans
    its state in complete waves, so extra width only adds task/
    checkpoint overhead and cache pressure (measured at sf3: LPA
    62 → 86 s with a sized re-checkpoint, 70.6 s even with the whole
    session at width 256; k_core 25.3 → 40 s). On a real cluster the
    session default already encodes cluster width; the iterative ops
    inherit it."""
    import math

    spark = df.sparkSession
    base = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        b = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    if b <= 0 or b >= (1 << 40):  # default/unknown stats — don't trust
        return None
    need = math.ceil(b * scale / _CKPT_BYTES_PER_PARTITION)
    return min(cap, need) if need > base else None


def _broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (0 when
    disabled): the same bar Catalyst applies to stats-known relations,
    reused by the auto frontier-strategy switch so 'would Spark
    broadcast this?' has one answer engine-wide."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    if raw.startswith("-"):
        return 0
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return 10 * (1 << 20)


def _edge_signature(e: DataFrame):
    """Order-insensitive fingerprint of an edge set — one tiny agg row
    (count + sum of per-edge hashes). Equality of consecutive
    signatures is the convergence test; collisions would need two
    DIFFERENT same-size edge sets whose 64-bit hash sums tie on
    consecutive rounds of a monotone contraction — not a realistic
    failure mode, and the cluster identity is pinned by tests."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: exact and overflow-proof under ANSI mode
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return (row["n"], row["h"])


# ---- frontier kit: the BFS and min-relaxation round loops ----------
#
# One superstep per round, the Pregel / ``aggregateMessages`` shape of
# GraphFrames (https://graphframes.github.io): the frontier joins the
# edge frame, messages combine per target node, the merged state is
# eagerly checkpointed (lineage truncation; the driver holds O(1)
# state), the next frontier is read back from that checkpoint (never
# re-derived from the round's lineage, which would re-run the
# expansion join), and an empty frontier ends the loop early.


def _bidirected(e: DataFrame) -> DataFrame:
    """Both orientations of every ``(u, v, ...)`` edge; columns after
    ``v`` ride along unchanged."""
    return e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), *e.columns[2:])
    )


def _seed_state(
    seeds: DataFrame, nodes: DataFrame, key: str, val: str
) -> DataFrame:
    """``(key, val=0)`` for every distinct seed (first column of
    ``seeds``) that is a node of ``nodes`` (``u``): seeds outside the
    graph emit no rows."""
    return (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias(key))
        .distinct()
        .join(nodes.select(F.col("u").alias(key)), key, "leftsemi")
        .select(key, F.lit(0).cast("long").alias(val))
    )


def _hash_sources(nodes: DataFrame, k: int, seed: int) -> DataFrame:
    """The ``k`` nodes (``u``) with the smallest xxhash64(id, seed), as
    ``s`` — a reproducible source sample without a collect."""
    return (
        nodes.select(F.col("u").alias("s"))
        .withColumn("_h", F.xxhash64(F.col("s"), F.lit(seed)))
        .orderBy("_h", "s")
        .limit(k)
        .select("s")
    )


def _bfs_levels(
    both: DataFrame,
    start: DataFrame,
    keys: tuple,
    max_hops: int,
    carry: tuple = (),
):
    """Settle-once multi-source BFS over the bidirected edge frame
    ``both`` (u, v). State rows are ``(*keys, v, dist[, *carry])``;
    ``start`` holds the level-0 rows. Each round the level-h frontier
    walks its edges, and a ``(*keys, v)`` not yet settled settles at
    h + 1 (first reach IS the min-hop reach, so a node settles once
    per key and total work is Σ frontier-incident edges ≤ 2|E| per
    key). A ``carry`` column is summed over the predecessors that
    reach ``(*keys, v)`` in the same round (betweenness' σ path
    counts); with no carry the step is a ``distinct()``.

    The frontier is always the explicit broadcast build side:
    checkpointed frames carry no usable stats, and left to Catalyst
    the hash relation was built over the EDGE side at sf3 (measured
    heap OOM). Returns ``(settled, deepest)``, ``deepest`` being the
    last non-empty level (0 when nothing beyond the start settles)."""
    keys, carry = list(keys), list(carry)
    settled = start.localCheckpoint(eager=True)
    sums = [F.sum(c).cast(settled.schema[c].dataType).alias(c) for c in carry]
    frontier, deepest = settled, 0
    for h in range(1, max_hops + 1):
        # both is (u, v) in both orientations: joining on v walks v's
        # neighbours u
        step = (
            F.broadcast(frontier.select(*keys, "v", *carry))
            .join(both, "v")
            .select(*keys, F.col("u").alias("v"), *carry)
        )
        if carry:
            step = step.groupBy(*keys, "v").agg(*sums)
        else:
            step = step.distinct()
        new = step.join(
            settled.select(*keys, "v"), [*keys, "v"], "left_anti"
        ).select(*keys, "v", F.lit(h).cast("long").alias("dist"), *carry)
        settled = settled.union(new).localCheckpoint(eager=True)
        frontier = settled.where(F.col("dist") == h)
        if frontier.isEmpty():
            break
        deepest = h
    return settled, deepest


def _min_relax(
    edges_by_u: DataFrame,
    nodes: DataFrame,
    start: DataFrame,
    rounds: int,
    candidates,
) -> DataFrame:
    """Frontier-incremental bounded Bellman-Ford over ``edges_by_u``
    (u, v, ...) whose endpoints are ``nodes`` (``u``): the state is
    ``start``'s two columns ``(key, val)`` (a ``_seed_state``).
    Each round the frontier (the rows whose value improved last round)
    joins its out-edges on ``u``; ``candidates(joined)`` turns the
    joined rows into ``(v, cand)`` offers (the caller's weight sum or
    time gate); the per-node min offer merges into the state by a full
    outer ``least``, flagging ``_improved`` rows, checkpointed every
    round. Min-combine makes re-relaxing an unimproved node a no-op,
    so the delta schedule reaches the same per-round state as the full
    relaxation, and an empty frontier ends the loop early. Values are
    exact BIGINTs (2^62 stands in for "unreached").

    The one broadcast decision: ONE exact ``nodes.count()`` before the
    loop bounds every frontier (frontier ⊆ nodes), and the frontier is
    the broadcast side iff |V|·32 B ≤ min(autoBroadcastJoinThreshold,
    ``_FRONTIER_BC_CAP``); 32 B/row over-estimates the two-long rows,
    so it never mis-broadcasts. The 1 MB cap sits at the measured
    crossover for this shape — the broadcast is re-paid every round
    while the hash side shuffles only the small frontier against the
    pre-laid-out edge frame (interleaved same-session min-of-2 on
    shortest_paths: |V| = 20k, a 640 KB bound, broadcast 4.26 s vs
    hash 5.82 s; |V| = 200k, a 6.4 MB bound, broadcast 18.5 s vs hash
    12.1 s). The size is counted, never read off
    ``optimizedPlan().stats()`` of the per-round checkpoints: a
    LogicalRDD carries the ORIGINAL plan's estimate, which compounds
    ~10⁶× per full-outer round (measured 120 B → 1.5e8 → 1.8e14 →
    2.1e20) and forced hash everywhere (6.58 s vs 4.29 s at sf0.1).
    The choice changes only the physical join, never the values.
    ``autoBroadcastJoinThreshold=-1`` selects the hash side."""
    key, val = start.columns
    state = start.localCheckpoint(eager=True)
    cap = min(_broadcast_threshold_bytes(state.sparkSession), _FRONTIER_BC_CAP)
    use_broadcast = 0 < nodes.count() * 32 <= cap
    frontier = state
    for _ in range(rounds):
        fr = frontier.withColumnRenamed(key, "u")
        fr = F.broadcast(fr) if use_broadcast else fr
        cand = (
            candidates(edges_by_u.join(fr, "u"))
            .select(F.col("v").alias(key), "cand")
            .groupBy(key)
            .agg(F.min("cand").alias("cand"))
        )
        merged = (
            state.join(cand, key, "full")
            .select(
                key,
                F.least(
                    F.coalesce(F.col(val), F.lit(2**62)),
                    F.coalesce(F.col("cand"), F.lit(2**62)),
                ).alias(val),
                (F.col(val).isNull() | (F.col("cand") < F.col(val))).alias(
                    "_improved"
                ),
            )
            .localCheckpoint(eager=True)
        )
        frontier = merged.where(F.col("_improved")).select(key, val)
        state = merged.select(key, val)
        if frontier.isEmpty():
            break
    return state


def _sampled_estimate(
    nodes: DataFrame,
    srcs: DataFrame,
    qsums: DataFrame,
    name: str,
    halve: bool = False,
) -> DataFrame:
    """The n/k finish of the sampled centralities: one row per node of
    ``nodes`` (``u``), ``(id, name)`` = Σ_s q / _Q (halved when
    ``halve``) · n/k from ``qsums`` (v, _qsum); unreached nodes carry
    0. n/k is the unbiased scale under uniform source sampling."""
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    k_eff = srcs.agg(F.count(F.lit(1)).cast("long").alias("_k"))
    est = F.coalesce(F.col("_qsum").cast("double"), F.lit(0.0)) / F.lit(_Q)
    if halve:
        est = est / F.lit(2.0)
    return (
        nodes.select(F.col("u").alias("id"))
        .join(qsums.select(F.col("v").alias("id"), "_qsum"), "id", "left")
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(k_eff))
        .select(
            "id",
            (
                est * (F.col("_n").cast("double") / F.col("_k").cast("double"))
            ).alias(name),
        )
        .orderBy("id")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 32,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Component labels for every vertex incident to an edge: returns
    ``(id, component)`` with ``component`` = the minimum vertex id of
    the connected component (a deterministic, engine-portable canonical
    representative). Vertices with no edges are absent — callers
    left-join and coalesce to self-label singletons.

    Per round (u ranges over BOTH orientations of each edge):

    * **large-star**: every node connects its strictly-larger neighbors
      to ``m(u) = min(N(u) ∪ {u})`` — expressed as a per-node min
      aggregate joined back onto the edge list (one shuffle each).
    * **small-star**: edges oriented large→small; every node rewires
      its ≤-neighbors and itself to the minimum — same join shape.

    Both steps strictly never increase the sum of edge endpoints, so
    the convergence signature is monotone; the loop stops when a round
    is a no-op (star graphs centered at component minima). Lineage is
    truncated every round with ``localCheckpoint`` — without it the
    plan doubles per iteration and Catalyst analysis, not the data,
    becomes the bottleneck (on a cluster with fault-tolerance needs,
    swap for reliable ``checkpoint``; the loop is agnostic).

    The driver holds only the O(1) convergence signature per round —
    never vertices or edges — so the loop itself is 100 TB-safe; total
    cost is O(log² n) rounds × O(|E|) shuffled bytes.

    Small-graph fast path: near-dup pair graphs are usually TINY
    relative to the corpus (thresholded similarity keeps only real
    duplicates — 590 edges across 5,000 sf0.1 documents), and the star
    rounds' fixed per-round job overhead dominates there (measured
    5.7s for those 590 edges). When the edge count — already
    materialized by the convergence signature — is ≤
    ``driver_threshold``, the closure is solved driver-side with
    min-label union-find over the BOUNDED edge list and returned as
    one createDataFrame: the broadcast-join analogue of AQE's runtime
    strategy switch, with the identical (id, component=min id) output.
    Above the threshold the distributed rounds run unchanged; the
    collect is bounded by the threshold constant by construction.
    """
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    sig = _edge_signature(e)
    if sig[0] <= driver_threshold:
        rows = e.collect()  # bounded: sig[0] == |E| <= driver_threshold
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            u, v = row["u"], row["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN label: the surviving root is the
                # component minimum, matching the distributed rounds
                parent[max(ru, rv)] = min(ru, rv)
        labels = [(n, find(n)) for n in parent]
        return e.sparkSession.createDataFrame(
            labels, "id long, component long"
        )
    for _ in range(max_rounds):
        # ---- large-star ----
        nbrs = _bidirected(e)
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = _canonical(
            nbrs.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star ----
        s = large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        # canonical keeps u < v, so flipping orients every edge
        # large→small: group by the larger endpoint; every neighbor
        # here is < u, hence m = min(N(u) ∪ {u}) = min(N(u)).
        mins_s = s.groupBy("u").agg(F.min("v").alias("m"))
        rewired = s.join(mins_s, "u").where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfed = mins_s.select(F.col("u"), F.col("m").alias("v"))
        e = _canonical(rewired.union(selfed)).localCheckpoint(eager=True)
        new_sig = _edge_signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # converged: every edge is (component_min, member)
    return e.select(F.col("v").alias("id"), F.col("u").alias("component")).union(
        e.select("u", "u").distinct()
    )


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level near-dedup labels: every document mapped to its
    duplicate-cluster id (min doc id of the transitive closure of
    ``pairs``), with ``is_canonical`` marking the one row per cluster
    to KEEP. Singletons label themselves. Downstream dedup is then
    ``.where("is_canonical")`` — the actual 'drop 30% of the corpus'
    step of an LLM data pipeline."""
    labels = connected_components(pairs, "id_a", "id_b")
    d = docs.select(F.col(id_col).cast("long").alias(id_col))
    return (
        d.join(labels, d[id_col] == labels["id"], "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
    )


def pagerank_quantized(
    edges: DataFrame,
    iters: int = 5,
    q: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
    seed_nodes: DataFrame | None = None,
) -> DataFrame:
    """All-integer PageRank: power iteration in fixed-point arithmetic
    so every engine computes bit-identical ranks (float PageRank is
    order-dependent under distributed summation; BIGINT sums are not).

    With ``seed_nodes`` (one column ``node``) this becomes PERSONALIZED
    PageRank — the teleport mass (1−d)·Q lands only on the seed set
    instead of uniformly, so rank measures proximity to the seeds: the
    "risk propagation from known-bad entities" primitive. Seeds absent
    from the graph are ignored; initial rank is Q div |S| on each seed
    and 0 elsewhere, and the per-round base term is the seed-only
    analogue of the uniform one. Same exact integer arithmetic, same
    per-round plan (the seed flag joins in broadcast, |S| rows), same
    recursive-CTE oracle shape with a CASE on seed membership.

    Per iteration, with Q = ``q`` total rank mass and N nodes:

        contrib(u)  = r_q(u) div outdeg(u)                (integer div)
        r_q'(v)     = ((Q div N)·(den−num)) div den
                      + (num · Σ_{u→v} contrib(u)) div den

    i.e. the textbook damped update with every operation an exact
    BIGINT +, ×, or floor division — reproducible by a SQL engine's
    recursive CTE byte-for-byte. Mass leaks a few units per division
    (floor), identically everywhere.

    ``edges`` must be a digraph where EVERY node has outdegree ≥ 1
    (callers with undirected or bipartite data add reverse edges —
    which also eliminates dangling-mass handling). Duplicate edges
    count once.

    Scale shape: the classic edge-partitioned iteration with the edge
    PARTITIONING REUSED across supersteps (the Pregel/GraphX layout):
    the augmented edge list — source outdegree fused in, zero-weight
    self-loops unioned so sink coverage needs no outer join — is
    cached pre-partitioned ONCE, and every round joins the N-row rank
    vector against it and folds into a destination-keyed aggregation.
    Driver holds only the node COUNT. The rank vector is always
    broadcast (the node set is dimension-sized — e.g. a supplier/part
    graph whose nodes number ~√|edges| — while the EDGE list is the
    big side), and the cache is partitioned by DESTINATION, so the
    per-round groupBy reuses the cached partitioning and a round runs
    with NO shuffle at all (measured 1.8× at sf0.1 vs re-shuffling each
    round). A node set too big to broadcast would need a size gate like
    ``_min_relax``'s and a source-partitioned cache; no registered
    query has one.

    ``assume_distinct=True`` skips the defensive edge dedup when the
    caller's construction already guarantees distinct edges (e.g. a
    distinct bipartite forward list unioned with its disjoint
    reverses) — one less |E|-row shuffle.
    """
    from ..cache import swap_cache

    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if not assume_distinct:
        e = e.distinct()
    # Because every node must have outdegree ≥ 1 (see above), the node
    # set IS the out-degree table's key set — no src∪dst union pass.
    # deg and the augmented edge list are each consumed once per
    # iteration; without these two bounded caches, lineage re-runs the
    # upstream scan + distinct + degree aggregation EVERY round — which
    # profiling showed dominates the whole computation (~2s/round at
    # sf0.1 vs ~0.3s for the round's actual work).
    from ..cache import plan_key

    deg = swap_cache(
        plan_key("pagerank.deg", e),
        e.groupBy("_src").agg(F.count(F.lit(1)).cast("long").alias("_deg")),
    )
    n = deg.count()  # one bounded driver scalar: the node count
    if n == 0:
        raise ValueError("empty graph")
    seeds = None
    if seed_nodes is not None:
        # seeds restricted to graph nodes; |S| is the second bounded
        # driver scalar. The flag table is seed-sized and broadcasts.
        seeds = (
            seed_nodes.select(F.col("node").cast("long").alias("node"))
            .distinct()
            .join(deg.select(F.col("_src").alias("node")), "node", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("no seed node present in the graph")
        base_q = ((q // n_seeds) * (damp_den - damp_num)) // damp_den
        init_q = q // n_seeds
    else:
        base_q = ((q // n) * (damp_den - damp_num)) // damp_den
    # outdegree fused into the edge rows (the deg⋈e join happens ONCE,
    # at cache build, not once per round); self-loops carry _deg too.
    # Partitioned so the hot per-round path reuses it (see docstring)
    # at the session width: per-round work full-scans this frame in
    # complete waves, so data-derived widening only adds overhead —
    # the measured iterative-op rule in _sized_partitions_ckpt.
    e_aug = swap_cache(
        plan_key("pagerank.edges_aug._dst", e),
        e.join(deg, "_src")
        .select("_src", "_dst", F.lit(1).alias("_w"), "_deg")
        .union(
            deg.select(
                F.col("_src"),
                F.col("_src").alias("_dst"),
                F.lit(0).alias("_w"),
                F.col("_deg"),
            )
        )
        .repartition(F.col("_dst")),
    )
    if seeds is None:
        r = deg.select(
            F.col("_src").alias("node"), F.lit(q // n).cast("long").alias("r_q")
        )
        base_col = F.lit(base_q)
        sflag = None
    else:
        sflag = F.broadcast(
            seeds.select(F.col("node").alias("_snode"), F.lit(1).alias("_sd"))
        )
        r = (
            deg.select(F.col("_src").alias("node"))
            .join(sflag, F.col("node") == F.col("_snode"), "left")
            .select(
                "node",
                F.when(F.col("_sd").isNotNull(), F.lit(init_q))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("r_q"),
            )
        )
        base_col = F.when(F.col("_sd").isNotNull(), F.lit(base_q)).otherwise(
            F.lit(0)
        )
    for _ in range(iters):
        flows = F.broadcast(r).join(e_aug, F.col("node") == F.col("_src")).select(
            "_dst", (F.col("_w") * F.expr("r_q div _deg")).alias("_c")
        )
        agg = flows.groupBy("_dst").agg(
            F.expr(f"({damp_num} * sum(_c)) div {damp_den}").alias("_flow")
        )
        if sflag is not None:
            agg = agg.join(sflag, F.col("_dst") == F.col("_snode"), "left")
        r = agg.select(
            F.col("_dst").alias("node"),
            (base_col + F.col("_flow")).cast("long").alias("r_q"),
        )
        # truncate lineage per round (same discipline as
        # connected_components): without this the plan tree embeds every
        # previous iteration and Catalyst planning, not the data,
        # dominates (plan audit: 108 exchanges printed for 5 rounds).
        # The rank vector is N rows — the checkpoint is tiny.
        #
        # LAZY: localCheckpoint truncates the LOGICAL plan to a
        # LogicalRDD immediately either way — eager only adds a blocking
        # count() job per round. The loop has no per-round driver
        # decision (fixed ``iters``, no isEmpty), so each round's
        # broadcast collect computes-and-pins the checkpoint RDD
        # (eager vs lazy A/B: OPTIMIZATION_r19.md §5).
        r = r.localCheckpoint(eager=False)
    return r.select(
        "node", "r_q", (F.col("r_q").cast("double") / F.lit(float(q))).alias("rank")
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Global triangle census of an undirected graph: one row with
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_clustering)``
    where wedges = Σ_v C(deg(v), 2) (closed + open paths of length 2)
    and global_clustering = 3·triangles / wedges — the standard
    transitivity ratio, one IEEE division of exact BIGINTs.

    Algorithm: degree-ordered orientation ("compact-forward" /
    Schank-Wagner counting, public): orient every edge from the
    endpoint with the smaller ``(degree, id)`` rank toward the larger.
    The oriented out-degree of ANY node is then O(√|E|) (a node of
    out-degree d has d higher-ranked neighbors, each of degree ≥ its
    own, so d² ≤ 2|E|) — so the total intersection work is bounded by
    |E|^1.5 regardless of how skewed the raw degree distribution is. A
    celebrity node with 10⁸ neighbors contributes almost nothing:
    nearly all its edges point INTO it and never pair up. That bound is
    the difference between "works on a bounded-degree mesh" and "works
    on a power-law web graph" at 100 TB.

    Counting is the EDGE-ITERATOR formulation: per oriented edge a→b,
    triangles-at-this-edge = |N⁺(a) ∩ N⁺(b)| over sorted out-neighbor
    arrays (each triangle counted exactly once, at its lowest-rank
    apex). This replaces the earlier wedge-materializing join — which
    shuffled the full Σ C(d⁺,2) path fan-out (tens of millions of rows
    on a dense co-order graph, measured 2.4× slower at sf0.1) — with
    array intersections that never leave the row. Per-row arrays are
    bounded by the same √(2|E|) orientation bound (≈ 11 MB rows at
    |E| = 10¹², acceptable and standard for this algorithm family).

    Plan shape: degree agg (one shuffle) → orientation joins against
    the |V|-row degree table (always broadcast: |V| is dimension-sized
    here; a web-scale node set would need a size gate like
    ``_min_relax``'s) → adjacency groupBy (one shuffle) → ONE
    node-keyed join of the exploded adjacency against itself → global
    sum. No driver loops, no collect.
    """
    e = _canonical(edges, src, dst)
    # The canonical edge list feeds THREE consumers (degrees, the
    # orientation join, the edge count). A LAZY cache is not enough
    # here: the single final action materializes the tiny agg branches
    # as concurrent broadcast jobs, which all MISS the unpopulated
    # cache and re-run the upstream edge construction (often an
    # expensive distinct over a co-occurrence self-join) in parallel —
    # measured 42s vs 21s at sf0.1 on the part co-order graph. Eager
    # localCheckpoint (the connected_components discipline) populates
    # once and truncates lineage.
    e = e.localCheckpoint(eager=True)
    # data-derived shuffle width for the two |E|-scale exchanges below
    # (adjacency build, intersection join) — the sf3 lesson, sized for
    # free from the checkpoint's measured stats. None ⇒ the session
    # plan is already wide enough and the original AQE-coalescible
    # exchanges stay (forcing them measured +0.75 s at sf0.1)
    nparts = _sized_partitions_ckpt(e, scale=2.0)
    both = _bidirected(e)
    # deg (|V| rows) feeds three consumers — checkpointing it is far
    # cheaper than re-running the 2|E|-row union+groupBy per consumer
    deg = (
        both.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # rank = (deg, id); orient a -> b iff rank(a) < rank(b)
    da = deg.select(F.col("u").alias("u"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("u").alias("v"), F.col("deg").alias("_degb"))
    ranked = e.join(F.broadcast(da), "u").join(F.broadcast(db), "v")
    oriented = ranked.select(
        F.when(
            (F.col("_dega") < F.col("_degb"))
            | ((F.col("_dega") == F.col("_degb")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
        )
        .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
        .alias("_o")
    ).select("_o.a", "_o.b")
    # sorted out-neighbor arrays; two consumers (explode side + the
    # b-keyed probe side) — materialize the |V|-row frame once
    adj_src = (
        # collect_list has no map-side reduction: the exchange moves
        # |E| rows either way, so widen it when the data demands it
        oriented.repartition(nparts, "a") if nparts else oriented
    )
    adj = (
        adj_src.groupBy("a")
        .agg(F.sort_array(F.collect_list("b")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    jb = adj.select(F.col("a").alias("b"), F.col("nbrs").alias("_nb"))
    # explode carries N+(a) alongside each edge (a,b), so ONE join
    # fetches N+(b); edges whose b has no out-neighbors contribute 0
    # and drop out of the inner join. At scale (nparts set) both sides
    # are explicitly b-partitioned at the SAME sized width — the join
    # then needs no further exchange and the heavy array rows spread
    # across nparts.
    probe = adj.select("nbrs", F.explode("nbrs").alias("b"))
    if nparts:
        probe, jb = probe.repartition(nparts, "b"), jb.repartition(nparts, "b")
    tri = (
        probe.join(jb, "b")
        .select(F.size(F.array_intersect("nbrs", "_nb")).cast("long").alias("_c"))
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_triangles")
        )
    )
    counts = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("sum(deg * (deg - 1)) div 2").cast("long").alias("n_wedges"),
    )
    ecount = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        counts.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # wedge-free graphs (perfect matchings) have no defined
            # transitivity — null, not a divide-by-zero (ANSI-safe)
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("global_clustering"),
        )
    )


def keep_best_representative(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: label every document with its
    near-dup cluster (transitive closure of ``pairs``) and keep the
    HIGHEST-``quality_col`` member per cluster (ties → lowest id) —
    the production dedup keep-rule (CCNet / RefinedWeb style, public):
    when a boilerplate page and its well-formatted twin collide, drop
    the boilerplate, not whichever happened to carry the smaller id
    (``near_dup_clusters``'s min-id rule is the quality-blind
    baseline).

    Returns (id, cluster_id, quality, keep). One window over
    ``cluster_id`` after the closure join — cluster sizes are bounded
    by the dedup threshold's connectivity, and the window shuffle key
    is the cluster label, so singleton-heavy corpora (the common case)
    parallelize trivially.
    """
    labels = near_dup_clusters(docs, pairs, id_col=id_col)
    from pyspark.sql import Window

    q = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(quality_col).cast("long").alias("quality"),
    )
    j = labels.select(id_col, "cluster_id").join(q, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc(id_col)
    )
    return j.select(
        id_col,
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 64,
    rounds: int | None = None,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree ≥ k — the standard density filter for
    community detection and for pruning weakly-connected noise from
    similarity graphs before clustering (a near-dup pair graph's
    2-core, e.g., drops all isolated pair bridges).

    FRONTIER-INCREMENTAL peeling (Seidman 1983 fixed point, computed
    with the delta-maintenance discipline): degrees are aggregated
    ONCE; each round identifies the frontier (nodes whose maintained
    degree fell below k), subtracts — per surviving node — the count
    of its edges into the frontier. The edge list is checkpointed
    ONCE and never pruned or rewritten — deltas against the original
    list are exact because a node enters the frontier at most once
    (see inline proof) — so each round SHUFFLES only the frontier's
    incident-edge counts, not the full edge list, and the only
    per-round checkpoint is the |V|-row degree table (the r9 rewrite:
    the previous full-degree-recompute rounds re-shuffled all 2|E|
    rows and re-checkpointed the edge list every round — measurably
    slower at sf0.1 on the part co-order graph, where the k=80 peel
    removes only 7% of edges across 6 rounds). Convergence = empty
    frontier (the connected_components discipline — driver holds O(1)
    state). Round count is
    bounded by the peel depth — O(log n) on power-law graphs in
    practice, ≤ n worst case (a path peels one layer per round;
    ``max_rounds`` guards).

    The frontier is always broadcast, so the delta/prune joins are
    map-side (the node set is dimension-sized; a web-scale one would
    need a size gate like ``_min_relax``'s).

    Returns (id, core_degree) for every node of the k-core, with its
    degree INSIDE the core.

    ``rounds`` switches to the BOUNDED SYNCHRONOUS schedule (the
    label_propagation discipline that makes a SQL value oracle
    possible): run exactly ``rounds`` peel rounds — each round removes
    ALL nodes with current degree < k simultaneously and maintains
    induced degrees — and return every survivor with its maintained
    degree, convergence NOT required. The result after R rounds is a
    well-defined function of the edge set that DuckDB replays as R
    chained CTEs (re-deriving each round's induced-subgraph degrees,
    keeping 0-degree survivors — exactly this loop's state). Once the
    frontier empties, remaining rounds are no-ops on BOTH sides, so
    any R ≥ the peel depth yields the true k-core; the early break
    keeps Spark's cost at the peel depth. ``rounds=None`` keeps the
    run-to-convergence contract (raise past ``max_rounds``; semantics
    additionally pinned by the brute-force peeling differential in
    tests/test_graph.py).
    """
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    # deliberately NOT width-sized from the data: every peeling round
    # full-scans e in complete waves, and the sf3 A/B measured a sized
    # re-checkpoint at 25.3 → 40 s (see _sized_partitions_ckpt) — the
    # session width is the right width for per-round iterative state
    both = _bidirected(e)
    deg = (
        both.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(rounds if rounds is not None else max_rounds):
        frontier = deg.where(F.col("deg") < k).select("u")
        if frontier.isEmpty():
            converged = True
            break
        fb = F.broadcast(frontier)
        # per node: how many of its edges end in THIS round's frontier.
        # Deltas are computed against the ORIGINAL edge list — never
        # pruned, never re-checkpointed — which is exact because a node
        # enters the frontier at most once: each edge's (node, dropped
        # other endpoint) decrement happens in exactly the round the
        # other endpoint drops. Counts toward already-dropped nodes
        # fall out in the left_anti below; a both-endpoints-this-round
        # edge decrements both, both of which leave `deg` anyway.
        delta = (
            e.join(fb.toDF("v"), "v", "leftsemi")
            .select(F.col("u").alias("n"))
            .union(
                e.join(fb, "u", "leftsemi").select(F.col("v").alias("n"))
            )
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        )
        deg = (
            deg.join(fb, "u", "left_anti")
            .join(delta, deg["u"] == delta["n"], "left")
            .select(
                "u",
                (F.col("deg") - F.coalesce(F.col("_d"), F.lit(0)))
                .cast("long")
                .alias("deg"),
            )
            .localCheckpoint(eager=True)
        )
    if rounds is None:
        if not converged:
            raise RuntimeError(f"k_core did not converge in {max_rounds} rounds")
        deg = deg.where(F.col("deg") >= k)
    # bounded mode: survivors as-is (deg < k only possible pre-
    # convergence; the oracle replays the identical truncated state)
    return deg.select(F.col("u").alias("id"), F.col("deg").alias("core_degree"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert, Kumara 2007), made fully deterministic: every node starts
    labeled with its own id; each round every node adopts the label
    most frequent among its neighbors, ties broken by the SMALLEST
    label; the round count is FIXED (``rounds``), not run to a
    fixed point — asynchronous/random-order LPA is nondeterministic
    and synchronous LPA can 2-cycle on bipartite structures, so a
    bounded synchronous schedule is the only variant a SQL oracle can
    replay bit-for-bit. The result after R rounds is a well-defined
    function of the edge set (each round = one keyed aggregation),
    which the DuckDB twin chains as R plain CTEs.

    Scale shape (the PageRank discipline): the bidirected edge list is
    built once, pre-partitioned by the aggregation key ``u`` and
    checkpointed; per round the |V|-row label table joins in (always
    broadcast: the node set is dimension-sized) followed by two keyed
    aggregations
    whose first key is ``u``. The per-node argmax is
    ``max(struct(cnt, -label))`` — one aggregate, no window, no
    per-node neighbor array ever materialized (a celebrity node's
    neighborhood stays a distributed edge list). Driver state is O(1);
    labels are eagerly checkpointed per round (lineage re-planning
    costs more than the |V|-row checkpoint — measured on pagerank).

    Returns (id, community) for every non-isolated node."""
    e = _canonical(edges, src, dst)
    # per-round shuffles all reuse this ONE session-width partitioning
    # (hash on u satisfies both groupBys' clustering). Deliberately
    # NOT width-sized from the data: the sf3 A/B measured a sized
    # re-checkpoint at 62 → 86 s and even a whole-session width of 256
    # at 70.6 s (see _sized_partitions_ckpt) — per-round iterative
    # state wants the session width, not |E|-derived width.
    #
    # PERSIST, not localCheckpoint (r18): a checkpoint becomes a
    # LogicalRDD that FORGETS its child's outputPartitioning, so with
    # broadcast labels every round still re-exchanged the full 2|E|
    # neighbor-count stream (profiled at sf0.1: one ~24 MB
    # write+read exchange pair per round). An InMemoryRelation keeps
    # the repartition("u") visible to Catalyst, so both per-round
    # groupBys (keys (u, label) and u) satisfy their clustering from
    # the cache and the broadcast-labels rounds run EXCHANGE-FREE —
    # the pagerank e_aug discipline applied here.
    from ..cache import drop_cache, plan_key, swap_cache

    both_plan = _bidirected(e).repartition("u")
    both = swap_cache(plan_key("lpa.both", both_plan), both_plan)
    labels = (
        both.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        lb = F.broadcast(labels)
        nbr = both.join(lb, both["v"] == lb["id"]).select(both["u"], lb["label"])
        counts = nbr.groupBy("u", "label").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        labels = (
            counts.groupBy("u")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("m")
            )
            .select(
                F.col("u").alias("id"),
                (-F.col("m.neg_label")).cast("long").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    # loop-scoped cache (ADVICE r18): labels is an eager checkpoint,
    # so the edge cache is dead weight after the last round.
    drop_cache(plan_key("lpa.both", both))
    return labels.select("id", F.col("label").alias("community"))


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Multi-source BFS shortest hop-distance on an undirected graph:
    for every node reachable within ``max_hops`` of ANY seed, the
    minimum hop count (the "distance-to-known-bad" primitive — blast
    radius of a fraud seed set, k-hop neighborhoods for feature
    engineering, influence frontiers).

    Synchronous frontier expansion (the Pregel BFS, ``_bfs_levels``):
    the settled set starts as the seeds at distance 0; each round the
    frontier's neighbors minus already-settled nodes settle at distance
    h. A node settles exactly once, so total work is Σ
    frontier-incident edges ≤ 2|E| across ALL rounds combined —
    strictly less than one round of a full-degree recompute. Early
    exit on an empty frontier; round count ≤ min(max_hops, graph
    diameter) — deterministic by construction (no tie-breaks: distance
    is the only output).

    Returns (id, dist) — seeds at 0, unreachable nodes absent. The
    bounded deterministic semantics have an exact recursive-CTE twin
    (UNION-distinct on (node, depth) states, then min per node)."""
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    both = _bidirected(e)
    start = _seed_state(seeds, both.select("u").distinct(), "v", "dist")
    settled, _ = _bfs_levels(both, start, (), max_hops)
    return settled.withColumnRenamed("v", "id")


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
    weight: str = "w",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (bounded-round
    Bellman-Ford) on an undirected graph with exact non-negative
    INTEGER edge weights (callers quantize — cents, days, rarity
    scores): for every node, the minimum total weight of a walk of at
    most ``rounds`` edges from any seed. Completes the graph suite's
    one missing primitive (VERDICT r10: ``bfs_distances`` is hop-count
    only) — "cheapest route to a known-bad entity" rather than
    "fewest hops".

    The schedule is the FIXED synchronous relaxation, so the result is
    a well-defined function of (edges, seeds, rounds) with an exact
    unrolled-CTE SQL twin:

        d_t(v) = min(d_{t-1}(v), min_u d_{t-1}(u) + w(u,v))

    The implementation relaxes only the FRONTIER (nodes whose distance
    improved last round) — classical Bellman-Ford delta-optimization,
    identical per-round state to the full relaxation because min-combine
    makes re-relaxing an unimproved node a no-op — so total join work is
    Σ frontier-incident edges, and an empty frontier ends the loop early
    (remaining rounds are no-ops on both sides; with ``rounds`` ≥ the
    weighted-path hop diameter the result is the true SSSP). Per round:
    one join of the frontier against the pre-partitioned bidirected edge
    list, one keyed min-agg (map-side combinable), one full-outer merge
    into the |V|-row distance table (checkpointed — the iterative-op
    discipline; driver holds O(1) state). Integer sums are exact BIGINTs
    (weights and ``rounds`` bounded far below 2^63/rounds), so the SQL
    twin matches bit-for-bit.

    The loop, with its broadcast-or-hash choice for the frontier side,
    is ``_min_relax``. Returns (id, dist); unreachable nodes absent,
    seeds at 0."""
    raw = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("wt"),
    ).where(F.col(src) != F.col(dst))
    # canonicalize like _canonical but weight-preserving; parallel
    # edges keep only the MIN weight (the only one min-relaxation
    # could ever use — makes the dedup semantics-free)
    e = (
        raw.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            "wt",
        )
        .groupBy("u", "v")
        .agg(F.min("wt").alias("wt"))
    )
    # PERSIST, not localCheckpoint: a checkpoint forgets the
    # repartition("u") partitioning, so the hash-side relax join would
    # re-exchange the full bidirected frame every round instead of
    # reusing this one shuffle. The InMemoryRelation keeps it visible;
    # the seed-state checkpoint materializes the cache before the loop.
    from ..cache import drop_cache, plan_key, swap_cache

    both_plan = _bidirected(e).repartition("u")
    both = swap_cache(plan_key("sssp.both", both_plan), both_plan)
    nodes = both.select("u").distinct()
    dists = _min_relax(
        both,
        nodes,
        _seed_state(seeds, nodes, "id", "dist"),
        rounds,
        lambda j: j.select("v", (F.col("dist") + F.col("wt")).alias("cand")),
    )
    # loop-scoped cache (ADVICE r18): dists is an eager checkpoint, so
    # the edge cache is dead weight after the last relax round.
    drop_cache(plan_key("sssp.both", both))
    return dists


def dedup_source_flow(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curation accounting for a dedup pass: for every DROPPED document
    (non-canonical member of a near-dup cluster under the keep-best
    rule), attribute the loss to the KEPT document's source — one row
    per (loser_source, winner_source): n_docs_lost plus the losing
    side's token-weight proxy Σ quality. "src_web loses 40% of its
    docs to src_books" is the report a data-mixture owner reads after
    every dedup run: it distinguishes healthy cross-source pruning
    from one source silently cannibalizing another.

    Composition: ``keep_best_representative`` labels + a cluster-keyed
    self-join of losers against the one winner row per cluster (the
    winner side is |clusters| rows — hash join on the cluster label,
    skew bounded by cluster size)."""
    labeled = keep_best_representative(docs, pairs, quality_col, id_col)
    src = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(source_col).alias("_src"),
    )
    j = labeled.join(src, id_col)
    winners = j.where(F.col("keep")).select(
        F.col("cluster_id"), F.col("_src").alias("winner_source")
    )
    losers = j.where(~F.col("keep")).select(
        "cluster_id",
        F.col("_src").alias("loser_source"),
        F.col("quality"),
    )
    return (
        losers.join(winners, "cluster_id")
        .groupBy("loser_source", "winner_source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_lost"),
            F.sum("quality").cast("long").alias("quality_lost"),
        )
    )


def hits_quantized(
    edges: DataFrame,
    iters: int = 2,
    q: int = 10**6,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
    precache_min_bytes: int = 8 << 20,
) -> DataFrame:
    """All-integer HITS (Kleinberg hubs & authorities) on a DIRECTED
    graph — graph analytics #8, the "who endorses the endorsers"
    companion to PageRank's random surfer (pagerank_quantized above).

    Fixed-point arithmetic so every engine reproduces the scores
    bit-for-bit (float HITS is order-dependent under distributed
    summation; BIGINT sums and floor divisions are not). Per
    iteration, with Q = ``q`` the score scale:

        auth_raw(p) = Σ_{s→p} hub_q(s)      (exact BIGINT sum)
        auth_q(p)   = (auth_raw(p) · Q) div max_p auth_raw(p)
        hub_raw(s)  = Σ_{s→p} auth_q(p)
        hub_q(s)    = (hub_raw(s) · Q) div max_s hub_raw(s)

    i.e. the textbook power iteration with MAX-normalization (the
    normalizing constant in HITS is arbitrary — only the direction of
    the score vector matters; the usual L2 norm is irrational and
    engine-dependent, max-norm is exact and pins the top node at Q).
    The max enters as a broadcast one-row crossJoin (scalar-subquery
    shape, no driver collect). Width bound: every product is
    ≤ max_degree·Q², exact in BIGINT while max_degree ≤ 9.2·10¹⁸/Q²
    (9.2M at the default Q=10⁶; larger graphs lower Q — the score is
    a ratio, not a mass).

    Scale shape: the LPA/pagerank discipline — the distinct edge list
    is eagerly checkpointed ONCE and every half-step is one join of
    the |V|-row score table against it plus one keyed agg; score
    tables are |V| rows, checkpointed per half-step to truncate
    lineage. The score table is always broadcast into the edge join
    (nodes are dimension-sized, e.g. a supplier/part graph with
    |V| ≈ √|E|), so the only shuffle per half-step is the keyed
    aggregation.

    Returns one row per node and role it holds edges for:
    (node, kind 'hub'|'authority', score_q, score = score_q/Q).
    Sinks (no out-edges) simply never enter the hub table, sources
    never the authority table — matching the restriction of the
    adjacency operator to its support.
    """
    if iters < 1:
        # iters=0 would leave the authority table never computed; fail
        # loudly instead of an AttributeError three statements later.
        raise ValueError("iters must be >= 1")
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    if not assume_distinct:
        e = e.distinct()
    # TWO pre-partitioned persisted copies, one per push direction
    # (r18, the LPA partitioning finding — a localCheckpoint would
    # FORGET the partitioning): with broadcast scores the only shuffle
    # per half-step was the |E|-row aggregation exchange, and hash(out)
    # from the cache satisfies its clustering, so both pushes run
    # exchange-free — pagerank's destination-partitioned cache, applied
    # per direction.
    #
    # SIZE-GATED (r19, VERDICT r18 item 1): the two up-front |E|-row
    # materializations amortize over the 2·iters exchange-free pushes
    # only when the per-push aggregation exchange actually carries
    # |E|-scale bytes — on a small graph the map-side partial
    # aggregation collapses it to near-|V| rows and the precache is
    # pure overhead (the r18 driver bench's +24%). Measured sf1/sf0.1
    # interleaved A/Bs (OPTIMIZATION_r19.md §1b, dual-cache + distinct-once
    # form vs the single-checkpoint form): 0.6M edges / 2.2 MB
    # estimate (sf0.1) — checkpoint wins all 3 pairwise (2.05 vs
    # 2.65 s min); 5.9M edges / 22.8 MB (sf1) — precache wins all 3
    # pairwise (4.14 vs 4.65 s min). The gate reads the FREE Catalyst
    # size estimate of the edge plan (no job); unknown estimate ⇒
    # precache (the at-scale-safe branch, and the only failure mode is
    # a slower plan, never a wrong one).
    from ..cache import drop_cache, plan_key, swap_cache

    try:
        est = int(
            edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # non-JVM frames (connect, mocks)
        est = None
    precache = est is None or est >= precache_min_bytes

    if precache:
        def _parted(col: str, base: DataFrame) -> DataFrame:
            p = base.repartition(col)
            return swap_cache(plan_key(f"hits.e.{col}", p), p)

        # the second orientation derives from the FIRST cache, so the
        # upstream edge build (scan + distinct) runs once, not once per
        # direction (ADVICE r18): materializing e_by_dst is one |E|-row
        # exchange over the persisted e_by_src, not a re-run of the
        # plan.
        e_by_src = _parted("_src", e)
        e_by_dst = _parted("_dst", e_by_src)
    else:
        e_by_src = e_by_dst = e.localCheckpoint(eager=True)

    def _normalize(raw: DataFrame) -> DataFrame:
        m = raw.agg(F.max("raw").alias("_m"))
        return (
            raw.crossJoin(F.broadcast(m))
            .select(
                "node",
                F.expr(f"(raw * {q}L) div _m").cast("long").alias("score_q"),
            )
            .localCheckpoint(eager=True)
        )

    def _push(scores: DataFrame, key: str, out: str) -> DataFrame:
        ec = e_by_src if out == "_src" else e_by_dst
        return (
            F.broadcast(scores).join(ec, F.col("node") == F.col(key))
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum("score_q").cast("long").alias("raw"))
        )

    # init from the _src-partitioned cache: the distinct's clustering
    # is already satisfied, and the unpersisted `e` plan never runs
    hubs = e_by_src.select(F.col("_src").alias("node")).distinct().select(
        "node", F.lit(q).cast("long").alias("score_q")
    )
    auths = None
    for _ in range(iters):
        auths = _normalize(_push(hubs, "_src", "_dst"))
        hubs = _normalize(_push(auths, "_dst", "_src"))
    # loop-scoped caches (ADVICE r18): both score tables are eager
    # checkpoints by now, so the edge caches are dead weight — pop them
    # instead of holding one live copy per input graph until
    # release_caches.
    if precache:
        for col, frame in (("_src", e_by_src), ("_dst", e_by_dst)):
            drop_cache(plan_key(f"hits.e.{col}", frame))
    out_h = hubs.select(
        "node", F.lit("hub").alias("kind"), "score_q",
        (F.col("score_q").cast("double") / F.lit(float(q))).alias("score"),
    )
    out_a = auths.select(
        "node", F.lit("authority").alias("kind"), "score_q",
        (F.col("score_q").cast("double") / F.lit(float(q))).alias("score"),
    )
    return out_h.unionByName(out_a)


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 32,
    max_inner: int = 256,
    driver_threshold: int = 100_000,
    stats: dict | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph, run to
    convergence — the circular-trading-ring primitive the fraud suite
    was missing (VERDICT r11 item 2): a set of entities where money or
    goods can travel from any member to any other and BACK is exactly
    a non-trivial SCC, the structure behind wash trading, carousel
    (missing-trader) fraud, and round-tripping. PageRank/HITS score
    directed endorsement; this names the rings.

    Forward-Backward with trimming (the distributed SCC algorithm of
    Fleischer/Hendrickson/Pinar 2000, scheduled like McLendon et al.'s
    FW-BW-Trim; public literature), expressed as keyed DataFrame
    aggregations with deterministic min-label schedules:

    1. TRIM to a fixed point: a node with no in-edges or no out-edges
       inside the active subgraph cannot lie on a cycle — it is its
       own singleton SCC. Peeling (the k_core discipline) removes
       chains/trees in depth-many cheap rounds.
    2. FORWARD pass: f(u) = min node id reachable FROM u (u included),
       computed by frontier-incremental min-label propagation over the
       active edges — the shortest_paths relaxation with weight 0 and
       label min instead of distance min; runs to its fixed point.
    3. BACKWARD pass: b(u) = the same over reversed edges (min id that
       reaches u).
    4. ASSIGN — multi-pivot coloring (VERDICT r12 item 5; Orzan's
       coloring step as scheduled in Slota et al.'s MultiStep, public
       literature): the label classes of f partition the active nodes
       (one class per ROOT m with f(m) = m — note m = min(SCC(m)),
       since any smaller member would lower f(m)); within class C_m a
       flag propagated from m along forward edges whose BOTH endpoints
       carry label m marks exactly SCC(m) = {u ∈ C_m : m → u} (u → m
       already from f(u) = m, and every intermediate node of an
       m-to-C_m path provably stays in C_m, so the class restriction
       loses nothing). The same step runs on b over reversed edges,
       and both legs' assignments union (distinct — a doubly-rooted
       SCC is found by both with the same id). EVERY root class
       certifies a complete SCC per outer round, so the round count is
       no longer the condensation depth: the r12 assignment
       (f(u) = b(u) alone) certified exactly ONE ring per round on a
       chain-of-rings fixture — 48 3-rings in a path needed 48 outer
       rounds and raised past ``max_outer`` = 32 — while this coloring
       assignment measured 1 outer round at BOTH chain orientations
       (ids ascending and descending along the chain; differential
       pytest tests/test_graph.py pins byte-equality and the round
       count). The coloring is DEPTH-GATED (VERDICT r13 item 3 +
       ADVICE r13): each round first applies the one-join pivot rule
       (f(u) = b(u) = m ⟹ u ∈ SCC(m), with m = min(SCC) since f
       minimizes over a reachable superset) and runs the two
       _class_reach flag-propagation legs ONLY on rounds where that
       leaves nodes unassigned — shallow graphs never pay the
       coloring's per-hop jobs, deep condensations keep the ~1-round
       collapse. Measured A/B on the registered ``scc_parts`` (a
       1–2-outer-round graph), min-of-3 runs normalized by the
       calibration probe: sf0.1 gated 6.17 vs always-coloring 9.17
       (−33%, reproduced 6.18 on a re-run), sf1 gated 19.9 vs 33.1
       (−40%) — closing the r13 1.39× regression with no semantic
       change (the differential tests run both the gated and the
       coloring path via the chain fixtures). The remaining
       depth-shaped cost is the INNER min-label fixpoint when the
       global min sits at the condensation sink (labels must traverse
       the chain — the frontier algorithms' standard diameter bound,
       shared with BFS/shortest_paths; raise ``max_inner`` for
       pathologically deep graphs).

    Scale shape: every step is a frontier⋈edges join plus a keyed min
    aggregation (map-side combinable) on the pre-partitioned edge
    list, with |V|-row label tables checkpointed per round (the
    iterative-op discipline — deliberately NOT width-sized, see
    _sized_partitions_ckpt's negative A/B). The per-outer-round edge
    restriction is two semijoins against the surviving node set.
    Node/frontier tables are always broadcast into the edge joins (the
    node set is dimension-sized; a web-scale one would need a size gate
    like ``_min_relax``'s).

    Self-loops and parallel edges are dropped (neither affects SCC
    membership). Nodes are the edge list's endpoints — isolated nodes
    never enter. Returns (node, scc_id) with scc_id = min node id of
    the component; run-to-convergence EXACT (raises past
    ``max_outer``/``max_inner`` instead of returning a truncation).
    Differential-tested against brute-force mutual reachability
    (tests/test_graph.py); SQL twin is the recursive-CTE transitive
    closure with a mutual-reach min (plans/data_ops.py::scc_parts).

    Small-graph fast path (the connected_components discipline): the
    convergence machinery's per-round fixed job cost dominates on
    dimension-sized graphs — when |E| (already materialized by the
    checkpoint's edge signature) is ≤ ``driver_threshold``, the SCCs
    are solved driver-side with iterative Kosaraju over the BOUNDED
    edge list and returned as one createDataFrame, byte-identical
    output (pinned by the differential tests, which run both paths).
    Above the threshold the distributed rounds run unchanged; the
    collect is bounded by the threshold constant by construction.
    """
    e0 = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    sig = _edge_signature(e0)
    if sig[0] <= driver_threshold:
        rows = e0.collect()  # bounded: sig[0] == |E| <= driver_threshold
        from collections import defaultdict

        g = defaultdict(list)
        rg = defaultdict(list)
        node_set: set[int] = set()
        for row in rows:
            u, v = row["u"], row["v"]
            g[u].append(v)
            rg[v].append(u)
            node_set.add(u)
            node_set.add(v)
        # iterative Kosaraju: DFS finish order on g, then label sweeps
        # on the reverse graph in reverse finish order
        visited: set[int] = set()
        order: list[int] = []
        for s in node_set:
            if s in visited:
                continue
            stack = [(s, iter(g[s]))]
            visited.add(s)
            while stack:
                n, it = stack[-1]
                advanced = False
                for w in it:
                    if w not in visited:
                        visited.add(w)
                        stack.append((w, iter(g[w])))
                        advanced = True
                        break
                if not advanced:
                    order.append(n)
                    stack.pop()
        comp: dict[int, int] = {}
        for s in reversed(order):
            if s in comp:
                continue
            comp[s] = s
            st = [s]
            while st:
                n = st.pop()
                for w in rg[n]:
                    if w not in comp:
                        comp[w] = s
                        st.append(w)
        # canonical label = min member id, matching the distributed path
        cmin: dict[int, int] = {}
        for n, c in comp.items():
            if c not in cmin or n < cmin[c]:
                cmin[c] = n
        if stats is not None:
            stats["outer_rounds"] = 0  # driver fast path
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(n, cmin[c]) for n, c in comp.items()],
            "node long, scc_id long",
        )
    nodes = (
        e0.select("u")
        .union(e0.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
        .localCheckpoint(eager=True)
    )
    assigned = nodes.where(F.lit(False)).select(
        "node", F.col("node").alias("scc_id")
    )
    active = nodes
    eact = e0


    def _min_fixpoint(edge_from: str, edge_to: str) -> DataFrame:
        """Min-label propagation to the fixed point over ``eact``:
        labels flow along edge_from→edge_to; returns (node, lbl) =
        min id with a directed path TO node along that orientation
        (node included). Frontier-incremental: only nodes whose label
        improved last round push again (min-combine makes re-pushing
        unimproved nodes a no-op, so the delta schedule equals the
        full synchronous one at the fixed point)."""
        labels = active.select("node", F.col("node").alias("lbl"))
        labels = labels.localCheckpoint(eager=True)
        frontier = labels
        for _ in range(max_inner):
            cand = (
                eact.join(
                    F.broadcast(frontier.withColumnRenamed("node", edge_from)),
                    edge_from,
                )
                .select(F.col(edge_to).alias("node"), "lbl")
                .groupBy("node")
                .agg(F.min("lbl").alias("_nl"))
            )
            merged = (
                labels.join(cand, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("_nl"), F.col("lbl"))
                    ).alias("lbl"),
                    (F.col("_nl") < F.col("lbl")).alias("_improved"),
                )
                .localCheckpoint(eager=True)
            )
            frontier = merged.where(F.col("_improved")).select("node", "lbl")
            labels = merged.select("node", "lbl")
            if frontier.isEmpty():
                return labels
        raise RuntimeError(
            f"scc label propagation did not converge in {max_inner} rounds"
        )

    def _class_reach(
        labels: DataFrame, edge_from: str, edge_to: str
    ) -> DataFrame:
        """The multi-pivot coloring assignment: flags spread from every
        label-class ROOT (node == lbl) along ``edge_from``→``edge_to``
        edges whose endpoints share the label — marking, per class in
        parallel, exactly the root's complete SCC (see step 4 of the
        docstring). Returns (node, scc_id)."""
        lu = labels.select(
            F.col("node").alias(edge_from), F.col("lbl").alias("_lf")
        )
        lv = labels.select(
            F.col("node").alias(edge_to), F.col("lbl").alias("_lt")
        )
        ef = (
            eact.join(F.broadcast(lu), edge_from)
            .join(F.broadcast(lv), edge_to)
            .where(F.col("_lf") == F.col("_lt"))
            .select(
                F.col(edge_from).alias("_from"),
                F.col(edge_to).alias("_to"),
                F.col("_lf").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        marked = (
            labels.where(F.col("node") == F.col("lbl"))
            .localCheckpoint(eager=True)
        )
        frontier = marked
        for _ in range(max_inner):
            nxt = (
                ef.join(
                    F.broadcast(frontier.select(F.col("node").alias("_from"))),
                    "_from",
                )
                .select(F.col("_to").alias("node"), "lbl")
                .distinct()
                .join(F.broadcast(marked.select("node")), "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                return marked.select("node", F.col("lbl").alias("scc_id"))
            marked = marked.union(nxt).localCheckpoint(eager=True)
            frontier = nxt
        raise RuntimeError(
            f"scc class reach did not converge in {max_inner} rounds"
        )

    for _outer in range(max_outer):
        # --- trim to fixpoint: no-in or no-out nodes are singleton SCCs
        while True:
            has_out = eact.select(F.col("u").alias("node")).distinct()
            has_in = eact.select(F.col("v").alias("node")).distinct()
            keep = (
                active.join(F.broadcast(has_out), "node", "leftsemi")
                .join(F.broadcast(has_in), "node", "leftsemi")
                .localCheckpoint(eager=True)
            )
            trimmed = active.join(F.broadcast(keep), "node", "left_anti")
            if trimmed.isEmpty():
                break
            assigned = assigned.union(
                trimmed.select("node", F.col("node").alias("scc_id"))
            ).localCheckpoint(eager=True)
            active = keep
            eact = (
                eact.join(
                    F.broadcast(active.withColumnRenamed("node", "u")), "u", "leftsemi"
                )
                .join(
                    F.broadcast(active.withColumnRenamed("node", "v")), "v", "leftsemi"
                )
                .localCheckpoint(eager=True)
            )
        if active.isEmpty():
            if stats is not None:
                stats["outer_rounds"] = _outer + 1
            return assigned
        # --- forward / backward min-reach fixed points
        f = _min_fixpoint("v", "u")  # pull from successors: min reachable
        b = _min_fixpoint("u", "v")  # pull from predecessors: min reaching
        # --- assignment, depth-gated (VERDICT r13 item 3 + ADVICE r13):
        # the cheap pivot rule first — f(u) = b(u) = m means u → m and
        # m → u, so u ∈ SCC(m), and m = min(SCC) since f minimizes over
        # a superset of the SCC. One join, no propagation. Only when it
        # leaves nodes unassigned (a deep condensation, where it would
        # certify one basin-minimum SCC per round — the 48-round chain
        # fixture) do the two _class_reach coloring legs run: every
        # f-root and b-root then certifies its complete SCC this round
        # (a strict superset of the f==b set), collapsing the round
        # count to ~1 on the chain. Shallow graphs — the common case,
        # sf0.1 scc_parts measured ~40% faster gated (see docstring
        # A/B) — never pay the coloring legs' flag-propagation jobs.
        fb_done = (
            f.join(b.withColumnRenamed("lbl", "_bl"), "node")
            .where(F.col("lbl") == F.col("_bl"))
            .select("node", F.col("lbl").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        residual = active.join(F.broadcast(fb_done.select("node")), "node", "left_anti")
        if residual.isEmpty():
            done = fb_done
        else:
            if stats is not None:
                stats["coloring_rounds"] = stats.get("coloring_rounds", 0) + 1
            done = (
                _class_reach(f, "u", "v")
                .unionByName(_class_reach(b, "v", "u"))
                .distinct()
            )
        assigned = assigned.union(done).localCheckpoint(eager=True)
        active = active.join(F.broadcast(done.select("node")), "node", "left_anti")
        active = active.localCheckpoint(eager=True)
        if active.isEmpty():
            if stats is not None:
                stats["outer_rounds"] = _outer + 1
            return assigned
        eact = (
            eact.join(
                F.broadcast(active.withColumnRenamed("node", "u")), "u", "leftsemi"
            )
            .join(F.broadcast(active.withColumnRenamed("node", "v")), "v", "leftsemi")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"scc did not converge in {max_outer} outer rounds")


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    time_col: str = "t",
) -> DataFrame:
    """TIME-RESPECTING reachability (earliest-arrival search) on a
    directed temporal graph: for every node, the minimum arrival time
    of a path of at most ``rounds`` edges from any seed where
    successive edge times never decrease — the taint-tracing / money-
    mule primitive (Holme & Saramäki's temporal-path model, public
    literature). Static reachability overstates risk: u→v at day 10
    then v→w at day 5 is NOT a feasible propagation; a temporal path
    must move forward in time.

    Fixed synchronous relaxation (exact unrolled-CTE SQL twin, the
    shortest_paths discipline):

        a_t(v) = min(a_{t-1}(v),
                     min { T(u,v) : edge u→v, T(u,v) ≥ a_{t-1}(u) })

    with seeds at arrival 0. Frontier-incremental: only nodes whose
    arrival improved relax again — improving a(u) weakens its time
    gate (T ≥ a(u)), so candidates only improve and the delta schedule
    reaches the same per-round state as the full relaxation. Parallel
    (u,v) edges collapse to per-(u,v,T) distinct rows (min-combine
    uses each time at most once); times are exact integers (epoch
    days/seconds — callers quantize). Empty frontier exits early;
    ``rounds`` ≥ the temporal hop diameter gives the true earliest
    arrival.

    Per round: one frontier⋈edges join on the reused ``u``
    partitioning with the time gate as the join filter, one map-side-
    combinable min-agg, one full-outer merge into the checkpointed
    |V|-row arrival table — the ``_min_relax`` loop, which also
    chooses the frontier's join side. Returns (node, arrive_t): seeds
    at 0, unreachable nodes absent."""
    # CHECKPOINT, not persist: the persist's partitioning reuse never
    # bites here because the frontier stays broadcastable (arrival sets
    # are seed-component-sized — ~20k rows at sf1 — so the edge side
    # is never exchanged per round in either form), while the
    # InMemoryRelation's columnar→row scan penalty is paid every round.
    # Measured same-session at sf1 (OPTIMIZATION_r19.md §1,
    # temporal_reach_parts): persist reps [9.05, 9.18, 7.11] vs
    # checkpoint [8.26, 7.86, 7.37] — checkpoint wins 2 of 3 pairwise;
    # the sf0.1 bench said the same (+17%). For a web-scale frontier
    # that defeats broadcast, LPA/sssp keep the persist form to copy.
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
            F.col(time_col).cast("long").alias("t"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    nodes = e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
    return _min_relax(
        e,
        nodes,
        _seed_state(seeds, nodes, "node", "arrive_t"),
        rounds,
        lambda j: j.where(F.col("t") >= F.col("arrive_t")).select(
            "v", F.col("t").alias("cand")
        ),
    )


def _edge_supports(cur: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Per-edge triangle support of a canonical (u < v, distinct) edge
    frame: (u, v, support) for EVERY input edge, support = number of
    triangles the edge closes.

    Degree-ordered edge-iterator (the triangle_stats discipline):
    edges orient from the smaller (degree, id) rank endpoint to the
    larger, bounding every out-adjacency at √(2|E|) regardless of
    skew; each triangle {x,y,z} (ranks x<y<z) is found exactly once at
    oriented edge x→y as w = z ∈ N⁺(x) ∩ N⁺(y), never leaving the row
    as a wedge shuffle. Unlike the global census, supports need per-
    EDGE attribution, so the intersection array explodes into the
    triangle's two other edges (2·Δ rows, map-side combined on the
    canonical edge key) plus one |E|-row direct term — linear in the
    triangle count, which is the information-theoretic floor for exact
    truss support.

    ``deg`` optionally supplies a precomputed (u, _d) ranking table:
    ANY fixed total order enumerates each triangle exactly once (the
    order only needs to be consistent, not degree-fresh), so the truss
    loop ranks ONCE on the initial graph and skips one degree
    aggregation + its lineage per round; out-degrees stay bounded by
    the INITIAL graph's √(2|E₀|) (each round's edge set is a subset).
    Supports are orientation-independent exact counts, so the result
    is identical either way (pinned by tests + the unchanged oracle);
    measured same-session interleaved at sf0.1, min of 2:
    per-round ranking 10.31 s → rank-once 9.37 s (−9%)."""
    if deg is None:
        both = _bidirected(cur)
        deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("_d"))
    da = deg.select(F.col("u").alias("_ua"), F.col("_d").alias("_da"))
    db = deg.select(F.col("u").alias("_ub"), F.col("_d").alias("_db"))
    ranked = (
        cur.join(da, cur.u == da._ua)
        .join(db, cur.v == db._ub)
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("o")
        )
        .select("o.a", "o.b")
    )
    adj = ranked.groupBy("a").agg(F.collect_list("b").alias("nb"))
    adj_a = adj.select(F.col("a").alias("_ja"), F.col("nb").alias("nb_a"))
    adj_b = adj.select(F.col("a").alias("_jb"), F.col("nb").alias("nb_b"))
    with_common = (
        ranked.join(adj_a, ranked.a == adj_a._ja)
        .join(adj_b, ranked.b == adj_b._jb, "left")
        .select(
            "a",
            "b",
            F.array_intersect(
                F.col("nb_a"),
                F.coalesce(F.col("nb_b"), F.array().cast("array<long>")),
            ).alias("common"),
        )
    )
    # ONE-PASS contribution emission (r18 optimization): the previous
    # three-branch union (direct + two `others` legs) re-derived the
    # whole `with_common` subtree — ranked ⋈ adj ⋈ adj plus the
    # array_intersect — once PER BRANCH (lineage fan-out; the plan
    # showed three identical SMJ chains each writing ~157 MB of
    # contribution shuffle at sf0.1). Emitting the direct term and both
    # per-triangle credits as one concat'd struct array and exploding
    # ONCE computes the intersection a single time and feeds a single
    # exchange. Same rows, same groupBy — identical supports.
    contrib = with_common.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("u"),
                        F.greatest("a", "b").alias("v"),
                        F.size("common").cast("long").alias("c"),
                    )
                ),
                F.expr(
                    "transform(common, w -> struct(least(a, w) AS u, "
                    "greatest(a, w) AS v, CAST(1 AS BIGINT) AS c))"
                ),
                F.expr(
                    "transform(common, w -> struct(least(b, w) AS u, "
                    "greatest(b, w) AS v, CAST(1 AS BIGINT) AS c))"
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v", "p.c")
    # Every canonical edge of `cur` appears in the direct term with
    # c = size(common) ≥ 0 (ranked is 1:1 with cur; the adj_a join is
    # inner but every a has ≥ 1 out-neighbor — itself→b), so the
    # aggregate already covers the full edge set: the old defensive
    # |E| ⋈ |E| left-join back onto cur was a no-op shuffle, dropped.
    return contrib.groupBy("u", "v").agg(
        F.sum("c").cast("long").alias("support")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 32,
    rounds: int | None = None,
) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph in
    which every EDGE participates in ≥ k−2 triangles (Cohen 2008,
    public) — the edge-level strengthening of the k-core (every
    k-truss is inside the (k−1)-core but demands cohesion per
    RELATIONSHIP, not per node), and the standard fraud-ring shape:
    a collusive clique's edges all sit in many shared triangles,
    while a hub-and-spoke star — which k-core can misread as dense —
    has triangle-free edges and dissolves.

    Synchronous peeling: each round computes every surviving edge's
    triangle support within the CURRENT subgraph (``_edge_supports``,
    degree-ordered edge-iterator — |E|^1.5-bounded enumeration, 2·Δ
    explode for per-edge attribution) and drops ALL edges below k−2
    simultaneously; supports are then exact for the next round.
    Support recomputation per round — not decrement propagation — is
    deliberate: decrements require materializing every dropped edge's
    triangle list (same Δ-shaped work, plus a mutable support table),
    while recompute keeps each round a pure function of the surviving
    edge set, which is what lets a SQL oracle replay the schedule as
    chained CTEs (the k_core/LPA bounded-round discipline). Lineage
    truncates via one eager |E|-row checkpoint per round; the driver
    holds O(1) state (the round counter).

    ``rounds=R`` runs exactly R rounds (converged rounds are no-ops on
    both engines, so any R ≥ the peel depth yields the true k-truss);
    ``rounds=None`` runs to convergence (empty frontier), raising past
    ``max_rounds``. Returns every surviving canonical edge with its
    support inside the FINAL subgraph: (u, v, support), support ≥ k−2
    ≥ 0.

    Cites /root/reference/scripts/run_pipeline.py:23-31: the
    reference's duplicate-identity rules are degree-1 'suspicious
    structure' tests; SCC (directed rings), k-core (dense nodes) and
    k-truss (dense relationships) are the graph-native generalization
    ladder."""
    cur = _canonical(edges, src, dst).localCheckpoint(eager=True)
    # rank ONCE on the initial graph (any fixed total order is a valid
    # orientation for every later subset — see _edge_supports)
    both0 = _bidirected(cur)
    deg0 = (
        both0.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        .localCheckpoint(eager=True)
    )
    thresh = k - 2
    n_rounds = rounds if rounds is not None else max_rounds
    converged = False
    # O(1) driver state: ONE count of the initial edge set, then each
    # round's survivor count carries over as the next round's "before"
    # count — the old per-round `cur.count()` re-counted an already-
    # checkpointed frame every round (one extra job per round).
    n_cur = cur.count()
    for _ in range(n_rounds):
        sup = _edge_supports(cur, deg0)
        nxt = sup.where(F.col("support") >= thresh).select("u", "v")
        nxt = nxt.localCheckpoint(eager=True)
        # one count per round decides convergence; the empty set is a
        # fixed point too (everything peeled away)
        n_nxt = nxt.count()
        if n_nxt == n_cur or n_nxt == 0:
            converged = True
            cur = nxt
            break
        cur = nxt
        n_cur = n_nxt
    if rounds is None and not converged:
        raise RuntimeError(f"k_truss did not converge in {max_rounds} rounds")
    return _edge_supports(cur, deg0)


def betweenness_sampled(
    edges: DataFrame,
    k_sources: int = 8,
    max_hops: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
    seed: int = 42,
    exact_width: str = "long",
) -> DataFrame:
    """Sampled betweenness centrality on the undirected graph —
    Brandes' dependency accumulation (Brandes 2001) from a
    DETERMINISTIC sample of sources (Brandes–Pich 2007 estimator:
    btw(v) ≈ (n/k)·Σ_s δ_s(v), halved for undirectedness). The broker
    screen: entities sitting on many shortest paths between others
    are the intermediaries/mules a pair- or degree-based view misses.

    Two bounded frontier phases per the iterative-op discipline
    (eager per-round checkpoints, O(1) driver state, work per round =
    frontier-incident edges × k):

    * FORWARD — multi-source BFS carrying exact path counts
      (``_bfs_levels`` keyed by source, carrying σ): state is
      (source, node, dist, σ) with σ the number of shortest s→v
      paths, summed exactly over predecessor contributions.
    * BACKWARD — per level h from the deepest settled level down:
      δ(v) = Σ_{w ∈ succ(v)} (σ_v/σ_w)·(1 + δ(w)), the successor sum
      computed as a keyed join + aggregation. δ accumulates in
      1e-12-quantized fixed point — the chi-square discipline — so
      every per-level float sum is order-independent and the whole
      operator is deterministic run-to-run (the quantization bias is
      ≤ levels·1e-12·degree, documented, identical on every engine).

    ``exact_width`` is the SQL type of the hot σ/δ accumulators —
    ``"long"`` by default: the per-level decimal(38,0) aggregations
    were measured as a pure CPU tax with no width benefit at any test
    scale — same-session interleaved min-of-3 (OPTIMIZATION_r19.md
    §4), long wins 5/6 pairwise reps: sf0.1
    11.86 → 10.06 s, sf1 15.41 → 14.91 s; inside the rejected
    pre-partitioned layout the same swap won all 6. Width bounds,
    both loud-by-construction under ANSI (ARITHMETIC_OVERFLOW raises,
    never silent corruption): σ overflows only past 9.2·10¹⁸
    equal-length shortest paths to one node within ``max_hops``; the
    per-(s,v) δ sum is δ_s(v)·10¹² ≤ |component|·10¹², safe to
    ~9·10⁶-node components. Both are graph-STRUCTURE bounds, not
    data-volume bounds (unlike the r10 spearman overflow, which grew
    with row count and was guaranteed to bite at some SF — the
    disjoint-copy scale model keeps σ/δ per component constant).
    ``exact_width="decimal(38,0)"`` gives the σ and δ aggregations
    38-digit headroom, but not the per-term quantization:
    ``F.floor(contrib·10¹²)`` returns a long before the cast, so each
    quantized successor term (σ_v/σ_w)·(1 + δ(w))·10¹² stays capped at
    ~9.2·10¹⁸ in either width.
    The one cross-source reduction Σ_s Σ_levels qd keeps
    decimal(38,0) headroom regardless — it is settled-sized and off
    the hot path.

    Sources are the ``k_sources`` nodes with the smallest
    xxhash64(id, seed) — reproducible without a collect. Returns one
    row per graph node: (id, betweenness) with the Brandes–Pich
    scale; non-intermediate nodes carry 0. Iterative and sampled →
    rows-only registration + exact-Brandes differential in pytest
    (k = |V| makes the estimator exact up to the quantization grid).

    Every frontier-sized join side (forward expansion, backward
    lower/upper levels) is the EXPLICIT broadcast build side, for the
    reason given in ``_bfs_levels``."""
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    both = _bidirected(e)
    nodes = both.select("u").distinct().localCheckpoint(eager=True)
    dec = exact_width
    srcs = _hash_sources(nodes, k_sources, seed)
    start = srcs.select(
        "s",
        F.col("s").alias("v"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast(dec).alias("sigma"),
    )
    settled, deepest = _bfs_levels(
        both, start, ("s",), max_hops, carry=("sigma",)
    )
    # BACKWARD: level h only ever needs level h+1's delta, so carry
    # ONE level frame (delta_prev) instead of joining an ever-growing
    # union — O(rounds) join work, and each checkpoint holds a single
    # level, not the accumulation.
    delta_prev = settled.sparkSession.createDataFrame(
        [], f"s long, v long, qd {dec}"
    )
    level_deltas = []
    for h in range(deepest - 1, -1, -1):
        upper = (
            settled.where(F.col("dist") == h + 1)
            .join(delta_prev, ["s", "v"], "left")
            .select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("_sw"),
                F.coalesce(F.col("qd"), F.lit(0).cast(dec)).alias("_qdw"),
            )
        )
        lower = settled.where(F.col("dist") == h).select(
            "s", "v", F.col("sigma").alias("_sv")
        )
        pairs = F.broadcast(lower).join(
            both.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
        ).join(F.broadcast(upper), ["s", "w"])
        contrib = (
            F.col("_sv").cast("double") / F.col("_sw").cast("double")
        ) * (
            F.lit(1.0) + F.col("_qdw").cast("double") / F.lit(_Q)
        )
        d_h = (
            pairs.withColumn("_q", F.floor(contrib * F.lit(_Q)).cast(dec))
            .groupBy("s", "v")
            .agg(F.sum("_q").cast(dec).alias("qd"))
            .localCheckpoint(eager=True)
        )
        level_deltas.append(d_h)
        delta_prev = d_h
    delta = delta_prev  # empty-frame fallback when no rounds ran
    for d in level_deltas[:-1]:
        delta = delta.union(d)
    btw = (
        delta.where(F.col("v") != F.col("s"))
        .groupBy("v")
        # the one cross-source reduction: cast INSIDE the sum so the
        # accumulator itself carries decimal(38,0) headroom even when
        # the hot per-level qd values are long
        .agg(F.sum(F.col("qd").cast("decimal(38,0)")).alias("_qsum"))
    )
    return _sampled_estimate(nodes, srcs, btw, "betweenness", halve=True)


def harmonic_closeness_sampled(
    edges: DataFrame,
    k_sources: int = 8,
    max_hops: int = 8,
    src: str = "id_a",
    dst: str = "id_b",
    seed: int = 42,
) -> DataFrame:
    """Sampled harmonic closeness centrality: ĥ(v) = (n/k) ·
    Σ_{s ∈ S, s≠v} 1/d(s, v) over a deterministic source sample
    (Eppstein–Wang 2004 estimator shape, on the HARMONIC variant —
    Boldi–Vigna's axiom-clean closeness that handles disconnected
    graphs natively: unreachable pairs contribute 0 instead of
    poisoning an average distance). The "how quickly can this entity
    reach the book" screen completing the centrality family next to
    ``betweenness_sampled``.

    One bounded forward phase — the multi-source per-source-distance
    BFS (``_bfs_levels`` keyed by source: state (source, node, dist),
    settled-once invariant, eager per-round checkpoints, work per
    round = frontier-incident edges × k). The 1/d reciprocal sum is
    1e-12-quantized fixed point summed as decimal(38,0)
    (order-independent, deterministic run-to-run).
    Sources are the ``k_sources`` smallest xxhash64(id, seed) nodes —
    the betweenness_sampled sample, so composed screens see one
    consistent panel. Returns one row per node: (id, harmonic) —
    nodes unreached by every source carry 0. Rows-only registration +
    exact differential at k = |V| in pytest. The n/k scale is the
    UNBIASED estimator under uniform source sampling (each s ≠ v is
    sampled with probability k/n, so E[Σ_S] = (k/n)·h(v)) and matches
    ``betweenness_sampled``'s Brandes–Pich n/k convention; at k = |V|
    it reproduces exact h(v) with no deflation (ADVICE r15 fixed the
    earlier (n−1)/k scale, which was biased by (n−1)/n)."""
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    both = _bidirected(e)
    nodes = both.select("u").distinct().localCheckpoint(eager=True)
    srcs = _hash_sources(nodes, k_sources, seed)
    start = srcs.select(
        "s", F.col("s").alias("v"), F.lit(0).cast("long").alias("dist")
    )
    settled, _ = _bfs_levels(both, start, ("s",), max_hops)
    recip = settled.where(F.col("dist") > 0).withColumn(
        "_q",
        F.floor(
            F.lit(1.0) / F.col("dist").cast("double") * F.lit(_Q)
        ).cast("decimal(38,0)"),
    )
    sums = recip.groupBy("v").agg(
        F.sum("_q").cast("decimal(38,0)").alias("_qsum")
    )
    return _sampled_estimate(nodes, srcs, sums, "harmonic")
