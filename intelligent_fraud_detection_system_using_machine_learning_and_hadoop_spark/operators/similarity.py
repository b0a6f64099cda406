"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and LSH-bucketed ANN (scale path).

Training-data-pipeline extensions (BASELINE.json north star). The
vector math stays JVM-side via higher-order functions (zip_with /
aggregate fold) — no Python in the row path; folds are sequential and
deterministic, which the DuckDB oracle mirrors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import _dot, _norm_sq


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 3,
) -> DataFrame:
    """Exact brute-force cosine top-k per query, TWO-PHASE.

    queries is small → broadcast; the corpus is scanned once and scores
    fold JVM-side. The top-k is two-phase: each map partition
    pre-reduces to its local top-k per query — a ``groupBy(
    spark_partition_id, query_id)`` whose partial aggregation completes
    map-side (collect_list → array_sort → slice k) — so the exchange
    carries only partitions×queries×k candidate structs instead of every
    scored corpus row; the final per-query window ranks that sliver.
    Scores are rounded to 6 decimals *before* ranking so ordering is
    reproducible across engines; vec_id breaks remaining ties (the
    negated-score struct sort = score desc, id asc — exact for IEEE
    doubles).
    """
    from ..sources.readers import ensure_min_partitions

    # the per-row dot-product fold against every query is the hot map —
    # rebalance under-partitioned scans so it uses all cores
    v = ensure_min_partitions(
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).withColumn("norm_sq", _norm_sq(F.col("v")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qnorm_sq", _norm_sq(F.col("qv")))
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("v"), F.col("qv"))
                / (F.sqrt(F.col("norm_sq")) * F.sqrt(F.col("qnorm_sq"))),
                6,
            ),
        )
    )
    return _topk_per_query(scored, k)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase exact top-k of ``scored(query_id, vec_id, cos_sim)``:
    per-map-partition partial top-k (map-side-complete groupBy on
    ``spark_partition_id`` — collect_list → array_sort on negated-score
    structs → slice k), then a final per-query window over the
    partitions×k sliver. Negation round-trips IEEE doubles exactly
    (signed zeros included), so scores are bit-identical to a direct
    global rank."""
    local_topk = (
        scored.groupBy(F.spark_partition_id().alias("_pid"), F.col("query_id"))
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("cos_sim")).alias("_negsim"), F.col("vec_id")
                        )
                    )
                ),
                1,
                k,
            ).alias("_top")
        )
        .select("query_id", F.explode("_top").alias("_t"))
        .select(
            "query_id",
            F.col("_t.vec_id").alias("vec_id"),
            (-F.col("_t._negsim")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        local_topk.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rank"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Sign-LSH bucket id from INLINE plane literals: bit b =
    sign(v · plane_b). Charikar '02 — collision prob = 1 - angle/π per
    bit. Plan size is O(n_planes × dim) literal nodes — fine for tiny
    dims/tests, but at realistic embedding dims prefer
    ``lsh_bucket_from_planes`` over a broadcast planes column (constant
    plan size); a pytest pins the two forms bucket-identical."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(_dot(vec_col, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("long")


def lsh_bucket_from_planes(vec_col, planes_col):
    """Sign-LSH bucket id from a planes COLUMN (``array<array<double>>``).

    Bit i = sign(v · planes[i]); the fold runs over ``reverse(planes)``
    so ``acc*2 + bit`` reproduces ``sum(bit_i << i)`` exactly — the same
    bucket ids as ``lsh_bucket_expr``. The planes travel as DATA (one
    broadcast row), not as expression-tree literals, so the Catalyst
    plan stays constant-size in n_tables × n_planes × dim instead of
    carrying ~128k literal nodes at dim=2048."""
    return F.aggregate(
        F.reverse(planes_col),
        F.lit(0).cast("long"),
        lambda acc, p: acc * F.lit(2)
        + F.when(_dot(vec_col, p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def hyperplane_tables_df(spark, dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """The T hash tables' hyperplanes as a tiny broadcastable DataFrame
    ``(tbl int, planes array<array<double>>)`` — n_tables rows, seeded
    identically to the inline form (seed + t*1000)."""
    rows = [
        (t, random_hyperplanes(dim, n_planes, seed + t * 1000))
        for t in range(n_tables)
    ]
    return spark.createDataFrame(rows, "tbl int, planes array<array<double>>")


def with_lsh_buckets(df: DataFrame, id_col: str, vec_col: str, tables_df: DataFrame) -> DataFrame:
    """Attach (tbl, bucket) per hash table via a broadcast crossJoin with
    the planes DataFrame — replaces the explode-over-literal-structs
    form. n_tables rows broadcast; each data row fans out to T rows with
    the bucket computed from the planes column."""
    return (
        df.crossJoin(F.broadcast(tables_df))
        .withColumn("bucket", lsh_bucket_from_planes(F.col(vec_col), F.col("planes")))
        .select(id_col, vec_col, "tbl", "bucket")
    )


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN cosine top-k: multi-table sign-LSH candidate generation, then
    exact rerank of candidates only.

    With T tables of b planes, a neighbor at angle θ is recalled with
    prob 1-(1-(1-θ/π)^b)^T. Only same-bucket pairs join — the corpus
    partitions by (table, bucket), so at 100 TB the join touches
    ~corpus/2^b rows per query per table instead of the full scan.
    Planes ship as ONE broadcast DataFrame (hyperplane_tables_df), so
    the plan stays constant-size in dim.
    """
    from ..sources.readers import ensure_min_partitions

    tables_df = hyperplane_tables_df(
        vectors.sparkSession, dim, n_planes, n_tables, seed
    )
    v = ensure_min_partitions(
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    vb = with_lsh_buckets(v, "vec_id", "v", tables_df)
    qb = with_lsh_buckets(q, "query_id", "qv", tables_df)
    candidates = (
        vb.join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v")
        .distinct()
    )
    scored = candidates.withColumn(
        "cos_sim",
        F.round(
            _dot(F.col("v"), F.col("qv"))
            / (F.sqrt(_norm_sq(F.col("v"))) * F.sqrt(_norm_sq(F.col("qv")))),
            6,
        ),
    )
    # same two-phase rank as the exact path: candidate sets are pruned
    # by bucketing but can still be large at corpus scale
    return _topk_per_query(scored.select("query_id", "vec_id", "cos_sim"), k)


# fixed, not the session's parallelism: k-means|| draws its samples per
# partition index, so the fit's partition count is part of the model
_KMEANS_FIT_PARTITIONS = 4


def fit_kmeans(
    frame: DataFrame,
    id_col: str,
    k: int,
    seed: int,
    prediction_col: str,
):
    """MLlib ``KMeans`` fitted on the vector column ``_fv`` of ``frame``,
    with rows placed by content: hash-partitioned on ``xxhash64(id,
    seed)`` into a fixed number of partitions and sorted within each,
    so the model does not depend on how ``frame`` arrives. k-means||
    seeds its sampling per partition, so the same rows in 1, 5 or 16
    partitions would otherwise fit three different clusterings. The fit
    stays parallel across those partitions; callers ``transform`` the
    wide frame."""
    from pyspark.ml.clustering import KMeans

    h = F.xxhash64(F.col(id_col), F.lit(seed))
    placed = frame.repartition(_KMEANS_FIT_PARTITIONS, h).sortWithinPartitions(
        h, F.col(id_col)
    )
    km = KMeans(k=k, seed=seed, featuresCol="_fv", predictionCol=prediction_col)
    return km.fit(placed)


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    corpus into cells; each query probes only its ``n_probe`` nearest
    cells and reranks those candidates exactly.

    The complement of sign-LSH bucketing (lsh_cosine_topk): data-adaptive
    cells follow the corpus distribution, so recall per candidate is
    higher on clustered data. At 100 TB the corpus is stored
    partitioned/bucketed by cell id, making each probe a partition-pruned
    read of ~1/n_clusters of the data instead of a full scan. Centroids
    (n_clusters × dim floats) broadcast to everyone.
    """
    from pyspark.ml.functions import array_to_vector

    norm = lambda df, idc, out: df.select(  # noqa: E731
        F.col(idc).alias(out),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: x / F.sqrt(_norm_sq(F.col(vec_col).cast("array<double>"))),
        ).alias("_u"),
    )
    from ..sources.readers import ensure_min_partitions

    v = ensure_min_partitions(norm(vectors, id_col, "vec_id"))
    q = norm(queries, query_id_col, "query_id")

    with_vec = v.withColumn("_fv", array_to_vector(F.col("_u")))
    model = fit_kmeans(with_vec, "vec_id", n_clusters, seed, prediction_col="_cell")
    assigned = model.transform(with_vec).select("vec_id", "_u", "_cell")

    centroids = [np.asarray(c).tolist() for c in model.clusterCenters()]
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    cent_df = q.sparkSession.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    )
    # each query scores all centroids (tiny cross join), keeps n_probe
    probed = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("_sim", _dot(F.col("_u"), F.col("centroid")))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_sim").desc(), F.col("cell").asc()
                )
            ),
        )
        .where(F.col("_rn") <= n_probe)
        .select("query_id", F.col("_u").alias("_qu"), F.col("cell").alias("_cell"))
    )
    candidates = assigned.join(F.broadcast(probed), "_cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = candidates.withColumn(
        "cos_sim", F.round(_dot(F.col("_u"), F.col("_qu")), 6)
    )
    return _topk_per_query(scored.select("query_id", "vec_id", "cos_sim"), k)


def _pq_train_codebooks(
    sub_vectors: "np.ndarray", m: int, n_centroids: int, iters: int = 12
) -> "np.ndarray":
    """Deterministic per-subspace Lloyd k-means on a driver-side
    training sample: returns codebooks of shape (m, n_centroids,
    sub_dim). Init is the first ``n_centroids`` DISTINCT subvectors in
    row order (deterministic — no RNG, so retrains are bit-stable);
    empty clusters keep their previous centroid. Training is
    sample-sized by the caller (the BPE sample-train discipline:
    drivers train on a bounded sample, executors only ever apply the
    broadcast result)."""
    n, d = sub_vectors.shape[0], sub_vectors.shape[2]
    books = np.empty((m, n_centroids, d), dtype=np.float64)
    for j in range(m):
        x = sub_vectors[:, j, :]
        seen: list[int] = []
        uniq: set = set()
        for i in range(n):
            key = x[i].tobytes()
            if key not in uniq:
                uniq.add(key)
                seen.append(i)
            if len(seen) == n_centroids:
                break
        cents = x[seen].copy()
        if len(seen) < n_centroids:  # degenerate tiny corpus: pad by repeat
            reps = np.resize(np.arange(len(seen)), n_centroids - len(seen))
            cents = np.vstack([cents, cents[reps]])
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cents[c] = x[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 3,
    m: int = 8,
    n_centroids: int = 16,
    refine: int = 32,
    n_train: int = 2048,
) -> DataFrame:
    """Product-quantization ANN (Jégou 2011, public) — the third leg of
    the ANN family beside sign-LSH buckets and IVF cells: each unit
    vector compresses to ``m`` byte codes (one per subspace, codebooks
    of ``n_centroids`` centroids), queries score the WHOLE corpus
    against per-query lookup tables (asymmetric distance computation),
    and the top-``refine`` approximate candidates rerank exactly. At
    100 TB the win is the scan: m bytes/vector instead of 4·dim —
    a 32× smaller candidate sweep that no bucketing recall cliff can
    spoil (PQ scans everything, approximately; LSH/IVF scan a subset,
    exactly).

    Spark shape: codebooks train DRIVER-SIDE on a bounded
    ``n_train``-row sample — the smallest xxhash64(vec_id), so it is
    independent of partitioning and core count (deterministic Lloyd,
    row-order init — the BPE sample-train discipline) and broadcast as literal arrays;
    ENCODING is one Arrow-batched ``pandas_udf`` (numpy argmin over
    n_centroids per subspace — the documented vectorized-Python
    surface); ADC SCORING is pure JVM column algebra — the per-query
    LUT (m·n_centroids doubles) cross-joins broadcast against the
    coded corpus and the score is one ``aggregate(zip_with(codes,
    sequence(...)))`` fold over element_at lookups, whole-stage
    friendly, no Python in the corpus-sized path. The exact rerank
    reuses ``_dot`` on the ``refine``-sized sliver only.

    Returns the ``cosine_topk`` contract (query_id, vec_id, cos_sim,
    rank) with reranked cosines equal to the brute-force baseline at
    the published ``round(…, 6)`` grain (ADVICE r13: the rerank
    normalizes query and corpus vectors on a different IEEE path than
    the baseline — one fused fold here vs. separate norm/dot there —
    so last-ulp differences below the rounding grain are possible and
    the recall pytest asserts 1e-6-tolerance equality, not
    bit-equality); approximate only in WHICH candidates reach the
    rerank, which the recall pytest measures against the brute-force
    baseline."""
    sub_dim_err = "embedding dim must divide m"
    norm = lambda df, idc, out: df.select(  # noqa: E731
        F.col(idc).alias(out),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: x / F.sqrt(_norm_sq(F.col(vec_col).cast("array<double>"))),
        ).alias("_u"),
    )
    from ..sources.readers import ensure_min_partitions

    v = ensure_min_partitions(norm(vectors, id_col, "vec_id"))
    q = norm(queries, query_id_col, "query_id")

    # the sample is chosen (and ordered, for the row-order Lloyd init)
    # by content, never by the partition layout ensure_min_partitions
    # gave v: the codebooks, hence the output, are the same on any box
    sample = v.orderBy(F.xxhash64("vec_id", F.lit(42)), "vec_id").limit(n_train)
    train = np.asarray([r["_u"] for r in sample.collect()], dtype=np.float64)
    if train.size == 0:
        # a (0,)-shaped sample would otherwise IndexError on shape[1]
        raise ValueError(
            "no vectors to train PQ codebooks (empty or all-null corpus)"
        )
    dim = train.shape[1]
    if dim % m != 0:
        raise ValueError(sub_dim_err)
    sub = dim // m
    books = _pq_train_codebooks(
        train.reshape(len(train), m, sub), m, n_centroids
    )

    from pyspark.sql.functions import pandas_udf

    books_b = v.sparkSession.sparkContext.broadcast(books)

    @pandas_udf("array<int>")
    def encode(u: pd.Series) -> pd.Series:
        b = books_b.value
        out = []
        for vec in u:
            x = np.asarray(vec, dtype=np.float64).reshape(m, sub)
            codes = [
                int(((b[j] - x[j]) ** 2).sum(axis=1).argmin()) for j in range(m)
            ]
            out.append(codes)
        return pd.Series(out)

    coded = v.select("vec_id", encode(F.col("_u")).alias("_codes"))

    # per-query flattened LUT: lut[j*n_centroids + c] = <q_sub_j, books[j][c]>
    def lut_expr(qu):
        # computed JVM-side: for each (j, c) slice the query subvector
        # and fold the dot with the broadcast centroid literal array
        entries = []
        for j in range(m):
            qs = F.slice(qu, j * sub + 1, sub)
            for c in range(n_centroids):
                cent = F.array(*[F.lit(float(x)) for x in books[j][c]])
                entries.append(_dot(qs, cent))
        return F.array(*entries)

    luts = q.select(
        "query_id", F.col("_u").alias("_qu"), lut_expr(F.col("_u")).alias("_lut")
    )
    adc = (
        coded.crossJoin(F.broadcast(luts))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "_qu",
            F.expr(
                f"aggregate(zip_with(_codes, sequence(0, {m - 1}), "
                f"(c, j) -> element_at(_lut, j * {n_centroids} + c + 1)), "
                f"0D, (acc, x) -> acc + x)"
            ).alias("_approx"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("_approx").desc(), F.col("vec_id").asc()
    )
    shortlist = adc.withColumn("_rn", F.row_number().over(wr)).where(
        F.col("_rn") <= refine
    )
    rerank = shortlist.join(
        v.select(F.col("vec_id").alias("_vid"), F.col("_u").alias("_vu")),
        F.col("vec_id") == F.col("_vid"),
    ).select(
        "query_id",
        "vec_id",
        F.round(_dot(F.col("_vu"), F.col("_qu")), 6).alias("cos_sim"),
    )
    return _topk_per_query(rerank, k)


def mmr_topk_pooled(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    pool_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR over an ANN candidate pool — the scale-true composition
    (VERDICT r15 item 3): ``mmr_topk``'s greedy head re-scans the
    remaining corpus on each of the k rounds, a bounded k× multiplier
    that is still k−1 scans too many at 100 TB. This prefilters to
    the exact-cosine top-``pool_size`` (one corpus scan through
    ``cosine_topk``'s map-side partial top-k — the already-attested
    leg; swap in the IVF/PQ leg for sub-scan candidate generation),
    broadcast-semi-joins the ≤ pool_size-row pool back to its
    vectors, and runs the greedy rounds on the pool: ONE corpus scan
    plus k tiny (≤ pool_size-row) rounds.

    Equivalence: greedy argmax over a subset S ⊆ corpus picks the
    same sequence as over the corpus whenever S contains every
    full-corpus pick (the global argmax of each round is in S, and
    max over a superset-of-the-argmax subset IS that argmax; the
    6-decimal rounding + id tiebreak make this exact, not
    approximate). The pool is relevance-ranked, so with
    pool_size ≫ k the containment holds for any λ that keeps MMR a
    retrieval head rather than a pure-diversity sampler; pytest pins
    pooled ≡ full-corpus picks at gate scale with containment
    checked explicitly.

    Runtime guard (ADVICE r16): containment can silently fail with
    low λ (diversity-heavy) or clustered corpora — a later-round
    global argmax may fall OUTSIDE the relevance top-pool. The greedy
    rounds are already eager (per-round checkpoints), so one bounded
    k-row action checks each pick's relevance rank within the pool
    and emits a ``UserWarning`` when any pick lands in the last
    ``k`` slots (rank > pool_size − k): a boundary pick means a
    just-outside-the-pool candidate could plausibly have won that
    round. The guard is a HEURISTIC for that common divergence mode,
    not a certificate — a clustered corpus can diverge with every
    pick interior to the pool (an outside candidate dissimilar to
    the picks can beat a penalized pool head without any pool-tail
    pick occurring), so equality with ``mmr_topk`` when it matters
    is pinned by the containment pytest, and pool_size ≫ k remains
    the operating assumption."""
    import warnings

    q1 = query.limit(1).select(
        F.lit(0).cast("long").alias("query_id"), F.col(vec_col)
    )
    pool_ranked = cosine_topk(
        vectors, q1, id_col=id_col, vec_col=vec_col, k=pool_size
    ).select(F.col("vec_id").alias(id_col), F.col("rank").alias("_pool_rank"))
    pool = vectors.join(
        F.broadcast(pool_ranked.select(id_col)), id_col, "left_semi"
    )
    picks = mmr_topk(
        pool, query, k=k, lam=lam, id_col=id_col, vec_col=vec_col
    )
    worst = (
        picks.select(F.col("vec_id").alias(id_col))
        .join(F.broadcast(pool_ranked), id_col)
        .agg(F.max("_pool_rank").alias("_w"))
        .collect()[0]["_w"]
    )
    if worst is not None and worst > pool_size - k:
        warnings.warn(
            f"mmr_topk_pooled: a selected pick has relevance rank "
            f"{worst} within the {pool_size}-item pool (boundary zone "
            f"is > {pool_size - k}); the pooled result may diverge "
            f"from full-corpus mmr_topk — raise pool_size.",
            UserWarning,
            stacklevel=2,
        )
    return picks


def mmr_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick argmax of
    λ·rel(d) − (1−λ)·max_{s ∈ S} sim(d, s) — the de-duplicating
    retrieval head that plain cosine top-k lacks (top-k over a corpus
    with near-duplicates returns k copies of one document; MMR's
    penalty term spends the budget on COVERAGE).

    Determinism: rel and every pairwise sim round to 6 decimals before
    any comparison (the cosine_topk discipline) and the greedy argmax
    breaks ties on ascending id, so the picked set is exact and
    engine-independent. ``query`` is a one-row frame (vector column
    ``vec_col``) — broadcast, never collected.

    Scale shape: MMR is inherently sequential-greedy, so the plan is
    k bounded rounds; round i scans the remaining corpus once against
    a ≤ i-row broadcast of the selected vectors (JVM-side zip_with
    dot products, no Python) and takes ONE TakeOrdered(1). Total extra
    work vs one scan is the bounded k²/2 pairwise-penalty multiplier;
    per-round results are eagerly checkpointed so lineage stays flat.
    Greedy/iterative → rows-only registration + exact Python
    differential in pytest."""
    # Zero-norm guard (ADVICE r15): cosine is undefined for the zero
    # vector and NaN sorts GREATEST under descending order, so an
    # unguarded all-zero embedding would be greedily picked first
    # every round. Drop non-comparable rows up front, mirroring the
    # skyline/benford discipline for rows outside the metric's domain.
    v = (
        vectors.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("_nrm", F.sqrt(_norm_sq(F.col("v"))))
        .where(F.col("_nrm") > 0)
    )
    q = (
        query.select(F.col(vec_col).cast("array<double>").alias("qv"))
        .limit(1)
        .withColumn("_qn", F.sqrt(_norm_sq(F.col("qv"))))
        .where(F.col("_qn") > 0)
    )
    rel = (
        v.crossJoin(F.broadcast(q))
        .withColumn(
            "rel",
            F.round(
                _dot(F.col("v"), F.col("qv"))
                / (F.col("_nrm") * F.col("_qn")),
                6,
            ),
        )
        .select("vec_id", "v", "_nrm", "rel")
        .localCheckpoint(eager=True)
    )
    spark = vectors.sparkSession
    selected = spark.createDataFrame(
        [], "rank long, vec_id long, v array<double>, _nrm double, "
            "rel double, mmr double"
    )
    remaining = rel
    for i in range(1, k + 1):
        if i == 1:
            scored = remaining.withColumn(
                "mmr", F.lit(lam) * F.col("rel")
            )
        else:
            sel = F.broadcast(
                selected.select(
                    F.col("v").alias("sv"), F.col("_nrm").alias("_sn")
                )
            )
            pen = (
                remaining.crossJoin(sel)
                .withColumn(
                    "_sim",
                    F.round(
                        _dot(F.col("v"), F.col("sv"))
                        / (F.col("_nrm") * F.col("_sn")),
                        6,
                    ),
                )
                .groupBy("vec_id")
                .agg(F.max("_sim").alias("_maxsim"))
            )
            scored = remaining.join(pen, "vec_id").withColumn(
                "mmr",
                F.lit(lam) * F.col("rel")
                - F.lit(1.0 - lam) * F.col("_maxsim"),
            )
        pick = (
            scored.orderBy(F.col("mmr").desc(), F.col("vec_id"))
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("rank"),
                "vec_id",
                "v",
                "_nrm",
                "rel",
                "mmr",
            )
        )
        selected = selected.union(pick).localCheckpoint(eager=True)
        remaining = remaining.join(
            selected.select("vec_id"), "vec_id", "left_anti"
        )
    return selected.select("rank", "vec_id", "rel", "mmr").orderBy("rank")
