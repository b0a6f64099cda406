"""Property tests pinning the hash-based (rows-only) operators against
their exact baselines, per the test strategy in SURVEY.md §5."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
    read_table,
)


def test_dedup_exact_counts_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "THE  quick   Brown fox"),  # same after normalization
            (3, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["n_copies"] for r in dedup_exact(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_recall_and_precision(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(docs, threshold=0.7).collect()
    }
    # precision 1 by construction (exact-verify join); recall ~1 at j>=0.7
    assert lsh <= {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert exact, "fixture should contain true near-dup pairs"
    assert len(lsh & exact) / len(exact) >= 0.9


def test_ngram_jaccard_catalog_cap_is_identity_on_testdata(spark, sf_dir):
    """No shingle in the shipped corpus reaches the catalog query's
    max_df=1000 cap (the library default is max_df=None / exact), so
    the guarded and unfiltered plans must produce identical pairs —
    which is why the exact-Jaccard oracle still hash-matches."""
    docs = read_table(spark, sf_dir, "documents")
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.05, max_df=1000).collect()
    }
    unfiltered = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.05, max_df=None).collect()
    }
    assert capped == unfiltered and capped


def test_ngram_jaccard_hot_shingle_bounded(spark):
    """An injected ubiquitous shingle must NOT create the quadratic
    bucket: with max_df below the corpus size, docs sharing only the hot
    shingle produce zero pairs, while genuine near-dups still match."""
    hot = "of the and"  # one shared trigram across every doc
    rows = [(i, f"{hot} unique{i} token{i} filler{i} words{i}") for i in range(40)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.05, max_df=10).collect()
    }
    # the 40 hot-only docs would contribute 40·39/2 = 780 pairs unguarded
    assert out == {(100, 101)}
    unguarded = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.05, max_df=None).collect()
    }
    assert len(unguarded) > 700  # the quadratic bucket the cap removes


def test_simhash_flags_near_identical(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("kappa", "kappax", 1)),  # one token edited
            (3, "completely different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    # 8 bands of 8 bits: pigeonhole guarantees candidate generation for
    # any pair within hamming 7
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, max_hamming=10, bands=8).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_topk_recall_on_planted_near_dups(spark, sf_dir):
    """Sign-LSH recalls *near-duplicate* vectors (cos≈0.99). The raw
    testdata embeddings are random noise (best cosine ≈0.37 at ~72°),
    where hyperplane LSH collides rarely by design — so recall is pinned
    on planted perturbed copies, the actual near-dup retrieval case."""
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.limit(200).collect()
    planted = [
        (1000 + r["vec_id"], [v * 0.98 + 0.01 for v in r["embedding"]])
        for r in corpus[:10]
    ]
    q = spark.createDataFrame(planted, "query_id long, embedding array<double>")
    exact_top1 = {
        r["query_id"]: r["vec_id"]
        for r in cosine_topk(emb, q, k=1).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_cosine_topk(emb, q, k=1).collect()
    }
    # every planted query's true nearest (its source vector) is recalled
    hits = sum(1 for qid, vid in exact_top1.items() if (qid, vid) in approx)
    assert exact_top1[1000 + corpus[0]["vec_id"]] == corpus[0]["vec_id"]
    assert hits / len(exact_top1) >= 0.8


def test_embedding_cosine_dup_pairs_match_bruteforce(spark, sf_dir):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        embedding_cosine_dup_pairs,
        embedding_lsh_dup_pairs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_dup_pairs(emb, threshold=0.4).collect()
    }
    # sanity: pairs are ordered, scores within threshold..1
    assert all(a < b for a, b in exact)
    assert all(0.4 <= c <= 1.0 for c in exact.values())

    lsh = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_lsh_dup_pairs(emb, threshold=0.4).collect()
    }
    # precision is exact by construction: every LSH pair is a true pair
    # with the identical rounded score
    assert set(lsh).issubset(set(exact))
    assert all(exact[p] == c for p, c in lsh.items())
    # recall bound for the seeded hyperplanes (85% observed at sf0.01,
    # pinned loosely so a testdata regeneration doesn't flap)
    if exact:
        assert len(lsh) / len(exact) >= 0.5


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, k=3).collect()
    }
    # uniform random embeddings are the worst case for a coarse
    # quantizer (neighbors spread across cells) — probe half the cells
    # and pin the observed-recall floor; probing all 16 recalls 1.0
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in ivf_cosine_topk(emb, q, k=3, n_clusters=16, n_probe=8).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.5


def test_decontamination_flags_exact_5gram_overlap_only(spark):
    """A train doc copying a 5-token run from the eval set is flagged;
    one sharing at most 4 consecutive tokens is not (pigeonhole bound
    of the 5-gram overlap checker)."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        _shingled,
    )

    eval_text = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [
            (0, eval_text),  # eval doc (id % 50 == 0)
            (1, "xx yy beta gamma delta epsilon zeta zz"),  # 5-run copy → hit
            (2, "xx yy beta gamma delta epsilon qq zz"),  # max 4-run → clean
            (3, "totally unrelated words here only friend"),  # clean
        ],
        "doc_id long, text string",
    )
    sh = _shingled(docs, "doc_id", "text", 5)
    ev = sh.where(F.col("_id") % 50 == 0).select(
        F.explode("_sh").alias("shingle")
    ).distinct()
    train = sh.where(F.col("_id") % 50 != 0)
    hits = {
        r["_id"]
        for r in train.select("_id", F.explode("_sh").alias("shingle"))
        .join(ev, "shingle")
        .select("_id")
        .distinct()
        .collect()
    }
    assert hits == {1}


def test_lsh_broadcast_planes_buckets_match_literal_form(spark):
    """The broadcast-planes bucket fold must reproduce lsh_bucket_expr's
    inline-literal buckets bit-for-bit (VERDICT r2 item 2)."""
    import numpy as np

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        hyperplane_tables_df,
        lsh_bucket_expr,
        random_hyperplanes,
        with_lsh_buckets,
    )

    dim, n_planes, n_tables, seed = 16, 8, 4, 42
    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    tables_df = hyperplane_tables_df(spark, dim, n_planes, n_tables, seed)
    via_col = {
        (r["vec_id"], r["tbl"]): r["bucket"]
        for r in with_lsh_buckets(df, "vec_id", "v", tables_df).collect()
    }
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + t * 1000)
        via_lit = {
            r["vec_id"]: r["bucket"]
            for r in df.select(
                "vec_id", lsh_bucket_expr(F.col("v"), planes).alias("bucket")
            ).collect()
        }
        for vid, b in via_lit.items():
            assert via_col[(vid, t)] == b, (vid, t)


def test_lsh_topk_plan_builds_fast_at_high_dim(spark):
    """Plan construction + analysis must stay bounded at realistic
    embedding dims — the planes travel as broadcast data, not as
    n_tables*n_planes*dim literal expression nodes."""
    import time

    import numpy as np

    dim = 512
    rng = np.random.RandomState(11)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(rows[:2], "query_id long, embedding array<double>")

    t0 = time.monotonic()
    plan_df = lsh_cosine_topk(emb, q, k=2, n_planes=8, dim=dim, n_tables=4)
    plan_df.schema  # forces analysis
    elapsed = time.monotonic() - t0
    assert elapsed < 20.0, f"plan build took {elapsed:.1f}s"
    # and it actually runs, returning <=k rows per query
    counts = {
        r["query_id"]: r["n"]
        for r in plan_df.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert all(n <= 2 for n in counts.values())


def test_dedup_lines_keeps_first_occurrence_and_structure(spark):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        dedup_lines,
    )

    boiler = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique content line\n{boiler}\nbeta unique line"),
            (2, f"{boiler}\ngamma unique content line\n{boiler}"),
            (3, boiler),  # fully boilerplate → empty after dedup
            (4, "ok\ndelta unique content line\nok"),  # short lines exempt
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_chars=10).collect()}
    assert len(out) == 4
    # doc 1 holds the first occurrence of the boilerplate → unchanged
    assert out[1]["text"] == f"alpha unique content line\n{boiler}\nbeta unique line"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    # doc 2 loses BOTH later copies, keeps original line order
    assert out[2]["text"] == "gamma unique content line"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (3, 1)
    # doc 3 fully deduplicated → empty text, row still present
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    # short lines are structural: kept even when repeated
    assert out[4]["text"] == "ok\ndelta unique content line\nok"
    assert out[4]["n_kept"] == 3


def test_ivf_index_roundtrip_recall_and_pruning(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_query_index,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_clusters=8)
    got = ivf_query_index(spark, path, queries, k=3, n_probe=8)  # probe ALL
    exact = cosine_topk(emb, queries, k=3)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert g == e  # probing every cell == exact top-k
    # pruned probe: reads a strict subset of assignment partitions
    import glob

    n_cells = len(glob.glob(f"{path}/assignments/cell=*"))
    assert n_cells == 8
    pruned = ivf_query_index(spark, path, queries, k=3, n_probe=2).collect()
    # structural guarantees under pruning: <= k per query, every hit
    # scored identically to the exact path, and some true neighbors
    # found even on near-random vectors (recall-curve properties live
    # in the inline-IVF tests; this one pins the PERSISTED lifecycle)
    per_q = {}
    for r in pruned:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) <= 3 for v in per_q.values())
    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact.collect()
    }
    hits = [
        r for r in pruned if (r["query_id"], r["vec_id"]) in exact_scores
    ]
    assert hits and all(
        r["cos_sim"] == exact_scores[(r["query_id"], r["vec_id"])] for r in hits
    )


class TestMinhashPairCap:
    """VERDICT r10 item 4: the low-entropy-corpus safeguards. A tiny
    vocabulary makes true near-dup pair density ~n² (the measured sf3
    canonical_dedup blowup); the per-(band,bucket) ceiling must bound
    pair OUTPUT, stay a strict subset of the uncapped result, default
    to off, and report its truncation explicitly."""

    @staticmethod
    def _low_entropy_docs(spark, n_docs=40):
        # every doc drawn from a 4-word vocab -> everything near-dups
        words = ["alpha", "beta", "gamma", "delta"]
        rows = [
            (i, " ".join(words[(i + j) % 4] for j in range(12)))
            for i in range(n_docs)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_off_is_identity(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        docs = self._low_entropy_docs(spark)
        base = {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(docs, threshold=0.3).collect()
        }
        explicit_off = {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(
                docs, threshold=0.3, max_bucket_size=None, max_shingle_df=None
            ).collect()
        }
        assert base == explicit_off and base

    def test_cap_bounds_output_and_is_subset(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        docs = self._low_entropy_docs(spark)
        cap = 5
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(docs, threshold=0.3).collect()
        }
        capped = {
            (r["id_a"], r["id_b"])
            for r in minhash_near_dup_pairs(
                docs, threshold=0.3, max_bucket_size=cap
            ).collect()
        }
        assert capped <= uncapped
        # hard output bound: <= bands * C(cap, 2) distinct pairs
        assert len(capped) <= 16 * cap * (cap - 1) // 2
        assert len(capped) < len(uncapped)  # the ceiling actually bit

    def test_truncation_report_arithmetic(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
            minhash_bucket_report,
        )

        docs = self._low_entropy_docs(spark)
        cap = 5
        rep = minhash_bucket_report(docs, max_bucket_size=cap).collect()
        assert any(r["truncated"] for r in rep)
        for r in rep:
            m, dropped, pd = r["n_docs"], r["n_docs_dropped"], r["n_pairs_dropped"]
            assert r["truncated"] == (m > cap)
            assert dropped == max(m - cap, 0)
            kept = min(m, cap)
            assert pd == m * (m - 1) // 2 - kept * (kept - 1) // 2
        # and with no cap the report is all-clear
        clear = minhash_bucket_report(docs).collect()
        assert all(
            not r["truncated"] and r["n_pairs_dropped"] == 0 for r in clear
        )

    def test_stop_shingle_cutoff_unglues_boilerplate(self, spark):
        from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
            minhash_near_dup_pairs,
        )

        # docs 1-6 share ONLY a long boilerplate footer that dominates
        # the shingle set; unique short bodies otherwise. With the
        # footer shingles df-dropped, nothing pairs.
        footer = " ".join(f"boilerplate{w} footer{w} legal{w}" for w in range(10))
        rows = [
            (i, f"unique body {i} zig{i} zag{i} " + footer)
            for i in range(1, 7)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        glued = minhash_near_dup_pairs(docs, threshold=0.3).count()
        unglued = minhash_near_dup_pairs(
            docs, threshold=0.3, max_shingle_df=3
        ).count()
        assert glued > 0 and unglued == 0


def test_pq_topk_recall_vs_exact_and_contract(spark, sf_dir):
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        pq_cosine_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact_rows = cosine_topk(emb, q, k=3).collect()
    exact = {(r["query_id"], r["vec_id"]) for r in exact_rows}
    exact_sims = {
        (r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact_rows
    }
    pq_rows = pq_cosine_topk(
        emb, q, k=3, m=8, n_centroids=16, refine=32
    ).collect()
    pq = {(r["query_id"], r["vec_id"]) for r in pq_rows}
    # uniform random embeddings are PQ's worst case (no cluster
    # structure for the codebooks to exploit); with a 32-candidate
    # exact rerank the observed floor is well above half
    assert len(pq & exact) / len(exact) >= 0.5
    # contract: whenever PQ surfaces a true neighbor, its cos_sim is
    # the exact reranked value. The two sides normalize through
    # different IEEE paths (pre-normalized _dot vs dot/(√·√)), so
    # compare within the round(...,6) grain rather than bit-equal —
    # exact equality only held when neither score landed within an
    # ulp of a 5e-7 rounding boundary (ADVICE r12).
    for key in pq & exact:
        got = next(
            r["cos_sim"] for r in pq_rows if (r["query_id"], r["vec_id"]) == key
        )
        assert abs(got - exact_sims[key]) <= 1e-6
    assert {tuple(sorted(r.asDict())) for r in pq_rows} and all(
        set(r.asDict()) == {"query_id", "vec_id", "cos_sim", "rank"}
        for r in pq_rows
    )


def test_pq_output_independent_of_corpus_partitioning(spark, sf_dir):
    """The codebook training sample is picked by content: the corpus
    arriving in 1 partition or in 5 gives identical PQ output rows."""
    from pyspark.sql import functions as F

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        pq_cosine_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run(corpus):
        return sorted(
            tuple(r)
            for r in pq_cosine_topk(
                corpus, q, k=3, m=8, n_centroids=16, refine=32
            ).collect()
        )

    one = run(emb.coalesce(1))
    five = run(emb.repartition(5))
    assert len(one) == 15
    assert one == five


def test_pq_codebooks_deterministic_and_dim_guard(spark):
    import numpy as np

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.similarity import (
        _pq_train_codebooks,
        pq_cosine_topk,
    )

    rng = np.random.RandomState(5)
    x = rng.randn(200, 4, 4)
    a = _pq_train_codebooks(x, 4, 8)
    b = _pq_train_codebooks(x.copy(), 4, 8)
    assert (a == b).all()  # bit-stable retrain

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    q = df.select(F_col("vec_id").alias("query_id"), "embedding")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must divide"):
        pq_cosine_topk(df, q, m=2)

    # empty corpus: a clear ValueError, not an opaque IndexError on a
    # (0,)-shaped training sample (ADVICE r12)
    empty = df.where(F_col("vec_id") < 0)
    with _pytest.raises(ValueError, match="no vectors"):
        pq_cosine_topk(empty, q, m=3)


from pyspark.sql.functions import col as F_col  # noqa: E402
