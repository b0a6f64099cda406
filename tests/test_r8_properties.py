"""Round-8 hardening tests (VERDICT/ADVICE r7 items).

* the unicode-injection literal must stay in DECOMPOSED form even if a
  formatter NFC-normalizes the source file,
* mapInPandas text ops must derive the id column's type from the input
  schema instead of hard-coding ``long``,
* ``pipeline.score``'s output must not depend on cache residency — a
  recompute after the caches are dropped yields the same rows,
* binaryFile asset ids must be wide enough that a billion-file corpus
  doesn't birthday-collide.
"""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.text import (
    compression_quality,
    normalize_unicode,
)


def test_unicode_injection_literal_is_decomposed():
    """VERDICT r7 robustness note 2: the ``unicode_normalize_documents``
    injection literal must NOT be NFC-normal (it must carry 'e' +
    U+0301, not the precomposed 'é'), or the oracle's chr(101)||chr(769)
    no longer matches and the query's changed/bytes columns flip."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        data_ops,
    )

    consts = data_ops.unicode_normalize_documents.__code__.co_consts
    lits = [c for c in consts if isinstance(c, str) and "caf" in c]
    assert lits, "injection literal not found in unicode_normalize_documents"
    for s in lits:
        assert unicodedata.normalize("NFC", s) != s, (
            "literal was NFC-normalized — use \\N escapes to keep the "
            "combining sequence"
        )
        assert "́" in s


def test_normalize_unicode_string_doc_ids(spark):
    """ADVICE r7: the mapInPandas output schema must follow the input id
    type (string ids used to come back as nulls under the hard-coded
    ``long`` schema)."""
    df = spark.createDataFrame(
        [("doc-a", "café"), ("doc-b", "plain")],
        "doc_id string, text string",
    )
    out = normalize_unicode(df).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == ["doc-a", "doc-b"]
    assert out[0]["normalized"] == "café"
    assert out[1]["normalized"] == "plain"


def test_compression_quality_string_doc_ids(spark):
    df = spark.createDataFrame(
        [("k1", "aaaaaaaaaaaaaaaaaaaaaaaa"), ("k2", "entropy 8x1 zq")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in compression_quality(df).collect()}
    assert set(out) == {"k1", "k2"}
    assert out["k1"]["compression_ratio"] < out["k2"]["compression_ratio"]


def test_score_row_key_survives_recompute(spark, tmp_path):
    """Scoring must not depend on cache residency. Collect the scored
    frame, forcibly drop every cache (as a second score() call swapping
    the shared cache key would), and collect the SAME frame again: each
    row's error is a column computed from that row, so the recomputed
    rows must match exactly."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark import (
        pipeline,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.cache import (
        release_caches,
    )
    from tests.test_ml_streaming import claims_fixture

    claims = claims_fixture(spark, n=60)
    scored = pipeline.score(claims, scorer="pca")
    key = lambda r: (r["Name"], r["Aadhaar"])  # noqa: E731
    first = sorted(scored.collect(), key=key)
    release_caches()  # evict: the returned frame must recompute identically
    second = sorted(scored.collect(), key=key)
    assert first == second


def test_bm25_cache_keys_distinct_per_query_terms():
    """ADVICE r7: two bm25 invocations with different terms must not
    share (and therefore evict) one cache slot."""
    import inspect

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators import (
        retrieval,
    )

    src = inspect.getsource(retrieval.bm25_topk)
    assert '"bm25_topk.tf:"' in src and "sorted(terms)" in src


def test_incremental_dedup_classifications(spark):
    """Hand-built two-snapshot fixture: every status class verified, and
    the broadcast path keeps the snapshot index off the shuffle."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        incremental_dedup,
        snapshot_digest_index,
    )

    snapshot = spark.createDataFrame(
        [(1, "old content one"), (2, "old content two")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, "old content one"),   # resubmission -> dup_snapshot
            (11, "brand new"),         # novel, canonical -> kept
            (12, "brand new"),         # intra-shard dup -> dup_delta
            (13, "OLD   Content TWO"), # normalized match -> dup_snapshot
            (14, "unique doc"),        # kept
        ],
        "doc_id long, text string",
    )
    idx = snapshot_digest_index(snapshot)
    out = incremental_dedup(delta, idx, broadcast_index=True)
    got = {r["doc_id"]: r["status"] for r in out.collect()}
    assert got == {
        10: "dup_snapshot",
        11: "kept",
        12: "dup_delta",
        13: "dup_snapshot",
        14: "kept",
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_inverted_index_sharding_and_postings(spark):
    """Hot terms must spread over multiple doc-hash shards (the 100 TB
    skew defense) and postings must be doc-sorted with correct tf."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.retrieval import (
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [(i, "common common rare%d" % (i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs, n_shards=4, min_df=1).collect()
    common = [r for r in idx if r["term"] == "common"]
    assert len(common) > 1, "hot term must occupy multiple shards"
    assert sum(r["shard_df"] for r in common) == 40
    assert all(r["df"] == 40 for r in common)
    for r in common:
        pairs = [p.split(":") for p in r["postings"].split(",")]
        ids = [int(d) for d, _ in pairs]
        assert ids == sorted(ids)
        assert all(tf == "2" for _, tf in pairs)


def test_semantic_dedup_matches_brute_force_within_cells(spark):
    """The keep-rule is exact given the cell assignment: recompute it
    brute-force in Python from the operator's own cells and compare."""
    import math

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.dedup import (
        semantic_dedup,
    )

    # three tight groups of near-identical vectors + singletons
    base = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0], 2: [0.0, 0.0, 1.0]}
    rows = []
    vid = 0
    for g, v in base.items():
        for j in range(4):
            rows.append((vid, [x + (0.001 * j if i == g else 0.0) for i, x in enumerate(v)]))
            vid += 1
    rows.append((vid, [0.7, 0.7, 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, threshold=0.95, n_clusters=3).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    vecs = {i: v for i, v in rows}

    def cos(a, b):
        ua = [x / math.sqrt(sum(y * y for y in a)) for x in a]
        ub = [x / math.sqrt(sum(y * y for y in b)) for x in b]
        return sum(x * y for x, y in zip(ua, ub))

    for r in out:
        i = r["vec_id"]
        lower = [j for j in vecs if j < i and cells[j] == cells[i]]
        sims = [cos(vecs[i], vecs[j]) for j in lower]
        expect_kept = not sims or max(sims) < 0.95
        assert r["is_kept"] == expect_kept, (i, sims)
        if sims:
            assert r["max_sim_lower"] == pytest.approx(max(sims), abs=1e-9)
    # each tight group keeps exactly its min id (groups are separable,
    # so k-means cannot split them at k=3... the singleton lands
    # somewhere and must survive if dissimilar to its cell-mates)
    kept = {r["vec_id"] for r in out if r["is_kept"]}
    assert {0, 4, 8} <= kept
    assert not ({1, 2, 3, 5, 6, 7, 9, 10, 11} & kept)


def test_funnel_ordering_and_horizon(spark):
    """Hand-built funnel: out-of-order steps don't count, the horizon is
    measured from the FIRST step, drop-outs keep nulls."""
    import datetime as dt

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.funnel import (
        funnel_report,
        funnel_steps,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(u, typ, hours):
        return (u, typ, t0 + dt.timedelta(hours=hours))

    rows = [
        # u1 converts fully in order
        ev(1, "view", 0), ev(1, "click", 1), ev(1, "purchase", 2),
        # u2: click BEFORE view — must not count; no click after view
        ev(2, "click", 0), ev(2, "view", 1), ev(2, "purchase", 2),
        # u3: click inside horizon, purchase outside 7d horizon
        ev(3, "view", 0), ev(3, "click", 1), ev(3, "purchase", 24 * 8),
        # u4: never viewed — not in funnel at all
        ev(4, "click", 0), ev(4, "purchase", 1),
    ]
    e = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    per_user = {r["user_id"]: r for r in funnel_steps(e, ["view", "click", "purchase"]).collect()}
    assert set(per_user) == {1, 2, 3}
    assert per_user[1]["t_3"] is not None
    assert per_user[2]["t_2"] is None and per_user[2]["t_3"] is None
    assert per_user[3]["t_2"] is not None and per_user[3]["t_3"] is None
    rep = {r["step"]: r for r in funnel_report(e, ["view", "click", "purchase"]).collect()}
    assert [rep[i]["n_users"] for i in (1, 2, 3)] == [3, 2, 1]
    assert rep[3]["conv_from_prev"] == 0.5


def test_cusum_matches_sequential_recurrence(spark):
    """The prefix-sum/running-min reformulation must equal the textbook
    sequential S_i = max(0, S_{i-1} + d_i) exactly — including a series
    that rises immediately (the P_0 = 0 edge)."""
    import datetime as dt

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.changepoint import (
        cusum_daily,
    )

    t0 = dt.datetime(2024, 1, 1)
    vals = {"a": [1.0, 1.0, 1.0, 5.0, 6.0, 7.0], "b": [9.0, 1.0, 1.0, 1.0]}
    rows = [
        (g, t0 + dt.timedelta(days=i, hours=3), v)
        for g, series in vals.items()
        for i, v in enumerate(series)
    ]
    e = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    slack_c, thresh_c = 50, 200
    out = {
        (r["event_type"], r["day"].day): r
        for r in cusum_daily(e, slack_cents=slack_c, threshold_cents=thresh_c).collect()
    }
    for g, series in vals.items():
        cents = [int(round(v * 100)) for v in series]
        n, total = len(cents), sum(cents)
        s = 0
        for i, x in enumerate(cents):
            d = x * n - total - slack_c * n
            s = max(0, s + d)
            r = out[(g, i + 1)]
            assert r["cusum"] == s / (100.0 * n), (g, i)
            assert r["is_change"] == (s > thresh_c * n), (g, i)


def test_expectations_detect_planted_violations(spark):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.quality_checks import (
        Check,
        run_checks,
    )

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "1-URGENT", 100),
            (1, "X", -5.0, "9-BAD", 999),     # dup key, bad status, neg, bad fmt, orphan
            (None, "F", 20.0, "2-HIGH x", 101),  # null key, trailing junk fails full-match
        ],
        "k long, status string, price double, prio string, fk long",
    )
    ref = spark.createDataFrame([(100,), (101,)], "rk long")
    out = {
        r["check_name"]: r
        for r in run_checks(
            df,
            [
                Check("k_not_null", "not_null", "k"),
                Check("k_unique", "unique", "k"),
                Check("status_ok", "accepted_values", "status", values=("O", "F")),
                Check("price_ok", "range", "price", lo=0.0),
                Check("prio_fmt", "regex", "prio", pattern="[1-5]-[A-Z]+"),
                Check("fk_ok", "ref_integrity", "fk", ref=ref, ref_col="rk"),
            ],
        ).collect()
    }
    expect = {
        "k_not_null": 1,
        "k_unique": 1,
        "status_ok": 1,
        "price_ok": 1,
        "prio_fmt": 2,
        "fk_ok": 1,
    }
    for name, n in expect.items():
        assert out[name]["n_violations"] == n, name
        assert out[name]["passed"] is False


def test_incremental_agg_merge_equals_full(spark):
    """Associativity/commutativity of the state algebra: any split of
    the facts, merged in any order, equals the full-table state."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.incremental_agg import (
        agg_state,
        finalize,
        merge_agg_state,
    )

    rows = [(i % 3, float(i) * 1.01) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v double")
    full = {r["k"]: r for r in finalize(agg_state(df, ["k"], "v")).collect()}
    a = agg_state(df.where("v < 33"), ["k"], "v")
    b = agg_state(df.where("v >= 33 and v < 66"), ["k"], "v")
    c = agg_state(df.where("v >= 66"), ["k"], "v")
    merged = finalize(merge_agg_state(merge_agg_state(c, a, ["k"]), b, ["k"]))
    got = {r["k"]: r for r in merged.collect()}
    assert got == full


def test_pmi_pairs_hand_computed(spark):
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.cooccur import (
        pmi_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y z"), (3, "z z q")],
        "doc_id long, text string",
    )
    out = {(r["term_a"], r["term_b"]): r for r in pmi_pairs(
        docs, window=2, min_pair_count=2, top_k=10
    ).collect()}
    # window=2, pos_a < pos_b <= pos_a+2:
    # doc1 pairs: (x,y)@(0,1),(x,x)@(0,2),(y,y)@(1,3),(y,x)@(1,2),(x,y)@(2,3) -> xy:3, xx:1, yy:1
    # doc2: (x,y),(x,z),(y,z); doc3: (z,z),(z,q),(z,q)
    assert out[("x", "y")]["pair_count"] == 4
    assert out[("q", "z")]["pair_count"] == 2
    assert ("x", "x") not in out  # below min_pair_count
    # totals: pairs P = 3+1+1 + 3 + 3 = 11, tokens T = 4+3+3 = 10
    r = out[("x", "y")]
    assert (r["count_a"], r["count_b"]) == (3, 3)
    expect = ((((4.0 * 10.0) * 10.0) / 11.0) / 3.0) / 3.0
    assert r["lift"] == expect


def test_observe_stage_metrics_ride_the_action(spark):
    """Observed metrics must match direct aggregation AND cost no extra
    job beyond the caller's own action."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.observability import (
        observe_stage,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 20.5)], "k long, v double"
    )
    inst, obs = observe_stage(df, "stage1", value_col="v", null_cols=("v",))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("observe_probe", "observe phase")
    rows = inst.collect()
    n_jobs = len(tracker.getJobIdsForGroup("observe_probe") or [])
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 3
    assert n_jobs == 1, "metrics must ride the single action"
    m = obs.get
    assert m["n_rows"] == 3
    assert m["sum_cents"] == 1000 + 2050
    assert m["nulls_v"] == 1
