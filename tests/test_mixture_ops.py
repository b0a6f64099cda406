"""Semantic properties of the data-mixture operators
(temperature_mix_lang, quality_funnel_documents, token_budget_trim) —
the oracle gate pins bit-parity; these pin the math MEANING."""

from __future__ import annotations

import math

import pytest

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.data_ops import (
    quality_funnel_documents,
    temperature_mix_lang,
    token_budget_trim,
    unigram_fluency_documents,
)


@pytest.fixture(scope="module")
def mix_rows(spark, sf_dir):
    return {r.lang: r for r in temperature_mix_lang(spark, sf_dir).collect()}


def test_temperature_mix_is_a_distribution(mix_rows):
    assert math.isclose(sum(r.p_raw for r in mix_rows.values()), 1.0, rel_tol=1e-12)
    # q sums to 1 up to the 1e-9 weight quantization
    assert math.isclose(sum(r.q_temp for r in mix_rows.values()), 1.0, abs_tol=1e-8)


def test_temperature_flattens_toward_uniform(mix_rows):
    """τ=0.5 must up-weight low-resource languages and down-weight the
    dominant one, without reordering: q keeps p's ranking but is
    strictly closer to uniform."""
    rows = sorted(mix_rows.values(), key=lambda r: r.p_raw)
    lo, hi = rows[0], rows[-1]
    assert hi.p_raw > lo.p_raw  # data premise: skewed mixture
    assert hi.sample_weight < 1.0 < lo.sample_weight
    # ranking preserved
    assert [r.lang for r in sorted(rows, key=lambda r: r.q_temp)] == [
        r.lang for r in rows
    ]
    # strictly flatter: max/min ratio shrinks
    assert hi.q_temp / lo.q_temp < hi.p_raw / lo.p_raw
    # and the exact exponent: q ∝ sqrt(p)
    assert math.isclose(
        hi.q_temp / lo.q_temp, math.sqrt(hi.p_raw / lo.p_raw), rel_tol=1e-6
    )


def test_quality_funnel_is_monotone_chain(spark, sf_dir):
    rows = {r.stage: r for r in quality_funnel_documents(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    n0 = rows[1].n_in
    for k in range(1, 6):
        r = rows[k]
        assert r.n_out <= r.n_in
        assert r.n_dropped == r.n_in - r.n_out
        assert math.isclose(r.survival, r.n_out / n0, rel_tol=1e-12)
        if k > 1:
            assert r.n_in == rows[k - 1].n_out  # stages chain, no gaps


def test_token_budget_trim_keeps_maximal_hash_prefix(spark, sf_dir):
    """Each source's kept set must be exactly the longest prefix of its
    md5-ordered documents whose token total fits the 800 budget — no
    doc skipped mid-prefix, and no further doc addable."""
    import hashlib

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    kept = token_budget_trim(spark, sf_dir).collect()
    by_source = {}
    for r in kept:
        by_source.setdefault(r.source, []).append(r)
        assert r.cum_tokens <= 800

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    full = {}
    for d in docs:
        n_tok = len([t for t in (d.text or "").lower().split() if t])
        h = hashlib.md5(str(d.doc_id).encode()).hexdigest()
        full.setdefault(d.source, []).append((h, d.doc_id, n_tok))
    for source, rows in full.items():
        rows.sort()
        cum, prefix = 0, []
        for h, doc_id, n_tok in rows:
            cum += n_tok
            if cum > 800:
                break
            prefix.append(doc_id)
        got = sorted(r.doc_id for r in by_source.get(source, []))
        assert got == sorted(prefix), f"{source}: kept set is not the maximal prefix"


def test_mixture_sample_is_exact_hash_thresholding(spark, sf_dir, mix_rows):
    """The sampler must keep exactly the docs whose md5-derived uniform
    falls under min(1, 0.5·sample_weight) for their language — a full
    recompute, not a statistical check — and must up-sample low-resource
    languages relative to the dominant one."""
    import hashlib

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.data_ops import (
        mixture_sample_documents,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    kept = {r.doc_id for r in mixture_sample_documents(spark, sf_dir).collect()}
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    weights = {lang: r.sample_weight for lang, r in mix_rows.items()}
    expect, per_lang = set(), {}
    for d in docs:
        u = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16) / 4294967296.0
        if u < min(1.0, 0.5 * weights[d.lang]):
            expect.add(d.doc_id)
        tot, k = per_lang.get(d.lang, (0, 0))
        per_lang[d.lang] = (tot + 1, k + (d.doc_id in kept))
    assert kept == expect
    rates = {lang: k / tot for lang, (tot, k) in per_lang.items()}
    dominant = max(per_lang, key=lambda lang: per_lang[lang][0])
    assert all(rates[lang] >= rates[dominant] for lang in rates)


def test_compression_quality_matches_direct_zlib(spark, sf_dir):
    """The Arrow-batched scorer must equal direct zlib on every doc,
    and a repetitive text must compress better than natural text."""
    import zlib

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.text import (
        compression_quality,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    d = read_table(spark, sf_dir, "documents")
    got = {r.doc_id: r for r in compression_quality(d).collect()}
    for doc in d.select("doc_id", "text").collect():
        raw = (doc.text or "").encode("utf-8")
        r = got[doc.doc_id]
        assert r.n_bytes == len(raw)
        if raw:
            assert r.compressed_bytes == len(zlib.compress(raw, 6))
            assert r.compression_ratio == pytest.approx(
                len(zlib.compress(raw, 6)) / len(raw), rel=0
            )
        else:
            assert r.compression_ratio is None
    rep = spark.createDataFrame(
        [(1, "spam " * 400), (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(400)))],
        "doc_id long, text string",
    )
    s = {r.doc_id: r.compression_ratio for r in compression_quality(rep).collect()}
    assert s[1] < s[2]


def test_corpus_snapshot_diff_partitions_ids_correctly(spark, sf_dir):
    """Every id lands in exactly the status its snapshot membership
    dictates: added = in new only, removed = in old only, changed =
    recrawled ids present in both; nothing else leaks through."""
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans.data_ops import (
        corpus_snapshot_diff,
    )
    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    got = {r.doc_id: r.status for r in corpus_snapshot_diff(spark, sf_dir).collect()}
    ids = [
        r.doc_id
        for r in read_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    for i in ids:
        in_old, in_new = i % 10 != 3, i % 10 != 7
        if in_new and not in_old:
            expect = "added"
        elif in_old and not in_new:
            expect = "removed"
        elif in_old and in_new and i % 7 == 0:
            expect = "changed"
        else:
            expect = None  # unchanged rows are filtered out
        assert got.get(i) == expect, i
    assert set(got.values()) == {"added", "removed", "changed"}


def test_unigram_fluency_matches_naive_recompute(spark, sf_dir):
    """The hot/cold vocabulary split is a physical strategy only — the
    score must equal a single-process recomputation of mean quantized
    unigram probability, and stopword-rich docs must outrank
    rare-token docs."""
    from collections import Counter

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.sources.readers import (
        read_table,
    )

    got = {r.doc_id: r for r in unigram_fluency_documents(spark, sf_dir).collect()}
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    tok = {
        d.doc_id: [t for t in (d.text or "").lower().split() if t] for d in docs
    }
    vocab = Counter(t for ts in tok.values() for t in ts)
    total = sum(vocab.values())
    q = {t: math.floor(c / total * 1e12) for t, c in vocab.items()}
    for doc_id, ts in tok.items():
        r = got[doc_id]
        assert r.n_tokens == len(ts)
        if ts:
            expect = (float(sum(q[t] for t in ts)) / len(ts)) / 1e12
            assert r.fluency == pytest.approx(expect, rel=1e-12), doc_id
        else:
            assert r.fluency is None
    scores = [r.fluency for r in got.values() if r.fluency is not None]
    assert all(0.0 < s <= 1.0 for s in scores)


def test_bigram_fluency_matches_python_and_orders_sequences(spark):
    """Differential: Spark bigram fluency == plain-Python reference on a
    fixture; and a doc whose bigrams the corpus has seen outranks a doc
    with the SAME tokens in corpus-unseen order (what unigram can't do)."""
    import math

    from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.plans import (
        data_ops,
    )

    rows = [
        (1, "a b a b a b"),
        (2, "a b a b c d"),
        (3, "b a b a b a"),  # same tokens as 1, reversed order
        (4, "c d c d"),
        (5, "x"),  # too short for a bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["doc_id"]: r
            for r in data_ops.bigram_fluency_documents(spark, td).collect()
        }

    # python reference
    toks = {i: t.lower().split() for i, t in rows}
    uni: dict[str, int] = {}
    big: dict[tuple, int] = {}
    for v in toks.values():
        for w in v:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(v, v[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    V = len(uni)
    for i, v in toks.items():
        ps = [
            math.floor((big[(a, b)] + 1) / (uni[a] + V) * 1e12)
            for a, b in zip(v, v[1:])
        ]
        assert got[i]["n_bigrams"] == len(ps)
        if ps:
            assert math.isclose(
                got[i]["fluency"], (sum(ps) / len(ps)) / 1e12, rel_tol=1e-12
            )
        else:
            assert got[i]["fluency"] is None
    # "a b" dominates the corpus: doc 1 ("a b a b a b") must outscore
    # doc 3 (same tokens, order the corpus has seen less)
    assert got[1]["fluency"] > got[3]["fluency"]
