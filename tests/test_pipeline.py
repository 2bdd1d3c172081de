"""Tests for the training-data pipeline operators (operators/pipeline.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.pipeline import (
    chunk_documents,
    decontaminate,
    pack_sequences,
    quality_rules,
    quantize_embeddings,
    source_mixing_weights,
    stratified_sample,
    stratified_topn,
    tfidf_top_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lang) for i, (t, lang) in enumerate(rows)]
    )


def _sourced(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, (t, s) in enumerate(rows)]
    )


def test_chunk_windows_cover_every_token(spark):
    # 10 tokens, chunk_size=4, stride=3 -> chunks at offsets 0,3,6,9
    text = " ".join(f"w{i}" for i in range(10))
    out = chunk_documents(
        _docs(spark, [(text, "en")]), chunk_size=4, stride=3
    ).orderBy("chunk_id")
    rows = out.collect()
    assert [r.chunk_id for r in rows] == [0, 1, 2, 3]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w3 w4 w5 w6"
    assert rows[3].chunk_text == "w9"  # tail chunk is partial
    # overlap: every interior token appears in ceil(chunk/stride)=2 chunks
    total = sum(r.n_tokens for r in rows)
    assert total == 10 + 3  # 3 overlap tokens (positions 3, 6, 9)


def test_chunking_is_partition_invariant(spark):
    docs = _docs(spark, [(" ".join(f"t{i}" for i in range(50)), "en")] * 3)
    a = chunk_documents(docs.repartition(1)).orderBy("id", "chunk_id").collect()
    b = chunk_documents(docs.repartition(7)).orderBy("id", "chunk_id").collect()
    assert a == b


def test_pack_sequences_offsets_are_cumulative(spark):
    docs = _docs(
        spark,
        [("a b c", "en"), ("d e", "en"), ("f", "en"), ("x y z w", "fr")],
    )
    out = {
        (r.lang, r.id): (r.n_tokens, r.tok_offset, r.bin)
        for r in pack_sequences(docs, ctx_len=4).collect()
    }
    assert out[("en", 0)] == (3, 0, 0)
    assert out[("en", 1)] == (2, 3, 0)
    assert out[("en", 2)] == (1, 5, 1)  # crosses into the 2nd context
    assert out[("fr", 3)] == (4, 0, 0)  # strata are independent streams


def test_stratified_sample_deterministic_and_subset(spark, sf_dir):
    from amorphous_mapreduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r.id for r in stratified_sample(docs, rate_pct=10).collect())
    b = sorted(r.id for r in stratified_sample(docs, rate_pct=10).collect())
    assert a == b and len(a) > 0
    wider = {r.id for r in stratified_sample(docs, rate_pct=50).collect()}
    assert set(a) <= wider  # hash-mod sampling nests by construction


def test_stratified_topn_exact_counts(spark, sf_dir):
    from amorphous_mapreduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_topn(docs, n=3)
    per = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(3, sizes[lang])
    assert set(r.rnk for r in out.collect()) <= {1, 2, 3}


def test_tfidf_ranks_distinctive_terms_first(spark):
    docs = _docs(
        spark,
        [
            ("common rare1 rare1 common", "en"),
            ("common rare2 common", "en"),
            ("common rare3", "en"),
        ],
    )
    out = tfidf_top_terms(docs, k=1).collect()
    # 'common' appears in every doc (df=3, idf=1) so its score equals its
    # tf; each rareN has idf=3, beating it in every doc.
    assert {r.word for r in out} == {"rare1", "rare2", "rare3"}
    assert all(r.rnk == 1 for r in out)


def test_quality_rules_flag_degenerate_docs(spark):
    long_good = " ".join(f"w{i}" for i in range(40))
    repeated = " ".join(["spam ham"] * 20)  # top bigram dominates
    short = "tiny doc"
    docs = _docs(spark, [(long_good, "en"), (repeated, "en"), (short, "en")])
    out = {r.id: r for r in quality_rules(docs).collect()}
    assert out[0].rules_pass  # 40 distinct words, no repetition
    assert not out[1].rules_pass  # uniq_frac 2/40, top bigram ~half
    assert out[1].top_bigram_frac == pytest.approx(20 / 39)
    assert out[1].uniq_frac == pytest.approx(2 / 40)
    assert not out[2].rules_pass  # below min_words
    assert out[2].top_bigram_frac == pytest.approx(1 / 1)
    assert out[0].mean_wlen == pytest.approx(
        sum(len(f"w{i}") for i in range(40)) / 40
    )


def test_decontaminate_flags_overlapping_training_docs(spark):
    # doc 0 is the eval doc; doc 1 copies a 6-token span of it (4 shared
    # 3-shingles); doc 2 shares nothing.
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _sourced(
        spark,
        [
            (eval_text, "eval"),
            ("xx alpha beta gamma delta epsilon zeta yy", "train"),
            ("one two three four five six seven", "train"),
        ],
    )
    out = {
        r.id: r.n_shared
        for r in decontaminate(docs, "eval", min_shared=3).collect()
    }
    assert out == {1: 4}
    # a stricter threshold drops it; eval docs are never flagged
    assert decontaminate(docs, "eval", min_shared=5).count() == 0


def test_source_mixing_weights_shares_sum_to_one(spark):
    import math

    docs = _sourced(
        spark,
        [("a b c d", "web"), ("e f", "web"), ("g h i", "books"), ("", "empty")],
    )
    rows = {r.source: r for r in source_mixing_weights(docs).collect()}
    # the all-empty source has no tokens and is absent (consistent with
    # the SQL oracle's inner join against toks)
    assert set(rows) == {"web", "books"}
    assert (rows["web"].n_docs, rows["web"].n_tokens) == (2, 6)
    assert (rows["books"].n_docs, rows["books"].n_tokens) == (1, 3)
    assert abs(sum(r.tok_share for r in rows.values()) - 1.0) < 1e-12
    assert rows["web"].w_sqrt == math.sqrt(6.0)


def test_quantize_audit_matches_numpy(spark):
    import numpy as np

    vecs = [
        [0.5, -1.0, 0.25, 1.0],
        [2.0, 0.0, -2.0, 1.0],
        [0.0, 0.0, 0.0, 0.0],  # zero vector is filtered out
    ]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vecs)]
    )
    got = {r.id: (r.scale, r.n_sat, r.q_sum) for r in quantize_embeddings(emb).collect()}
    assert set(got) == {0, 1}
    for i in (0, 1):
        v = np.array(vecs[i], dtype=np.float64)
        scale = np.abs(v).max()
        q = np.trunc(v / scale * 127.0).astype(np.int64)
        assert got[i][0] == scale
        assert got[i][1] == int((np.abs(q) == 127).sum())
        assert got[i][2] == int(q.sum())


def test_importance_sample_respects_quality_weighting(spark):
    from amorphous_mapreduce_spark.operators.pipeline import importance_sample
    from amorphous_mapreduce_spark.operators.text_analysis import doc_stats

    rows = [(i, " ".join(f"w{j}" for j in range(60)) + " the a of") for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r.id for r in importance_sample(docs, base_rate=0.5).collect()}
    q = {r.id: r.quality for r in doc_stats(docs).collect()}
    # every kept doc satisfies the predicate; every excluded one fails it
    import hashlib

    def coin(i):
        return int(hashlib.md5(f"imp_{i}".encode()).hexdigest()[:15], 16) / 2**60

    for i, quality in q.items():
        assert (coin(i) < 0.5 * quality) == (i in kept)
    # nesting: a lower base rate keeps a subset
    narrower = {r.id for r in importance_sample(docs, base_rate=0.25).collect()}
    assert narrower <= kept


def test_quality_rule_cofire_bounds(spark):
    from amorphous_mapreduce_spark.queries.pipeline_queries import (
        q_quality_rule_cofire,
    )

    rows = q_quality_rule_cofire(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert r.rule_a < r.rule_b
        assert 0 < r.n_both <= min(r.n_a, r.n_b)
        assert r.lift > 0
