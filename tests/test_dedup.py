from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingles,
    simhash,
    simhash_near_pairs,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the  quick brown fox jumps over the lazy dog "),  # dup modulo norm
    (3, "The quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (4, "completely different content about spark engines"),
    (5, "The quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    rows = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    # 1, 2, 5 normalise to identical content -> keeper 1 with 3 copies.
    assert rows[1] == 3
    assert rows[3] == 1 and rows[4] == 1


def test_exact_dedup_idempotent(spark, docs):
    once = exact_dedup(docs)
    keepers = once.select(F.col("keeper_id").alias("doc_id"))
    survivors = docs.join(keepers, "doc_id")
    twice = exact_dedup(survivors)
    assert twice.filter(F.col("n_copies") > 1).count() == 0


def test_minhash_identical_signatures(docs):
    sigs = minhash_signatures(docs, num_hashes=8)
    s1 = {r["hid"]: r["mh"] for r in sigs.filter(F.col("id") == 1).collect()}
    s2 = {r["hid"]: r["mh"] for r in sigs.filter(F.col("id") == 2).collect()}
    assert s1 == s2  # normalised duplicates hash identically


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["qid"], r["nid"]) for r in minhash_lsh_pairs(docs, 16, 4).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs


def test_jaccard_exact_values(docs):
    got = {
        (r["qid"], r["nid"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert got[(1, 2)] == pytest.approx(1.0)
    assert got[(1, 5)] == pytest.approx(1.0)
    # docs 1 and 3 share 6 of their 7 trigrams each: J = 6/8
    assert got[(1, 3)] == pytest.approx(6 / 8)
    assert (1, 4) not in got  # no shared shingles


def test_shingle_count(docs):
    # 9-token doc -> 7 distinct trigrams
    n = shingles(docs).filter(F.col("id") == 1).count()
    assert n == 7


def test_simhash_dups_and_distance(docs):
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fps[1] == fps[2] == fps[5]
    near = {
        (r["qid"], r["nid"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=60).collect()
    }
    assert near[(1, 2)] == 0
    # near-dup (one word differs) must be closer than unrelated content
    assert near[(1, 3)] < near[(1, 4)]


def test_dedup_ops_on_empty_input(spark):
    from amorphous_mapreduce_spark.operators.curation import curate_corpus

    empty = spark.createDataFrame([], "doc_id long, text string, lang string, source string")
    assert exact_dedup(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert simhash(empty).count() == 0
    assert jaccard_pairs(empty).count() == 0
    assert curate_corpus(empty).count() == 0


def test_jaccard_hot_shingle_cap(spark):
    # 10 docs sharing ONE stopword-like shingle; tails pairwise disjoint.
    # Uncapped: every pair is a candidate (the hot shingle fans out to
    # C(10,2)=45 pairs). Capped at df<=5 the hot shingle is dropped from
    # the vocabulary, so no pair shares any shingle at all.
    rows = [(i, f"common stop word u{i}x u{i}y") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = jaccard_pairs(docs, threshold=0.0)
    capped = jaccard_pairs(docs, threshold=0.0, max_df=5)
    assert uncapped.count() == 45
    assert capped.count() == 0


def test_jaccard_cap_above_max_df_is_identity(docs):
    # A cap larger than any shingle's df must not change results.
    base = {
        (r["qid"], r["nid"]): (r["inter"], r["union_sz"])
        for r in jaccard_pairs(docs, threshold=0.0).collect()
    }
    capped = {
        (r["qid"], r["nid"]): (r["inter"], r["union_sz"])
        for r in jaccard_pairs(docs, threshold=0.0, max_df=1000).collect()
    }
    assert base == capped


def test_prefix_pairs_match_brute_force(spark):
    # Lossless guarantee: prefix-filtered result == brute-force all-pairs
    # result at the same threshold, on a corpus with real near-dups AND a
    # hot shingle shared by everything.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),      # near-dup of 1
        (3, "alpha beta gamma delta epsilon zeta"),     # exact dup of 1
        (4, "one two three four five six seven"),
        (5, "one two three four five six eight"),       # near-dup of 4
        (6, "totally unrelated content goes right here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    brute = {
        (r["qid"], r["nid"]): (r["inter"], r["union_sz"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r["qid"], r["nid"]): (r["inter"], r["union_sz"])
        for r in jaccard_prefix_pairs(docs).collect()
    }
    assert pref == brute
    assert (1, 3) in pref  # exact dup survives at any threshold


def test_prefix_pairs_prunes_hot_shingle(spark):
    # Ten docs sharing ONE stopword-like shingle with pairwise-disjoint
    # tails: no pair reaches Jaccard 0.5, and the hot shingle (df=10)
    # sorts last in the (df, sh) order so prefixes exclude it — the
    # candidate join generates nothing, unlike the uncapped inverted
    # index which fans out to C(10,2) candidates.
    rows = [(i, f"common stop word u{i}x u{i}y") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert jaccard_prefix_pairs(docs).count() == 0


def test_snm_blocking_scorecard(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["snm_vs_lsh_blocking"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_snm_candidates > 0
    assert r.n_lsh_candidates > 0
    assert r.n_snm_lsh_common <= min(r.n_snm_candidates, r.n_lsh_candidates)
    if r.n_exact_dup_pairs:
        # exact copies share both prefix keys and all shingles: both
        # blockers should recall them perfectly on this fixture
        assert r.snm_recall_exact == 1.0
        assert r.lsh_recall_exact == 1.0


def test_dedup_venn_inclusion(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["dedup_method_venn"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_min_sim <= min(r.n_minhash, r.n_simhash)
    assert r.n_min_emb <= min(r.n_minhash, r.n_embedding)
    assert r.n_sim_emb <= min(r.n_simhash, r.n_embedding)
    assert r.n_all_three <= min(r.n_min_sim, r.n_min_emb, r.n_sim_emb)


def test_simhash_capped_topm_contract(docs):
    from amorphous_mapreduce_spark.operators.dedup import simhash_capped_topm

    rows = simhash_capped_topm(docs, max_hamming=60, m=2, cap=8).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in per_doc.items():
        # at most m rows, ranks 1..len, ordered by (hamming, neighbor_id)
        assert len(rs) <= 2
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        keys = [(r["hamming"], r["neighbor_id"]) for r in rs]
        assert keys == sorted(keys)
        assert all(r["neighbor_id"] != doc_id for r in rs)
    # exact dups (hamming 0) are each other's top neighbors: doc 1's
    # rank-1 neighbor is 2 (lowest id among the 0-distance twins)
    top1 = {d: rs[0] for d, rs in per_doc.items()}
    assert top1[1]["neighbor_id"] == 2 and top1[1]["hamming"] == 0
    assert top1[2]["neighbor_id"] == 1 and top1[2]["hamming"] == 0


def test_simhash_capped_topm_cap_bounds_candidates(spark):
    from amorphous_mapreduce_spark.operators.dedup import simhash_capped_topm

    # 20 identical docs: every band bucket holds all 20, but with cap=4
    # only ids 1..4 can ever be returned as neighbors.
    docs = spark.createDataFrame(
        [(i, "same text everywhere") for i in range(1, 21)],
        ["doc_id", "text"],
    )
    out = simhash_capped_topm(docs, max_hamming=12, m=3, cap=4).collect()
    assert {r["neighbor_id"] for r in out} <= {1, 2, 3, 4}
    # every probe doc still finds neighbors (probing is uncapped)
    assert {r["doc_id"] for r in out} == set(range(1, 21))
