from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from amorphous_mapreduce_spark.functions.vectors import cosine_similarity
from amorphous_mapreduce_spark.operators.similarity import (
    cosine_near_dup_blocked,
    cosine_pairs,
    cosine_topk,
    lsh_candidate_pairs,
    lsh_topk,
)

SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _emb_df(spark, vecs: np.ndarray):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, SCHEMA)


def test_cosine_identical_vectors_score_one(spark):
    # Planted identical vectors must top at cosine 1.0 (SURVEY.md §5).
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(20, 16)).astype(np.float32)
    vecs[7] = vecs[3]  # plant a duplicate
    df = _emb_df(spark, vecs)
    top1 = {
        r["qid"]: (r["nid"], r["sim"])
        for r in cosine_topk(df, k=1).collect()
    }
    assert top1[3][0] == 7 and top1[3][1] == pytest.approx(1.0)
    assert top1[7][0] == 3 and top1[7][1] == pytest.approx(1.0)


def test_blocked_near_dup_matches_brute_force(spark):
    # blocked tiling must emit exactly the brute-force pairs, each once,
    # regardless of how ids land in blocks
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    vecs[11] = vecs[2] + 0.01 * rng.normal(size=8).astype(np.float32)
    vecs[30] = vecs[25]  # exact dup pair
    df = _emb_df(spark, vecs)
    thr = 0.6
    brute = {
        (r["qid"], r["nid"]): r["sim"]
        for r in cosine_pairs(df)
        .filter((F.col("qid") < F.col("nid")) & (F.col("sim") > thr))
        .collect()
    }
    for n_blocks in (1, 4, 16):
        blocked = {
            (r["qid"], r["nid"]): r["sim"]
            for r in cosine_near_dup_blocked(df, thr, n_blocks=n_blocks).collect()
        }
        assert set(blocked) == set(brute)
        for k in brute:
            assert blocked[k] == pytest.approx(brute[k], abs=1e-12)
    assert (25, 30) in brute


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(1)
    a, b = rng.normal(size=16), rng.normal(size=16)
    df = spark.createDataFrame(
        [([float(x) for x in a], [float(y) for y in b])], ["va", "vb"]
    )
    got = df.select(cosine_similarity("va", "vb").alias("sim")).first()["sim"]
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert got == pytest.approx(want, rel=1e-12)


def test_lsh_finds_planted_duplicate(spark):
    # An exact duplicate matches every hyperplane sign, hence every band:
    # LSH must always produce it as a candidate.
    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    vecs[11] = vecs[5]
    df = _emb_df(spark, vecs)
    pairs = {
        (r["qid"], r["nid"])
        for r in lsh_candidate_pairs(df, n_planes=16, band_bits=4).collect()
    }
    assert (5, 11) in pairs
    top1 = {r["qid"]: r["nid"] for r in lsh_topk(df, k=1, n_planes=16, band_bits=4).collect()}
    assert top1[5] == 11 and top1[11] == 5


def test_lsh_recall_floor(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["qid"], r["nid"]) for r in cosine_topk(emb, k=3).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in lsh_topk(emb, k=3, n_planes=32, band_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall@3 too low: {recall:.2f}"


def test_lsh_determinism(spark):
    rng = np.random.default_rng(4)
    df = _emb_df(spark, rng.normal(size=(30, 16)).astype(np.float32))
    a = sorted(map(tuple, lsh_topk(df, k=2, n_planes=16, band_bits=4).collect()))
    b = sorted(map(tuple, lsh_topk(df, k=2, n_planes=16, band_bits=4).collect()))
    assert a == b  # MD5-derived hyperplanes: no RNG state anywhere


def test_ivf_finds_planted_duplicate(spark):
    import numpy as np

    from amorphous_mapreduce_spark.operators.similarity import (
        ivf_topk,
        ivf_trained_ranked,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    vecs[11] = vecs[5]  # identical vector -> identical cell assignment
    df = _emb_df(spark, vecs)
    ranked = ivf_trained_ranked(df, n_cells=4, max_rank=2)
    top1 = {r["qid"]: r["nid"] for r in ivf_topk(ranked, k=1, n_probe=2).collect()}
    assert top1[5] == 11 and top1[11] == 5


def test_ivf_recall_floor(spark, sf_dir):
    from amorphous_mapreduce_spark.operators.similarity import (
        ivf_topk,
        ivf_trained_ranked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["qid"], r["nid"]) for r in cosine_topk(emb, k=3).collect()}
    ranked = ivf_trained_ranked(emb, n_cells=8, max_rank=4)
    approx = {
        (r["qid"], r["nid"])
        for r in ivf_topk(ranked, k=3, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall@3 too low: {recall:.2f}"


def test_similarity_ops_on_empty_input(spark):
    from amorphous_mapreduce_spark.operators.similarity import (
        adaptive_cells,
        ivf_topk,
        ivf_trained_ranked,
    )

    empty = spark.createDataFrame([], SCHEMA)
    assert cosine_topk(empty, k=3).count() == 0
    assert lsh_topk(empty, k=3, n_planes=8, band_bits=4).count() == 0
    ranked = ivf_trained_ranked(empty, n_cells=4, max_rank=2)
    assert ivf_topk(ranked, k=3, n_probe=2).count() == 0
    # The registered IVF queries pass n_cells=None, so an empty corpus
    # reaches adaptive_cells(0): the 16-cell floor, as the oracle's
    # length(bin(n)) - 1 form gives, and an empty ranking.
    assert adaptive_cells(0) == 16
    assert ivf_trained_ranked(empty, n_cells=None).count() == 0


def test_blocked_topk_equals_rowwise(spark):
    from amorphous_mapreduce_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blocked,
    )

    rng = np.random.default_rng(42)
    df = _emb_df(spark, rng.normal(size=(80, 16)).astype(np.float32))
    a = {
        (r["qid"], r["rnk"]): (r["nid"], r["sim"])
        for r in cosine_topk(df, k=4).collect()
    }
    b = {
        (r["qid"], r["rnk"]): (r["nid"], r["sim"])
        for r in cosine_topk_blocked(df, k=4, n_blocks=5).collect()
    }
    # identical membership, ranks AND bit-identical sims (ordered rank-1
    # accumulation == ordered left fold)
    assert a == b


def test_blocked_topk_small_blocks(spark):
    # more blocks than rows: some blocks empty/singleton; still exact
    from amorphous_mapreduce_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blocked,
    )

    rng = np.random.default_rng(7)
    df = _emb_df(spark, rng.normal(size=(7, 8)).astype(np.float32))
    a = {(r["qid"], r["rnk"]): r["nid"] for r in cosine_topk(df, k=3).collect()}
    b = {
        (r["qid"], r["rnk"]): r["nid"]
        for r in cosine_topk_blocked(df, k=3, n_blocks=16).collect()
    }
    assert a == b


def test_quantization_recall_histogram(spark, sf_dir):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["quantization_recall"](spark, sf_dir).collect()
    assert rows
    total = sum(r.n_queries for r in rows)
    assert total == 32  # the fixed panel size
    for r in rows:
        assert 0 <= r.overlap_at_5 <= 5
    # int8 quantization should preserve most of the top-5 neighborhood
    weighted = sum(r.overlap_at_5 * r.n_queries for r in rows) / (5 * total)
    assert weighted > 0.5


def test_mmr_greedy_properties(spark):
    from amorphous_mapreduce_spark.queries.similarity_queries import (
        q_mmr_diverse_retrieval,
    )

    rows = sorted(
        q_mmr_diverse_retrieval(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, 9))
    assert len({r.id for r in rows}) == 8
    # first pick is pure relevance
    assert rows[0].mmr_q == rows[0].score_q
    # later picks are distinct ids (the penalty term can be negative on
    # near-orthogonal random vectors, so no mmr<=score bound is asserted)
    picked = [rows[0].id]
    for r in rows[1:]:
        assert r.id not in picked
        picked.append(r.id)


def test_ivf_trained_ranked_contract(spark):
    import numpy as np

    from amorphous_mapreduce_spark.operators.similarity import ivf_trained_ranked

    rng = np.random.default_rng(7)
    df = _emb_df(spark, rng.normal(size=(40, 16)).astype(np.float32))
    ranked = ivf_trained_ranked(df, n_cells=4, max_rank=3).collect()
    per_id = {}
    for r in ranked:
        per_id.setdefault(r["id"], []).append(r)
    cells = {r["cell"] for r in ranked}
    assert 1 <= len(cells) <= 4
    assert set(per_id) == set(range(40))
    for vid, rs in per_id.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rs) + 1))  # dense ranks from 1
        assert len({r["cell"] for r in rs}) == len(rs)  # distinct cells
