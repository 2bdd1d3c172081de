"""Round-7 contracts: capped LSH buckets, sampled k-means training,
IVF hard negatives, the simhash band clamp, and the FLOOR'd scaled sum
(VERDICT_r06 items 2/3/4/5 + ADVICE_r06)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

# Import query modules ONLY via the registry (circular-import gotcha).
from amorphous_mapreduce_spark import queries_registry  # noqa: F401


def test_lsh_cap_bounds_neighbor_side(spark):
    """With every vector identical, all land in one bucket per band; a
    cap of 4 means only the 4 md5-lowest ids can ever appear as nid,
    while every vector still appears as qid."""
    from amorphous_mapreduce_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(1, 21)],
        "vec_id long, embedding array<double>",
    )
    out = lsh_candidate_pairs(emb, n_planes=8, band_bits=4, cap=4).collect()
    nids = {r["nid"] for r in out}
    qids = {r["qid"] for r in out}
    assert len(nids) <= 4
    assert qids == set(range(1, 21))
    # no self-pairs
    assert all(r["qid"] != r["nid"] for r in out)


def test_lsh_cap_superset_when_loose(spark):
    """A cap larger than any bucket reproduces the uncapped candidate
    set (as directed pairs)."""
    from amorphous_mapreduce_spark.operators.similarity import (
        lsh_candidate_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 3) - 1.0, 0.5 * i, -1.0 + 0.1 * i, 2.0]) for i in range(1, 13)],
        "vec_id long, embedding array<double>",
    )
    uncapped = {
        (r["qid"], r["nid"])
        for r in lsh_candidate_pairs(emb, n_planes=8, band_bits=4).collect()
    }
    capped = {
        (r["qid"], r["nid"])
        for r in lsh_candidate_pairs(
            emb, n_planes=8, band_bits=4, cap=1000
        ).collect()
    }
    # directed capped set == symmetrised uncapped set
    sym = uncapped | {(b, a) for a, b in uncapped}
    assert capped == sym


def test_kmeans_train_sample_identity(spark):
    """train_sample >= n must reproduce unsampled training exactly (the
    bottom-n-by-hash sample IS the corpus)."""
    from amorphous_mapreduce_spark.operators.kmeans import kmeans_assign

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7) % 5), float((i * 3) % 4), float(i % 3)])
            for i in range(1, 41)
        ],
        "vec_id long, embedding array<double>",
    )
    full = {
        (r["id"], r["cell"])
        for r in kmeans_assign(emb, k=4, iters=2).collect()
    }
    sampled = {
        (r["id"], r["cell"])
        for r in kmeans_assign(emb, k=4, iters=2, train_sample=4096).collect()
    }
    assert full == sampled


def test_kmeans_train_sample_smaller_trains_on_subset(spark):
    """A binding sample still assigns EVERY vector (full-corpus final
    pass) and yields at most k cells."""
    from amorphous_mapreduce_spark.operators.kmeans import kmeans_assign

    emb = spark.createDataFrame(
        [
            (i, [float((i * 7) % 5), float((i * 3) % 4), float(i % 3)])
            for i in range(1, 41)
        ],
        "vec_id long, embedding array<double>",
    )
    rows = kmeans_assign(emb, k=4, iters=2, train_sample=10).collect()
    assert {r["id"] for r in rows} == set(range(1, 41))
    assert len({r["cell"] for r in rows}) <= 4


def test_simhash_band_spec_clamps_nbands():
    from amorphous_mapreduce_spark.operators.dedup import simhash_band_spec

    spec = simhash_band_spec(61)  # ADVICE_r06: would make a 0-width band
    assert len(spec) == 60
    assert all(w >= 1 for _, _, w in spec)
    assert sum(w for _, _, w in spec) == 60
    # normal layouts unchanged
    spec13 = simhash_band_spec(13)
    assert len(spec13) == 13 and sum(w for _, _, w in spec13) == 60


def test_dsum_scaled_floor_negative(spark):
    """FLOOR discipline: a negative non-integer scaled sum floors (the
    DuckDB-parallel behavior) instead of Spark's truncate-toward-zero."""
    from amorphous_mapreduce_spark.functions.agg import dsum_scaled

    df = spark.createDataFrame(
        [(-1.005,), (-2.0,)], "v double"
    ).select(F.col("v").cast("decimal(12,3)").alias("v"))
    # sum = -3.005; *100 = -300.5; floor -> -301; /100 -> -3.01
    out = df.agg(dsum_scaled(F.col("v"), 2).alias("s")).collect()[0]["s"]
    assert out == -3.01


def test_ivf_hard_negatives_contract(spark, sf_dir):
    """Every mined negative is cross-label and each qid appears once."""
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["ivf_hard_negatives"](spark, sf_dir).collect()
    assert len(rows) > 0
    qids = [r["qid"] for r in rows]
    assert len(qids) == len(set(qids))
    assert all(r["qlabel"] != r["nlabel"] for r in rows)
    assert all(r["qid"] != r["nid"] for r in rows)


def test_ivf_hard_negative_recall_bounds(spark, sf_dir):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    row = QUERIES["ivf_hard_negative_recall"](spark, sf_dir).collect()[0]
    assert row["n_exact"] > 0
    assert 0 <= row["n_hits"] <= row["n_exact"]
    assert row["recall"] == pytest.approx(row["n_hits"] / row["n_exact"])


def test_assign_arrow_matches_declarative(spark):
    """The Arrow full-assign kernel must reproduce the declarative
    _assign exactly (same ordered-fold doubles, same tie-breaks)."""
    from amorphous_mapreduce_spark.operators.kmeans import (
        _assign,
        _assign_arrow,
        _quantize,
    )

    emb = spark.createDataFrame(
        [
            (i, [float((i * 13) % 7) - 3.0, float((i * 5) % 9), 0.25 * i])
            for i in range(1, 61)
        ],
        "vec_id long, embedding array<double>",
    )
    q = _quantize(emb).persist()
    # a centroid table with deliberate score ties (duplicate centroids)
    cents = spark.createDataFrame(
        [
            (3, [1000.0, 2000.0, 500.0]),
            (7, [1000.0, 2000.0, 500.0]),  # tie with cell 3 -> cell 3 wins
            (9, [-1000.0, 4000.0, 8000.0]),
        ],
        "cell long, cv array<double>",
    )
    decl = {
        (r["id"], r["cell"]) for r in _assign(q, cents).collect()
    }
    kern = {
        (r["id"], r["cell"])
        for r in _assign_arrow(q, cents).select("id", "cell").collect()
    }
    assert decl == kern
    assert all(c != 7 for _, c in kern)  # ties resolved to the lower cell
