"""Round-9 optimization equivalence tests.

Round 9 A/B-measured a pandas-UDF cosine against the expression form on
the lsh_topk re-rank; the expression form with precomputed norms won and
was restored. This pins that lsh_topk's re-rank matches a from-scratch
cosine re-rank of its own candidates (precomputed norms == per-pair
norms, bit-exact).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amorphous_mapreduce_spark.queries_registry import QUERIES  # noqa: F401  (import order)
from amorphous_mapreduce_spark.functions.vectors import cosine_similarity


def test_lsh_topk_rerank_matches_fresh_cosine(spark, sf_dir):
    from amorphous_mapreduce_spark.operators.similarity import (
        lsh_candidate_pairs,
        lsh_topk,
    )
    from amorphous_mapreduce_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["qid"], r["rnk"]): (r["nid"], r["sim"])
        for r in lsh_topk(emb, k=3, n_planes=32, band_bits=4).collect()
    }
    # reference: re-rank the same candidates with per-pair expression
    # cosine (no precomputed norms) — must agree bit-for-bit
    from pyspark.sql import Window

    cands = lsh_candidate_pairs(emb, 32, 4)
    sym = cands.unionByName(
        cands.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"))
    )
    v = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    scored = (
        sym.join(v.toDF("qid", "qv"), "qid")
        .join(v.toDF("nid", "nv"), "nid")
        .select("qid", "nid", cosine_similarity("qv", "nv").alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    ref = {
        (r["qid"], r["rnk"]): (r["nid"], r["sim"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .collect()
    }
    assert got == ref
