"""Similarity-search queries over ``embeddings`` (north-star extension).

Scores are E·Eᵀ — the reference's outer-product applied to real vectors.
Dot products are ordered double folds on both engines (verified bit-exact
against DuckDB's list_dot_product), so no rounding is needed and top-k
membership is deterministic (tie-break nid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.vectors import l2_norm
from amorphous_mapreduce_spark.operators.kmeans import KM_TRAIN_N
from amorphous_mapreduce_spark.operators.similarity import (
    adaptive_band_bits,
    cosine_near_dup_blocked,
    cosine_topk_blocked,
    ivf_topk,
    lsh_topk,
)
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.queries.kmeans_queries import (
    _QD,
    _assign_cte,
    _centroid_cte,
)
from amorphous_mapreduce_spark.sources import load_table

_DOT = "list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])"
_COS = (
    _DOT.format(a="a", b="b")
    + " / (sqrt("
    + _DOT.format(a="a", b="a")
    + ") * sqrt("
    + _DOT.format(a="b", b="b")
    + "))"
)

NORMS_ORACLE = """
SELECT vec_id,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
       label
FROM embeddings
"""


@register("embedding_norms", NORMS_ORACLE)
def q_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via ordered fold (VecOp analog, src/op.rs:66-106)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", l2_norm("embedding").alias("norm"), "label")


TOPK_ORACLE = f"""
WITH pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id <> b.vec_id
)
SELECT qid, nid, sim, rnk FROM (
    SELECT qid, nid, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
    FROM pairs
)
WHERE rnk <= 5
"""


@register("similarity_topk", TOPK_ORACLE)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per vector via the BLOCKED outer-product path
    (reference G3/G6 tiling): O(b²) block-pair crossJoin + per-tile rank-1
    accumulation kernel, n·b·k candidate rows out — not an O(n²) row
    cartesian. Still exact; at 100 TB prefer similarity_lsh_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_blocked(emb, k=5, n_blocks=16)


NEARDUP_ORACLE = f"""
SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND {_COS} > 0.45
"""


@register("embedding_near_dup", NEARDUP_ORACLE)
def q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above threshold — exact, via
    the blocked E·Eᵀ tiling (upper-triangle block pairs only, shuffle
    out of the kernel tracks the answer size, never n²)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_blocked(emb, threshold=0.45)


# --- ANN oracles ----------------------------------------------------------
# The ANN paths are APPROXIMATE relative to exact top-k, but they are
# fully DETERMINISTIC (md5-derived hyperplanes/seeds, ordered-fold dots
# bit-identical to list_dot_product), so the whole pipeline is replayable
# in SQL and hash-checkable — no rows-only escape hatch needed.

_COS_AB = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

# operators.similarity.hyperplane_signatures replayed in SQL: plane p's
# ±1 component at dim d = md5("lsh_{p}_{d}") parity (same bytes hashed as
# _plane_sign), bit = sign of the ordered-fold projection, adaptive-width
# bands, neighbor-side bucket cap 128 (mirrored in the lshcapped CTE).
LSH_BUCKET_CAP = 128

LSH_CTES = f"""
planes AS (
    SELECT p.range AS p,
           list_transform(range((SELECT len(embedding) FROM embeddings LIMIT 1)),
               d -> CASE WHEN CAST('0x' || substr(md5('lsh_' || p.range || '_' || d), 1, 15)
                              AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS pl
    FROM range(32) p
), lshbits AS (
    SELECT e.vec_id AS id, p.p,
           CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pl) >= 0
                THEN '1' ELSE '0' END AS bit
    FROM embeddings e, planes p
), lshnb AS (
    -- adaptive band width: floor(log2 n) - 6 clamped to [4, 16] keeps
    -- expected bucket occupancy ~64 at ANY corpus size (linear total
    -- candidates; see operators.similarity.adaptive_band_bits)
    SELECT LEAST(16, GREATEST(4, length(bin(COUNT(*))) - 7)) AS b
    FROM embeddings
), lshbuckets AS (
    SELECT id, p // nb.b AS band, string_agg(bit, '' ORDER BY p) AS sig
    FROM lshbits CROSS JOIN lshnb nb GROUP BY id, p // nb.b
), lshcapped AS (
    -- neighbor-side bucket cap (128, md5-ordered): hot band signatures
    -- (skewed sign bits) stay bounded, so candidate volume is linear in
    -- n even in the 3rd decade (round-7 fix, VERDICT_r06 item 2)
    SELECT id, band, sig FROM (
        SELECT id, band, sig,
               ROW_NUMBER() OVER (
                   PARTITION BY band, sig
                   ORDER BY CAST('0x' || substr(md5('lshcap_' ||
                                CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
                            id
               ) AS rk
        FROM lshbuckets
    ) WHERE rk <= 128
), lshcand AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM lshbuckets a JOIN lshcapped b USING (band, sig)
    WHERE a.id <> b.id
), lshscored AS (
    SELECT s.qid, s.nid, {_COS_AB} AS sim
    FROM lshcand s
    JOIN embeddings a ON a.vec_id = s.qid
    JOIN embeddings b ON b.vec_id = s.nid
), lsh AS (
    SELECT qid, nid, sim, rnk FROM (
        SELECT qid, nid, sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM lshscored
    ) WHERE rnk <= 5
)"""

# operators.similarity.ivf_topk over ivf_trained_ranked replayed in SQL: the
# k-means coarse quantiser (operators.kmeans, 2 Lloyd iterations over
# round(x*1000)-quantized vectors, md5 seeds — the same unrolled CTEs as
# kmeans_queries.KMEANS_ORACLE, at the ADAPTIVE k = adaptive_cells(n)
# ≈ √n — round 8), then cell ranking by k-means'
# exact argmax(q·c − |c|²/2), 4 probed cells, exact cosine re-rank.
_IVF_TRAIN_CTES = (
    f"""
q AS MATERIALIZED (
    SELECT vec_id AS id,
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                    AS BIGINT)) AS qv
    FROM embeddings
), qtrain AS MATERIALIZED (
    -- deterministic KM_TRAIN_N training sample (round 7): Lloyd
    -- iterations run on this fixed-size subset; == full corpus at the
    -- driver SFs (n <= {KM_TRAIN_N}), constant-cost training above it
    SELECT id, qv FROM q
    ORDER BY CAST('0x' || substr(md5('kmtrain_' || CAST(id AS VARCHAR)),
                                 1, 15) AS BIGINT), id
    LIMIT {KM_TRAIN_N}
), ivfk AS (
    -- adaptive cell count (round 8, VERDICT_r07 item 2): k =
    -- 2^(floor(log2 n) // 2) clamped to [16, 4096] — ≈ √n cells, the
    -- same engine-portable floor-log2 (length(bin(n)) - 1) as
    -- adaptive_band_bits; replays operators.similarity.adaptive_cells.
    -- == 16 for n <= ~1000, so sf0.001/sf0.01 results are unchanged.
    SELECT GREATEST(16, LEAST(4096,
           1::BIGINT << ((length(bin(COUNT(*))) - 1) // 2))) AS k
    FROM q
), ivfkseeds AS (
    SELECT cell, cv FROM (
        SELECT id AS cell,
               list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv,
               ROW_NUMBER() OVER (
                   ORDER BY CAST('0x' || substr(md5(CAST(id AS VARCHAR)),
                                                1, 15) AS BIGINT), id
               ) AS seedrk
        FROM qtrain
    ), ivfk WHERE seedrk <= ivfk.k
),"""
    + _assign_cte("ivfa0", "ivfkseeds", src="qtrain")
    + ","
    + _centroid_cte("ivfcent1", "ivfa0")
    + ","
    + _assign_cte("ivfa1", "ivfcent1", src="qtrain")
    + ","
    + _centroid_cte("ivfcent2", "ivfa1")
)

IVF_CTES = (
    _IVF_TRAIN_CTES
    + f""", ivfrank AS MATERIALIZED (
    SELECT q.id, s.cell,
           ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY (list_dot_product({_QD}, s.cv)
                         - list_dot_product(s.cv, s.cv) / 2) DESC, s.cell
           ) AS rk
    FROM q, ivfcent2 s
), ivfassign AS MATERIALIZED (
    SELECT id, cell FROM ivfrank WHERE rk = 1
), ivfprobes AS (
    SELECT id AS qid, cell FROM ivfrank WHERE rk <= 4
), ivfmembers AS MATERIALIZED (
    -- per-cell inverted-list cap (round 7): at fixed n_cells the cell
    -- population grows with the corpus, so uncapped probing is n²/k —
    -- the first IVF_CELL_CAP members by md5 order bound per-query
    -- candidates at n_probe·cap (never binds through sf0.1)
    SELECT id, cell FROM (
        SELECT id, cell,
               ROW_NUMBER() OVER (
                   PARTITION BY cell
                   ORDER BY CAST('0x' || substr(md5('ivfcap_' ||
                                CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
                            id
               ) AS caprk
        FROM ivfassign
    ) WHERE caprk <= 256
), ivfcand AS (
    SELECT DISTINCT p.qid, m.id AS nid
    FROM ivfprobes p JOIN ivfmembers m USING (cell)
    WHERE p.qid <> m.id
), ivfscored AS (
    SELECT c.qid, c.nid, {_COS_AB} AS sim
    FROM ivfcand c
    JOIN embeddings a ON a.vec_id = c.qid
    JOIN embeddings b ON b.vec_id = c.nid
), ivf AS (
    SELECT qid, nid, sim, rnk FROM (
        SELECT qid, nid, sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM ivfscored
    ) WHERE rnk <= 5
)"""
)

IVF_TOPK_ORACLE = "WITH " + IVF_CTES + "\nSELECT qid, nid, sim, rnk FROM ivf"
LSH_TOPK_ORACLE = "WITH " + LSH_CTES + "\nSELECT qid, nid, sim, rnk FROM lsh"


# Session-scoped shared trained-IVF index (round 8, VERDICT_r07 item 6):
# the coarse quantiser is a MODEL — in a real deployment it is trained
# once and served to every query, but each of the six IVF-family bench
# entries was re-running the whole kmeans_fit lineage (semdedup_manifest
# alone paid ~1 s of re-training per run). One persisted ranking frame
# per (Spark application, sf_dir) serves them all; results are a pure
# function of the data, so correctness/determinism are unaffected (a
# cleared cache merely recomputes the same frame).
_IVF_RANKED_CACHE: dict = {}


def _ivf_ranked_shared(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> DataFrame:
    from amorphous_mapreduce_spark.operators.similarity import (
        ivf_trained_ranked,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _IVF_RANKED_CACHE.get(key)
    if got is None:
        got = ivf_trained_ranked(emb, n_cells=None, max_rank=4).persist()
        _IVF_RANKED_CACHE[key] = got
    return got


@register("similarity_ivf_topk", IVF_TOPK_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5: k-means-TRAINED coarse quantiser (round 6;
    closes the seeded-centroid seam) + cell-probe equi-join + exact
    re-rank. Hash-checked against a full SQL replay of the pipeline,
    including the unrolled Lloyd iterations (deterministic ANN — no
    rows-only escape). Trained centroids lift recall@5 at the same
    4-probe budget: 0.485→0.579 at sf0.01, 0.492→0.546 at sf0.1 (candidate budget unchanged, ~63k/1.0M)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(_ivf_ranked_shared(spark, sf_dir, emb), k=5, n_probe=4)


@register("similarity_lsh_topk", LSH_TOPK_ORACLE)
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5: sub-quadratic candidate generation + exact
    re-rank — the 100 TB scale path. Hash-checked against a full SQL
    replay (md5 hyperplanes, ordered-fold projections)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Adaptive band width (floor(log2 n) - 6, clamped to [4, 16]): holds
    # expected bucket occupancy at ~64 vectors so candidate volume stays
    # LINEAR in n — 4 bits at the <=2k-vector rungs (identical results
    # to the round-4 setting), 8 bits at sf1's 20k. The one driver-side
    # scalar (count) parameterizes the plan, same as the dims probe in
    # hyperplane_signatures. cap=128 bounds the neighbor side of each
    # bucket (md5-ordered sample) — skewed sign bits make hot signatures
    # grow with n regardless of band width (slope3 13.2 + 48 GB heap at
    # sf10 before the cap; round-7 fix).
    bits = adaptive_band_bits(emb.count())
    return lsh_topk(emb, k=5, n_planes=32, band_bits=bits, cap=LSH_BUCKET_CAP)


# --- recall@k vs exact top-k (the ANN quality metric, in-plan) ------------

_EXACT_CTE = f"""
exact AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS_AB} AS sim
            FROM embeddings a, embeddings b
            WHERE a.vec_id <> b.vec_id
        )
    ) WHERE rnk <= 5
)"""

# Recall-truth query panel (round 8, VERDICT_r07 item 5): exact-truth
# top-k is computed only for the RC_PANEL_N vectors with smallest
# (md5('rcpanel_'||id), id), so the truth cost is |panel|·n instead of
# n² — the unsampled brute-force exact CTE was ~7-20 min per sf1 battery
# and would not finish at sf10 (200k² = 40G list_dot_products). 2048 is
# the smallest power of two >= the sf0.1 corpus (2000 vectors), so every
# driver SF keeps the FULL-corpus truth and historical results are
# unchanged; recall estimates at sf1+ are over a 2048-query deterministic
# hash sample (unbiased, oracle-replayed). Candidate/cost columns stay
# corpus-wide — only the truth denominator is paneled.
RC_PANEL_N = 2048

_PANEL_EXACT_CTE = f"""
rcpanel AS MATERIALIZED (
    SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                   ORDER BY CAST('0x' || substr(md5('rcpanel_' ||
                                CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                            vec_id
               ) AS prk
        FROM embeddings
    ) WHERE prk <= {RC_PANEL_N}
),
exact AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS_AB} AS sim
            FROM embeddings a
            JOIN rcpanel rp ON rp.vec_id = a.vec_id
            CROSS JOIN embeddings b
            WHERE a.vec_id <> b.vec_id
        )
    ) WHERE rnk <= 5
)"""

_RECALL_SELECT = """
SELECT n_exact, n_hits, CAST(n_hits AS DOUBLE) / n_exact AS recall FROM (
    SELECT COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
    FROM exact e
    LEFT JOIN {ann} t ON e.qid = t.qid AND e.nid = t.nid
)"""


def _rc_panel_ids(emb: DataFrame) -> DataFrame:
    """The RC_PANEL_N recall-truth query panel: [qid], bottom-n by
    (md5('rcpanel_'||vec_id), vec_id) — TakeOrderedAndProject, == the
    full corpus at every driver SF (n <= 2048 there)."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    return (
        emb.orderBy(
            hex_hash64(
                F.concat(F.lit("rcpanel_"), F.col("vec_id").cast("string"))
            ),
            F.col("vec_id"),
        )
        .limit(RC_PANEL_N)
        .select(F.col("vec_id").alias("qid"))
    )


def _recall(spark: SparkSession, sf_dir: str, ann: DataFrame) -> DataFrame:
    """recall@5 of an ANN result against the exact top-5 over the
    RC_PANEL_N truth panel, in one plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk_blocked(
        emb, k=5, n_blocks=16, query_ids=_rc_panel_ids(emb)
    ).select("qid", "nid")
    hits = ann.select("qid", "nid").withColumn("_hit", F.lit(1))
    return (
        exact.join(hits, ["qid", "nid"], "left")
        .agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "n_exact",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


LSH_RECALL_ORACLE = (
    "WITH " + _PANEL_EXACT_CTE + ", " + LSH_CTES + _RECALL_SELECT.format(ann="lsh")
)
IVF_RECALL_ORACLE = (
    "WITH " + _PANEL_EXACT_CTE + ", " + IVF_CTES + _RECALL_SELECT.format(ann="ivf")
)


@register("similarity_lsh_recall", LSH_RECALL_ORACLE)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of LSH ANN vs the exact top-5 over the RC_PANEL_N
    truth panel (== full corpus at driver SFs) — the ANN correctness
    signal, computed in-plan (join + aggregate) and hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    bits = adaptive_band_bits(emb.count())
    return _recall(
        spark,
        sf_dir,
        lsh_topk(emb, k=5, n_planes=32, band_bits=bits, cap=LSH_BUCKET_CAP),
    )


@register("similarity_ivf_recall", IVF_RECALL_ORACLE)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF ANN (k-means-trained quantiser) vs the exact
    top-5 over the RC_PANEL_N truth panel (== full corpus at driver
    SFs), in-plan, hash-checked. Training uplift at the same 4-probe
    budget vs the md5-seeded quantiser: 0.485→0.579 (sf0.01),
    0.492→0.546 (sf0.1), candidate budget unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall(
        spark,
        sf_dir,
        ivf_topk(_ivf_ranked_shared(spark, sf_dir, emb), k=5, n_probe=4),
    )


KNN_LABEL_ORACLE = f"""
WITH pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id <> b.vec_id
),
top1 AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM pairs
    ) WHERE rnk = 1
)
SELECT a.label AS label, COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN b.label = a.label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
FROM top1
JOIN embeddings a ON top1.qid = a.vec_id
JOIN embeddings b ON top1.nid = b.vec_id
GROUP BY a.label
"""


@register("knn_label_agreement", KNN_LABEL_ORACLE)
def q_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval: 1-NN label agreement per class (leave-one-
    out nearest neighbour, cosine) — the 'does my embedding space
    cluster its labels' check an embedding pipeline runs after every
    retrain. Reuses the blocked exact top-k kernel (k=1), then two
    broadcast label joins and one keyed agg; counts are integer-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    top1 = cosine_topk_blocked(emb, k=1, n_blocks=16).select("qid", "nid")
    qlab = emb.select(F.col("vec_id").alias("qid"), F.col("label").alias("label"))
    nlab = emb.select(F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"))
    return (
        top1.join(F.broadcast(qlab), "qid")
        .join(F.broadcast(nlab), "nid")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(
                F.when(F.col("nlabel") == F.col("label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
    )


HARD_NEG_ORACLE = f"""
WITH pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           a.label AS qlabel, b.label AS nlabel,
           {_COS} AS sim
    FROM embeddings a, embeddings b
    WHERE a.label <> b.label
)
SELECT qid, nid, qlabel, nlabel, sim FROM (
    SELECT qid, nid, qlabel, nlabel, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC)
               AS rnk
    FROM pairs
) WHERE rnk = 1
"""


@register("hard_negative_mining", HARD_NEG_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: each vector's nearest
    CROSS-label neighbour (the confusable example a contrastive loss
    should push away). Same blocked E·Eᵀ kernel as the exact top-k
    (tiled outer product, src/outer_product.rs:146-169) with same-label
    pairs masked in-tile — no second pass, no row-level cartesian; the
    oracle is the brute-force cross-label top-1."""
    emb = load_table(spark, sf_dir, "embeddings")
    top1 = cosine_topk_blocked(
        emb, k=1, n_blocks=16, exclude_label_col="label"
    ).select("qid", "nid", "sim")
    qlab = emb.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"))
    nlab = emb.select(F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"))
    return (
        top1.join(F.broadcast(qlab), "qid")
        .join(F.broadcast(nlab), "nid")
        .select("qid", "nid", "qlabel", "nlabel", "sim")
    )


# --- cross-modal disagreement audit -----------------------------------------

DISAGREE_SIM = 0.9


def _disagreement_oracle() -> str:
    # Reuse the single SQL definition of the MinHash-LSH pair list
    # (sliced from PAGERANK_ORACLE in dedup_queries) and the canonical
    # DuckDB cosine; unused trailing CTEs (edges) are legal.
    from amorphous_mapreduce_spark.queries.dedup_queries import (
        _NEARDUP_EDGES_PREFIX,
    )

    return f"""{_NEARDUP_EDGES_PREFIX}
SELECT p.qid, p.nid, {_COS_AB} AS sim,
       CAST(CASE WHEN {_COS_AB} < {DISAGREE_SIM} THEN 1 ELSE 0 END AS INT)
           AS disagree
FROM pairs p
JOIN embeddings a ON a.vec_id = p.qid
JOIN embeddings b ON b.vec_id = p.nid
"""


@register("text_embedding_disagreement", _disagreement_oracle())
def q_text_embedding_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit across modalities: textual near-dup pairs
    (MinHash-LSH) scored by their embedding cosine — pairs the text
    layer calls duplicates but the embedding space does not (disagree=1)
    are exactly the rows a curation pipeline routes to review.

    Joins are keyed on the pair ids (embeddings fetched twice by key);
    the cosine is the ordered-fold double dot, bit-identical to DuckDB
    list_dot_product. vec_id and doc_id share the id space by fixture
    design (FIXTURES.md)."""
    from amorphous_mapreduce_spark.functions.vectors import cosine_similarity
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs
    from amorphous_mapreduce_spark.sources import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    emb = _lt(spark, sf_dir, "embeddings")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    a = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("eb"))
    sim = cosine_similarity("ea", "eb")
    return (
        pairs.join(a, "qid")
        .join(b, "nid")
        .select(
            "qid",
            "nid",
            sim.alias("sim"),
            (sim < DISAGREE_SIM).cast("int").alias("disagree"),
        )
    )


# --- quantization recall audit ----------------------------------------------

_QHASH = "CAST('0x' || substr(md5('qpanel_' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"

# int8 scalar quantization, the operators/pipeline.quantize_embeddings
# scheme: q[i] = trunc(v[i] / max|v| * 127), truncation toward zero
# (Spark CAST(long) truncates; DuckDB needs explicit trunc()).
_Q_SQL = (
    "list_transform({v}::DOUBLE[], x -> CAST(trunc("
    "x / list_max(list_transform({v}::DOUBLE[], y -> abs(y))) * 127"
    ") AS BIGINT))"
)

QUANT_RECALL_ORACLE = f"""
WITH panel AS (
    SELECT vec_id AS qid, embedding AS qv,
           {_Q_SQL.format(v='embedding')} AS qq,
           list_max(list_transform(embedding::DOUBLE[], y -> abs(y)))
               AS qscale
    FROM embeddings ORDER BY {_QHASH}, vec_id LIMIT 32
),
scored AS (
    SELECT p.qid, g.vec_id AS nid,
           list_dot_product(p.qv::DOUBLE[], g.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))
              * sqrt(list_dot_product(g.embedding::DOUBLE[],
                                      g.embedding::DOUBLE[]))) AS cos_exact,
           CAST(list_dot_product(p.qq, {_Q_SQL.format(v='g.embedding')})
                AS DOUBLE)
           * p.qscale
           * list_max(list_transform(g.embedding::DOUBLE[], y -> abs(y)))
           / 16129.0
           / (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))
              * sqrt(list_dot_product(g.embedding::DOUBLE[],
                                      g.embedding::DOUBLE[]))) AS cos_quant
    FROM panel p JOIN embeddings g ON g.vec_id <> p.qid
),
re AS (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_exact DESC, nid) AS r_exact
    FROM scored
),
rq AS (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_quant DESC, nid) AS r_quant
    FROM scored
),
ov AS (
    SELECT re.qid, COUNT(rq.nid) AS n_overlap
    FROM re LEFT JOIN rq ON re.qid = rq.qid AND re.nid = rq.nid
                         AND rq.r_quant <= 5
    WHERE re.r_exact <= 5
    GROUP BY re.qid
)
SELECT n_overlap AS overlap_at_5, CAST(COUNT(*) AS BIGINT) AS n_queries
FROM ov GROUP BY n_overlap
"""


@register("quantization_recall", QUANT_RECALL_ORACLE)
def q_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-impact audit: for a fixed 32-query hash-sampled
    panel, the overlap@5 histogram between exact-cosine top-5 neighbors
    and int8-quantized-cosine top-5 (the operators/pipeline scalar
    quantization scheme) — the recall evidence an ANN/storage team
    demands before switching an index to int8.

    Scale: the panel is CONSTANT-SIZE by construction (TakeOrdered over
    the hash, limit 32), so the scored frame is 32 x |gallery| — linear
    in the corpus, embarrassingly parallel, with the panel broadcast.
    Both rankings come from the same single scored frame (one pass);
    int dot products are exact integers; the rescale to quantized
    cosine is one fixed double expression."""
    emb = load_table(spark, sf_dir, "embeddings")
    qh = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qpanel_"), F.col("vec_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    absv = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    scale = F.array_max(absv)

    def q8(scale_col):
        # scale is computed ONCE per row (a plain column the lambda
        # closes over) — a nested array_max inside the transform would
        # re-scan the array per element
        return F.transform(
            "embedding",
            lambda x: (x.cast("double") / scale_col * 127).cast("long"),
        )

    panel = (
        emb.withColumn("qscale", scale)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            q8(F.col("qscale")).alias("qq"),
            "qscale",
            qh.alias("_h"),
        )
        .orderBy("_h", "qid")
        .limit(32)
        .drop("_h")
    )
    # repartition pins the quantization below the 32-way pair fan-out
    # (projection collapse would re-quantize each gallery row per pair)
    gal = (
        emb.withColumn("gscale", scale)
        .select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("gv"),
            q8(F.col("gscale")).alias("gq"),
            "gscale",
        )
        .repartition(32)
    )
    from amorphous_mapreduce_spark.functions.vectors import dot_product, l2_norm

    qdot = F.aggregate(
        F.zip_with("qq", "gq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(panel)
        .crossJoin(gal)
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            (
                dot_product("qv", "gv") / (l2_norm("qv") * l2_norm("gv"))
            ).alias("cos_exact"),
            (
                qdot.cast("double")
                * F.col("qscale")
                * F.col("gscale")
                / F.lit(16129.0)
                / (l2_norm("qv") * l2_norm("gv"))
            ).alias("cos_quant"),
        )
        .persist()
    )
    we = Window.partitionBy("qid").orderBy(F.desc("cos_exact"), F.asc("nid"))
    wq = Window.partitionBy("qid").orderBy(F.desc("cos_quant"), F.asc("nid"))
    re = scored.select("qid", "nid", F.row_number().over(we).alias("r_exact"))
    rq = scored.select("qid", "nid", F.row_number().over(wq).alias("r_quant"))
    ov = (
        re.filter(F.col("r_exact") <= 5)
        .join(
            rq.filter(F.col("r_quant") <= 5).withColumn("hit", F.lit(1)),
            ["qid", "nid"],
            "left",
        )
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("overlap_at_5"))
    )
    return ov.groupBy("overlap_at_5").agg(F.count("*").alias("n_queries"))


# --- similarity threshold sweep ---------------------------------------------

SWEEP_THRESHOLDS = (0.2, 0.25, 0.3, 0.35, 0.4, 0.45)

SWEEP_ORACLE = f"""
WITH pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND {_COS} >= 0.2
),
th(t) AS (VALUES ({"), (".join(str(t) for t in SWEEP_THRESHOLDS)})),
cand AS (
    SELECT t, qid, nid FROM pairs JOIN th ON sim >= t
),
pc AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM cand GROUP BY t
),
cov AS (
    SELECT t, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs_covered
    FROM (SELECT t, qid AS id FROM cand UNION
          SELECT t, nid AS id FROM cand)
    GROUP BY t
)
SELECT pc.t AS threshold, n_pairs, n_docs_covered
FROM pc JOIN cov ON pc.t = cov.t
"""


@register("embedding_threshold_sweep", SWEEP_ORACLE)
def q_embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sizing curve: candidate pair count and distinct
    document coverage at cosine thresholds 0.20..0.45 — the
    budget-vs-aggressiveness table read before committing a similarity
    dedup threshold at scale (the embedding analogue of
    cms_width_sweep's accuracy-vs-memory curve).

    Scale: ONE blocked exact E·Eᵀ pass at the loosest threshold (the
    only data-sized stage; shuffle out tracks answer size), then a
    6-way threshold explode over surviving pairs only — never re-runs
    the kernel per threshold. The pair frame is persisted for the
    count and coverage readers."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_blocked(emb, threshold=0.2).persist()
    th = F.explode(
        F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])
    ).alias("t")
    cand = (
        pairs.select("qid", "nid", "sim", th)
        .filter(F.col("sim") >= F.col("t"))
        .persist()
    )
    pc = cand.groupBy("t").agg(F.count("*").alias("n_pairs"))
    cov = (
        cand.select("t", F.explode(F.array("qid", "nid")).alias("id"))
        .distinct()
        .groupBy("t")
        .agg(F.count("*").alias("n_docs_covered"))
    )
    return (
        pc.join(cov, "t")
        .select(F.col("t").alias("threshold"), "n_pairs", "n_docs_covered")
    )


# --- maximal-marginal-relevance diversified retrieval ------------------------

_MMR_CAND = 30
_MMR_K = 8
_MMR_SCALE = 1 << 30

_MMR_QH = (
    "CAST('0x' || substr(md5('mmrq_' || CAST(vec_id AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)


def _mmr_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
        f" / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
        f" * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )


def _mmr_oracle() -> str:
    head = f"""
WITH qv AS MATERIALIZED (
    SELECT vec_id AS qid, embedding AS q
    FROM embeddings
    ORDER BY {_MMR_QH}, vec_id LIMIT 1
),
cand AS MATERIALIZED (
    SELECT e.vec_id AS id,
           CAST(FLOOR({_mmr_cos("qv.q", "e.embedding")} * {_MMR_SCALE})
                AS BIGINT) AS score_q,
           e.embedding AS emb
    FROM embeddings e CROSS JOIN qv
    WHERE e.vec_id != qv.qid
    ORDER BY score_q DESC, id LIMIT {_MMR_CAND}
),
sims AS MATERIALIZED (
    SELECT a.id AS ida, b.id AS idb,
           CAST(FLOOR({_mmr_cos("a.emb", "b.emb")} * {_MMR_SCALE})
                AS BIGINT) AS sim_q
    FROM cand a JOIN cand b ON a.id != b.id
),
sel1 AS MATERIALIZED (
    SELECT 1 AS rank, id, score_q, score_q AS mmr_q
    FROM cand ORDER BY score_q DESC, id LIMIT 1
),
set1 AS MATERIALIZED (SELECT rank, id, score_q, mmr_q FROM sel1)"""
    steps = []
    for k in range(2, _MMR_K + 1):
        steps.append(
            f""",
sel{k} AS MATERIALIZED (
    SELECT {k} AS rank, c.id, c.score_q,
           c.score_q - MAX(s.sim_q) AS mmr_q
    FROM cand c
    JOIN sims s ON s.ida = c.id
    JOIN set{k - 1} t ON s.idb = t.id
    WHERE c.id NOT IN (SELECT id FROM set{k - 1})
    GROUP BY c.id, c.score_q
    ORDER BY mmr_q DESC, c.id LIMIT 1
),
set{k} AS MATERIALIZED (
    SELECT * FROM set{k - 1} UNION ALL SELECT * FROM sel{k}
)"""
        )
    tail = f"""
SELECT rank, id, score_q, mmr_q FROM set{_MMR_K}
"""
    return head + "".join(steps) + tail


MMR_ORACLE = _mmr_oracle()


@register("mmr_diverse_retrieval", MMR_ORACLE)
def q_mmr_diverse_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval: greedily pick 8 results
    that balance relevance to the (hash-chosen) query vector against
    redundancy with already-picked results — the diversified ranking
    that keeps a near-dup-heavy gallery from filling the whole page
    with one cluster. Completes the retrieval family (BM25, dense,
    RRF fusion, PRF expansion, now diversity re-ranking).

    Determinism: relevance and pairwise similarities floor-quantize to
    2^-30 BIGINTs, so every greedy argmax (mmr = score - max sim to
    selected, lambda = 1/2 with equal scaling) is an integer
    comparison with an id tie-break — the greedy trajectory is
    bit-identical cross-engine.

    Scale: ONE linear scan scores the gallery (the brute arm ANN
    replaces); everything after operates on the 30-candidate frame.
    The 30² sims stay dataflow (the exact cosine fold), but the 8
    greedy argmax rounds — pure integer logic over a corpus-size-
    independent frame — run inside ONE grouped Arrow kernel (the
    markov/power-iteration pattern; VERDICT_r03 item 3 measured the
    former 8-round localCheckpoint chain at 2.4 s of scheduling
    latency). Python ints reproduce the BIGINT comparisons exactly,
    so the greedy trajectory and oracle hash are unchanged."""
    from amorphous_mapreduce_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qh = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mmrq_"), F.col("vec_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    qv = (
        emb.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q"),
            qh.alias("_h"),
        )
        .orderBy("_h", "qid")
        .limit(1)
        .drop("_h")
    )
    cand = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("vec_id").alias("id"),
            F.floor(
                cosine_similarity("q", "embedding") * F.lit(_MMR_SCALE)
            )
            .cast("long")
            .alias("score_q"),
            F.col("embedding").alias("emb"),
        )
        .orderBy(F.desc("score_q"), F.asc("id"))
        .limit(_MMR_CAND)
        .localCheckpoint()
    )
    ca = cand.select(
        F.col("id").alias("ida"), F.col("emb").alias("ea")
    )
    cb = cand.select(
        F.col("id").alias("idb"), F.col("emb").alias("eb")
    )
    sims = (
        ca.crossJoin(cb)
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.col("ida").alias("id"),
            "idb",
            F.floor(cosine_similarity("ea", "eb") * F.lit(_MMR_SCALE))
            .cast("long")
            .alias("sim_q"),
        )
    )
    scores = cand.select("id", "score_q")
    # per-candidate rows (id, score_q, idb, sim_q): 30 x 29 — bounded,
    # corpus-size independent, one group
    feed = scores.join(sims, "id")
    n_pick = _MMR_K

    def _greedy(pdf):
        import pandas as pd

        score: dict[int, int] = {}
        sim: dict[tuple[int, int], int] = {}
        for id_, sq, idb, s in zip(
            pdf["id"], pdf["score_q"], pdf["idb"], pdf["sim_q"]
        ):
            score[int(id_)] = int(sq)
            sim[(int(id_), int(idb))] = int(s)
        first = min(score.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out = [(1, first, score[first], score[first])]
        chosen = [first]
        for k in range(2, n_pick + 1):
            best = None
            for c, sq in score.items():
                if c in chosen:
                    continue
                mmr = sq - max(sim[(c, t)] for t in chosen)
                key = (-mmr, c)
                if best is None or key < best[0]:
                    best = (key, c, sq, mmr)
            chosen.append(best[1])
            out.append((k, best[1], best[2], best[3]))
        return pd.DataFrame(
            out, columns=["rank", "id", "score_q", "mmr_q"]
        )

    return (
        feed.groupBy(F.lit(0).alias("one"))
        .applyInPandas(_greedy, "rank int, id long, score_q long, mmr_q long")
    )


# --- IVF probe-budget recall sweep ---------------------------------------------

# Same trained coarse quantiser as IVF_CTES (k-means at adaptive k≈√n, unrolled
# Lloyd iterations), candidates tagged with the cell rank that reaches
# them.
PROBE_SWEEP_CTES = (
    _IVF_TRAIN_CTES
    + f""", ivfrank AS MATERIALIZED (
    SELECT q.id, s.cell,
           ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY (list_dot_product({_QD}, s.cv)
                         - list_dot_product(s.cv, s.cv) / 2) DESC, s.cell
           ) AS rk
    FROM q, ivfcent2 s
), ivfassign AS MATERIALIZED (
    SELECT id, cell FROM ivfrank WHERE rk = 1
), ivfmembers AS MATERIALIZED (
    -- IVF_CELL_CAP inverted-list cap (round 7, same as IVF_CTES)
    SELECT id, cell FROM (
        SELECT id, cell,
               ROW_NUMBER() OVER (
                   PARTITION BY cell
                   ORDER BY CAST('0x' || substr(md5('ivfcap_' ||
                                CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
                            id
               ) AS caprk
        FROM ivfassign
    ) WHERE caprk <= 256
), cand AS (
    SELECT r.id AS qid, m.id AS nid, r.rk AS probe_needed
    FROM ivfrank r JOIN ivfmembers m ON m.cell = r.cell AND m.id <> r.id
    WHERE r.rk <= 4
), scored AS (
    SELECT c.qid, c.nid, c.probe_needed, {_COS_AB} AS sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.qid
    JOIN embeddings b ON b.vec_id = c.nid
), lv AS (SELECT unnest([1, 2, 3, 4]) AS p),
candcnt AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM scored JOIN lv ON probe_needed <= p GROUP BY p
), ranked AS (
    SELECT p, qid, nid FROM (
        SELECT lv.p, qid, nid,
               ROW_NUMBER() OVER (PARTITION BY lv.p, qid
                                  ORDER BY sim DESC, nid) AS rnk
        FROM scored JOIN lv ON probe_needed <= lv.p
    ) WHERE rnk <= 5
)"""
)

PROBE_SWEEP_ORACLE = (
    "WITH "
    + _PANEL_EXACT_CTE
    + ", "
    + PROBE_SWEEP_CTES
    + """
SELECT lv.p AS n_probe,
       MAX(cc.n_candidates) AS n_candidates,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS recall
FROM exact e
CROSS JOIN lv
JOIN candcnt cc ON cc.p = lv.p
LEFT JOIN ranked t ON t.p = lv.p AND e.qid = t.qid AND e.nid = t.nid
GROUP BY lv.p ORDER BY lv.p
"""
)


@register("ivf_probe_sweep", PROBE_SWEEP_ORACLE)
def q_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@5 and candidate cost for probe budgets
    1..4 priced from ONE assignment pass — each candidate is tagged with
    the probe depth that first reaches it (its cell's rank in the
    query's centroid order), so the whole recall-vs-cost frontier costs
    one index build instead of four. This is the sweep that picks
    n_probe before a 100 TB ANN rollout.

    Exactness: cosine scores follow the ordered-fold discipline (bit
    identical to the DuckDB replay); ranks carry (sim desc, nid)
    tie-breaks; recalls are single divisions of exact counts.

    Scale: the candidate join is keyed on cell; the sweep explode is a
    constant x4; rank windows partition by (probe level, query); the
    exact-truth side is the RC_PANEL_N query panel (|panel|·n tiles, ==
    full corpus at driver SFs — round 8, VERDICT_r07 item 5)."""
    from amorphous_mapreduce_spark.operators.similarity import (
        cosine_topk_blocked,
        ivf_probe_sweep_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    scored = ivf_probe_sweep_candidates(
        _ivf_ranked_shared(spark, sf_dir, emb)
    ).persist()
    lv = spark.createDataFrame([(p,) for p in (1, 2, 3, 4)], "p int")
    widened = scored.crossJoin(F.broadcast(lv)).filter(
        F.col("probe_needed") <= F.col("p")
    )
    candcnt = widened.groupBy("p").agg(F.count("*").alias("n_candidates"))
    wk = Window.partitionBy("p", "qid").orderBy(F.desc("sim"), F.asc("nid"))
    ann = (
        widened.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 5)
        .select("p", "qid", "nid")
        .withColumn("_hit", F.lit(1))
    )
    exact = cosine_topk_blocked(
        emb, k=5, n_blocks=16, query_ids=_rc_panel_ids(emb)
    ).select("qid", "nid")
    return (
        exact.crossJoin(F.broadcast(lv))
        .join(ann, ["p", "qid", "nid"], "left")
        .groupBy("p")
        .agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .join(F.broadcast(candcnt), "p")
        .select(
            F.col("p").cast("long").alias("n_probe"),
            "n_candidates",
            "n_exact",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
                "recall"
            ),
        )
        .orderBy("n_probe")
    )


# --- TwoNN intrinsic-dimension estimate -------------------------------------

# Facco et al.'s TwoNN: the ratio mu = d2/d1 of each point's two nearest
# neighbor distances follows Pareto(dim), so dim ~ n / sum(ln mu). Run
# here on cosine distance (1 - sim) from the exact blocked top-2; each
# log goes through the shared integer LUT on the 2^20-quantized distance
# (floor before cast — the Spark-truncates/DuckDB-rounds gotcha), so the
# sum is an exact BIGINT and the estimate is one fixed double expression.
_TWONN_Q = "CAST(floor((1.0 - sim) * 1048576) AS BIGINT)"

from amorphous_mapreduce_spark.functions.intlog import (  # noqa: E402
    log2_scaled,
    log2_scaled_sql,
)

TWONN_ORACLE = f"""
WITH pairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id <> b.vec_id
),
top2 AS (
    SELECT qid, {_TWONN_Q} AS dq,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
    FROM pairs
),
mu AS (
    SELECT a.qid,
           {log2_scaled_sql('b.dq')} - {log2_scaled_sql('a.dq')} AS lg
    FROM top2 a JOIN top2 b ON a.qid = b.qid AND a.rnk = 1 AND b.rnk = 2
    WHERE a.dq >= 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
       CAST(SUM(lg) AS BIGINT) AS log_sum_scaled,
       CAST(COUNT(*) AS DOUBLE) * 1048576.0
           / (0.6931471805599453 * CAST(CAST(SUM(lg) AS BIGINT) AS DOUBLE))
           AS dim_est
FROM mu
"""


@register("intrinsic_dim_twonn", TWONN_ORACLE)
def q_intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold:
    dim ~ n / sum(ln(d2/d1)) over each vector's two exact nearest
    neighbors (cosine distance) — the curse-of-dimensionality dial that
    says whether ANN indexing (IVF/LSH bucket counts) has room to work.
    Points with quantized d1 = 0 (near-duplicate vectors) are excluded,
    as the estimator requires.

    ln(d2/d1) = ln2 * (log2s(q2) - log2s(q1)) / 2^20 with LUT log2s, so
    the per-point contributions sum as exact BIGINTs; the estimate is
    one fixed double expression of two exact integers.

    Scale: rides the blocked exact top-k kernel (O(b^2) block pairs,
    not an O(n^2) row cartesian); everything after is one keyed join on
    qid and a scalar aggregate."""
    from amorphous_mapreduce_spark.operators.similarity import cosine_topk_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    top2 = cosine_topk_blocked(emb, k=2, n_blocks=16).select(
        "qid", "rnk", F.expr(_TWONN_Q).alias("dq")
    )
    a = top2.filter((F.col("rnk") == 1) & (F.col("dq") >= 1)).select(
        "qid", F.col("dq").alias("d1")
    )
    b = top2.filter(F.col("rnk") == 2).select("qid", F.col("dq").alias("d2"))
    mu = a.join(b, "qid").select(
        (log2_scaled("d2") - log2_scaled("d1")).alias("lg")
    )
    n_used = F.count("*")
    s = F.sum("lg").cast("bigint")
    return mu.agg(
        n_used.alias("n_used"),
        s.alias("log_sum_scaled"),
        (
            n_used.cast("double")
            * 1048576.0
            / (0.6931471805599453 * s.cast("double"))
        ).alias("dim_est"),
    )


# --- product quantization: ADC recall audit ---------------------------------

# Product quantization is the third leg of the ANN family (LSH buckets,
# IVF cells, PQ codes): each 64-dim vector becomes 4 codebook ids (one
# per 16-dim subspace), queries scan an 8-entry distance lookup table
# per subspace instead of the raw vectors — the memory-bound scale path
# (4 bytes/vector here vs 256).  Codebooks are 1-Lloyd-iteration k-means
# over quantized subvectors (hash seeds, argmax q·c − |c|²/2, integer
# centroid sums — the operators/kmeans discipline), so the whole encode/
# ADC/recall pipeline is hash-matched against an unrolled SQL oracle.

PQ_M = 4
PQ_SUBD = 16
PQ_K = 8
PQ_PANEL = 16
PQ_TOPK = 5

_PQ_SEED_H = (
    "CAST('0x' || substr(md5('pqseed_' || CAST(id AS VARCHAR)), 1, 15) "
    "AS BIGINT)"
)
_PQ_PANEL_H = (
    "CAST('0x' || substr(md5('pqpanel_' || CAST(id AS VARCHAR)), 1, 15) "
    "AS BIGINT)"
)


def _pq_assign_cte(name: str, cents: str) -> str:
    return f"""
{name} AS (
    SELECT m, id, sub, cell FROM (
        SELECT s.m, s.id, s.sub, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY s.m, s.id
                   ORDER BY (list_dot_product(
                                 list_transform(s.sub, x -> CAST(x AS DOUBLE)),
                                 c.cv)
                             - list_dot_product(c.cv, c.cv) / 2) DESC,
                            c.cell
               ) AS rk
        FROM subs s JOIN {cents} c ON s.m = c.m
    ) WHERE rk = 1
)
"""


_PQ_MS = ", ".join(str(m) for m in range(PQ_M))
_PQ_CODE_COLS = ", ".join(
    f"MAX(CASE WHEN m = {m} THEN cell END) AS c{m}" for m in range(PQ_M)
)
_PQ_LUT_JOINS = "\n".join(
    f"    JOIN lut l{m} ON l{m}.qid = p.qid AND l{m}.m = {m}"
    f" AND l{m}.cell = w.c{m}"
    for m in range(PQ_M)
)
_PQ_ADC_SUM = "((l0.dm + l1.dm) + l2.dm) + l3.dm"

PQ_RECALL_ORACLE = (
    f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS id,
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                    AS BIGINT)) AS qv
    FROM embeddings
),
subs AS (
    SELECT id, m, qv[{PQ_SUBD}*m+1 : {PQ_SUBD}*m+{PQ_SUBD}] AS sub
    FROM q, (SELECT unnest([{_PQ_MS}]) AS m) ms
),
seed_ids AS (
    SELECT id FROM q ORDER BY {_PQ_SEED_H}, id LIMIT {PQ_K}
),
seeds AS (
    SELECT s.m, s.id AS cell,
           list_transform(s.sub, x -> CAST(x AS DOUBLE)) AS cv
    FROM subs s JOIN seed_ids USING (id)
),"""
    + _pq_assign_cte("a0", "seeds")
    + """,
cent1 AS (
    SELECT m, cell, list(v ORDER BY dim) AS cv FROM (
        SELECT m, cell, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS v
        FROM (SELECT m, cell, generate_subscripts(sub, 1) AS dim,
                     unnest(sub) AS v
              FROM a0)
        GROUP BY m, cell, dim
    ) GROUP BY m, cell
),"""
    + _pq_assign_cte("a1", "cent1")
    + f""",
codesw AS (
    SELECT id AS nid, {_PQ_CODE_COLS} FROM a1 GROUP BY id
),
panel AS (
    SELECT id AS qid, qv FROM q ORDER BY {_PQ_PANEL_H}, id LIMIT {PQ_PANEL}
),
psubs AS (
    SELECT qid, m,
           list_transform(qv[{PQ_SUBD}*m+1 : {PQ_SUBD}*m+{PQ_SUBD}],
                          x -> CAST(x AS DOUBLE)) AS qsub
    FROM panel, (SELECT unnest([{_PQ_MS}]) AS m) ms
),
lut AS (
    SELECT p.qid, p.m, c.cell, list_dot_product(p.qsub, c.cv) AS dm
    FROM psubs p JOIN cent1 c ON p.m = c.m
),
adc AS (
    SELECT p.qid, w.nid, {_PQ_ADC_SUM} AS adc_ip
    FROM panel p
    CROSS JOIN codesw w
{_PQ_LUT_JOINS}
    WHERE w.nid <> p.qid
),
exact AS (
    SELECT p.qid, g.id AS nid,
           list_dot_product(list_transform(p.qv, x -> CAST(x AS DOUBLE)),
                            list_transform(g.qv, x -> CAST(x AS DOUBLE)))
               AS ip
    FROM panel p JOIN q g ON g.id <> p.qid
),
re AS (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, nid) AS r
    FROM exact
),
ra AS (
    SELECT qid, nid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_ip DESC, nid) AS r
    FROM adc
),
ov AS (
    SELECT re.qid, COUNT(ra.nid) AS n_overlap
    FROM re LEFT JOIN ra ON ra.qid = re.qid AND ra.nid = re.nid
                         AND ra.r <= {PQ_TOPK}
    WHERE re.r <= {PQ_TOPK}
    GROUP BY re.qid
)
SELECT n_overlap AS overlap_at_{PQ_TOPK},
       CAST(COUNT(*) AS BIGINT) AS n_queries
FROM ov GROUP BY n_overlap ORDER BY overlap_at_{PQ_TOPK}
"""
)


@register("pq_adc_recall", PQ_RECALL_ORACLE)
def q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization recall audit: overlap@5 histogram between
    exact inner-product top-5 and PQ asymmetric-distance top-5 for a
    16-query hash panel.

    Scale shape is the real PQ serving path: gallery vectors are
    reduced to 4 small codebook ids (one groupBy pivot), each query
    precomputes a 4x8-entry LUT against the broadcast codebooks, and
    ranking joins the (query x gallery) code frame against the LUT —
    the per-candidate cost is 4 hash-join lookups + 3 additions,
    independent of dimensionality.  Every frame except the 16 x n
    scoring pairs is constant-size; codebook training is one Lloyd
    iteration of the operators/kmeans integer discipline per subspace.
    """
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.functions.vectors import dot_product

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    ).persist()
    subs = q.select(
        "id",
        F.posexplode(
            F.array(*[F.slice("qv", PQ_SUBD * m + 1, PQ_SUBD) for m in range(PQ_M)])
        ).alias("m", "sub"),
    )
    seed_ids = (
        q.orderBy(
            hex_hash64(F.concat(F.lit("pqseed_"), F.col("id").cast("string"))),
            "id",
        )
        .limit(PQ_K)
        .select("id")
    )
    seeds = subs.join(F.broadcast(seed_ids), "id").select(
        "m",
        F.col("id").alias("cell"),
        F.transform("sub", lambda x: x.cast("double")).alias("cv"),
    )

    def assign(cents: DataFrame) -> DataFrame:
        scored = subs.join(F.broadcast(cents), "m").select(
            "m",
            "id",
            "sub",
            "cell",
            (
                dot_product("sub", "cv")
                - dot_product("cv", "cv") / F.lit(2.0)
            ).alias("_s"),
        )
        w = Window.partitionBy("m", "id").orderBy(F.desc("_s"), F.asc("cell"))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("m", "id", "sub", "cell")
        )

    a0 = assign(seeds)
    cent1 = (
        a0.select("m", "cell", F.posexplode("sub").alias("dim", "v"))
        .groupBy("m", "cell", "dim")
        .agg((F.sum("v").cast("double") / F.count("*")).alias("v"))
        .groupBy("m", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "v"))),
                lambda s: s["v"],
            ).alias("cv")
        )
        .persist()
    )
    a1 = assign(cent1)
    codesw = a1.groupBy(F.col("id").alias("nid")).agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("cell"))).alias(f"c{m}")
            for m in range(PQ_M)
        ]
    )
    panel = (
        q.orderBy(
            hex_hash64(F.concat(F.lit("pqpanel_"), F.col("id").cast("string"))),
            "id",
        )
        .limit(PQ_PANEL)
        .select(F.col("id").alias("qid"), "qv")
        .persist()
    )
    psubs = panel.select(
        "qid",
        F.posexplode(
            F.array(*[F.slice("qv", PQ_SUBD * m + 1, PQ_SUBD) for m in range(PQ_M)])
        ).alias("m", "qsub_i"),
    ).select(
        "qid",
        "m",
        F.transform("qsub_i", lambda x: x.cast("double")).alias("qsub"),
    )
    lut = psubs.join(F.broadcast(cent1), "m").select(
        "qid", "m", "cell", dot_product("qsub", "cv").alias("dm")
    )
    pairs = F.broadcast(panel.select("qid")).crossJoin(codesw)
    for m in range(PQ_M):
        lm = lut.filter(F.col("m") == m).select(
            F.col("qid").alias(f"_q{m}"),
            F.col("cell").alias(f"_c{m}"),
            F.col("dm").alias(f"dm{m}"),
        )
        pairs = pairs.join(
            F.broadcast(lm),
            (F.col("qid") == F.col(f"_q{m}")) & (F.col(f"c{m}") == F.col(f"_c{m}")),
        ).drop(f"_q{m}", f"_c{m}")
    adc = pairs.filter(F.col("nid") != F.col("qid")).select(
        "qid",
        "nid",
        (
            (F.col("dm0") + F.col("dm1")) + F.col("dm2") + F.col("dm3")
        ).alias("adc_ip"),
    )
    gal = q.select(F.col("id").alias("nid"), F.col("qv").alias("gv"))
    exact = (
        F.broadcast(panel)
        .join(gal, F.col("nid") != F.col("qid"))
        .select("qid", "nid", dot_product("qv", "gv").alias("ip"))
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("ip"), F.asc("nid"))
    wa = Window.partitionBy("qid").orderBy(F.desc("adc_ip"), F.asc("nid"))
    re = (
        exact.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= PQ_TOPK)
        .select("qid", "nid")
    )
    ra = (
        adc.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= PQ_TOPK)
        .select("qid", F.col("nid").alias("anid"))
    )
    ov = (
        re.join(
            ra,
            (re.qid == ra.qid) & (re.nid == ra.anid),
            "left",
        )
        .groupBy(re.qid)
        .agg(F.count("anid").alias("n_overlap"))
    )
    return (
        ov.groupBy("n_overlap")
        .agg(F.count("*").alias("n_queries"))
        .select(
            F.col("n_overlap").alias(f"overlap_at_{PQ_TOPK}"), "n_queries"
        )
        .orderBy(f"overlap_at_{PQ_TOPK}")
    )


# --- SemDeDup: semantic dedup inside coarse clusters -------------------------

# The SemDeDup recipe (Abbas et al. 2023): cluster embeddings with a
# cheap coarse quantiser, then drop all-but-one of each within-cluster
# near-duplicate pair — the pairing is bounded by cluster size, never
# corpus-quadratic. Here the quantiser is the deterministic IVF
# assignment the ANN family already oracle-replays; keep-rule = lowest
# vec_id of a qualifying pair survives. Threshold 0.3 ~ 2.4 sigma on
# the isotropic fixture vectors (cos std = 1/sqrt(64)), so the drop
# set is small but non-degenerate at every SF.
_SEMDEDUP_T = 0.3
# Per-cell representative cap (round 7): the all-pairs within-cell join
# is Θ(Σ cell²) = n²/k at fixed cell count — the sf10 slopes run hung on
# it (>40 min). A pair is examined iff EITHER side is one of the cell's
# first SD_CAP members by md5 order, so candidates are ≤ n·SD_CAP
# (linear) and dup FAMILIES are still covered (any family member close
# to a representative is found). Never binds through sf0.1 (max cell
# ≈ 125 members), so driver-SF results are unchanged.
SD_CAP = 256

SEMDEDUP_ORACLE = (
    "WITH "
    + IVF_CTES
    + f"""
, sd_reps AS (
    SELECT cell, id FROM (
        SELECT cell, id,
               ROW_NUMBER() OVER (
                   PARTITION BY cell
                   ORDER BY CAST('0x' || substr(md5('sdcap_' ||
                                CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
                            id
               ) AS caprk
        FROM ivfassign
    ) WHERE caprk <= {SD_CAP}
),
sd_pairs AS (
    SELECT DISTINCT m.cell, LEAST(r.id, m.id) AS qid,
           GREATEST(r.id, m.id) AS nid
    FROM sd_reps r JOIN ivfassign m USING (cell)
    WHERE r.id <> m.id
),
sd_near AS (
    SELECT p.cell, p.qid, p.nid
    FROM sd_pairs p
    JOIN embeddings a ON a.vec_id = p.qid
    JOIN embeddings b ON b.vec_id = p.nid
    WHERE {_COS_AB} >= {_SEMDEDUP_T}
),
sd_drop AS (
    SELECT DISTINCT cell, nid AS id FROM sd_near
),
sd_cells AS (
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members FROM ivfassign
    GROUP BY cell
)
SELECT c.cell,
       c.n_members,
       CAST(COALESCE(COUNT(d.id), 0) AS BIGINT) AS n_dropped,
       c.n_members - CAST(COALESCE(COUNT(d.id), 0) AS BIGINT) AS n_kept
FROM sd_cells c LEFT JOIN sd_drop d ON d.cell = c.cell
GROUP BY c.cell, c.n_members
ORDER BY c.cell
"""
)


@register("semdedup_manifest", SEMDEDUP_ORACLE)
def q_semdedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop manifest: per IVF cell, how many embeddings a
    within-cluster cosine >= 0.3 rule would drop (keeping each
    qualifying pair's lowest id) — embedding-level semantic dedup, the
    missing sibling of the text near-dup family.

    Scale posture (round 7): the pairing is within coarse cells AND
    capped — a pair is examined iff either side is one of the cell's
    first SD_CAP=256 members by md5 order, so candidates are n·SD_CAP
    (linear; the uncapped within-cell all-pairs term is n²/k at fixed
    cell count and hung the sf10 slopes run). Dup families are still
    covered: any member close to a family representative is found; the
    cap never binds through sf0.1, so driver-SF results are unchanged.
    The IVF assignment is the deterministic k-means-TRAINED quantiser
    (KM_TRAIN_N-sampled training, Arrow-kernel ranking) the ANN oracles
    replay, so every sim and drop decision hash-matches. Cosines are
    the ordered-fold doubles bit-identical to DuckDB
    list_dot_product."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (
        _ivf_ranked_shared(spark, sf_dir, emb)
        .filter(F.col("rk") == 1)
        .select("id", "vec", "cell")
    )  # the shared frame is persisted; rk==1 is the quantiser assignment
    wcap = Window.partitionBy("cell").orderBy(
        hex_hash64(F.concat(F.lit("sdcap_"), F.col("id").cast("string"))),
        F.col("id"),
    )
    flagged = assigned.withColumn(
        "caprk", F.row_number().over(wcap)
    ).select("cell", "id", "vec", (F.col("caprk") <= SD_CAP).alias("is_rep"))

    # Rep×member cosine per cell in ONE applyInPandas kernel: the
    # per-pair interpreted fold (dot + two norms per candidate) was the
    # sf10 wall (51M capped pairs × 64 dims ≈ 395 s); the kernel runs
    # the identical ordered-dim accumulation vectorized. Each (q<n) pair
    # with either side a rep is scored exactly once (rep-rep pairs only
    # from the rid<mid side).
    def _sd_kernel(pdf):
        import numpy as np
        import pandas as pd

        V = np.array([list(v) for v in pdf["vec"]], dtype=np.float64)
        ids = np.asarray(pdf["id"], dtype=np.int64)
        rep = np.asarray(pdf["is_rep"], dtype=bool)
        cell = pdf["cell"].iloc[0]
        n, dims = V.shape
        # ordered-fold norms (same add sequence as l2_norm / DuckDB)
        nrm2 = np.zeros(n, dtype=np.float64)
        for d in range(dims):
            nrm2 += V[:, d] * V[:, d]
        nrm = np.sqrt(nrm2)
        R = np.flatnonzero(rep)
        if len(R) == 0:
            return pd.DataFrame({"cell": [], "qid": [], "nid": []}).astype(
                {"cell": "int64", "qid": "int64", "nid": "int64"}
            )
        acc = np.zeros((len(R), n), dtype=np.float64)
        for d in range(dims):  # ordered over dims == left fold order
            acc += V[R, d : d + 1] * V[:, d]
        sim = acc / (nrm[R][:, None] * nrm[None, :])
        qs, ns = [], []
        hit = sim >= _SEMDEDUP_T
        for i, r in enumerate(R):
            for j in np.flatnonzero(hit[i]):
                if ids[r] == ids[j]:
                    continue
                if rep[j] and ids[r] >= ids[j]:
                    continue  # rep-rep pair scored from the lower-id side
                qs.append(min(ids[r], ids[j]))
                ns.append(max(ids[r], ids[j]))
        return pd.DataFrame(
            {
                "cell": np.full(len(qs), cell, dtype=np.int64),
                "qid": np.array(qs, dtype=np.int64),
                "nid": np.array(ns, dtype=np.int64),
            }
        )

    near = flagged.groupBy("cell").applyInPandas(
        _sd_kernel, "cell long, qid long, nid long"
    )
    dropped = near.select("cell", F.col("nid").alias("id")).distinct()
    cells = assigned.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return (
        cells.join(
            dropped.groupBy("cell").agg(
                F.count("*").cast("long").alias("n_dropped")
            ),
            "cell",
            "left",
        )
        .select(
            "cell",
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            (
                F.col("n_members")
                - F.coalesce(F.col("n_dropped"), F.lit(0))
            )
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


# --- mutual nearest neighbors (reciprocal best match) -------------------------

# The bitext-mining / cross-corpus alignment primitive: pairs (a, b)
# where b is a's exact top-1 cosine neighbor AND a is b's. Top-1 comes
# from the blocked E.E^T kernel (per-block winners merged — never the
# n^2 row space through the shuffle); mutuality is one self-join of the
# top-1 table with itself.

MNN_ORACLE = (
    "WITH "
    + _EXACT_CTE.replace("rnk <= 5", "rnk <= 1")
    + """
SELECT a.qid AS a, a.nid AS b
FROM exact a JOIN exact b ON a.qid = b.nid AND a.nid = b.qid
WHERE a.qid < a.nid
ORDER BY a, b
"""
)


@register("mutual_nearest_pairs", MNN_ORACLE)
def q_mutual_nearest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match pairs over the embedding corpus — each side
    is the other's exact top-1 cosine neighbor (the mutual-NN criterion
    used for bitext mining and cluster stitching; far stricter than
    one-directional top-k).

    Scale: top-1 rides the blocked tile kernel (shuffle n*b rows, not
    n^2); mutuality is a self-equi-join on the n-row top-1 table.
    Cosines are the ordered-fold doubles; ties broken by id on both
    engines."""
    top1 = cosine_topk_blocked(
        load_table(spark, sf_dir, "embeddings"), k=1
    ).select(F.col("qid"), F.col("nid"))
    rev = top1.select(
        F.col("qid").alias("nid"), F.col("nid").alias("qid")
    )
    return (
        top1.join(rev, ["qid", "nid"])
        .filter(F.col("qid") < F.col("nid"))
        .select(F.col("qid").alias("a"), F.col("nid").alias("b"))
        .orderBy("a", "b")
    )


# --- IVF-celled hard-negative mining (scale companion) ----------------------

# hard_negative_mining's blocked E·Eᵀ kernel is the documented exact
# baseline (quadratic by construction; slope2 = 12.4 at sf1). This is the
# 100 TB path (VERDICT_r06 item 4): mine the nearest CROSS-label neighbor
# inside the trained IVF probe cells only, with per-cell neighbor
# occupancy capped (md5-ordered first HN_CELL_CAP members per cell, the
# simhash_topm / lsh capped-bucket pattern) so candidate volume is
# n · n_probe · cap — linear in n even though cell sizes grow with the
# corpus at fixed n_cells.
HN_CELL_CAP = 256

IVF_HARDNEG_CTES = (
    IVF_CTES
    + f""", hnmembers AS MATERIALIZED (
    SELECT nid, cell FROM (
        SELECT id AS nid, cell,
               ROW_NUMBER() OVER (
                   PARTITION BY cell
                   ORDER BY CAST('0x' || substr(md5('hncap_' ||
                                CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
                            id
               ) AS caprk
        FROM ivfassign
    ) WHERE caprk <= {HN_CELL_CAP}
), hnscored AS (
    SELECT p.qid, m.nid, a.label AS qlabel, b.label AS nlabel,
           {_COS_AB} AS sim
    FROM ivfprobes p
    JOIN hnmembers m USING (cell)
    JOIN embeddings a ON a.vec_id = p.qid
    JOIN embeddings b ON b.vec_id = m.nid
    WHERE p.qid <> m.nid AND a.label <> b.label
), hntop AS (
    SELECT qid, nid, qlabel, nlabel, sim FROM (
        SELECT qid, nid, qlabel, nlabel, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM hnscored
    ) WHERE rnk = 1
)"""
)

IVF_HARDNEG_ORACLE = (
    "WITH "
    + IVF_HARDNEG_CTES
    + "\nSELECT qid, nid, qlabel, nlabel, sim FROM hntop"
)


def _ivf_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amorphous_mapreduce_spark.operators.similarity import (
        _capped_cell_members,
        _cell_scored_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select(F.col("vec_id").alias("id"), F.col("label").alias("lbl"))
    ranked = _ivf_ranked_shared(spark, sf_dir, emb).join(
        lab, "id"
    ).persist()
    members = _capped_cell_members(
        ranked.filter(F.col("rk") == 1).select("id", "vec", "cell"),
        HN_CELL_CAP,
        salt="hncap_",
    ).join(lab.toDF("nid", "lbl"), "nid")
    probes = ranked.select(
        F.col("id").alias("qid"), F.col("vec").alias("qv"), "cell", "lbl"
    )
    # per-cell Arrow kernel: cross-label mask + local top-1 (the
    # interpreted fold over the capped candidates was still ~26 min/run
    # at sf10); global top-1 merges the <=4 per-cell winners.
    scored = _cell_scored_arrow(
        probes, members, local_topk=1, cross_label=True
    ).select("qid", "nid", "sim")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .join(lab.toDF("qid", "qlabel"), "qid")
        .join(lab.toDF("nid", "nlabel"), "nid")
        .select("qid", "nid", "qlabel", "nlabel", "sim")
    )


@register("ivf_hard_negatives", IVF_HARDNEG_ORACLE)
def q_ivf_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining at scale: each vector's nearest cross-label
    neighbor among the CAPPED members of its 4 probed (k-means-trained)
    IVF cells — the linear-candidate companion to hard_negative_mining's
    exact quadratic kernel (VERDICT_r06 item 4).

    Candidates = n · 4 probes · ≤256 capped members, so the mining pass
    stays linear as cells grow with the corpus; per-cell caps sample by
    md5 order (unbiased, deterministic, oracle-replayed). Quality is
    measured by ivf_hard_negative_recall against the exact kernel.

    Scale: cell equi-join + per-query window; training rides the
    KM_TRAIN_N sampled k-means; cosine scores are ordered-fold doubles
    (bit-identical to DuckDB list_dot_product)."""
    return _ivf_hard_negatives(spark, sf_dir)


IVF_HARDNEG_RECALL_ORACLE = (
    "WITH "
    + IVF_HARDNEG_CTES
    + f""", rcpanel AS MATERIALIZED (
    -- RC_PANEL_N truth panel (round 8): == full corpus at driver SFs
    SELECT vec_id FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (
                   ORDER BY CAST('0x' || substr(md5('rcpanel_' ||
                                CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                            vec_id
               ) AS prk
        FROM embeddings
    ) WHERE prk <= {RC_PANEL_N}
), hnpairs AS (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS} AS sim
    FROM embeddings a
    JOIN rcpanel rp ON rp.vec_id = a.vec_id
    CROSS JOIN embeddings b
    WHERE a.label <> b.label
), hnexact AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM hnpairs
    ) WHERE rnk = 1
)
SELECT n_exact, n_hits, CAST(n_hits AS DOUBLE) / n_exact AS recall FROM (
    SELECT COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
    FROM hnexact e
    LEFT JOIN hntop t ON e.qid = t.qid AND e.nid = t.nid
)"""
)


@register("ivf_hard_negative_recall", IVF_HARDNEG_RECALL_ORACLE)
def q_ivf_hard_negative_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement of the IVF-celled hard-negative miner with the exact
    cross-label top-1 (blocked E·Eᵀ kernel as truth) — the quality
    scorecard justifying ivf_hard_negatives as the 100 TB path. The
    exact side is the documented quadratic baseline over the
    RC_PANEL_N truth panel (|panel|·n, == full corpus at driver SFs),
    present here only for the eval (same pattern as
    similarity_lsh_recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk_blocked(
        emb,
        k=1,
        n_blocks=16,
        exclude_label_col="label",
        query_ids=_rc_panel_ids(emb),
    ).select("qid", "nid")
    ann = (
        _ivf_hard_negatives(spark, sf_dir)
        .select("qid", "nid")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ann, ["qid", "nid"], "left")
        .agg(
            F.count("*").alias("n_exact"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "n_exact",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


# --- Matryoshka (prefix-truncation) recall audit ------------------------------

_MRL_DIMS = (8, 16, 32)

MATRYOSHKA_ORACLE = f"""
WITH panel AS (
    SELECT vec_id AS qid, embedding AS qv
    FROM embeddings ORDER BY {_QHASH}, vec_id LIMIT 32
),
dims(d) AS (VALUES ({"), (".join(str(d) for d in _MRL_DIMS)})),
scored AS (
    SELECT dims.d, p.qid, g.vec_id AS nid,
           list_dot_product(p.qv::DOUBLE[], g.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))
              * sqrt(list_dot_product(g.embedding::DOUBLE[],
                                      g.embedding::DOUBLE[]))) AS cos_full,
           list_dot_product(p.qv[1:dims.d]::DOUBLE[],
                            g.embedding[1:dims.d]::DOUBLE[])
           / (sqrt(list_dot_product(p.qv[1:dims.d]::DOUBLE[],
                                    p.qv[1:dims.d]::DOUBLE[]))
              * sqrt(list_dot_product(g.embedding[1:dims.d]::DOUBLE[],
                                      g.embedding[1:dims.d]::DOUBLE[])))
               AS cos_trunc
    FROM panel p CROSS JOIN dims JOIN embeddings g ON g.vec_id <> p.qid
),
rf AS (
    SELECT d, qid, nid,
           ROW_NUMBER() OVER (PARTITION BY d, qid
                              ORDER BY cos_full DESC, nid) AS r_full
    FROM scored
),
rt AS (
    SELECT d, qid, nid,
           ROW_NUMBER() OVER (PARTITION BY d, qid
                              ORDER BY cos_trunc DESC, nid) AS r_trunc
    FROM scored
),
ov AS (
    SELECT rf.d, rf.qid, COUNT(rt.nid) AS n_overlap
    FROM rf LEFT JOIN rt ON rf.d = rt.d AND rf.qid = rt.qid
                         AND rf.nid = rt.nid AND rt.r_trunc <= 5
    WHERE rf.r_full <= 5
    GROUP BY rf.d, rf.qid
)
SELECT CAST(d AS BIGINT) AS trunc_dim, n_overlap AS overlap_at_5,
       CAST(COUNT(*) AS BIGINT) AS n_queries
FROM ov GROUP BY d, n_overlap
ORDER BY trunc_dim, overlap_at_5
"""


@register("matryoshka_recall", MATRYOSHKA_ORACLE)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit: overlap@5 histogram between
    full-dimension (64) cosine top-5 and PREFIX-truncated cosine top-5
    at d in {8, 16, 32} — the storage/latency-vs-recall evidence for
    serving truncated embeddings (MRL-style), the dimension-axis twin
    of quantization_recall (which audits the precision axis).

    Exactness: prefix dots are ordered left folds over array slices —
    bit-identical to DuckDB list_dot_product on sliced DOUBLE[] (the
    functions/vectors contract); both rankings carry nid tie-breaks.

    Scale: the query panel is CONSTANT-SIZE (TakeOrdered over the md5
    hash, limit 32), so the scored frame is 32 x |dims| x |gallery| —
    linear in the corpus with the panel broadcast; both rankings come
    from ONE persisted scored frame (the gotcha: the overlap join's two
    branches would otherwise re-execute the crossJoin lineage).
    """
    from amorphous_mapreduce_spark.functions.vectors import dot_product

    emb = load_table(spark, sf_dir, "embeddings")
    qh = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qpanel_"), F.col("vec_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    panel = (
        emb.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            qh.alias("_h"),
        )
        .orderBy("_h", "qid")
        .limit(32)
        .drop("_h")
    )
    gal = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("gv")
    ).repartition(32)
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in _MRL_DIMS])).alias("d")
    )
    cos_full = dot_product("qv", "gv") / (l2_norm("qv") * l2_norm("gv"))
    qs = F.expr("slice(qv, 1, d)")
    gs = F.expr("slice(gv, 1, d)")
    cos_trunc = dot_product(qs, gs) / (
        F.sqrt(dot_product(qs, qs)) * F.sqrt(dot_product(gs, gs))
    )
    scored = (
        F.broadcast(panel)
        .crossJoin(F.broadcast(dims))
        .crossJoin(gal)
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "d",
            "qid",
            "nid",
            cos_full.alias("cos_full"),
            cos_trunc.alias("cos_trunc"),
        )
        .persist()
    )
    wf = Window.partitionBy("d", "qid").orderBy(
        F.desc("cos_full"), F.asc("nid")
    )
    wt = Window.partitionBy("d", "qid").orderBy(
        F.desc("cos_trunc"), F.asc("nid")
    )
    rf = scored.select("d", "qid", "nid", F.row_number().over(wf).alias("r_full"))
    rt = scored.select("d", "qid", "nid", F.row_number().over(wt).alias("r_trunc"))
    ov = (
        rf.filter(F.col("r_full") <= 5)
        .join(
            rt.filter(F.col("r_trunc") <= 5).withColumn("hit", F.lit(1)),
            ["d", "qid", "nid"],
            "left",
        )
        .groupBy("d", "qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("overlap_at_5"))
    )
    return (
        ov.groupBy("d", "overlap_at_5")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .select(
            F.col("d").cast("long").alias("trunc_dim"),
            "overlap_at_5",
            "n_queries",
        )
        .orderBy("trunc_dim", "overlap_at_5")
    )
