"""Weighted selection, community structure, and record-linkage scoring
over ``documents`` (round 7).

Four new operator families, each fully oracle-checked:

- Efraimidis-Spirakis weighted sampling without replacement (the
  distributed weighted-reservoir primitive a curation pipeline uses to
  sample documents proportional to length/quality) — the log of the
  uniform draw goes through functions.intlog so the sample is
  bit-identical across engines;
- label-propagation communities (majority vote, not min-label — the
  community structure CC cannot see) with unrolled MATERIALIZED rounds;
- global transitivity (one-row triangle/wedge scorecard);
- near-dup cluster-size octave profile (floor-log2 histogram of CC
  cluster sizes, singletons included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.functions.intlog import (
    log2_scaled_expr,
    log2_scaled_sql,
)
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

# --- Efraimidis-Spirakis weighted sampling -----------------------------------

# Per-source top-k by u^(1/w): the distributed one-pass weighted sample
# without replacement (Efraimidis & Spirakis 2006). Ranking u^(1/w) DESC
# == log2(u)/w DESC == L/w ASC where L = -log2(u) >= 0. u is an md5 draw
# over 2^50 buckets (inside intlog's 2^55 domain), L is the integer
# 2^20-scaled -log2, and the rank key is the truncated rational
# (L * 2^20) div w — deterministic on both engines, ties broken by id.
ES_K = 8
_ES_POW = 1125899906842624  # 2^50
_ES_LBITS = 50 * 1048576

_ES_HM_SQL = (
    "CAST('0x' || substr(md5('es_' || CAST(doc_id AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_ES_POW} + 1"
)

WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
    SELECT source, doc_id, GREATEST(n_chars, 1) AS weight,
           (({_ES_LBITS} - {log2_scaled_sql("hm")}) * 1048576)
               // GREATEST(n_chars, 1) AS key_q
    FROM (SELECT source, doc_id, n_chars, {_ES_HM_SQL} AS hm FROM documents)
)
SELECT source, doc_id, weight, key_q, rk FROM (
    SELECT source, doc_id, weight, key_q,
           ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY key_q, doc_id) AS rk
    FROM keyed
) WHERE rk <= {ES_K}
"""


@register("weighted_sample_es", WEIGHTED_SAMPLE_ORACLE)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement: the
    ES_K=8 documents per source with the largest u^(1/w) (w = n_chars) —
    the one-pass distributed weighted-reservoir primitive (sampling
    probability proportional to weight, no RNG state, no sequential
    reservoir). At 100 TB this is exactly how you draw a
    length-proportional document sample: one scan, one per-source top-k.

    Determinism: u = md5 draw over 2^50 buckets; -log2(u) through the
    shared integer LUT (functions.intlog); rank key = (L*2^20) div w —
    truncated integer rational, identical on both engines; ties (key,
    doc_id). Scale: one projection + per-source top-k window (at scale a
    TakeOrdered per group; no global sort, no driver state)."""
    docs = load_table(spark, sf_dir, "documents")
    hm = (
        F.pmod(
            hex_hash64(F.concat(F.lit("es_"), F.col("doc_id").cast("string"))),
            F.lit(_ES_POW),
        )
        + 1
    )
    w = F.greatest(F.col("n_chars"), F.lit(1))
    keyed = docs.select(
        "source",
        "doc_id",
        w.alias("weight"),
        hm.alias("hm"),
    ).select(
        "source",
        "doc_id",
        "weight",
        F.expr(
            f"CAST((({_ES_LBITS} - ("
            + log2_scaled_expr("hm")
            + ")) * 1048576) div weight AS BIGINT)"
        ).alias("key_q"),
    )
    wk = Window.partitionBy("source").orderBy("key_q", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= ES_K)
        .select("source", "doc_id", "weight", "key_q", "rk")
    )


# --- label-propagation communities -------------------------------------------

LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    from amorphous_mapreduce_spark.queries.dedup_queries import lpa_ctes

    return lpa_ctes(LPA_ROUNDS)


def _lpa_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)


@register(
    "lpa_communities",
    _lpa_oracle() + f"\nSELECT id, label AS community FROM l{LPA_ROUNDS}\n",
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the MinHash near-dup graph:
    each edge-incident doc adopts the MAJORITY label among its neighbors
    (ties -> smallest label), 3 synchronous rounds — the community
    detector that separates densely-linked template families where
    min-label CC merges everything reachable.

    Deterministic: fixed round count, (count DESC, label ASC) vote
    order. Oracle unrolls the rounds as MATERIALIZED CTEs (the k-core
    lesson: un-materialized chained rounds re-expand multiplicatively).
    Scale: per round one keyed edge join + a (node, label) hash
    aggregate + a per-node top-1 window — linear in edges;
    localCheckpoint per round stops lineage re-expansion."""
    from amorphous_mapreduce_spark.operators.graph import label_propagation

    return label_propagation(_lpa_pairs(spark, sf_dir), n_rounds=LPA_ROUNDS)


# --- modularity of the LPA partition ------------------------------------------


def _modularity_oracle() -> str:
    return (
        _lpa_oracle()
        + f""", comm AS (
    SELECT id, label AS lbl FROM l{LPA_ROUNDS}
), mm AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs
), intra AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS intra
    FROM pairs p
    JOIN comm a ON a.id = p.qid
    JOIN comm b ON b.id = p.nid AND b.lbl = a.lbl
), degc AS (
    SELECT c.lbl, CAST(COUNT(*) AS BIGINT) AS dc
    FROM edges e JOIN comm c ON c.id = e.a GROUP BY c.lbl
), dsq AS (
    SELECT CAST(SUM(dc * dc) AS BIGINT) AS sum_deg_sq,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM degc
)
SELECT n_communities, m AS n_edges, intra AS intra_edges, sum_deg_sq,
       CASE WHEN m = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(4 * m * intra - sum_deg_sq AS DOUBLE)
                 / CAST(4 * m * m AS DOUBLE) END AS modularity
FROM dsq CROSS JOIN mm CROSS JOIN intra
"""
    )


@register("community_modularity", _modularity_oracle())
def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the one-row quality
    scorecard for the community structure: Q = Σ_c [e_c/m − (d_c/2m)²]
    computed as the EXACT integer rational (4m·Σe_c − Σd_c²) / 4m², one
    double division at the end (int64-safe while m < ~10⁶ edges — the
    bounded LSH candidate set; document before pushing past that).

    Scale: reuses the LPA rounds (keyed joins), then one intra-edge
    semi-join + one per-community degree aggregate."""
    from amorphous_mapreduce_spark.operators.graph import (
        label_propagation,
        symmetric_edges,
    )

    pairs = _lpa_pairs(spark, sf_dir).persist()
    edges = symmetric_edges(pairs)
    labels = label_propagation(pairs, n_rounds=LPA_ROUNDS).select(
        "id", F.col("community").alias("lbl")
    )
    m = pairs.agg(F.count("*").cast("long").alias("m"))
    ca = labels.select(F.col("id").alias("qid"), F.col("lbl").alias("albl"))
    cb = labels.select(F.col("id").alias("nid"), F.col("lbl").alias("blbl"))
    intra = (
        pairs.join(ca, "qid")
        .join(cb, "nid")
        .filter(F.col("albl") == F.col("blbl"))
        .agg(F.count("*").cast("long").alias("intra"))
    )
    degc = (
        edges.join(labels.select(F.col("id").alias("a"), "lbl"), "a")
        .groupBy("lbl")
        .agg(F.count("*").alias("dc"))
    )
    dsq = degc.agg(
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_deg_sq"),
        F.count("*").cast("long").alias("n_communities"),
    )
    return (
        dsq.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(intra))
        .select(
            "n_communities",
            F.col("m").alias("n_edges"),
            F.col("intra").alias("intra_edges"),
            "sum_deg_sq",
            F.when(F.col("m") == 0, F.lit(0.0))
            .otherwise(
                (4 * F.col("m") * F.col("intra") - F.col("sum_deg_sq")).cast(
                    "double"
                )
                / (4 * F.col("m") * F.col("m")).cast("double")
            )
            .alias("modularity"),
        )
    )


# --- global transitivity ------------------------------------------------------


def _transitivity_oracle() -> str:
    from amorphous_mapreduce_spark.queries.dedup_queries import (
        _NEARDUP_EDGES_PREFIX,
    )

    return (
        _NEARDUP_EDGES_PREFIX
        + """, deg AS (
    SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY a
), wedges AS (
    SELECT CAST(CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS BIGINT)
               AS n_wedges
    FROM deg
), tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM pairs p1
    JOIN pairs p2 ON p2.qid = p1.nid
    JOIN pairs p3 ON p3.qid = p1.qid AND p3.nid = p2.nid
)
SELECT n_triangles, n_wedges,
       CASE WHEN n_wedges = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       END AS transitivity
FROM tri CROSS JOIN wedges
"""
    )


@register("global_transitivity", _transitivity_oracle())
def q_global_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the near-dup graph: 3·triangles
    / wedges — the one-row density scorecard distinguishing template
    families (high transitivity) from chain-like accidental overlaps.
    Complements the per-node clustering coefficient with the corpus-level
    number.

    Integer-exact: triangle count is the ordered (a<b<c) three-way pair
    join; wedge count Σd(d−1)/2 is exact BIGINT (the sum is even by
    construction). Scale: keyed equi-joins on the bounded candidate pair
    list + one scalar aggregate."""
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = pairs.unionByName(
        pairs.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"))
    )
    deg = edges.groupBy(F.col("qid").alias("id")).agg(
        F.count("*").alias("d")
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("dd")
    ).select(F.expr("CAST(dd div 2 AS BIGINT)").alias("n_wedges"))
    p1 = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b"))
    p2 = pairs.select(F.col("qid").alias("b"), F.col("nid").alias("c"))
    p3 = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("c"))
    tri = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            (3 * F.col("n_triangles")).cast("double")
            / F.col("n_wedges").cast("double")
        )
        .alias("transitivity"),
    )


# --- near-dup cluster-size octave profile -------------------------------------


def _cluster_octave_oracle() -> str:
    from amorphous_mapreduce_spark.queries.dedup_queries import (
        shingles_cte,
        MINHASH_EDGES_CTE,
    )

    return (
        "WITH RECURSIVE "
        + shingles_cte("documents").strip()
        + MINHASH_EDGES_CTE
        + """, reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), clusters AS (
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
), sizes AS (
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
    FROM clusters GROUP BY cluster
)
SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS octave,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY octave ORDER BY octave
"""
    )


@register("dup_cluster_octaves", _cluster_octave_oracle())
def q_dup_cluster_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Octave histogram (floor-log2 buckets) of near-dup cluster sizes,
    singletons included — the duplication-structure fingerprint of a
    corpus (how much mass sits in 2-4-doc families vs 100+-doc template
    explosions), the number that decides whether near-dup removal is
    worth a full LSH pass. floor(log2 sz) = length(bin(sz))-1, libm-free
    on both engines.

    Scale: CC over edge-incident nodes only + one groupBy; the oracle
    replays clustering via WITH RECURSIVE reachability (exact same
    min-label semantics)."""
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs
    from amorphous_mapreduce_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    clusters = dedup_clusters(docs, pairs)
    sizes = clusters.groupBy("cluster").agg(F.count("*").alias("sz"))
    return (
        sizes.select(
            (F.length(F.bin(F.col("sz"))) - 1).cast("long").alias("octave"),
            "sz",
        )
        .groupBy("octave")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .orderBy("octave")
    )


# --- lightweight coreset over the embedding corpus ----------------------------

# Lightweight coresets (Bachem, Lucic & Krause, KDD 2018): sample m
# points with probability q(x) = 1/(2n) + d(x, mean)^2 / (2 * sum d^2),
# weight each by 1/(m*q(x)) — a provable k-means coreset from ONE mean
# pass + ONE importance-sampling pass, the cheapest corpus-compression
# recipe that still bounds clustering error. Deterministic distributed
# version: the draw is Efraimidis-Spirakis over the integer importance
# weights (the weighted_sample_es machinery — md5 draw, intlog L,
# truncated rational rank key), so the sample is bit-identical across
# engines and replayable in SQL. Integer discipline:
# - center = per-dim floor-quantized mean (sum div n) of the
#   round(x*1000)-quantized vectors — exact, engine-portable (Spark div
#   == DuckDB // on BIGINT, negatives truncate identically);
# - d2 = sum of squared integer residuals (order-free integer sum);
# - importance W = S + n*d2 (common-denominator form of q(x), S = sum of
#   all d2; both ~1e15 at sf10, inside int64 to ~sf300);
# - rank weight w_q = W div max(S div 2^20, 1) — the 2^20-scaled
#   RELATIVE importance, keeping the ES key (L*2^20) div w_q
#   non-degenerate at any corpus magnitude.
LWCS_M = 64
_LWCS_POW = 1125899906842624  # 2^50
_LWCS_LBITS = 50 * 1048576

_LWCS_HM_SQL = (
    "CAST('0x' || substr(md5('lwcs_' || CAST(vec_id AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_LWCS_POW} + 1"
)

LWCS_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS id,
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                    AS BIGINT)) AS qv
    FROM embeddings
),
nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
center AS MATERIALIZED (
    SELECT dim, SUM(v) // n AS c
    FROM (SELECT generate_subscripts(qv, 1) AS dim, unnest(qv) AS v FROM q),
         nrow
    GROUP BY dim, n
),
d2s AS MATERIALIZED (
    SELECT t.id, CAST(SUM((t.v - c.c) * (t.v - c.c)) AS BIGINT) AS d2
    FROM (SELECT id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS v
          FROM q) t
    JOIN center c USING (dim)
    GROUP BY t.id
),
tots AS (SELECT CAST(SUM(d2) AS BIGINT) AS s FROM d2s),
keyed AS (
    SELECT d.id, d.d2,
           (tots.s + nrow.n * d.d2)
               // GREATEST(tots.s // 1048576, 1) AS w_q,
           (({_LWCS_LBITS} - {log2_scaled_sql("hm")}) * 1048576)
               // ((tots.s + nrow.n * d.d2)
                   // GREATEST(tots.s // 1048576, 1)) AS key_q,
           CAST(tots.s AS DOUBLE) AS sd, CAST(nrow.n AS DOUBLE) AS nd,
           CAST(tots.s + nrow.n * d.d2 AS DOUBLE) AS wd
    FROM (SELECT id, d2, {_LWCS_HM_SQL.replace("vec_id", "id")} AS hm
          FROM d2s) d, tots, nrow
)
SELECT rk, id AS vec_id, d2, w_q, key_q,
       ((2.0 * nd) * sd) / ({LWCS_M}.0 * wd) AS coreset_weight
FROM (
    SELECT id, d2, w_q, key_q, sd, nd, wd,
           ROW_NUMBER() OVER (ORDER BY key_q, id) AS rk
    FROM keyed
) WHERE rk <= {LWCS_M}
ORDER BY rk
"""


@register("lightweight_coreset", LWCS_ORACLE)
def q_lightweight_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight-coreset manifest (Bachem et al. 2018): the LWCS_M=64
    embedding vectors drawn by deterministic Efraimidis-Spirakis
    sampling with importance q(x) = 1/(2n) + d(x,mean)^2/(2*sum d^2),
    each with its exact squared distance, integer importance, rank key
    and the 1/(m*q) coreset weight — corpus compression with a
    clustering-error guarantee, from two linear passes.

    Determinism/exactness: quantized-integer center and distances; the
    ES draw and rank key are the weighted_sample_es integers; the
    coreset weight is one pinned-parenthesization double expression.

    Scale: one per-dim aggregate (64*n explode -> 64 rows), one scoring
    pass against the broadcast 1-row (center, S, n) model frame, one
    global top-m (TakeOrderedAndProject). The quantized frame is
    persisted (mean pass + scoring pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x * 1000).cast("long")
    )
    q = emb.select(F.col("vec_id").alias("id"), qv.alias("qv")).persist()
    n = q.agg(F.count("*").cast("long").alias("n"))
    center = (
        q.select(F.posexplode("qv").alias("dim0", "v"))
        .groupBy("dim0")
        .agg(F.sum("v").alias("sv"))
        .crossJoin(F.broadcast(n))
        .select("dim0", F.expr("sv div n").alias("c"))
        .groupBy(F.lit(1).alias("_g"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )
        .drop("_g")
    )
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d2s = (
        q.crossJoin(F.broadcast(center))
        .select("id", d2.alias("d2"))
        .persist()  # S aggregate + scoring both read it
    )
    tots = d2s.agg(F.sum("d2").cast("long").alias("s"))
    hm = (
        F.pmod(
            hex_hash64(F.concat(F.lit("lwcs_"), F.col("id").cast("string"))),
            F.lit(_LWCS_POW),
        )
        + 1
    )
    keyed = (
        d2s.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "d2",
            hm.alias("hm"),
            F.expr(
                "(s + n * d2) div GREATEST(s div 1048576, 1)"
            ).alias("w_q"),
            F.col("s").cast("double").alias("sd"),
            F.col("n").cast("double").alias("nd"),
            (F.col("s") + F.col("n") * F.col("d2"))
            .cast("double")
            .alias("wd"),
        )
        .select(
            "id",
            "d2",
            "w_q",
            "sd",
            "nd",
            "wd",
            F.expr(
                f"CAST((({_LWCS_LBITS} - ("
                + log2_scaled_expr("hm")
                + ")) * 1048576) div w_q AS BIGINT)"
            ).alias("key_q"),
        )
    )
    # TakeOrderedAndProject cuts to m rows BEFORE the rank window, so
    # the only global window runs over the 64-row result, never the
    # corpus (the distributed top-k discipline).
    wk = Window.orderBy("key_q", "id")
    return (
        keyed.orderBy("key_q", "id")
        .limit(LWCS_M)
        .withColumn("rk", F.row_number().over(wk))
        .select(
            "rk",
            F.col("id").alias("vec_id"),
            "d2",
            "w_q",
            "key_q",
            (
                ((F.lit(2.0) * F.col("nd")) * F.col("sd"))
                / (F.lit(float(LWCS_M)) * F.col("wd"))
            ).alias("coreset_weight"),
        )
        .orderBy("rk")
    )
