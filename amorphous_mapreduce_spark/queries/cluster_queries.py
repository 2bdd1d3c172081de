"""Dedup clustering + array/map function coverage queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs
from amorphous_mapreduce_spark.operators.graph import dedup_clusters, symmetric_edges
from amorphous_mapreduce_spark.queries.dedup_queries import SHINGLES_CTE
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

# Oracle: same minhash-LSH pairs CTE as dedup_queries, then transitive
# closure via WITH RECURSIVE; cluster = min reachable id; singletons self.
# (WITH RECURSIVE accepts the leading non-recursive CTEs too.)
CLUSTERS_ORACLE = (
    "WITH RECURSIVE "
    + SHINGLES_CTE.strip()
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
), edges AS (
    SELECT qid AS a, nid AS b FROM pairs
    UNION
    SELECT nid AS a, qid AS b FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS id, MIN(dst) AS cluster,
       (src = MIN(dst)) AS is_keeper
FROM reach GROUP BY src
"""
)


@register("near_dup_clusters", CLUSTERS_ORACLE)
def q_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: minhash-LSH pairs -> connected components
    (iterative min-label propagation) -> canonical keeper per cluster.
    Oracle: transitive closure via WITH RECURSIVE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    return dedup_clusters(docs, pairs)


ARRAY_OPS_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       embedding[1]::DOUBLE AS first_val,
       list_sum(embedding[1:8]::DOUBLE[]) AS head_sum,
       list_max(embedding::DOUBLE[]) AS max_val,
       list_min(embedding::DOUBLE[]) AS min_val
FROM embeddings
"""


@register("embedding_array_ops", ARRAY_OPS_ORACLE)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function coverage: size/index/slice/fold/max/min over
    array<float> (left-fold head_sum matches DuckDB's list_sum order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    head = F.slice(F.col("embedding"), 1, 8)
    head_sum = F.aggregate(
        head, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        head_sum.alias("head_sum"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.array_min("embedding").cast("double").alias("min_val"),
    )


MAP_OPS_ORACLE = """
WITH kv AS (
    SELECT unnest(json_keys(props)) AS prop_key, props FROM events
)
SELECT prop_key,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$."' || prop_key || '"')
                     AS BIGINT)) AS BIGINT) AS sum_value
FROM kv GROUP BY prop_key
"""


@register("events_props_map", MAP_OPS_ORACLE)
def q_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: props JSON parsed to map<string,long>, exploded
    to (key, value) rows, aggregated per key."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "prop_key", "v"
        )
    )
    return parsed.groupBy("prop_key").agg(
        F.count("*").alias("n_events"), F.sum("v").alias("sum_value")
    )


# Oracle: same minhash-LSH pairs CTE, then triangles = two keyed joins
# (AB-BC chaining + AC membership) over the canonical qid<nid pair set.
TRIANGLES_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
)
SELECT p1.qid AS id_a, p1.nid AS id_b, p2.nid AS id_c
FROM pairs p1
JOIN pairs p2 ON p1.nid = p2.qid
JOIN pairs p3 ON p3.qid = p1.qid AND p3.nid = p2.nid
"""
)


@register("near_dup_triangles", TRIANGLES_ORACLE)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup similarity graph (the
    density signal dedup pipelines use to spot template farms): with
    every edge stored once as qid<nid, each triangle a<b<c is found
    exactly once by chaining AB->BC on the shared middle node and
    semi-joining the closing edge AC — two keyed hash joins, no
    per-node fanout beyond true degree. The shared pair set is
    persisted so the three join branches don't recompute the LSH
    lineage (CLAUDE.md self-join gotcha)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    e1 = pairs.select(F.col("qid").alias("id_a"), F.col("nid").alias("id_b"))
    e2 = pairs.select(F.col("qid").alias("id_b"), F.col("nid").alias("id_c"))
    e3 = pairs.select(F.col("qid").alias("id_a"), F.col("nid").alias("id_c"))
    return e1.join(e2, "id_b").join(e3, ["id_a", "id_c"], "left_semi").select(
        "id_a", "id_b", "id_c"
    )


# Oracle: doc_stats quality formula + the LSH pairs CTE + recursive
# closure; survivor per cluster = highest quality, doc_id tie-break.
from pyspark.sql import Window  # noqa: E402
from amorphous_mapreduce_spark.operators.text_analysis import (  # noqa: E402
    STOPWORDS,
    doc_stats,
)
from amorphous_mapreduce_spark.queries.dedup_queries import (  # noqa: E402
    NORM,
    _sql_list,
)


BEST_QUALITY_ORACLE = (
    """
WITH RECURSIVE stats AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE least(1.0, n_tokens / 100) * (1 - punct_ratio)
                     * (0.5 + stopword_ratio) END AS quality
    FROM (
        SELECT doc_id,
               CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens,
               (length(norm) - length(regexp_replace(norm, '[^\\w\\s]', '', 'g')))
                   / length(norm) AS punct_ratio,
               len(list_filter(string_split(norm, ' '),
                               w -> w IN ("""
    + _sql_list(STOPWORDS)
    + f""")))
                   / len(string_split(norm, ' ')) AS stopword_ratio
        FROM (SELECT doc_id, {NORM} AS norm FROM documents)
    )
),
"""
    + SHINGLES_CTE.strip()
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
), edges AS (
    SELECT qid AS a, nid AS b FROM pairs
    UNION
    SELECT nid AS a, qid AS b FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), clusters AS (
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
), labeled AS (
    SELECT c.doc_id, c.cluster, s.quality,
           COUNT(*) OVER (PARTITION BY c.cluster) AS n_members,
           ROW_NUMBER() OVER (PARTITION BY c.cluster
                              ORDER BY s.quality DESC, c.doc_id) AS rn
    FROM clusters c JOIN stats s USING (doc_id)
)
SELECT cluster, doc_id AS survivor_id, quality AS survivor_quality,
       n_members
FROM labeled WHERE rn = 1
"""
)


@register("near_dup_best_quality", BEST_QUALITY_ORACLE)
def q_best_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection (the RefinedWeb /
    FineWeb policy): instead of keeping the smallest id per cluster,
    keep the HIGHEST-QUALITY member — clusters from minhash-LSH +
    connected components, quality from the deterministic doc_stats
    formula, survivor chosen by a window PARTITIONED BY cluster with a
    doc_id tie-break. Everything is keyed: the only new shuffle over
    the clustering itself is one hash join on doc_id plus the
    per-cluster window."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    clusters = dedup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    quality = doc_stats(docs).select(F.col("id").alias("doc_id"), "quality")
    labeled = clusters.join(quality, "doc_id")
    wc = Window.partitionBy("cluster")
    wr = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = labeled.select(
        "doc_id",
        "cluster",
        "quality",
        F.count("*").over(wc).alias("n_members"),
        F.row_number().over(wr).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster",
        F.col("doc_id").alias("survivor_id"),
        F.col("quality").alias("survivor_quality"),
        "n_members",
    )


# --- degree assortativity of the near-dup graph ----------------------------

from amorphous_mapreduce_spark.queries.dedup_queries import (  # noqa: E402
    MINHASH_EDGES_CTE,
)

ASSORT_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, deg AS (
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM edges GROUP BY a
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_directed,
           CAST(SUM(da.deg) AS BIGINT) AS sum_deg,
           CAST(SUM(da.deg * da.deg) AS BIGINT) AS sum_deg_sq,
           CAST(SUM(da.deg * db.deg) AS BIGINT) AS sum_deg_prod
    FROM edges e
    JOIN deg da ON e.a = da.node
    JOIN deg db ON e.b = db.node
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_edges_directed, n_nodes, sum_deg, sum_deg_sq, sum_deg_prod,
       CASE WHEN n_edges_directed * sum_deg_sq - sum_deg * sum_deg = 0
            THEN NULL
            ELSE CAST(n_edges_directed * sum_deg_prod - sum_deg * sum_deg
                      AS DOUBLE)
                 / CAST(n_edges_directed * sum_deg_sq - sum_deg * sum_deg
                        AS DOUBLE) END AS assortativity
FROM stats CROSS JOIN nn
"""
)


@register("near_dup_assortativity", ASSORT_ORACLE)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the MinHash-LSH near-dup graph — the
    Newman coefficient telling a dedup pipeline whether template farms
    link hub-to-hub (assortative, one mega-cluster to sever) or
    hub-to-leaf (disassortative, star bursts). Pearson r over directed
    edge endpoint degrees from EXACT integer sufficient stats and one
    final double division — bit-identical cross-engine (same
    cross-multiplied pattern as brand_discount_ols).

    Scale: degrees are one hash aggregate over edges; the two
    degree joins are keyed on node; the final reduce is a 1-row
    aggregate. The broadcast degree table is bounded by node count —
    at 100 TB keep it a shuffle join (AQE picks for us; no hint)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg")
    ).persist()
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    stats = (
        edges.join(da, "a")
        .join(db, "b")
        .agg(
            F.count("*").alias("n_edges_directed"),
            F.sum("da").alias("sum_deg"),
            F.sum(F.col("da") * F.col("da")).alias("sum_deg_sq"),
            F.sum(F.col("da") * F.col("db")).alias("sum_deg_prod"),
        )
    )
    nn = deg.agg(F.count("*").alias("n_nodes"))
    num = (
        F.col("n_edges_directed") * F.col("sum_deg_prod")
        - F.col("sum_deg") * F.col("sum_deg")
    )
    den = (
        F.col("n_edges_directed") * F.col("sum_deg_sq")
        - F.col("sum_deg") * F.col("sum_deg")
    )
    return stats.crossJoin(F.broadcast(nn)).select(
        "n_edges_directed",
        "n_nodes",
        "sum_deg",
        "sum_deg_sq",
        "sum_deg_prod",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "assortativity"
        ),
    )


# --- local clustering coefficient -------------------------------------------

LCC_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, deg AS (
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM edges GROUP BY a
),
wedges AS (
    SELECT e1.a AS v, e1.b AS u, e2.b AS w
    FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
),
tri AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM wedges
    WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.qid = wedges.u
                                          AND p.nid = wedges.w)
    GROUP BY v
)
SELECT d.node, d.degree,
       COALESCE(t.triangles, 0) AS triangles,
       CAST(2 * COALESCE(t.triangles, 0) AS DOUBLE)
       / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS lcc
FROM deg d LEFT JOIN tri t ON d.node = t.v
WHERE d.degree >= 2
ORDER BY lcc DESC, d.node
LIMIT 20
"""
)


@register("near_dup_clustering_coef", LCC_ORACLE)
def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the near-dup graph: per node,
    the fraction of its neighbor pairs that are themselves connected —
    LCC 1.0 marks fully-interlinked template cliques (sever whole),
    low LCC marks bridge documents (inspect before severing).
    Completes the graph-metric suite (degree, assortativity, triangles,
    components, k-core, PageRank, BFS).

    Scale: wedges enumerate per-node neighbor pairs (Σ deg² — the
    standard triangle-counting cost; hub caps apply at extreme skew);
    closure is a semi-join against the canonical qid<nid pair set; the
    per-node counts and the degree join are keyed. Top-20 is a
    TakeOrderedAndProject. The pair set is persisted (three readers)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("degree")
    )
    e1 = edges.select(F.col("a").alias("v"), F.col("b").alias("u"))
    e2 = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    wedges = e1.join(e2, "v").filter(F.col("u") < F.col("w"))
    closed = wedges.join(
        pairs.select(F.col("qid").alias("u"), F.col("nid").alias("w")),
        ["u", "w"],
        "left_semi",
    )
    tri = closed.groupBy("v").agg(F.count("*").alias("triangles"))
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tri.withColumnRenamed("v", "node"), "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            (
                (2 * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).alias("lcc"),
        )
    )
    return out.orderBy(F.desc("lcc"), F.asc("node")).limit(20)


# --- common-neighbor link prediction ----------------------------------------

LINKPRED_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, deg AS (
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM edges GROUP BY a
),
wedges AS (
    SELECT e1.b AS u, e2.b AS w
    FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
),
cn AS (
    SELECT u, w, CAST(COUNT(*) AS BIGINT) AS common_neighbors
    FROM wedges
    WHERE NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE p.qid = wedges.u AND p.nid = wedges.w)
    GROUP BY u, w
)
SELECT cn.u, cn.w, cn.common_neighbors,
       CAST(du.degree * dw.degree AS BIGINT) AS pref_attachment
FROM cn
JOIN deg du ON cn.u = du.node
JOIN deg dw ON cn.w = dw.node
ORDER BY cn.common_neighbors DESC, cn.u, cn.w
LIMIT 20
"""
)


@register("near_dup_link_prediction", LINKPRED_ORACLE)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the near-dup graph: the top-20 UNCONNECTED
    doc pairs ranked by common-neighbor count (with the
    preferential-attachment degree product alongside) — the candidates
    a banded LSH probably MISSED (two docs sharing many near-dup
    neighbors are almost surely near-dups whose bands never collided).
    The recall-repair pass of a dedup pipeline.

    Scale: wedge enumeration is the same Σ deg² kernel as the
    clustering coefficient; the non-edge filter is an anti-join
    against the canonical pair set; scoring joins are keyed; top-20 is
    a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("degree")
    )
    e1 = edges.select(F.col("a").alias("v"), F.col("b").alias("u"))
    e2 = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    wedges = e1.join(e2, "v").filter(F.col("u") < F.col("w"))
    non_edges = wedges.join(
        pairs.select(F.col("qid").alias("u"), F.col("nid").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    cn = non_edges.groupBy("u", "w").agg(
        F.count("*").alias("common_neighbors")
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dw = deg.select(F.col("node").alias("w"), F.col("degree").alias("dw"))
    return (
        cn.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "common_neighbors",
            (F.col("du") * F.col("dw")).alias("pref_attachment"),
        )
        .orderBy(F.desc("common_neighbors"), F.asc("u"), F.asc("w"))
        .limit(20)
    )


# --- near-dup cluster purity (cross-source contamination) -------------------

PURITY_ORACLE = (
    "WITH RECURSIVE "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
),
members AS (
    SELECT l.cluster, d.source
    FROM labels l JOIN documents d ON l.doc_id = d.doc_id
),
multi AS (
    SELECT cluster FROM members GROUP BY cluster HAVING COUNT(*) > 1
),
per_source AS (
    SELECT m.cluster, m.source, CAST(COUNT(*) AS BIGINT) AS c
    FROM members m JOIN multi USING (cluster)
    GROUP BY m.cluster, m.source
)
SELECT cluster,
       CAST(SUM(c) AS BIGINT) AS n_members,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(MAX(c) AS BIGINT) AS majority_count,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS purity,
       CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT)
           AS crosses_sources
FROM per_source
GROUP BY cluster
"""
)


@register("near_dup_cluster_purity", PURITY_ORACLE)
def q_near_dup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity of every multi-member near-dup cluster: member
    count, distinct sources, majority-source share — clusters that
    CROSS sources are syndication/scraping trails (the same text
    arriving via different feeds), exactly what cross-source dedup
    must catch and same-source dedup would miss (cluster-level
    companion of cross_source_leakage's passage view).

    Scale: clusters from the bounded-round CC operator; membership and
    purity are two keyed aggregates over the cluster dimension."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    clusters = dedup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), "cluster"
    )
    members = clusters.join(
        docs.select("doc_id", "source"), "doc_id"
    ).persist()
    multi = (
        members.groupBy("cluster")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("cluster")
    )
    per_source = (
        members.join(F.broadcast(multi), "cluster", "left_semi")
        .groupBy("cluster", "source")
        .agg(F.count("*").alias("c"))
    )
    return per_source.groupBy("cluster").agg(
        F.sum("c").alias("n_members"),
        F.count("*").alias("n_sources"),
        F.max("c").alias("majority_count"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "purity"
        ),
        F.when(F.count("*") > 1, 1).otherwise(0).cast("long").alias(
            "crosses_sources"
        ),
    )


# --- global transitivity of the near-dup graph ------------------------------

TRANSITIVITY_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, wedges AS (
    SELECT e1.a AS v, e1.b AS u, e2.b AS w
    FROM edges e1 JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
),
counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
           CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM pairs p
                                      WHERE p.qid = wedges.u
                                        AND p.nid = wedges.w)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_closed
    FROM wedges
)
SELECT n_wedges, n_closed,
       CASE WHEN n_wedges = 0 THEN NULL
            ELSE CAST(n_closed AS DOUBLE) / CAST(n_wedges AS DOUBLE) END
           AS transitivity
FROM counts
"""
)


@register("near_dup_transitivity", TRANSITIVITY_ORACLE)
def q_near_dup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL transitivity of the near-dup graph: the fraction of all
    wedges (two edges sharing a vertex) that close into triangles —
    the single clustering number summarizing whether LSH candidates
    form cliques (template corpora) or chains (drifted revisions).
    The graph-level complement of the per-node clustering coefficient;
    also the similarity-transitivity violation rate (1 - transitivity
    = share of A~B~C wedges where A!~C).

    Scale: the same Σ deg² wedge kernel and canonical-pair semi-join as
    near_dup_clustering_coef, reduced to ONE scalar row."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    e1 = edges.select(F.col("a").alias("v"), F.col("b").alias("u"))
    e2 = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    wedges = e1.join(e2, "v").filter(F.col("u") < F.col("w")).persist()
    closed = wedges.join(
        pairs.select(F.col("qid").alias("u"), F.col("nid").alias("w")),
        ["u", "w"],
        "left_semi",
    )
    nw = wedges.agg(F.count("*").alias("n_wedges"))
    nc = closed.agg(F.count("*").alias("n_closed"))
    return nw.crossJoin(F.broadcast(nc)).select(
        "n_wedges",
        "n_closed",
        F.when(
            F.col("n_wedges") != 0,
            F.col("n_closed").cast("double") / F.col("n_wedges").cast("double"),
        ).alias("transitivity"),
    )


# --- rich-club coefficient of the near-dup graph ----------------------------

RICH_CLUB_LEVELS = (1, 2, 3, 5, 8)

_RC_LEVELS_SQL = ", ".join(f"({k})" for k in RICH_CLUB_LEVELS)

RICH_CLUB_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + f"""
, deg AS (
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM edges GROUP BY a
),
und AS (
    SELECT e.qid AS a, e.nid AS b, da.deg AS da, db.deg AS db
    FROM pairs e
    JOIN deg da ON e.qid = da.node
    JOIN deg db ON e.nid = db.node
),
lv AS (SELECT * FROM (VALUES {_RC_LEVELS_SQL}) AS t(k)),
nodes_k AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes_k
    FROM deg CROSS JOIN lv WHERE deg > k GROUP BY k
),
edges_k AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges_k
    FROM und CROSS JOIN lv WHERE da > k AND db > k GROUP BY k
)
SELECT n.k, n.n_nodes_k, COALESCE(e.n_edges_k, 0) AS n_edges_k,
       CASE WHEN n.n_nodes_k < 2 THEN NULL
            ELSE CAST(2 * COALESCE(e.n_edges_k, 0) AS DOUBLE)
                 / CAST(n.n_nodes_k * (n.n_nodes_k - 1) AS DOUBLE) END
           AS phi
FROM nodes_k n LEFT JOIN edges_k e ON n.k = e.k
"""
)


@register("rich_club_coefficient", RICH_CLUB_ORACLE)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) of the MinHash near-dup graph at
    degree thresholds 1/2/3/5/8: the edge density among nodes of degree
    > k — whether heavily-duplicated documents preferentially duplicate
    EACH OTHER (template farms form a clique-ish core) or spread across
    the corpus. Completes the graph-metric battery beside assortativity
    / clustering coefficient / k-core.

    The threshold sweep is the constant-level explode pattern (ONE
    degree table, 5 constant levels); counts are integers, phi one
    guarded division.

    Scale: degrees via one hash aggregate; the undirected edge list
    joins degree twice (keyed); level frames are 5 rows."""
    docs = load_table(spark, sf_dir, "documents")
    prs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = prs.select(F.col("qid").alias("a"), F.col("nid").alias("b")).unionAll(
        prs.select(F.col("nid").alias("a"), F.col("qid").alias("b"))
    )
    deg = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    und = (
        prs.join(deg.select(F.col("node").alias("qid"), F.col("deg").alias("da")), "qid")
        .join(deg.select(F.col("node").alias("nid"), F.col("deg").alias("db")), "nid")
    )
    lv = F.explode(F.array(*[F.lit(k) for k in RICH_CLUB_LEVELS])).alias("k")
    nodes_k = (
        deg.select("deg", lv)
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_nodes_k"))
    )
    edges_k = (
        und.select("da", "db", lv)
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("n_edges_k"))
    )
    out = nodes_k.join(edges_k, "k", "left").select(
        "k",
        "n_nodes_k",
        F.coalesce(F.col("n_edges_k"), F.lit(0)).alias("n_edges_k"),
        F.when(F.col("n_nodes_k") < 2, F.lit(None).cast("double"))
        .otherwise(
            (2 * F.coalesce(F.col("n_edges_k"), F.lit(0))).cast("double")
            / (F.col("n_nodes_k") * (F.col("n_nodes_k") - 1)).cast("double")
        )
        .alias("phi"),
    )
    return out


# --- ANF / HyperBall: neighborhood-function sketch --------------------------

# Palmer/Gibbons/Faloutsos ANF with HyperBall's register propagation:
# each node starts with the 1-element HLL of itself; each round every
# node takes the bucket-wise MAX of its own and its neighbors' registers
# — after t rounds the registers sketch the t-hop ball. Register state
# is m rows per node forever; a round is ONE keyed join + MAX aggregate,
# which is how neighborhood sizes are estimated on graphs where exact
# t-hop closure is quadratic.
_ANF_ROUNDS = 2
_ANF_NH = "CAST('0x' || substr(md5('anf_' || CAST({v} AS VARCHAR)), 1, 15) AS BIGINT)"


def _anf_reg_sql(hexpr: str) -> str:
    return (
        f"CASE WHEN ({hexpr} >> 6) = 0 THEN 55 "
        f"ELSE 55 - length(bin({hexpr} >> 6)) END"
    )


def _anf_oracle() -> str:
    from amorphous_mapreduce_spark.queries.sketch_queries import _HLL_LC64

    # exponent-notation literals: DuckDB types a plain decimal literal
    # as DECIMAL(19,16) even inside CAST(x AS DOUBLE), and that
    # decimal->double conversion double-rounds past 2^52 (1-ulp drift
    # on ~1/3 of entries; sf1 battery catch). %.17e parses as DOUBLE.
    lc = ", ".join(f"{v:.17e}" for v in _HLL_LC64)
    h = _ANF_NH.format(v="node")
    ctes = [
        "base AS MATERIALIZED (\n"
        + "    SELECT a AS node, b AS nbr FROM edges\n)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM base)",
        f"""r0 AS MATERIALIZED (
    SELECT node, {h} % 64 AS bucket, CAST({_anf_reg_sql(h)} AS BIGINT) AS reg
    FROM nodes
)""",
    ]
    for t in range(1, _ANF_ROUNDS + 1):
        ctes.append(
            f"""r{t} AS MATERIALIZED (
    SELECT node, bucket, CAST(MAX(reg) AS BIGINT) AS reg FROM (
        SELECT node, bucket, reg FROM r{t - 1}
        UNION ALL
        SELECT e.node, r.bucket, r.reg
        FROM base e JOIN r{t - 1} r ON r.node = e.nbr
    ) GROUP BY node, bucket
)"""
        )
    ctes.append(
        f"""ball2 AS MATERIALIZED (
    SELECT a.node, COUNT(DISTINCT c) AS n_exact FROM (
        SELECT node, node AS c FROM nodes
        UNION ALL
        SELECT node, nbr AS c FROM base
        UNION ALL
        SELECT e1.node, e2.nbr AS c
        FROM base e1 JOIN base e2 ON e2.node = e1.nbr
    ) a GROUP BY a.node
)"""
    )
    return (
        "WITH "
        + SHINGLES_CTE.strip()
        + MINHASH_EDGES_CTE
        + ", "
        + ",\n".join(ctes)
        + f"""
, agg AS (
    SELECT r.node,
           CAST(COUNT(*) AS BIGINT) AS registers_used,
           CAST(64 - COUNT(*) AS BIGINT) AS zero_registers,
           CAST(SUM(CAST(power(2.0, 55 - reg) AS BIGINT))
                + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT)
               AS sum_scaled
    FROM r{_ANF_ROUNDS} r GROUP BY r.node
)
SELECT a.node, b.n_exact AS ball2_exact, a.registers_used, a.sum_scaled,
       CASE WHEN a.zero_registers > 0
                 AND 1.046802484394006e20 / CAST(a.sum_scaled AS DOUBLE)
                     <= 160.0
            THEN ([{lc}])[CAST(a.zero_registers AS INT)]
            ELSE 1.046802484394006e20 / CAST(a.sum_scaled AS DOUBLE) END
           AS ball2_est
FROM agg a JOIN ball2 b ON a.node = b.node
"""
    )


ANF_ORACLE = _anf_oracle()


@register("anf_neighborhood_sketch", ANF_ORACLE)
def q_anf_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF / HyperBall 2-hop neighborhood sizes on the MinHash near-dup
    graph: per node, the HLL estimate of its radius-2 ball from two
    rounds of bucket-wise register-max propagation (with the
    linear-counting small-range correction), beside the exact 2-hop
    closure as the validation rail — the sketch that answers 'how big
    is each duplicate neighborhood' with O(m) state per node where the
    exact closure is quadratic on hub nodes.

    Scale: a propagation round is one keyed join (edges x registers) +
    one MAX aggregate — never a closure materialisation; the exact
    branch is the audit you drop at 100 TB. localCheckpoint per round
    pins the iterate (operators/graph convention)."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.queries.sketch_queries import _HLL_LC64

    docs = load_table(spark, sf_dir, "documents")
    prs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    edges = prs.select(F.col("qid").alias("node"), F.col("nid").alias("nbr")).unionAll(
        prs.select(F.col("nid").alias("node"), F.col("qid").alias("nbr"))
    )
    edges = edges.persist()  # every round + the exact 2-hop branch
    nodes = edges.select("node").distinct()
    h = hex_hash64(F.concat(F.lit("anf_"), F.col("node").cast("string")))
    w = F.shiftright(h, 6)
    regs = nodes.select(
        "node",
        F.pmod(h, F.lit(64)).alias("bucket"),
        F.when(w == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(w)))
        .cast("long")
        .alias("reg"),
    ).localCheckpoint()
    for _ in range(_ANF_ROUNDS):
        prop = edges.join(
            regs.select(F.col("node").alias("nbr"), "bucket", "reg"), "nbr"
        ).select("node", "bucket", "reg")
        regs = (
            regs.unionAll(prop)
            .groupBy("node", "bucket")
            .agg(F.max("reg").alias("reg"))
            .localCheckpoint()
        )
    agg = regs.groupBy("node").agg(
        F.count("*").alias("registers_used"),
        F.sum(F.pow(F.lit(2.0), F.lit(55) - F.col("reg")).cast("long")).alias(
            "_present"
        ),
    )
    zeros = (F.lit(64) - F.col("registers_used")).cast("long")
    denom = F.col("_present") + zeros * F.lit(1 << 55).cast("long")
    raw = F.lit(1.046802484394006e20) / denom.cast("double")
    lc = F.element_at(F.array(*[F.lit(v) for v in _HLL_LC64]), zeros.cast("int"))
    two_hop = (
        edges.select("node", F.col("node").alias("c"))
        .unionAll(edges.select("node", F.col("nbr").alias("c")))
        .unionAll(
            edges.select(F.col("node").alias("n0"), "nbr")
            .join(
                edges.select(F.col("nbr").alias("c"), F.col("node").alias("nbr")),
                "nbr",
            )
            .select(F.col("n0").alias("node"), "c")
        )
        .groupBy("node")
        .agg(F.count_distinct("c").alias("ball2_exact"))
    )
    return (
        agg.join(two_hop, "node")
        .select(
            "node",
            "ball2_exact",
            "registers_used",
            denom.alias("sum_scaled"),
            F.when((zeros > 0) & (raw <= 160.0), lc).otherwise(raw).alias(
                "ball2_est"
            ),
        )
    )


# --- B-cubed clustering quality vs exact-text truth --------------------------

# B^3 precision/recall (the standard entity-resolution cluster metric):
# per record, precision = |cluster ∩ truth| / |cluster| and recall =
# |cluster ∩ truth| / |truth|, averaged over records. System clusters =
# minhash-LSH connected components; truth groups = exact normalized-text
# identity. Sum_r p_r = sum_{c,t} nct^2 / nc is a sum of RATIONALS, so
# each term is floor-quantized to 2^20 (truncating div, both engines)
# BEFORE the cross-group sum — the quantize-then-sum rule.

BCUBED_ORACLE = (
    "WITH RECURSIVE "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + f"""
, reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
),
rec AS (
    SELECT l.doc_id, l.cluster AS c,
           md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')) AS t
    FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
nc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS kc FROM rec GROUP BY c),
nt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS kt FROM rec GROUP BY t),
nct AS (
    SELECT c, t, CAST(COUNT(*) AS BIGINT) AS k FROM rec GROUP BY c, t
),
quant AS (
    SELECT CAST((nct.k * nct.k * 1048576) // nc.kc AS BIGINT) AS pq,
           CAST((nct.k * nct.k * 1048576) // nt.kt AS BIGINT) AS rq
    FROM nct JOIN nc USING (c) JOIN nt USING (t)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rec)
SELECT t.n AS n_docs,
       CAST(SUM(q.pq) AS BIGINT) AS p_num_q,
       CAST(SUM(q.rq) AS BIGINT) AS r_num_q,
       CAST(SUM(q.pq) AS DOUBLE) / 1048576.0 / t.n AS bcubed_precision,
       CAST(SUM(q.rq) AS DOUBLE) / 1048576.0 / t.n AS bcubed_recall,
       (2.0 * (CAST(SUM(q.pq) AS DOUBLE) / 1048576.0 / t.n)
            * (CAST(SUM(q.rq) AS DOUBLE) / 1048576.0 / t.n))
           / ((CAST(SUM(q.pq) AS DOUBLE) / 1048576.0 / t.n)
              + (CAST(SUM(q.rq) AS DOUBLE) / 1048576.0 / t.n))
           AS bcubed_f1
FROM quant q CROSS JOIN tot t
GROUP BY t.n
"""
)


@register("bcubed_cluster_eval", BCUBED_ORACLE)
def q_bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the minhash-LSH near-dup clusters
    against exact normalized-text truth groups — the record-level
    clustering-quality scorecard (complements near_dup_cluster_purity's
    source view with the standard ER metric).

    Determinism: per-(cluster, truth) rational terms nct^2/nc and
    nct^2/nt floor-quantize to 2^20 before the cross-group sums; P/R/F1
    are fixed double expressions over the two BIGINT numerators.
    Scale: CC from the bounded-round operator; three keyed aggregates
    over the label table; the (c, t) frame is at most one row per
    record."""
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    labels = dedup_clusters(docs, pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster").alias("c")
    )
    rec = labels.join(
        docs.select("doc_id", F.md5(normalize_text()).alias("t")),
        "doc_id",
    ).persist()  # nc/nt/nct all read it
    nc = rec.groupBy("c").agg(F.count("*").cast("long").alias("kc"))
    nt = rec.groupBy("t").agg(F.count("*").cast("long").alias("kt"))
    nct = rec.groupBy("c", "t").agg(F.count("*").cast("long").alias("k"))
    quant = (
        nct.join(nc, "c")
        .join(nt, "t")
        .select(
            F.expr("CAST((k * k * 1048576) div kc AS BIGINT)").alias("pq"),
            F.expr("CAST((k * k * 1048576) div kt AS BIGINT)").alias("rq"),
        )
    )
    tot = rec.agg(F.count("*").cast("long").alias("n"))
    agg = quant.agg(
        F.sum("pq").cast("long").alias("p_num_q"),
        F.sum("rq").cast("long").alias("r_num_q"),
    ).crossJoin(F.broadcast(tot))
    p = F.col("p_num_q").cast("double") / F.lit(1048576.0) / F.col("n")
    r = F.col("r_num_q").cast("double") / F.lit(1048576.0) / F.col("n")
    return agg.select(
        F.col("n").alias("n_docs"),
        "p_num_q",
        "r_num_q",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        ((F.lit(2.0) * p * r) / (p + r)).alias("bcubed_f1"),
    )


# --- harmonic centrality (radius-3) of the near-dup graph --------------------

HARMONIC_ORACLE = (
    "WITH "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, d1 AS MATERIALIZED (SELECT a, b FROM edges),
adjc AS MATERIALIZED (
    -- capped expansion adjacency: first 16 neighbors per node in md5
    -- order (the capped-occupancy pattern) so ring work is O(16^3 n)
    -- on ANY graph density
    SELECT a, b FROM (
        SELECT a, b,
               ROW_NUMBER() OVER (
                   PARTITION BY a
                   ORDER BY CAST('0x' || substr(md5('hccap:' ||
                                CAST(b AS VARCHAR)), 1, 15) AS BIGINT), b
               ) AS rk
        FROM d1
    ) WHERE rk <= 16
),
d2 AS MATERIALIZED (
    SELECT DISTINCT e1.a, e2.b
    FROM adjc e1 JOIN adjc e2 ON e1.b = e2.a
    WHERE e2.b <> e1.a
      AND NOT EXISTS (SELECT 1 FROM d1 x
                      WHERE x.a = e1.a AND x.b = e2.b)
),
d3 AS MATERIALIZED (
    SELECT DISTINCT e2.a, e1.b
    FROM d2 e2 JOIN adjc e1 ON e2.b = e1.a
    WHERE e1.b <> e2.a
      AND NOT EXISTS (SELECT 1 FROM d1 x
                      WHERE x.a = e2.a AND x.b = e1.b)
      AND NOT EXISTS (SELECT 1 FROM d2 x
                      WHERE x.a = e2.a AND x.b = e1.b)
),
cn AS (
    SELECT a AS id,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
    FROM (SELECT a, 1 AS d FROM d1 UNION ALL
          SELECT a, 2 FROM d2 UNION ALL
          SELECT a, 3 FROM d3)
    GROUP BY a
)
SELECT id, n1, n2, n3, 6 * n1 + 3 * n2 + 2 * n3 AS harmonic_x6
FROM cn ORDER BY id
"""
)


@register("harmonic_centrality", HARMONIC_ORACLE)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-3 harmonic centrality over the MinHash-LSH near-dup graph:
    H(v) = Σ_{0<d(u,v)<=3} 1/d(u,v) with capped-adjacency ring
    expansion, emitted as the exact integer
    6·H = 6·n1 + 3·n2 + 2·n3 (lcm(1,2,3) = 6 — the integer-weights-
    from-lcm trick, cf. rbo_rankings) plus the per-ring counts. The
    centrality family's missing member beside degree/PageRank/HITS/
    k-core: harmonic handles disconnected graphs where closeness
    diverges, and the dedup use is spotting template-farm hubs whose
    influence extends past direct neighbors.

    Rings are computed set-wise (neighbors; two-hop minus direct minus
    self; three-hop minus closer) with keyed equi-joins and anti-joins.
    n1 is the EXACT degree; ring EXPANSION walks a capped adjacency
    (first 16 neighbors per node, md5 order — the simhash_topm/LSH
    capped-occupancy pattern) so the two/three-hop candidate volume is
    <= 16^2·n and 16^3·n on ANY graph density: the uncapped exact rings
    measured >10 min at the sf10 rung, where band collisions on the
    31-word corpus make the near-dup graph dense; the cap is the same
    trade every production k-hop neighborhood job makes, applied
    identically in the oracle. No per-source BFS: all nodes advance
    together, one round per radius, 3 rounds total.
    """
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    d1 = symmetric_edges(pairs).persist()
    wc = Window.partitionBy("a").orderBy(
        hex_hash64(F.concat(F.lit("hccap:"), F.col("b").cast("string"))),
        F.col("b"),
    )
    adjc = (
        d1.select("a", "b", F.row_number().over(wc).alias("rk"))
        .filter(F.col("rk") <= 16)
        .drop("rk")
        .persist()
    )
    two_hop = (
        adjc.alias("e1")
        .join(adjc.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("a"), F.col("e2.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    d2 = two_hop.join(d1, ["a", "b"], "left_anti").persist()
    three_hop = (
        d2.alias("e2")
        .join(adjc.alias("e1"), F.col("e2.b") == F.col("e1.a"))
        .select(F.col("e2.a").alias("a"), F.col("e1.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    d3 = (
        three_hop.join(d1, ["a", "b"], "left_anti")
        .join(d2, ["a", "b"], "left_anti")
    )
    rings = (
        d1.select("a", F.lit(1).alias("d"))
        .unionByName(d2.select("a", F.lit(2).alias("d")))
        .unionByName(d3.select("a", F.lit(3).alias("d")))
    )
    cn = rings.groupBy(F.col("a").alias("id")).agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("d") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("d") == 3, 1).otherwise(0)).alias("n3"),
    )
    return cn.select(
        "id",
        "n1",
        "n2",
        "n3",
        (6 * F.col("n1") + 3 * F.col("n2") + 2 * F.col("n3")).alias(
            "harmonic_x6"
        ),
    ).orderBy("id")


# --- field-level golden-record fusion (MDM survivorship) ------------------------

GOLDEN_ORACLE = (
    "WITH RECURSIVE "
    + SHINGLES_CTE.strip()
    + MINHASH_EDGES_CTE
    + """
, reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), cl AS MATERIALIZED (
    SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src
), members AS MATERIALIZED (
    SELECT c.cluster, d.doc_id, d.lang, d.source,
           CAST(length(d.text) AS BIGINT) AS tlen
    FROM cl c JOIN documents d ON d.doc_id = c.id
), big AS (
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(tlen) AS text_len,
           MIN((100000 - tlen) * 10000000000 + doc_id) AS tpack
    FROM members GROUP BY cluster HAVING COUNT(*) >= 2
), langm AS (
    SELECT cluster, lang AS modal_lang FROM (
        SELECT cluster, lang,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY COUNT(*) DESC, lang) AS rk
        FROM members GROUP BY cluster, lang
    ) WHERE rk = 1
), srcm AS (
    SELECT cluster, source AS modal_source FROM (
        SELECT cluster, source,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY COUNT(*) DESC, source) AS rk
        FROM members GROUP BY cluster, source
    ) WHERE rk = 1
)
SELECT b.cluster, b.n_members,
       CAST(b.tpack % 10000000000 AS BIGINT) AS text_donor_id,
       b.text_len, l.modal_lang, s.modal_source
FROM big b JOIN langm l USING (cluster) JOIN srcm s USING (cluster)
ORDER BY b.cluster
"""
)


@register("golden_record_fields", GOLDEN_ORACLE)
def q_golden_record_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level golden-record fusion (MDM survivorship): for every
    near-dup cluster with >= 2 members, fuse a canonical record by
    per-FIELD rules — text from the longest member (tie: smallest id;
    the donor id is emitted, packed argmin (100000-len)*1e10 + id),
    lang and source by majority vote (tie: value asc). PACK
    PRECONDITIONS (both engines, unguarded by design so the pack stays
    one MIN aggregate): text length < 100000 chars and doc_id < 1e10 —
    a longer text makes (100000-tlen) negative and the truncating `%`
    extraction yields a bogus donor id identically on both engines.
    The fixtures cap text at ~400 chars and ids at ~6e6; any corpus
    beyond these bounds must widen the pack constants. Distinct from
    near_dup_best_quality / upsert survivorship, which pick ONE whole
    row: real MDM merges fields from different donors.

    Scale: clusters via the edge-incident connected components
    (bounded-round label propagation); every fusion rule is a keyed
    aggregate or a per-cluster window — no cross-cluster work. Oracle:
    the WITH RECURSIVE transitive closure + windowed modes.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4)
    cl = dedup_clusters(docs, pairs).select("id", "cluster")
    members = (
        cl.join(docs, cl.id == docs.doc_id)
        .select(
            "cluster",
            "doc_id",
            "lang",
            "source",
            F.length("text").cast("long").alias("tlen"),
        )
        .persist()
    )
    big = (
        members.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("tlen").alias("text_len"),
            F.min(
                (F.lit(100000) - F.col("tlen")) * F.lit(10000000000)
                + F.col("doc_id")
            ).alias("tpack"),
        )
        .filter(F.col("n_members") >= 2)
    )
    from pyspark.sql import Window

    def modal(col: str, alias: str) -> DataFrame:
        w = Window.partitionBy("cluster").orderBy(
            F.desc("cnt"), F.asc(col)
        )
        return (
            members.groupBy("cluster", col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("cluster", F.col(col).alias(alias))
        )

    return (
        big.join(modal("lang", "modal_lang"), "cluster")
        .join(modal("source", "modal_source"), "cluster")
        .select(
            "cluster",
            "n_members",
            (F.col("tpack") % 10000000000).cast("long").alias("text_donor_id"),
            "text_len",
            "modal_lang",
            "modal_source",
        )
        .orderBy("cluster")
    )
