"""Training-data pipeline queries: chunking, packing, sampling, TF-IDF,
embedding quantization (operators/pipeline.py, SURVEY.md §2.5).

Oracle notes:
- chunking needs ABSOLUTE token positions, and Spark ``posexplode`` is
  0-based while DuckDB ``generate_subscripts`` is 1-based — the CTE here
  subtracts 1 (the shared dedup CTE only ever ORDERS by pos, where the
  base doesn't matter).
- window SUM(BIGINT) in DuckDB yields HUGEINT: every cumulative sum is
  cast back to BIGINT (CLAUDE.md convention).
- int8 quantization truncates toward zero: Spark CAST(double AS int)
  truncates, DuckDB CAST rounds — the oracle wraps in TRUNC first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.pipeline import (
    STOPWORDS,
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
from amorphous_mapreduce_spark.queries.dedup_queries import NORM, shingles_cte
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

# 0-based position-indexed tokens (matches operators.dedup.tokenized).
TOKS0_CTE = f"""
toks AS (
    SELECT id, pos, word FROM (
        SELECT doc_id AS id,
               generate_subscripts(ws, 1) - 1 AS pos,
               unnest(ws) AS word
        FROM (SELECT doc_id, regexp_split_to_array({NORM}, ' ') AS ws
              FROM documents)
    ) WHERE length(word) > 0
)
"""

HASH_KEY = (
    "CAST('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)


CHUNK_ORACLE = (
    "WITH "
    + TOKS0_CTE
    + """
, member AS (
    SELECT id, pos, word,
           unnest(range(GREATEST(CAST(0 AS BIGINT),
                                 CAST(CEIL((pos - 32 + 1) / 24.0) AS BIGINT)),
                        CAST(FLOOR(pos / 24.0) AS BIGINT) + 1)) AS chunk_id
    FROM toks
)
SELECT id, chunk_id, COUNT(*) AS n_tokens,
       string_agg(word, ' ' ORDER BY pos) AS chunk_text
FROM member
GROUP BY id, chunk_id
"""
)


@register("doc_chunks", CHUNK_ORACLE)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token / stride-24 chunk windows per document —
    the context-length splitter of a pretraining pipeline (tokenize
    W3-W5 + per-key aggregate W7, src/word_count.rs:99-123)."""
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=32, stride=24
    )


PACK_ORACLE = (
    "WITH "
    + TOKS0_CTE
    + """
, ntok AS (SELECT id, COUNT(*) AS n_tokens FROM toks GROUP BY id)
SELECT lang, id, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
           - n_tokens AS tok_offset,
       CAST(FLOOR((CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                   - n_tokens) / 512.0) AS BIGINT) AS bin
FROM ntok JOIN documents ON doc_id = id
"""
)


@register("sequence_packing", PACK_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut sequence packing layout (512-token contexts),
    one window cumsum per language stratum — integer-exact anywhere."""
    return pack_sequences(load_table(spark, sf_dir, "documents"), ctx_len=512)


SAMPLE_ORACLE = f"""
SELECT doc_id AS id, lang FROM documents
WHERE {HASH_KEY} % 100 < 10
"""


@register("stratified_sample", SAMPLE_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample per language — a stateless filter
    (zero shuffle; the only sane sampling primitive at 100 TB)."""
    return stratified_sample(load_table(spark, sf_dir, "documents"), rate_pct=10)


TOPN_ORACLE = f"""
SELECT id, lang, rnk FROM (
    SELECT doc_id AS id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY {HASH_KEY} ASC, doc_id ASC) AS rnk
    FROM documents
) WHERE rnk <= 5
"""


@register("stratified_topn", TOPN_ORACLE)
def q_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5-per-language deterministic sample: smallest-hash-first
    with id tie-break (one shuffle on the stratum key)."""
    return stratified_topn(load_table(spark, sf_dir, "documents"), n=5)


TFIDF_ORACLE = (
    "WITH "
    + TOKS0_CTE
    + """
, tf AS (SELECT id, word, COUNT(*) AS tf FROM toks GROUP BY id, word),
dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nd AS (SELECT COUNT(DISTINCT doc_id) AS _n FROM documents)
SELECT id, word, tf, df, score, rnk FROM (
    SELECT t.id, t.word, t.tf, d.df,
           CAST(t.tf AS DOUBLE)
               * (CAST(nd._n AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score,
           ROW_NUMBER() OVER (
               PARTITION BY t.id
               ORDER BY CAST(t.tf AS DOUBLE)
                            * (CAST(nd._n AS DOUBLE) / CAST(d.df AS DOUBLE))
                            DESC,
                        t.word ASC) AS rnk
    FROM tf t JOIN dfreq d USING (word) CROSS JOIN nd
) WHERE rnk <= 3
"""
)


@register("tfidf_top_terms", TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by rational-form TF-IDF (tf * N/df — rank-
    equivalent to the log form, bit-identical across engines)."""
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


QUANT_ORACLE = """
WITH scaled AS (
    SELECT vec_id AS id,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS scale,
           embedding
    FROM embeddings
), q AS (
    SELECT id, scale,
           list_transform(embedding,
               x -> CAST(TRUNC(CAST(x AS DOUBLE) / scale * 127.0)
                         AS INTEGER)) AS qv
    FROM scaled WHERE scale > 0
)
SELECT id, scale,
       len(list_filter(qv, v -> abs(v) = 127)) AS n_sat,
       CAST(list_sum(qv) AS BIGINT) AS q_sum
FROM q
"""


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_TOP_BG = "COALESCE(CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE), 0.0)"
_UNIQ = "CAST(uniq AS DOUBLE) / CAST(n_words AS DOUBLE)"

QUALITY_ORACLE = (
    "WITH "
    + TOKS0_CTE
    + f"""
, ws AS (
    SELECT id, COUNT(*) AS n_words, SUM(length(word)) AS chars,
           COUNT(DISTINCT word) AS uniq,
           SUM(CASE WHEN word IN ({_STOP_SQL}) THEN 1 ELSE 0 END) AS stop
    FROM toks GROUP BY id
), bgc AS (
    SELECT id, bg, COUNT(*) AS c FROM (
        SELECT id,
               word || ' ' || lead(word) OVER w AS bg,
               lead(word) OVER w AS nxt
        FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
    ) WHERE nxt IS NOT NULL GROUP BY id, bg
), bga AS (SELECT id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM bgc GROUP BY id)
SELECT ws.id, n_words,
       CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wlen,
       {_UNIQ} AS uniq_frac,
       {_TOP_BG} AS top_bigram_frac,
       CAST(stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_frac,
       (n_words >= 30 AND {_TOP_BG} <= 0.1 AND {_UNIQ} >= 0.3) AS rules_pass
FROM ws LEFT JOIN bga ON ws.id = bga.id
"""
)


@register("quality_rules", QUALITY_ORACLE)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules per document (length, repetition,
    vocabulary diversity, stopword presence) — integer counts with one
    final division each, so the pass verdicts are engine-exact."""
    return quality_rules(load_table(spark, sf_dir, "documents"))


DECON_ORACLE = (
    "WITH "
    + shingles_cte()
    + """
, tagged AS (
    SELECT s.id, s.sh, d.source AS src
    FROM shingles s JOIN documents d ON s.id = d.doc_id
), eval_sh AS (SELECT DISTINCT sh FROM tagged WHERE src = 'src0')
SELECT t.id, COUNT(*) AS n_shared
FROM tagged t JOIN eval_sh e USING (sh)
WHERE t.src != 'src0'
GROUP BY t.id
HAVING COUNT(*) >= 5
"""
)


@register("decontaminate", DECON_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 5
    distinct 3-shingles with the 'src0' eval set. The eval shingle
    vocabulary is broadcast, so the training side never shuffles."""
    return decontaminate(
        load_table(spark, sf_dir, "documents"), eval_source="src0", min_shared=5
    )


MIX_ORACLE = (
    "WITH "
    + TOKS0_CTE
    + """
, per AS (
    SELECT d.source, COUNT(DISTINCT t.id) AS n_docs, COUNT(*) AS n_tokens
    FROM toks t JOIN documents d ON t.id = d.doc_id
    GROUP BY d.source
), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS _total FROM per)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(_total AS DOUBLE) AS tok_share,
       sqrt(CAST(n_tokens AS DOUBLE)) AS w_sqrt
FROM per CROSS JOIN tot
"""
)


@register("source_mixing_weights", MIX_ORACLE)
def q_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mixing stats (doc/token counts, corpus share,
    sqrt-damped weight) — integer sums plus one engine-exact division
    and sqrt per row; the corpus total is a broadcast 1-row scalar."""
    return source_mixing_weights(load_table(spark, sf_dir, "documents"))


@register("embedding_quantize", QUANT_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit per embedding (scale, saturation
    count, integer checksum) — pure per-row transform, zero shuffle."""
    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


# --- quality-rule co-failure matrix -----------------------------------------

COFIRE_ORACLE = f"""
WITH q AS ( {QUALITY_ORACLE} ),
flags AS (
    SELECT id,
           n_words < 30 AS f_short,
           top_bigram_frac > 0.1 AS f_repetitive,
           uniq_frac < 0.3 AS f_lowdiv,
           stop_frac = 0 AS f_nostop
    FROM q
),
failed AS (
    SELECT id, 'low_diversity' AS rule FROM flags WHERE f_lowdiv
    UNION ALL SELECT id, 'no_stopwords' FROM flags WHERE f_nostop
    UNION ALL SELECT id, 'repetitive' FROM flags WHERE f_repetitive
    UNION ALL SELECT id, 'short' FROM flags WHERE f_short
),
counts AS (
    SELECT rule, CAST(COUNT(*) AS BIGINT) AS n FROM failed GROUP BY rule
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM q),
pairs AS (
    SELECT a.rule AS rule_a, b.rule AS rule_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM failed a JOIN failed b ON a.id = b.id AND a.rule < b.rule
    GROUP BY 1, 2
)
SELECT rule_a, rule_b, ca.n AS n_a, cb.n AS n_b, n_both,
       CAST(n_both AS DOUBLE) * CAST(n_docs AS DOUBLE)
       / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)) AS lift
FROM pairs
JOIN counts ca ON rule_a = ca.rule
JOIN counts cb ON rule_b = cb.rule
CROSS JOIN nd
"""


@register("quality_rule_cofire", COFIRE_ORACLE)
def q_quality_rule_cofire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-failure matrix of the Gopher quality rules: for each rule
    pair, how often both fire on the same document and the lift vs
    independence — the diagnostic that tells a curation team whether
    rules are redundant (lift >> 1: drop one) or complementary
    (lift ~ 1: keep both). Rides the quality_rules stats; the failed
    rule set per doc explodes to at most 4 rows; the pair join is
    keyed by doc id with a bounded 4-rule alphabet.

    Scale: one quality_rules pass (persisted — the failed frame feeds
    the counts, the pair join's both sides, and n_docs), then
    alphabet-bounded joins and a 1-row total crossed back."""
    from amorphous_mapreduce_spark.operators.pipeline import quality_rules

    q = quality_rules(load_table(spark, sf_dir, "documents")).persist()
    arr = F.array_compact(
        F.array(
            F.when(F.col("uniq_frac") < 0.3, F.lit("low_diversity")),
            F.when(F.col("stop_frac") == 0, F.lit("no_stopwords")),
            F.when(F.col("top_bigram_frac") > 0.1, F.lit("repetitive")),
            F.when(F.col("n_words") < 30, F.lit("short")),
        )
    )
    failed = q.select("id", F.explode(arr).alias("rule")).persist()
    counts = failed.groupBy("rule").agg(F.count("*").alias("n"))
    nd = q.agg(F.count("*").alias("n_docs"))
    a = failed.select("id", F.col("rule").alias("rule_a"))
    b = failed.select("id", F.col("rule").alias("rule_b"))
    pairs = (
        a.join(b, "id")
        .filter(F.col("rule_a") < F.col("rule_b"))
        .groupBy("rule_a", "rule_b")
        .agg(F.count("*").alias("n_both"))
    )
    ca = counts.select(F.col("rule").alias("rule_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("rule").alias("rule_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "rule_a")
        .join(F.broadcast(cb), "rule_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "rule_a",
            "rule_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double") * F.col("n_docs").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


# --- JL random-projection distance distortion --------------------------------

import hashlib as _hashlib

JL_DIM = 64
JL_K = 8
JL_OFFSETS = (1, 7, 131)

# Deterministic +-1 hyperplane signs shared verbatim by both engines
# (computed from md5 in Python — a constant of the query, not an
# engine hash).
JL_SIGNS: list[list[int]] = [
    [
        1 if int(_hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest(), 16) & 1 else -1
        for i in range(JL_DIM)
    ]
    for j in range(JL_K)
]


# DuckDB: 8 exact integer projections of the int8 vector ``t.qvd`` via
# double dot products (values << 2^53, so double is exact).
_JL_Y_SQL = "[" + ", ".join(
    "CAST(list_dot_product(t.qvd, ["
    + ", ".join(f"{s}.0" for s in signs)
    + "]) AS BIGINT)"
    for signs in JL_SIGNS
) + "]"


JL_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(TRUNC(CAST(x AS DOUBLE)
                               / list_max(list_transform(embedding,
                                   v -> abs(CAST(v AS DOUBLE)))) * 127.0)
                         AS INTEGER)) AS qv
    FROM embeddings
    WHERE list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) > 0
),
f AS (
    SELECT id, qvd, {_JL_Y_SQL} AS y
    FROM (SELECT id, list_transform(qv, v -> CAST(v AS DOUBLE)) AS qvd
          FROM q) t
),
pairs AS (
    SELECT o.off,
           CAST(list_dot_product(a.qvd, a.qvd)
                - 2 * list_dot_product(a.qvd, b.qvd)
                + list_dot_product(b.qvd, b.qvd) AS BIGINT) AS d2_orig,
           CAST(list_sum(list_transform(range(1, {JL_K} + 1),
                j -> CAST((a.y[j] - b.y[j]) * (a.y[j] - b.y[j]) AS BIGINT)))
                AS BIGINT) AS d2_proj
    FROM f a
    CROSS JOIN (VALUES (1), (7), (131)) o(off)
    JOIN f b ON b.id = a.id + o.off
)
SELECT CAST(off AS BIGINT) AS off,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(d2_orig) AS BIGINT) AS sum_d2_orig,
       CAST(SUM(d2_proj) AS BIGINT) AS sum_d2_proj,
       CAST(SUM(d2_proj) AS DOUBLE)
           / ({JL_K}.0 * CAST(SUM(d2_orig) AS DOUBLE)) AS ratio_of_sums,
       MAX(CAST(d2_proj AS DOUBLE) / ({JL_K}.0 * CAST(d2_orig AS DOUBLE)))
           AS max_ratio,
       MIN(CAST(d2_proj AS DOUBLE) / ({JL_K}.0 * CAST(d2_orig AS DOUBLE)))
           AS min_ratio
FROM pairs WHERE d2_orig > 0
GROUP BY off ORDER BY off
"""


@register("jl_projection_distortion", JL_ORACLE)
def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss audit: project int8-quantized embeddings
    onto 8 fixed +-1 hyperplanes (the cheap dimension reduction in
    front of an ANN index) and measure how squared pair distances
    distort — ratio_of_sums near 1.0 validates the projection; min/max
    bound the per-pair damage. Pairs are deterministic id-offset
    probes (offsets 1/7/131), not an all-pairs scan.

    Exactness: quantized components, projections, and squared
    distances are all exact integers (|y_j| <= 64*127, squares well
    under 2^53, so DuckDB's double dot products are exact too); ratios
    are single divisions of identical integers. d2_orig = 0 pairs are
    excluded on both engines (ANSI-safe division).

    Scale: per-row transform + three keyed self-join probes on
    id+offset; the 3-row offset list is a broadcast constant. State is
    O(rows), shuffle is the equi-join only. Reference tie-in: CrossPOp
    row-pair semantics (src/outer_product.rs) restricted to a sparse
    deterministic pairing."""
    emb = load_table(spark, sf_dir, "embeddings")
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(absd)
    qv = F.transform(
        F.col("embedding"),
        lambda x: (x.cast("double") / F.col("scale") * F.lit(127.0)).cast("int"),
    )
    proj = [
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(s) for s in signs]),
                lambda a, b: (a * b).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for signs in JL_SIGNS
    ]
    f = (
        emb.select(
            F.col("vec_id").alias("id"), F.col("embedding"), scale.alias("scale")
        )
        .filter(F.col("scale") > 0)
        .withColumn("qv", qv)
        .select("id", "qv", F.array(*proj).alias("y"))
        .persist()  # both sides of the offset self-join
    )
    offsets = spark.createDataFrame([(o,) for o in JL_OFFSETS], "off long")
    a = f.crossJoin(F.broadcast(offsets)).withColumn(
        "bid", F.col("id") + F.col("off")
    )
    b = f.select(
        F.col("id").alias("bid"),
        F.col("qv").alias("qv_b"),
        F.col("y").alias("y_b"),
    )
    d2_orig = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qv_b"), lambda x, y: ((x - y) * (x - y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d2_proj = F.aggregate(
        F.zip_with(
            F.col("y"), F.col("y_b"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "bid")
        .select("off", d2_orig.alias("d2_orig"), d2_proj.alias("d2_proj"))
        .filter(F.col("d2_orig") > 0)
    )
    ratio = F.col("d2_proj").cast("double") / (
        F.lit(float(JL_K)) * F.col("d2_orig").cast("double")
    )
    return (
        pairs.groupBy("off")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("d2_orig").alias("sum_d2_orig"),
            F.sum("d2_proj").alias("sum_d2_proj"),
            (
                F.sum("d2_proj").cast("double")
                / (F.lit(float(JL_K)) * F.sum("d2_orig").cast("double"))
            ).alias("ratio_of_sums"),
            F.max(ratio).alias("max_ratio"),
            F.min(ratio).alias("min_ratio"),
        )
        .orderBy("off")
    )


# --- per-dimension audit of the int8-quantized embedding space ----------------

DIM_AUDIT_ORACLE = """
WITH q AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(TRUNC(CAST(x AS DOUBLE)
                               / list_max(list_transform(embedding,
                                   v -> abs(CAST(v AS DOUBLE)))) * 127.0)
                         AS INTEGER)) AS qv
    FROM embeddings
    WHERE list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) > 0
),
dims AS (
    SELECT generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS v FROM q
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS sum_q,
       CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_q2,
       CAST(MIN(v) AS BIGINT) AS min_q,
       CAST(MAX(v) AS BIGINT) AS max_q,
       CAST(SUM(CASE WHEN abs(v) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_q,
       (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE)
        - CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE))
       / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)) AS var_q
FROM dims GROUP BY dim ORDER BY dim
"""


@register("embedding_dim_audit", DIM_AUDIT_ORACLE)
def q_embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health audit of the int8-quantized embedding space:
    mean/variance/min/max/saturation per coordinate — the pre-index
    check that catches dead dimensions (var ~ 0 -> wasted index width)
    and hot ones (saturation -> quantization clipping) before an ANN
    build commits to a layout.

    Exactness: quantized components are exact integers (the
    embedding_quantize expression), so all moments are integer sums;
    mean and population variance are single double expressions of
    exact integers.

    Scale: posexplode fans out rows x 64 — a constant factor — then one
    hash aggregate onto 64 groups. No joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    qv = F.transform(
        F.col("embedding"),
        lambda x: (x.cast("double") / F.col("scale") * F.lit(127.0)).cast("int"),
    )
    dims = (
        emb.select(F.col("vec_id").alias("id"), "embedding",
                   F.array_max(absd).alias("scale"))
        .filter(F.col("scale") > 0)
        .select(F.posexplode(qv).alias("dim", "v"))
    )
    n, s, s2 = F.count("*"), F.sum("v"), F.sum(F.col("v").cast("long") * F.col("v"))
    return (
        dims.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            n.alias("n"),
            s.alias("sum_q"),
            s2.alias("sum_q2"),
            F.min("v").cast("long").alias("min_q"),
            F.max("v").cast("long").alias("max_q"),
            F.sum(F.when(F.abs(F.col("v")) == 127, 1).otherwise(0)).alias("n_sat"),
            (s.cast("double") / n.cast("double")).alias("mean_q"),
            (
                (n.cast("double") * s2.cast("double")
                 - s.cast("double") * s.cast("double"))
                / (n.cast("double") * n.cast("double"))
            ).alias("var_q"),
        )
        .orderBy("dim")
    )


# --- curation waterfall: first-failing-rule attribution -----------------------

WATERFALL_ORACLE = f"""
WITH q AS ( {QUALITY_ORACLE} ),
staged AS (
    SELECT id, n_words,
           CASE WHEN n_words < 30 THEN 'a_short'
                WHEN top_bigram_frac > 0.1 THEN 'b_repetitive'
                WHEN uniq_frac < 0.3 THEN 'c_low_diversity'
                WHEN stop_frac = 0 THEN 'd_no_stopwords'
                ELSE 'e_pass' END AS stage
    FROM q
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM staged)
SELECT stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.n_docs) AS DOUBLE) AS doc_share
FROM staged CROSS JOIN tot
GROUP BY stage ORDER BY stage
"""


@register("curation_waterfall", WATERFALL_ORACLE)
def q_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel waterfall: every document attributed to the FIRST
    Gopher rule it fails (short -> repetitive -> low-diversity ->
    no-stopwords -> pass), with doc and token mass per stage — the
    drop-report a data pipeline publishes per ingest batch (cofire
    gives correlations; this gives the accounting that sums to 100%).

    Exactness: rule fractions are single exact divisions
    (quality_rules discipline); stage labels are deterministic CASE
    priority; shares are one division by the 1-row total.

    Scale: rides the quality_rules per-doc aggregates; the stage rollup
    is 5 rows."""
    q = quality_rules(load_table(spark, sf_dir, "documents"))
    staged = q.select(
        "id",
        "n_words",
        F.when(F.col("n_words") < 30, "a_short")
        .when(F.col("top_bigram_frac") > 0.1, "b_repetitive")
        .when(F.col("uniq_frac") < 0.3, "c_low_diversity")
        .when(F.col("stop_frac") == 0, "d_no_stopwords")
        .otherwise("e_pass")
        .alias("stage"),
    )
    tot = staged.agg(F.count("*").alias("n_all"))
    return (
        staged.crossJoin(F.broadcast(tot))
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            (
                F.count("*").cast("double")
                / F.max("n_all").cast("double")
            ).alias("doc_share"),
        )
        .orderBy("stage")
    )


# --- training-data release manifest (capstone composition) ---------------------

_REL_SAMPLE_PCT = 50
_REL_SHARDS = 4

RELEASE_ORACLE = f"""
WITH q AS ( {QUALITY_ORACLE} ),
keepers AS (SELECT id, n_words FROM q WHERE rules_pass),
digests AS (
    SELECT d.doc_id AS id,
           CAST('0x' || substr(md5({NORM}), 1, 15) AS BIGINT) AS h
    FROM documents d
),
survivors AS (
    SELECT MIN(k.id) AS id, MAX(dg.h) AS h
    FROM keepers k JOIN digests dg ON k.id = dg.id
    GROUP BY dg.h
),
sampled AS (
    SELECT s.id, s.h, k.n_words,
           CAST('0x' || substr(md5('shard:' || CAST(s.id AS VARCHAR)),
                               1, 15) AS BIGINT) % {_REL_SHARDS} AS shard
    FROM survivors s JOIN keepers k ON s.id = k.id
    WHERE CAST('0x' || substr(md5('rel:' || CAST(s.id AS VARCHAR)),
                              1, 15) AS BIGINT) % 100 < {_REL_SAMPLE_PCT}
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(MIN(id) AS BIGINT) AS min_id,
       CAST(MAX(id) AS BIGINT) AS max_id,
       bit_xor(h) AS content_xor
FROM sampled GROUP BY shard ORDER BY shard
"""


@register("training_release_manifest", RELEASE_ORACLE)
def q_training_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-manifest capstone: the full publish path of a training
    snapshot — Gopher quality gate -> exact-dedup survivor (min id per
    content digest) -> deterministic 50% sample -> 4-way hash sharding
    -> per-shard manifest row (doc count, token mass, id range, and an
    order-independent bit_xor content proof a downstream loader can
    re-verify). Composes quality_rules + exact_dedup + hash sampling +
    epoch sharding into the artifact a data release actually ships.

    Exactness: every stage is hash/integer arithmetic (portable MD5
    prefix, convention 2); the manifest columns are exact integers —
    including the checksum (bit_xor commutes, so shard parallelism
    cannot change it).

    Scale: quality and digests are per-doc passes; the survivor pick is
    one groupBy on the content digest; sample + shard are stateless
    filters; the manifest is {_REL_SHARDS} rows."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    q = quality_rules(docs)
    keepers = q.filter(F.col("rules_pass")).select("id", "n_words")
    digests = docs.select(
        F.col("doc_id").alias("id"), hex_hash64(normalize_text()).alias("h")
    )
    survivors = (
        keepers.join(digests, "id")
        .groupBy("h")
        .agg(F.min("id").alias("id"))
    )
    sampled = (
        survivors.join(keepers, "id")
        .filter(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("rel:"), F.col("id").cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % 100
            < _REL_SAMPLE_PCT
        )
        .select(
            "id",
            "h",
            "n_words",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("shard:"), F.col("id").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % _REL_SHARDS
            ).alias("shard"),
        )
    )
    return (
        sampled.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.expr("bit_xor(h)").alias("content_xor"),
        )
        .orderBy("shard")
    )


# --- weighted sampling manifest (Efraimidis-Spirakis via intlog) -------------

_WS_K = 64
# 52-bit uniform from md5 (13 hex chars), shifted to [1, 2^52] so the
# intlog argument is always >= 1 and -log2(u/2^52) = 52*2^20 - log2(u) >= 0.
_WS_U_SQL = "(CAST('0x' || substr(md5('ws_' || doc_id), 1, 13) AS BIGINT) + 1)"


def _ws_oracle() -> str:
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql

    return f"""
WITH wdocs AS (
    SELECT doc_id, source,
           CAST(len(regexp_split_to_array({NORM}, ' ')) AS BIGINT) AS w_tokens,
           {_WS_U_SQL} AS u
    FROM documents
),
keyed AS (
    SELECT doc_id, source, w_tokens,
           CAST(((52 * 1048576 - {log2_scaled_sql('u')}) * 1048576)
                // w_tokens AS BIGINT) AS key_q
    FROM wdocs
)
SELECT doc_id, source, w_tokens, key_q
FROM keyed ORDER BY key_q, doc_id LIMIT {_WS_K}
"""


@register("weighted_sample_manifest", _ws_oracle())
def q_weighted_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample-without-replacement manifest (Efraimidis-Spirakis
    A-ES): each doc gets key = -log2(u)/w with u an md5-derived 52-bit
    uniform and w its token count; the k smallest keys ARE a weighted
    sample ∝ w — the standard one-pass distributed sampler behind
    source-mixing draws at training time.

    The log is functions/intlog (2^20 fixed point, LUT mantissa), the
    key is one integer division — so the manifest replays exactly in
    SQL; ties impossible beyond the (key, doc_id) total order. Scale:
    keys are a narrow map; selection is orderBy().limit(k) =
    TakeOrderedAndProject (per-partition top-k, O(k) merge on the
    driver-side reduce) — no global sort, no window, corpus-size
    independent state."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ws_"), F.col("doc_id"))), 1, 13),
            16,
            10,
        ).cast("long")
        + 1
    )
    wdocs = docs.select(
        "doc_id",
        "source",
        F.size(F.split(normalize_text(), " ")).cast("long").alias(
            "w_tokens"
        ),
        u.alias("u"),
    )
    keyed = wdocs.select(
        "doc_id",
        "source",
        "w_tokens",
        (
            ((F.lit(52 * 1048576).cast("long") - log2_scaled("u")) * F.lit(1048576))
            .cast("long")
        ).alias("_a"),
    ).select(
        "doc_id",
        "source",
        "w_tokens",
        F.expr("CAST(_a div w_tokens AS BIGINT)").alias("key_q"),
    )
    return keyed.orderBy("key_q", "doc_id").limit(_WS_K)


# --- DPO preference-pair construction ----------------------------------------

DPO_PAIR_ORACLE = """
WITH feat AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_dis,
           CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END AS is_dup
    FROM documents
),
scored AS (
    SELECT doc_id, source, n_tok // 25 AS bucket,
           1000 * n_dis - 10 * n_tok - 5000 * is_dup AS reward
    FROM feat
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY source, bucket
                              ORDER BY reward DESC, doc_id ASC) AS rb,
           ROW_NUMBER() OVER (PARTITION BY source, bucket
                              ORDER BY reward ASC, doc_id DESC) AS rw,
           COUNT(*) OVER (PARTITION BY source, bucket) AS cnt
    FROM scored
)
SELECT a.source, a.bucket,
       CAST(a.rb AS BIGINT) AS pair_rank,
       a.doc_id AS chosen_id, b.doc_id AS rejected_id,
       a.reward AS chosen_reward, b.reward AS rejected_reward,
       a.reward - b.reward AS margin
FROM ranked a JOIN ranked b
  ON a.source = b.source AND a.bucket = b.bucket AND a.rb = b.rw
WHERE a.rb <= a.cnt // 2
ORDER BY a.source, a.bucket, a.rb
"""


@register("dpo_pair_manifest", DPO_PAIR_ORACLE)
def q_dpo_pair_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (DPO/RLHF) construction manifest: within each
    prompt group — (source, length-bucket), the stand-in for
    "completions of the same prompt" — rank candidates by a
    deterministic integer reward (lexical richness minus length minus a
    duplicate penalty) and pair the k-th best with the k-th worst for
    k <= group_size/2, emitting (chosen, rejected, margin). This is the
    exact dataset-shaping step a preference-tuning pipeline runs after
    reward scoring; margins are non-negative by the mirror-pairing
    construction.

    Exactness: the reward is pure integer arithmetic; both row_numbers
    carry total-order tie-breaks ((reward DESC, id ASC) mirrored by
    (reward ASC, id DESC)), so the k-th-worst is exactly the
    (cnt+1-k)-th best and the pairing is a pure function of the corpus.

    Scale: one scan -> per-group windows (shuffle on the group key) ->
    an equi-join of the ranked frame with itself on (group, rank);
    ranked is persist()ed because both join branches re-read its
    lineage (CLAUDE.md self-join rule). Output is bounded by n/2 rows.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(32, "doc_id")
    )
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(size(split(text, ' ')) AS BIGINT) div 25"
        ).alias("bucket"),
        (
            F.lit(1000) * F.size(F.array_distinct(toks)).cast("long")
            - F.lit(10) * F.size(toks).cast("long")
            - F.lit(5000)
            * F.when(F.col("text").like("% dup"), 1).otherwise(0).cast("long")
        ).alias("reward"),
    )
    wb = Window.partitionBy("source", "bucket").orderBy(
        F.col("reward").desc(), F.col("doc_id").asc()
    )
    ww = Window.partitionBy("source", "bucket").orderBy(
        F.col("reward").asc(), F.col("doc_id").desc()
    )
    wc = Window.partitionBy("source", "bucket")
    ranked = scored.select(
        "doc_id",
        "source",
        "bucket",
        "reward",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    ).persist()
    chosen = ranked.filter(F.col("rb") <= F.expr("cnt div 2")).select(
        "source",
        "bucket",
        F.col("rb").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("reward").alias("chosen_reward"),
    )
    rejected = ranked.select(
        "source",
        "bucket",
        F.col("rw").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("reward").alias("rejected_reward"),
    )
    return (
        chosen.join(rejected, ["source", "bucket", "pair_rank"])
        .select(
            "source",
            "bucket",
            "pair_rank",
            "chosen_id",
            "rejected_id",
            "chosen_reward",
            "rejected_reward",
            (F.col("chosen_reward") - F.col("rejected_reward")).alias("margin"),
        )
        .orderBy("source", "bucket", "pair_rank")
    )


# --- data-mixture temperature sweep -------------------------------------------

MIXTURE_TEMP_ORACLE = """
WITH src AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
taus(tau) AS (VALUES ('0.5'), ('0.75'), ('1.0')),
q AS (
    SELECT s.source, t.tau, s.n_tokens,
           CASE t.tau
               WHEN '0.5'  THEN CAST(sqrt(CAST(n_tokens AS DOUBLE))
                                    * 1048576 AS BIGINT)
               WHEN '0.75' THEN CAST(sqrt(CAST(n_tokens AS DOUBLE)
                                          * sqrt(CAST(n_tokens AS DOUBLE)))
                                    * 1048576 AS BIGINT)
               ELSE n_tokens * 1048576
           END AS w
    FROM src s CROSS JOIN taus t
)
SELECT tau, source, n_tokens,
       CAST((1000000 * w) // CAST(SUM(w) OVER (PARTITION BY tau) AS BIGINT)
            AS BIGINT) AS weight_ppm
FROM q
ORDER BY tau, source
"""


@register("mixture_temperature_sweep", MIXTURE_TEMP_ORACLE)
def q_mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture temperature sweep: per-source sampling weights
    w_s ∝ n_s^tau for tau in {0.5, 0.75, 1.0} — the knob every
    large-scale pretraining recipe tunes (tau=1 is natural proportions,
    tau<1 up-weights small sources; cf. multilingual sampling in
    published LM data recipes). One sweep emits all three manifests so
    the curation team can diff them.

    Exactness: n^0.5 = sqrt(n) and n^0.75 = sqrt(n * sqrt(n)) are
    compositions of IEEE-correctly-rounded ops on exact integers —
    bit-identical across engines (the f^(k/2^m) trick,
    negative_sampling_weights) — then floor-quantized to integers at
    2^20 (multiply by a power of two is exact) BEFORE the cross-source
    sum, so the normalizing total is an integer sum, never a
    float-accumulation order hazard; weight_ppm is one integer div.

    Scale: one groupBy(source) token count (map-side combined), then a
    20-row frame crossed with 3 constant taus — everything after the
    first aggregate is trivially small at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("nt")
    )
    src = docs.groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    from pyspark.sql import Window

    taus = spark.range(1).select(
        F.explode(F.array(F.lit("0.5"), F.lit("0.75"), F.lit("1.0"))).alias(
            "tau"
        )
    )
    q = src.crossJoin(F.broadcast(taus)).select(
        "source",
        "tau",
        "n_tokens",
        F.expr(
            "CASE tau"
            " WHEN '0.5' THEN CAST(sqrt(CAST(n_tokens AS DOUBLE))"
            "                      * 1048576 AS BIGINT)"
            " WHEN '0.75' THEN CAST(sqrt(CAST(n_tokens AS DOUBLE)"
            "                            * sqrt(CAST(n_tokens AS DOUBLE)))"
            "                      * 1048576 AS BIGINT)"
            " ELSE n_tokens * 1048576 END"
        ).alias("w"),
    )
    wt = Window.partitionBy("tau")
    return q.select(
        "tau",
        "source",
        "n_tokens",
        F.expr(
            "(1000000 * w) div SUM(w) OVER (PARTITION BY tau)"
        ).alias("weight_ppm"),
    ).orderBy("tau", "source")


# --- MoE expert-routing load audit ---------------------------------------------

# pos - 1: operators.dedup.tokenized's posexplode is 0-based while
# generate_subscripts is 1-based (the documented posexplode gotcha)
_MOE_H = (
    "CAST('0x' || substr(md5('moe:' || CAST(id AS VARCHAR) || ':' ||"
    " CAST(pos - 1 AS VARCHAR)), 1, 15) AS BIGINT)"
)

MOE_ROUTING_ORACLE = f"""
WITH toks AS (
    SELECT id, pos, word FROM (
        SELECT doc_id AS id,
               generate_subscripts(ws, 1) AS pos,
               unnest(ws) AS word
        FROM (SELECT doc_id, regexp_split_to_array({NORM}, ' ') AS ws
              FROM documents)
    ) WHERE length(word) > 0
),
routed AS (
    SELECT {_MOE_H} % 8 AS e1,
           ({_MOE_H} % 8 + 1 + ({_MOE_H} // 8) % 7) % 8 AS e2
    FROM toks
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM routed),
loads AS (
    SELECT e AS expert_id,
           CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_primary,
           CAST(SUM(CASE WHEN rank = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_secondary
    FROM (SELECT e1 AS e, 1 AS rank FROM routed UNION ALL
          SELECT e2, 2 FROM routed)
    GROUP BY e
)
SELECT l.expert_id, l.n_primary, l.n_secondary,
       CAST((1000000 * l.n_primary) // n.total AS BIGINT) AS primary_ppm,
       CAST(GREATEST(CAST(0 AS BIGINT),
                     l.n_primary - (n.total * 5 + 31) // 32)
            AS BIGINT) AS overflow_dropped
FROM loads l CROSS JOIN n
ORDER BY l.expert_id
"""


@register("moe_routing_audit", MOE_ROUTING_ORACLE)
def q_moe_routing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-of-experts routing/load audit over the token stream:
    every token is hash-routed to a primary expert (of 8) and a distinct
    secondary (top-2 routing), and the audit emits per-expert primary/
    secondary loads, the primary load share in ppm, and the tokens a
    capacity-factor-1.25 expert would DROP (cap = ceil(1.25·N/8) =
    (5N+31) div 32 — integer ceiling) — the balance/overflow accounting
    an expert-parallel training job runs before committing a routing
    scheme.

    Exactness: routing and loads are pure integer hash arithmetic; the
    secondary expert (e1 + 1 + h') mod 8 is distinct from e1 by
    construction. Scale: one token scan -> one 8-row aggregate; the
    union doubles rows but stays map-side combinable.
    """
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    toks = tokenized(load_table(spark, sf_dir, "documents"))
    h = hex_hash64(
        F.concat(
            F.lit("moe:"),
            F.col("id").cast("string"),
            F.lit(":"),
            F.col("pos").cast("string"),
        )
    )
    routed = (
        toks.withColumn("h", h)
        .select(
            F.expr("h % 8").alias("e1"),
            F.expr("(h % 8 + 1 + (h div 8) % 7) % 8").alias("e2"),
        )
        .persist()
    )
    n = routed.agg(F.count(F.lit(1)).cast("long").alias("total"))
    loads = (
        routed.select(F.col("e1").alias("e"), F.lit(1).alias("rank"))
        .unionByName(routed.select(F.col("e2").alias("e"), F.lit(2).alias("rank")))
        .groupBy(F.col("e").alias("expert_id"))
        .agg(
            F.sum(F.when(F.col("rank") == 1, 1).otherwise(0)).alias(
                "n_primary"
            ),
            F.sum(F.when(F.col("rank") == 2, 1).otherwise(0)).alias(
                "n_secondary"
            ),
        )
    )
    return (
        loads.crossJoin(F.broadcast(n))
        .select(
            "expert_id",
            "n_primary",
            "n_secondary",
            F.expr("(1000000 * n_primary) div total").alias("primary_ppm"),
            F.expr(
                "GREATEST(CAST(0 AS BIGINT),"
                " n_primary - (total * 5 + 31) div 32)"
            ).alias("overflow_dropped"),
        )
        .orderBy("expert_id")
    )


# --- salted-shuffle balance audit ----------------------------------------------

_SSB_KEYH = (
    "CAST('0x' || substr(md5('ssb:' || o_orderpriority), 1, 15) AS BIGINT)"
)
_SSB_SALTH = (
    "CAST('0x' || substr(md5('ssbs:' || CAST(o_orderkey AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)

SALT_BALANCE_ORACLE = f"""
WITH placed AS (
    SELECT {_SSB_KEYH} % 32 AS plain_r,
           CAST('0x' || substr(md5('ssb:' || o_orderpriority || '#' ||
                CAST({_SSB_SALTH} % 8 AS VARCHAR)), 1, 15) AS BIGINT) % 32
               AS salted_r
    FROM orders
),
per_r AS (
    SELECT variant, r, CAST(COUNT(*) AS BIGINT) AS rows_in
    FROM (SELECT 'plain' AS variant, plain_r AS r FROM placed UNION ALL
          SELECT 'salted', salted_r FROM placed)
    GROUP BY variant, r
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS reducers_used,
       CAST(MAX(rows_in) AS BIGINT) AS max_reducer_rows,
       CAST(SUM(rows_in) AS BIGINT) AS total_rows,
       CAST((1000000 * MAX(rows_in)) // SUM(rows_in) AS BIGINT)
           AS max_share_ppm
FROM per_r
GROUP BY variant
ORDER BY variant
"""


@register("salted_shuffle_balance", SALT_BALANCE_ORACLE)
def q_salted_shuffle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-balance evidence for skew salting, emitted as data: the
    5-value order-priority key hashes into at most 5 of 32 reducers
    (27 idle, the hottest holding ~20-25% of all rows); the same key
    salted 8 ways (key#salt, salt from a second row-level hash) spreads
    to ~32 reducers with max share near 1/32. Both placements use the
    portable MD5 hash so the oracle replays reducer assignment
    bit-for-bit, scoring placement balance as data.

    Scale: one scan, one (variant, reducer) count (map-side combined,
    <= 64 groups), one 2-row summary. The imbalance it measures is
    exactly what decides straggler-or-not at 1000 executors.
    """
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    orders = load_table(spark, sf_dir, "orders")
    keyh = hex_hash64(F.concat(F.lit("ssb:"), F.col("o_orderpriority")))
    salt = (
        hex_hash64(
            F.concat(F.lit("ssbs:"), F.col("o_orderkey").cast("string"))
        )
        % 8
    )
    salted = hex_hash64(
        F.concat(
            F.lit("ssb:"),
            F.col("o_orderpriority"),
            F.lit("#"),
            salt.cast("string"),
        )
    )
    placed = orders.select(
        (keyh % 32).alias("plain_r"), (salted % 32).alias("salted_r")
    ).persist()
    per_r = (
        placed.select(F.lit("plain").alias("variant"), F.col("plain_r").alias("r"))
        .unionByName(
            placed.select(
                F.lit("salted").alias("variant"), F.col("salted_r").alias("r")
            )
        )
        .groupBy("variant", "r")
        .agg(F.count(F.lit(1)).alias("rows_in"))
    )
    return (
        per_r.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("reducers_used"),
            F.max("rows_in").cast("long").alias("max_reducer_rows"),
            F.sum("rows_in").cast("long").alias("total_rows"),
            F.expr(
                "CAST((1000000 * MAX(rows_in)) div SUM(rows_in) AS BIGINT)"
            ).alias("max_share_ppm"),
        )
        .orderBy("variant")
    )


# --- GRPO group-relative advantage manifest -------------------------------------

GRPO_ORACLE = """
WITH feat AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_dis,
           CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END AS is_dup
    FROM documents
),
scored AS (
    SELECT doc_id, source, n_tok // 25 AS bucket,
           1000 * n_dis - 10 * n_tok - 5000 * is_dup AS reward
    FROM feat
),
grp AS (
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           CAST(SUM(reward) AS BIGINT) AS s
    FROM scored GROUP BY source, bucket
)
SELECT sc.source, sc.bucket, sc.doc_id, sc.reward, g.group_n,
       g.group_n * sc.reward - g.s AS adv_num,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY sc.source, sc.bucket
           ORDER BY g.group_n * sc.reward - g.s DESC, sc.doc_id
       ) AS BIGINT) AS adv_rank
FROM scored sc JOIN grp g USING (source, bucket)
ORDER BY sc.source, sc.bucket, adv_rank
"""


@register("grpo_advantage_manifest", GRPO_ORACLE)
def q_grpo_advantage_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage manifest (the GRPO shaping step: no
    critic, advantage = reward minus the group mean over completions of
    the same prompt): same prompt groups and deterministic reward as
    dpo_pair_manifest, emitting for every candidate the EXACT
    cross-multiplied advantage numerator n·r − Σr (advantage sign and
    ORDER are identical to (r − mean) without any division) and its
    within-group rank.

    Exactness: pure integer arithmetic throughout; rank carries a
    doc_id tie-break. Scale: one scan -> one keyed aggregate joined
    back on the group key -> one per-group window; linear with
    group-keyed shuffles only.
    """
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(32, "doc_id")
    )
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT) div 25").alias(
            "bucket"
        ),
        (
            F.lit(1000) * F.size(F.array_distinct(toks)).cast("long")
            - F.lit(10) * F.size(toks).cast("long")
            - F.lit(5000)
            * F.when(F.col("text").like("% dup"), 1).otherwise(0).cast("long")
        ).alias("reward"),
    ).persist()  # grp derives from scored and joins back: both branches
    # of the self-join would otherwise re-execute the document scan
    grp = scored.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("group_n"),
        F.sum("reward").cast("long").alias("s"),
    )
    joined = scored.join(grp, ["source", "bucket"]).withColumn(
        "adv_num", F.col("group_n") * F.col("reward") - F.col("s")
    )
    w = Window.partitionBy("source", "bucket").orderBy(
        F.desc("adv_num"), F.asc("doc_id")
    )
    return joined.select(
        "source",
        "bucket",
        "doc_id",
        "reward",
        "group_n",
        "adv_num",
        F.row_number().over(w).cast("long").alias("adv_rank"),
    ).orderBy("source", "bucket", "adv_rank")
