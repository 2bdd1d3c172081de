"""Text-pipeline queries: word count + text analysis over ``documents``.

These re-express the reference's word-count pipeline (src/word_count.rs,
SURVEY.md §2.2 W1-W8) and the north-star text-analysis operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from amorphous_mapreduce_spark.operators.wordcount import word_counts
from amorphous_mapreduce_spark.queries.dedup_queries import NORM, toks_cte
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

WORDCOUNT_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (
    SELECT regexp_replace(lower(unnest(regexp_split_to_array(text, '\\s+'))),
                          '[,.]', '', 'g') AS word
    FROM documents
)
WHERE length(word) > 0
GROUP BY word
"""


@register("wordcount", WORDCOUNT_ORACLE)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W8: tokenize -> normalise -> hash-shuffle -> count (src/word_count.rs:90-128)."""
    return word_counts(load_table(spark, sf_dir, "documents"))


BM25_TERMS = ("spark", "window", "merge")

_BM25_TS = []
for _i in range(3):
    _BM25_TS.append(
        f"""((CAST(_n_doc AS DOUBLE) - CAST(_df_{_i} AS DOUBLE) + 0.5)
      / (CAST(_df_{_i} AS DOUBLE) + 0.5))
    * (CAST(tf_{_i} AS DOUBLE) * 2.2)
    / (CAST(tf_{_i} AS DOUBLE)
       + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                                     * CAST(_n_doc AS DOUBLE)
                                     / CAST(_n_tok AS DOUBLE))))"""
    )

BM25_ORACLE = f"""
WITH toks AS (
    SELECT id, word FROM (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   ' ')) AS word
        FROM documents
    ) WHERE length(word) > 0
),
per_doc AS (
    SELECT id, COUNT(*) AS dl,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
    FROM toks GROUP BY id
),
scal AS (
    SELECT COUNT(*) AS _n_doc,
           CAST(SUM(dl) AS BIGINT) AS _n_tok,
           CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_0,
           CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_1,
           CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_2
    FROM per_doc
)
SELECT id, dl, tf_0, tf_1, tf_2,
       {_BM25_TS[0]}
     + {_BM25_TS[1]}
     + {_BM25_TS[2]} AS score
FROM per_doc CROSS JOIN scal
WHERE greatest(tf_0, tf_1, tf_2) > 0
ORDER BY score DESC, id
LIMIT 15
"""


@register("bm25_ranking", BM25_ORACLE)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 documents for a fixed 3-term query. Rational Robertson
    IDF (no libm log — rank-equivalent, bit-identical across engines),
    per-term scores summed in literal term order, scalars (N, total
    tokens, per-term df) broadcast from ONE 1-row aggregate. Top-k is a
    TakeOrderedAndProject with id tie-break."""
    from amorphous_mapreduce_spark.operators.text_analysis import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, BM25_TERMS)
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(15)


POSTINGS_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, tf AS (SELECT word, id, COUNT(*) AS tf FROM toks GROUP BY word, id),
ranked AS (
    SELECT word, id, tf,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY tf DESC, id) AS rn,
           COUNT(*) OVER (PARTITION BY word) AS df
    FROM tf
)
SELECT word, df,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY tf DESC, id) AS top_docs
FROM ranked WHERE rn <= 10
GROUP BY word, df
"""
)


@register("term_postings", POSTINGS_ORACLE)
def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index: per term, its document frequency and the
    top-10 posting docs by term frequency (id tie-break), serialised as
    a comma-joined string (registered outputs stay scalar — array
    stringification differs across engines). Rank-filter BEFORE the
    collect bounds every postings list at 10 entries regardless of how
    hot the term is — the per-key memory cap that keeps a 100 TB
    vocabulary build safe; df rides the same keyed window. Ordering
    inside the list comes from array_sort over (-tf, id) structs — a
    total order, deterministic under any shuffle."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    toks = tokenized(load_table(spark, sf_dir, "documents"))
    tf = toks.groupBy("word", "id").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("word")
    ranked = tf.select(
        "word",
        "id",
        "tf",
        F.row_number().over(w.orderBy(F.desc("tf"), F.asc("id"))).alias("_rn"),
        F.count("*").over(w).alias("df"),
    )
    return (
        ranked.filter(F.col("_rn") <= 10)
        .groupBy("word", "df")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("tf")).alias("ntf"),
                                F.col("id").alias("id"),
                            )
                        )
                    ),
                    lambda x: x["id"].cast("string"),
                ),
                ",",
            ).alias("top_docs")
        )
    )


CONTINGENCY_ORACLE = """
WITH obs AS (
    SELECT lang, source, COUNT(*) AS observed
    FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, COUNT(*) AS row_tot FROM documents GROUP BY lang),
ct AS (SELECT source, COUNT(*) AS col_tot FROM documents GROUP BY source),
nn AS (SELECT COUNT(*) AS _n FROM documents)
SELECT o.lang, o.source, o.observed, r.row_tot, c.col_tot,
       CAST(r.row_tot * c.col_tot AS DOUBLE) / CAST(_n AS DOUBLE) AS expected,
       CAST(o.observed * _n AS DOUBLE)
           / CAST(r.row_tot * c.col_tot AS DOUBLE) AS lift
FROM obs o
JOIN rt r ON r.lang = o.lang
JOIN ct c ON c.source = o.source
CROSS JOIN nn
"""


@register("lang_source_contingency", CONTINGENCY_ORACLE)
def q_lang_source_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang x source contingency table with independence expectations and
    lift — 'is a language over-represented in a source' (the mixture
    audit run before source reweighting). Marginals are COUNT aggregates
    (never SUM — the DuckDB HUGEINT trap), joined back broadcast; the
    only doubles are two single divisions of integer products, identical
    IEEE ops on both engines. Per-cell statistics only — no cross-cell
    sum, so no accumulation-order hazard."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("observed"))
    rt = docs.groupBy("lang").agg(F.count("*").alias("row_tot"))
    ct = docs.groupBy("source").agg(F.count("*").alias("col_tot"))
    nn = docs.agg(F.count("*").alias("_n"))
    prod = F.col("row_tot") * F.col("col_tot")
    return (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "lang",
            "source",
            "observed",
            "row_tot",
            "col_tot",
            (prod.cast("double") / F.col("_n").cast("double")).alias("expected"),
            (
                (F.col("observed") * F.col("_n")).cast("double")
                / prod.cast("double")
            ).alias("lift"),
        )
    )


# --- hybrid lexical+dense retrieval with reciprocal-rank fusion -------------

_RRF_K = 20
_RRF_C = 60
_RRF_SCALE = 1000000
_RRF_QHASH = (
    "CAST('0x' || substr(md5('rrfq_' || CAST(vec_id AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)

_BM25_BODY = f"""
per_doc AS (
    SELECT id, COUNT(*) AS dl,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
    FROM toks GROUP BY id
),
scal AS (
    SELECT COUNT(*) AS _n_doc,
           CAST(SUM(dl) AS BIGINT) AS _n_tok,
           CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_0,
           CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_1,
           CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_2
    FROM per_doc
)
"""

RRF_ORACLE = (
    "WITH "
    + toks_cte()
    + ", "
    + _BM25_BODY
    + f"""
, btop AS (
    SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS r_bm25
    FROM (
        SELECT id,
               {_BM25_TS[0]}
             + {_BM25_TS[1]}
             + {_BM25_TS[2]} AS score
        FROM per_doc CROSS JOIN scal
        WHERE greatest(tf_0, tf_1, tf_2) > 0
    ) ORDER BY score DESC, id LIMIT {_RRF_K}
),
qv AS (
    SELECT vec_id AS qid, embedding AS q
    FROM embeddings ORDER BY {_RRF_QHASH}, vec_id LIMIT 1
),
dense AS (
    SELECT g.vec_id AS id,
           list_dot_product(p.q::DOUBLE[], g.embedding::DOUBLE[])
           / (sqrt(list_dot_product(p.q::DOUBLE[], p.q::DOUBLE[]))
              * sqrt(list_dot_product(g.embedding::DOUBLE[],
                                      g.embedding::DOUBLE[]))) AS cos
    FROM embeddings g CROSS JOIN qv p
    WHERE g.vec_id <> p.qid
),
dtop AS (
    SELECT id, ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS r_cos
    FROM dense ORDER BY cos DESC, id LIMIT {_RRF_K}
)
SELECT COALESCE(b.id, d.id) AS id,
       b.r_bm25, d.r_cos,
       COALESCE({_RRF_SCALE} // ({_RRF_C} + b.r_bm25), 0)
     + COALESCE({_RRF_SCALE} // ({_RRF_C} + d.r_cos), 0) AS rrf_score
FROM btop b FULL JOIN dtop d ON b.id = d.id
"""
)


@register("hybrid_rrf_retrieval", RRF_ORACLE)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the lexical BM25
    top-20 (fixed bag-of-terms query, the bm25_ranking scorer) and the
    dense cosine top-20 (fixed hash-chosen query vector, the
    query-by-example path over the embeddings table) fused by integer
    RRF — score = Σ 10^6 div (60 + rank) over the lists containing the
    doc (integer division, so the fusion is engine-exact; ties broken
    by id). This is the retrieval shape modern RAG/search stacks run:
    two independent ANN/index branches, one rank-based merge that
    needs no score calibration between modalities.

    Scale: each branch ends in a distributed TakeOrderedAndProject
    (top-20); the fusion operates on <= 40 rows. The dense branch is a
    broadcast of ONE query row against a linear scan — the brute-force
    arm that an IVF/LSH index (operators/similarity.py) replaces at
    100 TB without changing the fusion contract.

    vec_id and doc_id share the id space by fixture design
    (FIXTURES.md)."""
    from amorphous_mapreduce_spark.functions.vectors import cosine_similarity
    from amorphous_mapreduce_spark.operators.text_analysis import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    k, c, scale = _RRF_K, _RRF_C, _RRF_SCALE

    btop = (
        bm25_scores(docs, BM25_TERMS)
        .select("id", "score")
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("id")))
            .cast("long")
            .alias("r_bm25"),
        )
    )
    qh = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rrfq_"), F.col("vec_id").cast("string"))),
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
    dense = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("vec_id").alias("id"),
            cosine_similarity("q", "embedding").alias("cos"),
        )
    )
    dtop = (
        dense.orderBy(F.desc("cos"), F.asc("id"))
        .limit(k)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos"), F.asc("id")))
            .cast("long")
            .alias("r_cos"),
        )
    )
    return (
        btop.join(dtop, "id", "full")
        .select(
            "id",
            "r_bm25",
            "r_cos",
            (
                F.coalesce(
                    F.expr(f"div({scale}L, {c} + r_bm25)"), F.lit(0).cast("long")
                )
                + F.coalesce(
                    F.expr(f"div({scale}L, {c} + r_cos)"), F.lit(0).cast("long")
                )
            ).alias("rrf_score"),
        )
    )


# --- readability scoring (Automated Readability Index) ----------------------

# Sentence segmentation: split the normalised text on sentence enders.
# ARI uses LETTER counts (we use non-space characters of the normalised
# text) / words / sentences — all exact integers, one fixed double
# expression per doc.

ARI_ORACLE = f"""
WITH base AS (
    SELECT doc_id AS id, {NORM} AS norm FROM documents
),
stats AS (
    SELECT id,
           CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars,
           CAST(length(norm) - length(replace(norm, ' ', '')) + 1
                AS BIGINT) AS n_words,
           CAST(GREATEST(
               length(regexp_replace(norm, '[^.!?]', '', 'g')), 1
           ) AS BIGINT) AS n_sentences
    FROM base WHERE length(norm) > 0
)
SELECT id, n_chars, n_words, n_sentences,
       4.71 * (CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE))
       + 0.5 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       - 21.43 AS ari
FROM stats
"""


@register("readability_ari", ARI_ORACLE)
def q_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document — the grade-level
    quality signal a curation pipeline computes next to the Gopher
    rules: non-space character count, whitespace-delimited word count,
    and sentence count (sentence-ender characters, floored at 1), then
    ARI = 4.71·chars/words + 0.5·words/sentences − 21.43 as one fixed
    double expression over exact integers.

    Scale: a pure narrow projection — zero shuffles, whole-stage
    codegen; the counts come from string lengths, not an explode."""
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text()
    base = docs.select(F.col("doc_id").alias("id"), norm.alias("norm")).filter(
        F.length("norm") > 0
    )
    n_chars = F.length(F.replace(F.col("norm"), F.lit(" "), F.lit("")))
    n_words = (
        F.length("norm")
        - F.length(F.replace(F.col("norm"), F.lit(" "), F.lit("")))
        + 1
    )
    n_sent = F.greatest(
        F.length(F.regexp_replace("norm", r"[^.!?]", "")), F.lit(1)
    )
    stats = base.select(
        "id",
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
    )
    return stats.select(
        "id",
        "n_chars",
        "n_words",
        "n_sentences",
        (
            F.lit(4.71)
            * (F.col("n_chars").cast("double") / F.col("n_words").cast("double"))
            + F.lit(0.5)
            * (
                F.col("n_words").cast("double")
                / F.col("n_sentences").cast("double")
            )
            - F.lit(21.43)
        ).alias("ari"),
    )


# --- positional phrase search ---------------------------------------------

PHRASE_TOP = 3
PHRASE_DOCS = 5

PHRASE_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, bg AS (
    SELECT id, word AS w1,
           lead(word) OVER (PARTITION BY id ORDER BY pos) AS w2
    FROM toks
),
pc AS (
    SELECT w1, w2, id, COUNT(*) AS n
    FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2, id
),
top_phrases AS (
    SELECT w1, w2,
           CAST(SUM(n) AS BIGINT) AS total_occurrences,
           COUNT(*) AS df_docs
    FROM pc GROUP BY w1, w2
    ORDER BY total_occurrences DESC, w1, w2
    LIMIT {PHRASE_TOP}
),
ranked AS (
    SELECT p.w1, p.w2, t.total_occurrences, t.df_docs, p.id, p.n,
           ROW_NUMBER() OVER (PARTITION BY p.w1, p.w2
                              ORDER BY p.n DESC, p.id) AS rn
    FROM pc p JOIN top_phrases t ON p.w1 = t.w1 AND p.w2 = t.w2
)
SELECT w1 || ' ' || w2 AS phrase, total_occurrences, df_docs,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY n DESC, id) AS top_docs
FROM ranked WHERE rn <= {PHRASE_DOCS}
GROUP BY w1, w2, total_occurrences, df_docs
"""
)


@register("phrase_search", PHRASE_ORACLE)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: the corpus's {PHRASE_TOP} hottest
    two-word phrases with their document frequency and the top matching
    docs — the adjacency-join query a positional inverted index serves
    (search-engine sibling of term_postings; reference tokenize +
    per-key-count substrate, src/word_count.rs:90-128).

    Scale: adjacency pairs come from a KEYED lead() window (per doc, no
    global sort); the per-(phrase, doc) aggregate — vocab² x df sized,
    far smaller than the token stream — is persisted because both the
    phrase ranking and the match join re-read it. Top phrases are a
    TakeOrderedAndProject broadcast back onto the counts; per-phrase
    doc top-k is a window over candidate rows of {PHRASE_TOP} phrases
    only (same grouped-top-k shape as topk_customers_per_nation)."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    toks = tokenized(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        toks.select(
            "id",
            F.col("word").alias("w1"),
            F.lead("word").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    pc = bg.groupBy("w1", "w2", "id").agg(F.count("*").alias("n")).persist()
    top_phrases = (
        pc.groupBy("w1", "w2")
        .agg(
            F.sum("n").alias("total_occurrences"),
            F.count("*").alias("df_docs"),
        )
        .orderBy(F.desc("total_occurrences"), F.asc("w1"), F.asc("w2"))
        .limit(PHRASE_TOP)
    )
    cand = pc.join(F.broadcast(top_phrases), ["w1", "w2"])
    rn = Window.partitionBy("w1", "w2").orderBy(F.desc("n"), F.asc("id"))
    return (
        cand.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") <= PHRASE_DOCS)
        .groupBy("w1", "w2", "total_occurrences", "df_docs")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.negate("n").alias("negn"), "id"))
                    ),
                    lambda s: s["id"].cast("string"),
                ),
            ).alias("top_docs")
        )
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            "total_occurrences",
            "df_docs",
            "top_docs",
        )
    )


# --- inverted-index postings compression estimate --------------------------

POSTINGS_BYTES_TOP = 20

POSTINGS_BYTES_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, postings AS (
    SELECT DISTINCT word, id FROM toks
),
gaps AS (
    SELECT word,
           id - COALESCE(LAG(id) OVER (PARTITION BY word ORDER BY id), -1)
               AS gap
    FROM postings
),
sized AS (
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM((length(bin(gap)) + 6) // 7) AS BIGINT) AS bytes_varint,
           CAST(8 * COUNT(*) AS BIGINT) AS bytes_fixed
    FROM gaps GROUP BY word
)
SELECT word, df, bytes_varint, bytes_fixed,
       CAST(bytes_varint AS DOUBLE) / CAST(bytes_fixed AS DOUBLE)
           AS compression_ratio
FROM sized
ORDER BY bytes_varint DESC, word
LIMIT {POSTINGS_BYTES_TOP}
"""
)


@register("postings_compression", POSTINGS_BYTES_ORACLE)
def q_postings_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index storage estimate under delta + varint coding: per
    term, the byte cost of its gap-encoded posting list vs fixed 8-byte
    ids — the index-sizing calculation every search/dedup system runs
    before committing a 100 TB posting store. Varint byte length is
    EXACT integer math: ceil(bitlength(gap)/7) = (length(bin(gap))+6)
    div 7, the same libm-free bit-length trick as zipf_octave_profile
    (gap >= 1 always: the first gap is taken against id -1).

    Scale: postings are the distinct (word, doc) pairs (one hash
    aggregate); gaps ride a window KEYED by word; sizing is a second
    keyed aggregate; top-k is a TakeOrderedAndProject."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    postings = (
        tokenized(load_table(spark, sf_dir, "documents"))
        .select("word", "id")
        .distinct()
    )
    w = Window.partitionBy("word").orderBy("id")
    gaps = postings.select(
        "word",
        (F.col("id") - F.coalesce(F.lag("id").over(w), F.lit(-1))).alias(
            "gap"
        ),
    )
    sized = gaps.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum(
            F.expr("CAST((length(bin(gap)) + 6) div 7 AS BIGINT)")
        ).alias("bytes_varint"),
        (F.count("*") * 8).alias("bytes_fixed"),
    )
    return (
        sized.select(
            "word",
            "df",
            "bytes_varint",
            "bytes_fixed",
            (
                F.col("bytes_varint").cast("double")
                / F.col("bytes_fixed").cast("double")
            ).alias("compression_ratio"),
        )
        .orderBy(F.desc("bytes_varint"), F.asc("word"))
        .limit(POSTINGS_BYTES_TOP)
    )


# --- pseudo-relevance-feedback query expansion ------------------------------

PRF_FB_DOCS = 10
PRF_EXP_TERMS = 3
PRF_OUT_K = 15
PRF_QUANT = 1048576  # 2^20 contribution quantizer

from amorphous_mapreduce_spark.operators.text_analysis import (  # noqa: E402
    STOPWORDS,
)

_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)
_SQL_BASE = ", ".join(f"'{t}'" for t in BM25_TERMS)

_PRF_CONTRIB = """
CAST(FLOOR(
    ((CAST(n_doc AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
     / (CAST(df AS DOUBLE) + 0.5))
    * (CAST(tf AS DOUBLE) * 2.2)
    / (CAST(tf AS DOUBLE)
       + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                                     * CAST(n_doc AS DOUBLE)
                                     / CAST(n_tok AS DOUBLE))))
    * 1048576) AS BIGINT)
"""

PRF_ORACLE = f"""
WITH toks AS (
    SELECT id, word FROM (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   ' ')) AS word
        FROM documents
    ) WHERE length(word) > 0
),
tf AS (SELECT id, word, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY id, word),
dls AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
scal AS (SELECT COUNT(*) AS n_doc, CAST(SUM(dl) AS BIGINT) AS n_tok FROM dls),
base_terms(word) AS (VALUES ({"), (".join(f"'{t}'" for t in BM25_TERMS)})),
bdf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf JOIN base_terms USING (word) GROUP BY word),
bcontrib AS (
    SELECT tf.id, {_PRF_CONTRIB} AS cq
    FROM tf JOIN base_terms USING (word) JOIN bdf USING (word)
    JOIN dls USING (id) CROSS JOIN scal
),
fb AS (
    SELECT id, CAST(SUM(cq) AS BIGINT) AS score_q
    FROM bcontrib GROUP BY id
    ORDER BY score_q DESC, id LIMIT {PRF_FB_DOCS}
),
exp_terms AS (
    SELECT word FROM tf JOIN fb USING (id)
    WHERE word NOT IN ({_SQL_BASE}) AND word NOT IN ({_SQL_STOP})
    GROUP BY word
    ORDER BY CAST(SUM(tf) AS BIGINT) DESC, word
    LIMIT {PRF_EXP_TERMS}
),
all_terms AS (
    SELECT word FROM base_terms UNION SELECT word FROM exp_terms
),
adf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf JOIN all_terms USING (word) GROUP BY word),
acontrib AS (
    SELECT tf.id, {_PRF_CONTRIB} AS cq
    FROM tf JOIN all_terms USING (word) JOIN adf USING (word)
    JOIN dls USING (id) CROSS JOIN scal
)
SELECT id, CAST(SUM(cq) AS BIGINT) AS score_scaled,
       CAST(COUNT(*) AS BIGINT) AS n_matched_terms
FROM acontrib GROUP BY id
ORDER BY score_scaled DESC, id LIMIT {PRF_OUT_K}
"""


def _prf_score(tf: DataFrame, terms: DataFrame, dls: DataFrame, scal: DataFrame) -> DataFrame:
    """Quantized BM25 score of every doc against a DYNAMIC terms table:
    [id, cq rows] -> caller aggregates. Contribution doubles go through
    the identical IEEE tree as the oracle, then floor-quantize to 2^-20
    so the per-doc SUM is integer (float-sum order independence)."""
    matched = tf.join(F.broadcast(terms), "word")
    df_t = matched.groupBy("word").agg(F.countDistinct("id").alias("df"))
    nd = F.col("n_doc").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    ntokd = F.col("n_tok").cast("double")
    contrib = (
        ((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
        * (tfd * F.lit(2.2))
        / (
            tfd
            + F.lit(1.2)
            * (
                F.lit(1.0)
                - F.lit(0.75)
                + F.lit(0.75) * (dld * nd / ntokd)
            )
        )
        * F.lit(1048576)
    )
    return (
        matched.join(F.broadcast(df_t), "word")
        .join(dls, "id")
        .crossJoin(F.broadcast(scal))
        .select("id", F.floor(contrib).cast("long").alias("cq"))
    )


@register("prf_expanded_retrieval", PRF_ORACLE)
def q_prf_expanded_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval: BM25 the base 3-term query,
    take the top-10 feedback docs, mine their top-3 non-stopword
    expansion terms, and re-rank the corpus against the EXPANDED query —
    the classic Rocchio/RM-style two-pass retriever (the lexical
    counterpart of dense query expansion).

    Engine-exactness: per-(doc, term) BM25 contributions use the
    rational Robertson IDF (no log) and floor-quantize to 2^-20 BEFORE
    the per-doc sum, so scores are integer and immune to float-sum
    order (the dynamic terms table makes literal-order summation — the
    bm25_ranking trick — unavailable).

    Scale: ONE (id, word) aggregate is persisted and reused by base
    scoring, term mining, and re-scoring; term/df/scalars frames all
    broadcast; both rankings are TakeOrderedAndProject."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        tokenized(docs)
        .groupBy("id", "word")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    dls = tf.groupBy("id").agg(F.sum("tf").alias("dl")).persist()
    scal = dls.agg(
        F.count("*").alias("n_doc"), F.sum("dl").alias("n_tok")
    )
    base = docs.sparkSession.createDataFrame(
        [(t,) for t in BM25_TERMS], ["word"]
    )
    fb = (
        _prf_score(tf, base, dls, scal)
        .groupBy("id")
        .agg(F.sum("cq").alias("score_q"))
        .orderBy(F.desc("score_q"), F.asc("id"))
        .limit(PRF_FB_DOCS)
    )
    exp_terms = (
        tf.join(F.broadcast(fb.select("id")), "id")
        .filter(~F.col("word").isin(*BM25_TERMS))
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.sum("tf").alias("total_tf"))
        .orderBy(F.desc("total_tf"), F.asc("word"))
        .limit(PRF_EXP_TERMS)
        .select("word")
    )
    all_terms = base.unionByName(exp_terms).distinct()
    return (
        _prf_score(tf, all_terms, dls, scal)
        .groupBy("id")
        .agg(
            F.sum("cq").alias("score_scaled"),
            F.count("*").alias("n_matched_terms"),
        )
        .orderBy(F.desc("score_scaled"), F.asc("id"))
        .limit(PRF_OUT_K)
    )


# --- topic-shift (TextTiling-style) segmentation ----------------------------

_TILE_BLOCK = 10

TILE_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, blocks AS (
    SELECT DISTINCT id, (pos - 1) // {_TILE_BLOCK} AS b, word FROM toks
),
sizes AS (
    SELECT id, b, CAST(COUNT(*) AS BIGINT) AS sz FROM blocks GROUP BY id, b
),
inter AS (
    SELECT a.id, a.b,
           CAST(COUNT(*) AS BIGINT) AS inter
    FROM blocks a JOIN blocks b2
      ON a.id = b2.id AND b2.b = a.b + 1 AND a.word = b2.word
    GROUP BY a.id, a.b
),
bounds AS (
    SELECT s1.id, s1.b,
           COALESCE(i.inter, 0) AS inter,
           s1.sz + s2.sz - COALESCE(i.inter, 0) AS uni
    FROM sizes s1
    JOIN sizes s2 ON s1.id = s2.id AND s2.b = s1.b + 1
    LEFT JOIN inter i ON i.id = s1.id AND i.b = s1.b
),
scored AS (
    SELECT id, b, inter, uni,
           CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS j,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY CAST(inter AS DOUBLE)
                                       / CAST(uni AS DOUBLE), b) AS rn
    FROM bounds
)
SELECT id,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN 10 * inter < uni THEN 1 ELSE 0 END) AS BIGINT)
           AS n_weak_boundaries,
       MAX(CASE WHEN rn = 1 THEN j END) AS min_jaccard,
       CAST(MAX(CASE WHEN rn = 1 THEN b END) AS BIGINT) AS min_boundary_block
FROM scored
GROUP BY id
"""
)


@register("topic_shift_boundaries", TILE_ORACLE)
def q_topic_shift_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation: per document, the lexical
    cohesion (Jaccard of distinct vocabularies) between each adjacent
    pair of 10-token blocks — weak boundaries (cohesion < 0.1, tested
    as the INTEGER inequality 10*inter < union) mark topic shifts, the
    chunking signal long-document pipelines use to split on semantic
    seams instead of fixed windows (upgrade path for doc_chunks).

    Scale: blocks are distinct (doc, block, word) rows — one hash
    aggregate after tokenize; adjacency is a keyed self-join on
    (doc, block+1); the per-doc min rides a window KEYED by doc. The
    only double is the reported Jaccard itself (one division of exact
    integers)."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    toks = tokenized(load_table(spark, sf_dir, "documents"))
    blocks = (
        toks.select(
            "id",
            # tokenized() positions are 0-based (posexplode); the oracle's
            # generate_subscripts is 1-based, hence (pos-1) there
            (F.col("pos") / F.lit(_TILE_BLOCK)).cast("long").alias("b"),
            "word",
        )
        .distinct()
        .persist()
    )
    sizes = blocks.groupBy("id", "b").agg(F.count("*").alias("sz")).persist()
    nxt = blocks.select("id", (F.col("b") - 1).alias("b"), "word")
    inter = (
        blocks.join(nxt, ["id", "b", "word"])
        .groupBy("id", "b")
        .agg(F.count("*").alias("inter"))
    )
    s2 = sizes.select("id", (F.col("b") - 1).alias("b"), F.col("sz").alias("sz2"))
    bounds = (
        sizes.join(s2, ["id", "b"])
        .join(inter, ["id", "b"], "left")
        .select(
            "id",
            "b",
            F.coalesce("inter", F.lit(0)).alias("inter"),
            (F.col("sz") + F.col("sz2") - F.coalesce("inter", F.lit(0))).alias(
                "uni"
            ),
        )
    )
    j = F.col("inter").cast("double") / F.col("uni").cast("double")
    w = Window.partitionBy("id").orderBy(j.asc(), F.col("b").asc())
    scored = bounds.select(
        "id", "b", "inter", "uni", j.alias("j"), F.row_number().over(w).alias("rn")
    )
    return scored.groupBy("id").agg(
        (F.count("*") + 1).alias("n_blocks"),
        F.sum(
            F.when(10 * F.col("inter") < F.col("uni"), 1).otherwise(0)
        ).alias("n_weak_boundaries"),
        F.max(F.when(F.col("rn") == 1, F.col("j"))).alias("min_jaccard"),
        F.max(F.when(F.col("rn") == 1, F.col("b"))).alias(
            "min_boundary_block"
        ),
    )


# --- RAKE keyphrase extraction ------------------------------------------------

RAKE_MAX_LEN = 4
RAKE_TOP = 15
_RAKE_Q = 1048576  # 2^20 word-score quantum

RAKE_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, marked AS (
    SELECT id, pos, word,
           CASE WHEN word IN ({_SQL_STOP}) THEN 1 ELSE 0 END AS is_stop
    FROM toks
),
runs AS (
    SELECT id, pos, word, is_stop,
           SUM(is_stop) OVER (PARTITION BY id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS run
    FROM marked
),
pw AS (SELECT id, run, pos, word FROM runs WHERE is_stop = 0),
plen AS (
    SELECT id, run, CAST(COUNT(*) AS BIGINT) AS plen
    FROM pw GROUP BY id, run
),
kept AS (
    SELECT pw.id, pw.run, pw.pos, pw.word, plen
    FROM pw JOIN plen USING (id, run) WHERE plen <= {RAKE_MAX_LEN}
),
ws AS (
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM kept GROUP BY word
),
scored AS (
    SELECT k.id, k.run,
           string_agg(k.word, ' ' ORDER BY k.pos) AS phrase,
           CAST(SUM((ws.deg * {_RAKE_Q}) // ws.freq) AS BIGINT) AS score_q
    FROM kept k JOIN ws USING (word)
    GROUP BY k.id, k.run
)
SELECT phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score_q) AS BIGINT) AS score_scaled,
       CAST(MAX(score_q) AS DOUBLE) / {_RAKE_Q}.0 AS score
FROM scored
GROUP BY phrase
ORDER BY score_scaled DESC, phrase LIMIT {RAKE_TOP}
"""
)


@register("rake_keyphrases", RAKE_ORACLE)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): phrases are maximal
    stopword-delimited token runs (capped at 4 words); word score is
    degree/frequency over the phrase graph; phrase score sums its word
    scores — the classic unsupervised keyphrase ranker for corpus
    labeling and topic seeding.

    Exactness: deg/freq quantizes to a 2^-20 integer per word BEFORE the
    per-phrase sum (quantize-then-sum rule), so phrase scores are exact
    BIGINTs; identical phrases collapse with MAX (scores are equal by
    construction); ONE double division renders the human-readable score.

    Scale: phrase segmentation is a per-doc running sum (window
    partitioned by doc, never global); word stats are a vocab-bounded
    aggregate joined back keyed on word; the final top-k is
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    from amorphous_mapreduce_spark.operators.dedup import tokenized
    from amorphous_mapreduce_spark.operators.text_analysis import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    marked = tokenized(docs).withColumn(
        "is_stop", F.col("word").isin(*STOPWORDS).cast("int")
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pw = (
        marked.withColumn("run", F.sum("is_stop").over(w))
        .filter(F.col("is_stop") == 0)
        .select("id", "run", "pos", "word")
    )
    plen = pw.groupBy("id", "run").agg(F.count("*").alias("plen"))
    kept = pw.join(plen, ["id", "run"]).filter(
        F.col("plen") <= RAKE_MAX_LEN
    ).persist()  # word stats AND phrase assembly re-read it
    ws = kept.groupBy("word").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    scored = (
        kept.join(ws, "word")
        .withColumn("wscore", F.expr(f"(deg * {_RAKE_Q}) div freq"))
        .groupBy("id", "run")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x.word,
                ),
            ).alias("phrase"),
            F.sum("wscore").alias("score_q"),
        )
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.max("score_q").alias("score_scaled"),
            (F.max("score_q").cast("double") / F.lit(float(_RAKE_Q))).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score_scaled"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


# --- Dirichlet-smoothed query-likelihood retrieval --------------------------

# The language-model retrieval twin of bm25_ranking: score(q, d) =
# sum_i log p(q_i | d) with Dirichlet smoothing,
#   p(q_i|d) = (tf_i + MU * cf_i / C) / (dl + MU)
#            = (tf_i*C + MU*cf_i) / ((dl + MU) * C)      -- all integers!
# so each term's log is a DIFFERENCE OF TWO INTEGER LOG2s from the
# shared LUT (functions.intlog) — the whole score is one exact integer
# per doc, bit-identical across engines, no libm anywhere.
QLM_MU = 2000
QLM_TERMS = BM25_TERMS  # same fixed 3-term query as bm25_ranking

from amorphous_mapreduce_spark.functions.intlog import (  # noqa: E402
    LOG2_SCALE,
    log2_scaled,
    log2_scaled_sql,
)

_QLM_TERM_SQL = [
    f"({log2_scaled_sql(f'tf_{i} * _n_tok + {QLM_MU} * _cf_{i}')}"
    f" - {log2_scaled_sql(f'(dl + {QLM_MU}) * _n_tok')})"
    for i in range(3)
]

QLM_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, per_doc AS (
    SELECT id, COUNT(*) AS dl,
           CAST(SUM(CASE WHEN word = '{QLM_TERMS[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
           CAST(SUM(CASE WHEN word = '{QLM_TERMS[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
           CAST(SUM(CASE WHEN word = '{QLM_TERMS[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
    FROM toks GROUP BY id
),
scal AS (
    SELECT CAST(SUM(dl) AS BIGINT) AS _n_tok,
           CAST(SUM(tf_0) AS BIGINT) AS _cf_0,
           CAST(SUM(tf_1) AS BIGINT) AS _cf_1,
           CAST(SUM(tf_2) AS BIGINT) AS _cf_2
    FROM per_doc
)
SELECT id, dl, tf_0, tf_1, tf_2,
       CAST({_QLM_TERM_SQL[0]} + {_QLM_TERM_SQL[1]} + {_QLM_TERM_SQL[2]}
            AS BIGINT) AS qlm_scaled,
       CAST({_QLM_TERM_SQL[0]} + {_QLM_TERM_SQL[1]} + {_QLM_TERM_SQL[2]}
            AS DOUBLE) / {LOG2_SCALE} AS qlm_bits
FROM per_doc CROSS JOIN scal
ORDER BY qlm_scaled DESC, id
LIMIT 15
"""
)


@register("qlm_retrieval", QLM_ORACLE)
def q_qlm_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (mu=2000), the
    language-model ranking beside BM25: top-15 docs for the same 3-term
    query, scored sum_i [log2s(tf_i*C + mu*cf_i) - log2s((dl+mu)*C)] —
    the classic LM score made INTEGER-exact by clearing the rational
    p(q_i|d) to one numerator/denominator pair and taking LUT log2s of
    each (functions.intlog). Smoothing means every doc scores (zero-tf
    docs rank by length), so the top-k is over the full corpus with an
    id tie-break.

    Scale: same shape as bm25_ranking — one tokenize pass, one 1-row
    scalar broadcast-crossed back, TakeOrderedAndProject top-k."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    per_doc = toks.groupBy("id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(QLM_TERMS)
        ],
    )
    scalars = per_doc.agg(
        F.sum("dl").alias("_n_tok"),
        *[F.sum(f"tf_{i}").alias(f"_cf_{i}") for i in range(3)],
    )
    terms = [
        log2_scaled(f"tf_{i} * _n_tok + {QLM_MU} * _cf_{i}")
        - log2_scaled(f"(dl + {QLM_MU}) * _n_tok")
        for i in range(3)
    ]
    score = (terms[0] + terms[1] + terms[2]).cast("bigint")
    return (
        per_doc.crossJoin(F.broadcast(scalars))
        .select(
            "id",
            "dl",
            "tf_0",
            "tf_1",
            "tf_2",
            score.alias("qlm_scaled"),
            (score.cast("double") / F.lit(LOG2_SCALE)).alias("qlm_bits"),
        )
        .orderBy(F.desc("qlm_scaled"), F.asc("id"))
        .limit(15)
    )


# --- TextRank keyword extraction ---------------------------------------------

TEXTRANK_ROUNDS = 3
TEXTRANK_SCALE = 1048576  # 2^20 fixed-point rank unit
TEXTRANK_TOP = 20


def _textrank_round_sql(i: int) -> str:
    # MATERIALIZED: each iterate feeds the next (kcore/pagerank
    # discipline — DuckDB would re-expand the chain otherwise).
    return f"""
r{i} AS MATERIALIZED (
    SELECT n.word,
           (3 * {TEXTRANK_SCALE}
            + 17 * COALESCE(s.spread, 0)) // 20 AS rank_q
    FROM nodes n LEFT JOIN (
        SELECT e.b AS word,
               CAST(SUM((r.rank_q * e.wgt) // o.outw) AS BIGINT) AS spread
        FROM edges e
        JOIN r{i - 1} r ON e.a = r.word
        JOIN outw o ON e.a = o.word
        GROUP BY e.b
    ) s ON n.word = s.word
)"""


TEXTRANK_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, adj AS (
    SELECT t1.word AS a, t2.word AS b
    FROM toks t1 JOIN toks t2
      ON t1.id = t2.id AND t2.pos = t1.pos + 1
    WHERE t1.word <> t2.word
),
edges AS MATERIALIZED (
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS wgt FROM (
        SELECT a, b FROM adj UNION ALL SELECT b, a FROM adj
    ) GROUP BY a, b
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS word FROM edges),
outw AS MATERIALIZED (
    SELECT a AS word, CAST(SUM(wgt) AS BIGINT) AS outw FROM edges GROUP BY a
),
r0 AS (SELECT word, CAST({TEXTRANK_SCALE} AS BIGINT) AS rank_q FROM nodes),
"""
    + ",".join(_textrank_round_sql(i) for i in range(1, TEXTRANK_ROUNDS + 1))
    + f"""
SELECT r.word, r.rank_q,
       CAST(r.rank_q AS DOUBLE) / {TEXTRANK_SCALE} AS rank,
       o.outw AS degree_w
FROM r{TEXTRANK_ROUNDS} r JOIN outw o USING (word)
ORDER BY r.rank_q DESC, r.word LIMIT {TEXTRANK_TOP}
"""
)


@register("textrank_keywords", TEXTRANK_ORACLE)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over the
    word co-occurrence graph (adjacent-token edges, symmetrized, edge
    weight = corpus co-occurrence count), weighted spread r*w/outw per
    edge, damping 0.85 as the exact rational (3*2^20 + 17*spread)//20 —
    the graph-centrality counterpart of tfidf_top_terms / rake_keyphrases
    (frequency vs degree vs centrality: three keyword lenses now
    in-repo).

    Exactness: fixed-point integer ranks; every per-edge contribution is
    one truncating division (Spark div == DuckDB //); 3 synchronous
    rounds unrolled identically in the oracle; top-20 with a word
    tie-break.

    Scale: edge list is vocab-bounded (hash aggregate over adjacent
    token pairs); each round is one keyed join + hash aggregate over
    edges; rank state is one row per vocab word. localCheckpoint per
    round cuts lineage (pagerank discipline)."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    nxt = toks.select(
        "id", (F.col("pos") + 1).alias("pos"), F.col("word").alias("w_prev")
    )
    adj = toks.join(nxt, ["id", "pos"]).filter(
        F.col("word") != F.col("w_prev")
    ).select(F.col("w_prev").alias("a"), F.col("word").alias("b"))
    edges = (
        adj.unionAll(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("wgt"))
        .persist()
    )
    outw = edges.groupBy(F.col("a").alias("word")).agg(
        F.sum("wgt").alias("outw")
    ).persist()
    nodes = outw.select("word")
    r = nodes.select("word", F.lit(TEXTRANK_SCALE).cast("long").alias("rank_q"))
    for _ in range(TEXTRANK_ROUNDS):
        spread = (
            edges.join(r.withColumnRenamed("word", "a"), "a")
            .join(outw.withColumnRenamed("word", "a"), "a")
            .select(
                F.col("b").alias("word"),
                F.expr("(rank_q * wgt) div outw").alias("contrib"),
            )
            .groupBy("word")
            .agg(F.sum("contrib").alias("spread"))
        )
        r = (
            nodes.join(spread, "word", "left")
            .select(
                "word",
                F.expr(
                    f"(3 * {TEXTRANK_SCALE} + 17 * COALESCE(spread, 0)) div 20"
                ).alias("rank_q"),
            )
            .localCheckpoint()
        )
    return (
        r.join(outw, "word")
        .select(
            "word",
            "rank_q",
            (F.col("rank_q").cast("double") / TEXTRANK_SCALE).alias("rank"),
            F.col("outw").alias("degree_w"),
        )
        .orderBy(F.desc("rank_q"), F.asc("word"))
        .limit(TEXTRANK_TOP)
    )


# --- BM25 (k1, b) tuning sweep from ONE pass -----------------------------------

# The ivf_probe_sweep / lsh_band_sweep "tune-from-one-pass" pattern
# applied to lexical ranking: per-doc term stats are computed ONCE, the
# constant 9-point (k1, b) grid is exploded onto them, and each combo is
# ranked and scored against the deterministic conjunctive-match
# relevance set (docs containing ALL query terms). Per-combo quality is
# recall@10 and the exact integer MRR mass (2520 div rank — `div`, not
# `/`: DuckDB int `/` is float).
_BM25_SWEEP_GRID = "VALUES (0.6, 0.0), (0.6, 0.75), (0.6, 1.0), " \
    "(1.2, 0.0), (1.2, 0.75), (1.2, 1.0), (1.8, 0.0), (1.8, 0.75), (1.8, 1.0)"

_BM25_SWEEP_TERM = """((CAST(_n_doc AS DOUBLE) - CAST(_df_{i} AS DOUBLE) + 0.5)
      / (CAST(_df_{i} AS DOUBLE) + 0.5))
    * (CAST(tf_{i} AS DOUBLE) * (k1 + 1.0))
    / (CAST(tf_{i} AS DOUBLE)
       + k1 * (1.0 - b + b * (CAST(dl AS DOUBLE)
                              * CAST(_n_doc AS DOUBLE)
                              / CAST(_n_tok AS DOUBLE))))"""

_BM25_SWEEP_SCORE = " + ".join(
    _BM25_SWEEP_TERM.format(i=i) for i in range(3)
)

BM25_SWEEP_ORACLE = f"""
WITH toks AS (
    SELECT id, word FROM (
        SELECT doc_id AS id,
               unnest(regexp_split_to_array(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   ' ')) AS word
        FROM documents
    ) WHERE length(word) > 0
),
per_doc AS (
    SELECT id, COUNT(*) AS dl,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[0]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[1]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1,
           CAST(SUM(CASE WHEN word = '{BM25_TERMS[2]}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_2
    FROM toks GROUP BY id
),
scal AS (
    SELECT COUNT(*) AS _n_doc,
           CAST(SUM(dl) AS BIGINT) AS _n_tok,
           CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_0,
           CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_1,
           CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS _df_2
    FROM per_doc
),
matched AS (
    SELECT * FROM per_doc CROSS JOIN scal
    WHERE greatest(tf_0, tf_1, tf_2) > 0
),
nrel AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM per_doc
    WHERE tf_0 > 0 AND tf_1 > 0 AND tf_2 > 0
),
grid AS (SELECT * FROM ({_BM25_SWEEP_GRID}) AS g(k1, b)),
ranked AS (
    SELECT k1, b, id,
           tf_0 > 0 AND tf_1 > 0 AND tf_2 > 0 AS rel,
           ROW_NUMBER() OVER (PARTITION BY k1, b
                              ORDER BY {_BM25_SWEEP_SCORE} DESC, id) AS rnk
    FROM matched CROSS JOIN grid
)
SELECT CAST(k1 * 100 AS BIGINT) AS k1_x100, CAST(b * 100 AS BIGINT) AS b_x100,
       n_rel,
       CAST(SUM(CASE WHEN rel AND rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS hits_at_10,
       CAST(SUM(CASE WHEN rel AND rnk <= 10 THEN 2520 // rnk ELSE 0 END)
           AS BIGINT) AS mrr_mass_2520,
       CAST(SUM(CASE WHEN rel AND rnk <= 10 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(n_rel AS DOUBLE) AS recall_at_10
FROM ranked CROSS JOIN nrel
GROUP BY k1, b, n_rel
ORDER BY k1_x100, b_x100
"""


@register("bm25_param_sweep", BM25_SWEEP_ORACLE)
def q_bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hyper-parameter sweep priced from ONE corpus pass: per-doc
    (dl, tf) stats and the corpus scalars are computed once, the
    constant 9-point (k1, b) grid explodes onto the matched set, and
    every combo is ranked and scored against the deterministic
    conjunctive-relevance set (docs containing all three query terms) —
    recall@10 plus the exact integer MRR mass (2520 div rank). The
    retrieval analogue of ivf_probe_sweep / lsh_band_sweep: tuning cost
    is one scan + a 9x fan-out of doc-STATS rows, not 9 reruns.

    Determinism: scores are the identical rational-IDF double expression
    on both engines with (k1, b) bound from the same literal grid, ranks
    are total-ordered (score desc, id), and the quality numbers are
    integers until the single recall division.

    Scale: tokenize + per-doc aggregate (the bm25_ranking plan), a
    constant 9x explode on matched docs only, one window per combo
    partition. Reference tie-in: W3-W7 pipeline (src/word_count.rs:63-118)
    under a parameter-sweep head."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
        .select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.split(
                    F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                    " ",
                )
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    per_doc = toks.groupBy("id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("word") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    scal = per_doc.agg(
        F.count("*").alias("_n_doc"),
        F.sum("dl").alias("_n_tok"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(3)
        ],
    )
    matched = per_doc.crossJoin(F.broadcast(scal)).filter(
        F.greatest("tf_0", "tf_1", "tf_2") > 0
    )
    nrel = per_doc.filter(
        (F.col("tf_0") > 0) & (F.col("tf_1") > 0) & (F.col("tf_2") > 0)
    ).agg(F.count("*").alias("n_rel"))
    grid = spark.createDataFrame(
        [
            (k1, b)
            for k1 in (0.6, 1.2, 1.8)
            for b in (0.0, 0.75, 1.0)
        ],
        "k1 double, b double",
    )
    w = Window.partitionBy("k1", "b").orderBy(
        F.expr(_BM25_SWEEP_SCORE).desc(), F.asc("id")
    )
    ranked = (
        matched.crossJoin(F.broadcast(grid))
        .select(
            "k1",
            "b",
            "id",
            (
                (F.col("tf_0") > 0) & (F.col("tf_1") > 0) & (F.col("tf_2") > 0)
            ).alias("rel"),
            F.row_number().over(w).alias("rnk"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(nrel))
        .groupBy("k1", "b", "n_rel")
        .agg(
            F.sum(
                F.when(F.col("rel") & (F.col("rnk") <= 10), 1).otherwise(0)
            ).alias("hits_at_10"),
            F.sum(
                F.when(
                    F.col("rel") & (F.col("rnk") <= 10),
                    F.expr("2520 div rnk"),
                ).otherwise(0)
            ).alias("mrr_mass_2520"),
        )
        .select(
            (F.col("k1") * 100).cast("long").alias("k1_x100"),
            (F.col("b") * 100).cast("long").alias("b_x100"),
            "n_rel",
            "hits_at_10",
            "mrr_mass_2520",
            (
                F.col("hits_at_10").cast("double")
                / F.col("n_rel").cast("double")
            ).alias("recall_at_10"),
        )
        .orderBy("k1_x100", "b_x100")
    )


# --- NDCG@10 per language (graded-relevance ranking eval) --------------------

# Integer-exact DCG: gain = 2^rel - 1 (rel = min(3, total query-term hits)),
# discount(i) = 2^40 div log2_scaled(i+1) — the libm-free fixed-point log2
# (functions/intlog.py), truncating div on BOTH engines, so dcg/idcg
# numerators are BIGINTs and NDCG is ONE double division.
_NDCG_K = 10
_NDCG_DISC_NUM = 1 << 40

NDCG_ORACLE = (
    "WITH "
    + toks_cte()
    + ", "
    + _BM25_BODY
    + f"""
, cand AS (
    SELECT p.id, d.lang,
           LEAST(3, p.tf_0 + p.tf_1 + p.tf_2) AS rel,
           {_BM25_TS[0]}
         + {_BM25_TS[1]}
         + {_BM25_TS[2]} AS score
    FROM per_doc p CROSS JOIN scal JOIN documents d ON d.doc_id = p.id
    WHERE greatest(p.tf_0, p.tf_1, p.tf_2) > 0
),
ranked AS (
    SELECT lang, rel,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, id)
               AS r
    FROM cand
),
ideal AS (
    SELECT lang, rel,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rel DESC, id) AS r
    FROM cand
),
dcg AS (
    SELECT lang,
           CAST(SUM((CAST(pow(2, rel) AS BIGINT) - 1)
               * ({_NDCG_DISC_NUM} // {log2_scaled_sql('r + 1')}))
               AS BIGINT) AS dcg_num
    FROM ranked WHERE r <= {_NDCG_K} GROUP BY lang
),
idcg AS (
    SELECT lang,
           CAST(SUM((CAST(pow(2, rel) AS BIGINT) - 1)
               * ({_NDCG_DISC_NUM} // {log2_scaled_sql('r + 1')}))
               AS BIGINT) AS idcg_num
    FROM ideal WHERE r <= {_NDCG_K} GROUP BY lang
)
SELECT d.lang, d.dcg_num, i.idcg_num,
       CAST(d.dcg_num AS DOUBLE) / i.idcg_num AS ndcg
FROM dcg d JOIN idcg i USING (lang)
ORDER BY lang
"""
)


@register("ndcg_by_lang", NDCG_ORACLE)
def q_ndcg_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking per language cohort, with graded
    relevance rel = min(3, total query-term frequency) — the standard
    graded ranking-quality metric completing the eval family next to
    MRR (recsys_backtest_mrr) and ERR@10.

    Determinism: gains 2^rel - 1 are exact integers; position discounts
    are 2^40 div log2_scaled(i+1) (the shared 256-LUT fixed-point log2,
    truncating division on both engines), so DCG and ideal-DCG
    numerators are BIGINTs; NDCG is one double division. BM25 scores
    reuse the rational-IDF fixed expression tree (bit-identical).
    Scale: candidates are docs matching >= 1 query term; the per-lang
    rank windows are partitioned by the 5-language grain (rank-only,
    top-10 head); everything upstream is the one (id, word) aggregate
    BM25 already pays."""
    from amorphous_mapreduce_spark.operators.text_analysis import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, BM25_TERMS).join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    cand = scored.select(
        "id",
        "lang",
        "score",
        F.least(
            F.lit(3), F.col("tf_0") + F.col("tf_1") + F.col("tf_2")
        ).alias("rel"),
    )
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_expr

    w_rank = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("id"))
    w_ideal = Window.partitionBy("lang").orderBy(F.desc("rel"), F.asc("id"))
    term = F.expr(
        f"(CAST(pow(2, rel) AS BIGINT) - 1)"
        f" * (CAST({_NDCG_DISC_NUM} AS BIGINT) div {log2_scaled_expr('r + 1')})"
    )

    def dcg_of(wspec, alias):
        base = cand.withColumn("r", F.row_number().over(wspec)).filter(
            F.col("r") <= _NDCG_K
        )
        return (
            base.select("lang", term.alias("t"))
            .groupBy("lang")
            .agg(F.sum("t").cast("long").alias(alias))
        )

    dcg = dcg_of(w_rank, "dcg_num")
    idcg = dcg_of(w_ideal, "idcg_num")
    return (
        dcg.join(idcg, "lang")
        .select(
            "lang",
            "dcg_num",
            "idcg_num",
            (F.col("dcg_num").cast("double") / F.col("idcg_num")).alias(
                "ndcg"
            ),
        )
        .orderBy("lang")
    )


# --- team-draft interleaving (online retrieval A/B) --------------------------

# Interleave two rankers' top lists team-draft style (Radlinski et al.):
# per round a coin decides who picks first; each pick takes the team's
# highest-ranked not-yet-picked doc. Credit = "clicked" picks (click
# model: graded rel >= 2, same rel as ndcg_by_lang). Ranker A = BM25
# (b = 0.75); ranker B = BM25 with NO length normalization (b = 0) —
# the interleaving tests exactly the length-normalization decision.
# The 5 coins are md5-derived CONSTANTS (computed once here, embedded
# as literals in BOTH engines), so the pick sequence is replayable.
import hashlib as _hl

_TD_COINS = tuple(
    int(_hl.md5(f"teamdraft_{r}".encode()).hexdigest()[:15], 16) % 2
    for r in range(1, 6)
)
# team per pick index 1..10: coin 0 -> (A, B), 1 -> (B, A) per round
_TD_TEAMS = tuple(
    t for c in _TD_COINS for t in (("A", "B") if c == 0 else ("B", "A"))
)
_TD_DEPTH = 20

_BM25_TS_B = []
for _i in range(3):
    _BM25_TS_B.append(
        f"""((CAST(_n_doc AS DOUBLE) - CAST(_df_{_i} AS DOUBLE) + 0.5)
      / (CAST(_df_{_i} AS DOUBLE) + 0.5))
    * (CAST(tf_{_i} AS DOUBLE) * 2.2)
    / (CAST(tf_{_i} AS DOUBLE) + 1.2)"""
    )


def _td_pick_ctes() -> str:
    parts = []
    for k, team in enumerate(_TD_TEAMS, start=1):
        src = "ra" if team == "A" else "rb"
        if k == 1:
            where = "TRUE"
        else:
            prior = " UNION ALL ".join(
                f"SELECT id FROM p{j}" for j in range(1, k)
            )
            parts.append(f"picked{k - 1} AS MATERIALIZED ({prior}),")
            where = f"id NOT IN (SELECT id FROM picked{k - 1})"
        parts.append(
            f"""p{k} AS MATERIALIZED (
    SELECT id, rnk FROM {src} WHERE {where} ORDER BY rnk LIMIT 1
),"""
        )
    return "\n".join(parts).rstrip(",")


TEAMDRAFT_ORACLE = (
    "WITH "
    + toks_cte()
    + ", "
    + _BM25_BODY
    + f"""
, scored AS (
    SELECT id, tf_0, tf_1, tf_2,
           {_BM25_TS[0]} + {_BM25_TS[1]} + {_BM25_TS[2]} AS score_a,
           {_BM25_TS_B[0]} + {_BM25_TS_B[1]} + {_BM25_TS_B[2]} AS score_b,
           LEAST(3, tf_0 + tf_1 + tf_2) AS rel
    FROM per_doc CROSS JOIN scal
    WHERE greatest(tf_0, tf_1, tf_2) > 0
),
ra AS MATERIALIZED (
    SELECT id, rnk FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score_a DESC, id) AS rnk
        FROM scored
    ) WHERE rnk <= {_TD_DEPTH}
),
rb AS MATERIALIZED (
    SELECT id, rnk FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY score_b DESC, id) AS rnk
        FROM scored
    ) WHERE rnk <= {_TD_DEPTH}
),
"""
    + _td_pick_ctes()
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {k} AS pick_idx, '{team}' AS team, p{k}.id AS doc_id,"
        f" CAST(p{k}.rnk AS BIGINT) AS own_rank,"
        f" s.rel >= 2 AS clicked"
        f" FROM p{k} JOIN scored s ON s.id = p{k}.id"
        for k, team in enumerate(_TD_TEAMS, start=1)
    )
    + "\nORDER BY pick_idx\n"
)


@register("team_draft_interleaving", TEAMDRAFT_ORACLE)
def q_team_draft_interleaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Team-draft interleaving of two rankers (BM25 with vs without
    length normalization): the online retrieval A/B that needs no
    traffic split. 10 picks, coin-per-round literals, graded-relevance
    click model — per-pick team credit is the readout.

    Determinism: both rank lists are fixed-expression BM25 doubles with
    id tie-breaks; the pick loop is a literal team sequence over
    integer ranks. The kernel runs the 10-step draft over the two
    top-20 lists (40 bounded rows) in ONE group; the oracle unrolls the
    identical 10 picks as anti-joined MATERIALIZED CTEs (the
    fixed-horizon trick: context_chain_manifest / BPE)."""
    from amorphous_mapreduce_spark.operators.text_analysis import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    rel = F.least(F.lit(3), F.col("tf_0") + F.col("tf_1") + F.col("tf_2"))
    wa = Window.orderBy(F.desc("score"), F.asc("id"))
    lists = []
    for team, b in (("A", 0.75), ("B", 0.0)):
        s = bm25_scores(docs, BM25_TERMS, b=b).select(
            "id", "score", rel.alias("rel")
        )
        lists.append(
            s.withColumn("rnk", F.row_number().over(wa))
            .filter(F.col("rnk") <= _TD_DEPTH)
            .select(
                F.lit(team).alias("team"),
                "id",
                F.col("rnk").cast("long").alias("rnk"),
                F.col("rel").cast("int").alias("rel"),
            )
        )
    both = lists[0].unionByName(lists[1])
    teams = _TD_TEAMS

    def kernel(pdf):
        import pandas as pd

        ranks = {"A": {}, "B": {}}
        rels = {}
        for team, i, rnk, rl in zip(
            pdf["team"], pdf["id"], pdf["rnk"], pdf["rel"]
        ):
            ranks[team][int(i)] = int(rnk)
            rels[int(i)] = int(rl)
        picked = set()
        rows = []
        for k, team in enumerate(teams, start=1):
            cands = [
                (rnk, i) for i, rnk in ranks[team].items() if i not in picked
            ]
            if not cands:
                # Degenerate/tiny corpus: fewer distinct docs than picks.
                # Truncate exactly like the oracle's empty p{k} CTEs.
                break
            rnk, i = min(cands)
            picked.add(i)
            rows.append((k, team, i, rnk, rels[i] >= 2))
        return pd.DataFrame(
            rows,
            columns=["pick_idx", "team", "doc_id", "own_rank", "clicked"],
        )

    return (
        both.groupBy(F.lit(0).alias("g"))
        .applyInPandas(
            kernel,
            "pick_idx int, team string, doc_id long, own_rank long,"
            " clicked boolean",
        )
        .orderBy("pick_idx")
    )
