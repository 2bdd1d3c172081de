"""Text-analysis queries over ``documents`` (north-star, SURVEY.md §2.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from amorphous_mapreduce_spark.operators.text_analysis import (
    BPE_REGEX,
    LANG_MARKERS,
    STOPWORDS,
    bigram_counts,
    doc_fingerprints,
    doc_stats,
    language_id,
    term_frequencies,
    token_counts_bpe,
)
from amorphous_mapreduce_spark.queries.dedup_queries import NORM, TOKS_CTE, _sql_list
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


DOC_STATS_ORACLE = f"""
SELECT doc_id AS id,
       n_tokens, n_chars_norm,
       (n_chars_norm - (n_tokens - 1)) / n_tokens AS avg_token_len,
       punct_ratio, stopword_ratio,
       CASE WHEN n_tokens < 5 THEN 0.0
            ELSE least(1.0, n_tokens / 100) * (1 - punct_ratio)
                 * (0.5 + stopword_ratio) END AS quality
FROM (
    SELECT doc_id,
           CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens,
           CAST(length(norm) AS INT) AS n_chars_norm,
           (length(norm) - length(regexp_replace(norm, '[^\\w\\s]', '', 'g')))
               / length(norm) AS punct_ratio,
           len(list_filter(string_split(norm, ' '),
                           w -> w IN ({_sql_list(STOPWORDS)})))
               / len(string_split(norm, ' ')) AS stopword_ratio
    FROM (SELECT doc_id, {NORM} AS norm FROM documents)
)
"""


@register("doc_stats", DOC_STATS_ORACLE)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality stats (length/punct/stopword ratios + score)."""
    return doc_stats(load_table(spark, sf_dir, "documents"))


_g = "greatest(s_en, s_de, s_fr, s_es)"
LANG_ORACLE = f"""
SELECT id,
       CASE WHEN {_g} = 0 THEN 'und'
            WHEN s_fr = {_g} THEN 'fr'
            WHEN s_es = {_g} THEN 'es'
            WHEN s_en = {_g} THEN 'en'
            ELSE 'de' END AS lang_pred,
       CAST({_g} AS INT) AS lang_score
FROM (
    SELECT doc_id AS id,
""" + ",\n".join(
    f"           len(list_filter(string_split({NORM}, ' '), "
    f"w -> w IN ({_sql_list(ws)}))) AS s_{lang}"
    for lang, ws in sorted(LANG_MARKERS.items())
) + """
    FROM documents
)
"""


@register("language_id", LANG_ORACLE)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language heuristic; ties break on lang desc."""
    return language_id(load_table(spark, sf_dir, "documents"))


TOKCOUNT_ORACLE = f"""
SELECT doc_id AS id,
       CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS INT) AS n_bpe_tokens,
       CAST(len(string_split({NORM}, ' ')) AS INT) AS n_word_tokens
FROM documents
"""


@register("token_counts", TOKCOUNT_ORACLE)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (LLM token budgeting proxy)."""
    return token_counts_bpe(load_table(spark, sf_dir, "documents"))


FINGERPRINT_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, th AS (
    SELECT id, pos, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS th
    FROM toks
), wins AS (
    SELECT id, pos,
           MIN(th) OVER (PARTITION BY id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
           MAX(pos) OVER (PARTITION BY id) AS n
    FROM th
)
SELECT DISTINCT id, fp FROM wins WHERE pos <= n - 3
"""
)


@register("doc_fingerprints", FINGERPRINT_ORACLE)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints: distinct 4-window minima of token hashes."""
    return doc_fingerprints(load_table(spark, sf_dir, "documents"))


TERMFREQ_ORACLE = f"""
WITH t AS (
    SELECT lang AS grp, unnest(string_split({NORM}, ' ')) AS word
    FROM documents
), c AS (
    SELECT grp, word, COUNT(*) AS cnt
    FROM t WHERE length(word) > 0
    GROUP BY grp, word
)
SELECT grp, word, cnt, rnk FROM (
    SELECT grp, word, cnt,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt DESC, word) AS rnk
    FROM c
)
WHERE rnk <= 10
"""


@register("term_freq_by_lang", TERMFREQ_ORACLE)
def q_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per lang: per-group count + window top-k."""
    return term_frequencies(load_table(spark, sf_dir, "documents"), top_k=10)


BIGRAM_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, grams AS (
    SELECT word || ' ' || lead(word, 1) OVER (PARTITION BY id ORDER BY pos) AS bigram
    FROM toks
)
SELECT bigram, COUNT(*) AS cnt FROM grams WHERE bigram IS NOT NULL
GROUP BY bigram
"""
)


@register("bigram_counts", BIGRAM_ORACLE)
def q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n-gram stats via lead windows)."""
    return bigram_counts(load_table(spark, sf_dir, "documents"))


IMPORTANCE_ORACLE = f"""
SELECT id, quality,
       CAST('0x' || substr(md5('imp_' || CAST(id AS VARCHAR)), 1, 15)
            AS BIGINT) / 1152921504606846976.0 AS coin
FROM ({DOC_STATS_ORACLE.strip()})
WHERE CAST('0x' || substr(md5('imp_' || CAST(id AS VARCHAR)), 1, 15)
           AS BIGINT) / 1152921504606846976.0 < 0.5 * quality
"""


@register("importance_sample", IMPORTANCE_ORACLE)
def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (keep probability =
    0.5 * quality, MD5 coin) — the importance-sampling stage of corpus
    mixing, replayable on any engine."""
    from amorphous_mapreduce_spark.operators.pipeline import importance_sample

    return importance_sample(load_table(spark, sf_dir, "documents"), base_rate=0.5)


SCORECARD_ORACLE = f"""
WITH qual AS (
    SELECT doc_id,
           CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens,
           (length(norm) - length(regexp_replace(norm, '[^\\w\\s]', '', 'g')))
               / length(norm) AS punct_ratio,
           len(list_filter(string_split(norm, ' '),
                           w -> w IN ({_sql_list(STOPWORDS)})))
               / len(string_split(norm, ' ')) AS stopword_ratio
    FROM (SELECT doc_id, {NORM} AS norm FROM documents)
), scored AS (
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE least(1.0, n_tokens / 100) * (1 - punct_ratio)
                     * (0.5 + stopword_ratio) END AS quality
    FROM qual
), hashed AS (
    SELECT doc_id AS id, source, md5({NORM}) AS h FROM documents
), keep AS (
    SELECT h, MIN(id) AS kid FROM hashed GROUP BY h
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN id <> kid THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(CAST(SUM(CASE WHEN id <> kid THEN 1 ELSE 0 END) AS BIGINT)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_share,
       CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM hashed
JOIN keep USING (h)
JOIN scored ON scored.doc_id = id
GROUP BY source
"""


@register("source_scorecard", SCORECARD_ORACLE)
def q_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per source: doc counts, exact-duplicate rate
    (non-keepers of each content-digest group), decimal-exact mean
    quality, and total tokens — the per-source summary a data-mixture
    decision reads. One digest groupBy + two broadcast-able joins +
    one keyed aggregate."""
    from pyspark.sql import functions as F

    from amorphous_mapreduce_spark.functions.hashing import md5_hex
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    stats = doc_stats(docs).select("id", "n_tokens", "quality")
    hashed = docs.select(
        F.col("doc_id").alias("id"), "source", md5_hex(normalize_text()).alias("h")
    )
    keep = hashed.groupBy("h").agg(F.min("id").alias("kid"))
    dup = F.when(F.col("id") != F.col("kid"), 1).otherwise(0)
    return (
        hashed.join(keep, "h")
        .join(stats, "id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dup).alias("n_dups"),
            (F.sum(dup).cast("double") / F.count("*").cast("double")).alias(
                "dup_share"
            ),
            (
                F.sum(F.col("quality").cast("decimal(18,9)")).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


CALIB_ORACLE = f"""
WITH qual AS (
    SELECT doc_id,
           CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens,
           (length(norm) - length(regexp_replace(norm, '[^\\w\\s]', '', 'g')))
               / length(norm) AS punct_ratio,
           len(list_filter(string_split(norm, ' '),
                           w -> w IN ({_sql_list(STOPWORDS)})))
               / len(string_split(norm, ' ')) AS stopword_ratio
    FROM (SELECT doc_id, {NORM} AS norm FROM documents)
), scored AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE least(1.0, n_tokens / 100) * (1 - punct_ratio)
                     * (0.5 + stopword_ratio) END AS quality
    FROM qual
), hashed AS (
    SELECT doc_id AS id, md5({NORM}) AS h FROM documents
), keep AS (
    SELECT h, MIN(id) AS kid FROM hashed GROUP BY h
), edges AS (
    SELECT [quantile_cont(quality, 0.25), quantile_cont(quality, 0.5),
            quantile_cont(quality, 0.75)] AS e
    FROM scored
)
SELECT CAST(len(list_filter(e, x -> x <= quality)) AS BIGINT) AS q_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN id <> kid THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(CAST(SUM(CASE WHEN id <> kid THEN 1 ELSE 0 END) AS BIGINT)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_share
FROM hashed
JOIN keep USING (h)
JOIN scored ON scored.doc_id = id
CROSS JOIN edges
GROUP BY q_bucket
"""


@register("quality_dup_calibration", CALIB_ORACLE)
def q_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does low quality predict duplication? Exact-duplicate rate per
    quality quartile. Quartile edges are ONE 3-value scalar aggregate
    broadcast back (no global rank/ntile sort); bucket = how many edges
    lie at-or-below the doc's quality (a counting fold over the 3-element
    edge array — identical lexical semantics on both engines)."""
    from pyspark.sql import functions as F

    from amorphous_mapreduce_spark.functions.hashing import md5_hex
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    scored = doc_stats(docs).select("id", "quality")
    hashed = docs.select(
        F.col("doc_id").alias("id"), md5_hex(normalize_text()).alias("h")
    )
    keep = hashed.groupBy("h").agg(F.min("id").alias("kid"))
    edges = scored.agg(
        F.array(
            F.percentile("quality", 0.25),
            F.percentile("quality", 0.5),
            F.percentile("quality", 0.75),
        ).alias("e")
    )
    dup = F.when(F.col("id") != F.col("kid"), 1).otherwise(0)
    bucket = F.size(
        F.filter(F.col("e"), lambda x: x <= F.col("quality"))
    ).cast("long")
    return (
        hashed.join(keep, "h")
        .join(scored, "id")
        .crossJoin(F.broadcast(edges))
        .groupBy(bucket.alias("q_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(dup).alias("n_dups"),
            (F.sum(dup).cast("double") / F.count("*").cast("double")).alias(
                "dup_share"
            ),
        )
    )


LANGID_CONFUSION_ORACLE = f"""
WITH pred AS ({LANG_ORACLE}),
lbl AS (SELECT doc_id AS id, lang FROM documents)
SELECT l.lang AS lang_true, p.lang_pred, COUNT(*) AS n_docs
FROM lbl l JOIN pred p ON l.id = p.id
GROUP BY l.lang, p.lang_pred
"""


@register("langid_confusion", LANGID_CONFUSION_ORACLE)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the labeled
    lang column — the eval loop that decides whether a classifier is
    good enough to gate the corpus on. One keyed join (id) + one
    bounded-key aggregate (langs²)."""
    from pyspark.sql import functions as F

    pred = language_id(load_table(spark, sf_dir, "documents")).select("id", "lang_pred")
    lbl = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("lang").alias("lang_true")
    )
    return (
        lbl.join(pred, "id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


# --- per-class precision / recall / F1 --------------------------------------

LANGID_PRF_ORACLE = f"""
WITH pred AS ({LANG_ORACLE}),
lbl AS (SELECT doc_id AS id, lang FROM documents),
cm AS (
    SELECT l.lang AS lang_true, p.lang_pred, COUNT(*) AS n
    FROM lbl l JOIN pred p ON l.id = p.id
    GROUP BY l.lang, p.lang_pred
),
classes AS (SELECT DISTINCT lang_true AS cls FROM cm),
stats AS (
    SELECT c.cls,
           CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                   AND cm.lang_pred = c.cls
                              THEN cm.n END), 0) AS BIGINT) AS tp,
           CAST(COALESCE(SUM(CASE WHEN cm.lang_true <> c.cls
                                   AND cm.lang_pred = c.cls
                              THEN cm.n END), 0) AS BIGINT) AS fp,
           CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                   AND cm.lang_pred <> c.cls
                              THEN cm.n END), 0) AS BIGINT) AS fn
    FROM classes c CROSS JOIN cm
    GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN
           CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
       END AS "precision",
       CASE WHEN tp + fn > 0 THEN
           CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
       END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0 THEN
           2.0 * CAST(tp AS DOUBLE)
           / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
              + CAST(fn AS DOUBLE))
       END AS f1
FROM stats
"""


@register("langid_prf", LANGID_PRF_ORACLE)
def q_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the language-ID heuristic —
    the classifier scorecard derived from the confusion matrix
    (langid_confusion) with exact integer tp/fp/fn and the metrics as
    fixed double expressions. One bounded-key aggregate over the
    langs² matrix broadcast-crossed with the class list."""
    from pyspark.sql import functions as F

    pred = language_id(load_table(spark, sf_dir, "documents")).select("id", "lang_pred")
    lbl = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("lang").alias("lang_true")
    )
    cm = (
        lbl.join(pred, "id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").alias("n"))
        .persist()  # class list and the crossed stats both read it
    )
    classes = cm.select(F.col("lang_true").alias("cls")).distinct()
    crossed = F.broadcast(classes).crossJoin(cm)
    stats = crossed.groupBy("cls").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") == F.col("cls")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") != F.col("cls"))
                    & (F.col("lang_pred") == F.col("cls")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") != F.col("cls")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fn"),
    )
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    return stats.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") > 0, tp / (tp + fp)).alias(
            "precision"
        ),
        F.when(F.col("tp") + F.col("fn") > 0, tp / (tp + fn)).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn),
        ).alias("f1"),
    )


# --- Cohen's kappa: classifier vs label chance-corrected agreement ----------

KAPPA_ORACLE = f"""
WITH pred AS ({LANG_ORACLE}),
lbl AS (SELECT doc_id AS id, lang FROM documents),
cm AS (
    SELECT l.lang AS lt, p.lang_pred AS lp, CAST(COUNT(*) AS BIGINT) AS c
    FROM lbl l JOIN pred p ON l.id = p.id
    GROUP BY l.lang, p.lang_pred
),
rows_t AS (SELECT lt AS cls, CAST(SUM(c) AS BIGINT) AS rt FROM cm GROUP BY lt),
cols_t AS (SELECT lp AS cls, CAST(SUM(c) AS BIGINT) AS ct FROM cm GROUP BY lp),
s AS (
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cm) AS n,
           (SELECT CAST(COALESCE(SUM(CASE WHEN lt = lp THEN c END), 0)
                        AS BIGINT) FROM cm) AS agree,
           (SELECT CAST(SUM(r.rt * c2.ct) AS BIGINT)
            FROM rows_t r JOIN cols_t c2 ON r.cls = c2.cls) AS pe_mass
)
SELECT n AS n_docs, agree AS n_agree,
       CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       CAST(pe_mass AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
           AS pe,
       CAST(n * agree - pe_mass AS DOUBLE)
           / CAST(n * n - pe_mass AS DOUBLE) AS kappa
FROM s
"""


@register("cohens_kappa", KAPPA_ORACLE)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword language-ID heuristic and the
    labeled lang column — the chance-corrected agreement score that
    tells you whether a cheap classifier is actually better than the
    marginal-frequency coin flip (accuracy alone can't).

    Exactness: kappa = (po - pe)/(1 - pe) is evaluated in the
    cross-multiplied integer form (n·agree - Σ row_c·col_c) /
    (n² - Σ row_c·col_c) — every term an exact int64 (safe to n ~ 3e9
    docs), ONE final double division identical on both engines.

    Scale: one keyed id join + a langs²-bounded confusion matrix; the
    marginal products join is over ≤5 classes. Reference tie-in: the
    word-count substrate (src/word_count.rs:90-128) feeding an
    eval-loop reduce (src/op.rs:18-35)."""
    from pyspark.sql import functions as F

    pred = language_id(load_table(spark, sf_dir, "documents")).select("id", "lang_pred")
    lbl = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("lang").alias("lt")
    )
    cm = (
        lbl.join(pred, "id")
        .groupBy(F.col("lt"), F.col("lang_pred").alias("lp"))
        .agg(F.count("*").alias("c"))
        .persist()  # feeds totals, diagonal, and both marginal re-aggs
    )
    rows_t = cm.groupBy(F.col("lt").alias("cls")).agg(F.sum("c").alias("rt"))
    cols_t = cm.groupBy(F.col("lp").alias("cls")).agg(F.sum("c").alias("ct"))
    pe = (
        rows_t.join(cols_t, "cls")
        .agg(F.sum(F.col("rt") * F.col("ct")).cast("long").alias("pe_mass"))
    )
    tot = cm.agg(
        F.sum("c").cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("lt") == F.col("lp"), F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("agree"),
    )
    n_d = F.col("n").cast("double")
    return tot.crossJoin(pe).select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        (F.col("agree").cast("double") / n_d).alias("po"),
        (F.col("pe_mass").cast("double") / (n_d * n_d)).alias("pe"),
        (
            (F.col("n") * F.col("agree") - F.col("pe_mass")).cast("double")
            / (F.col("n") * F.col("n") - F.col("pe_mass")).cast("double")
        ).alias("kappa"),
    )


# --- isotonic calibration (PAVA via the minimax identity) ---------------------

# Isotonic regression of exact-dup rate on document-length bins — THE
# calibration fit (quality_dup_calibration draws the reliability
# diagram; this produces the monotone calibrated rates). PAVA's output
# has the closed minimax form
#   iso(i) = max_{j<=i} min_{k>=i} wmean(y, j..k)
# which is pure dataflow over the BIN frame: bins are a value-domain
# grid (n_chars div 25, ~22 rows at any SF), so the (i, j, k) triple
# enumeration is O(B^3) ~ 10k rows of constant size — never data-sized.
# Pool means are exact-integer S/W ratios divided ONCE into doubles
# (correctly rounded identically on both engines), so min/max of them
# are bit-stable. The output carries a self-auditing `monotone` proof
# column (iso >= previous bin's iso).

ISOTONIC_ORACLE = """
WITH dupdoc AS (
    SELECT doc_id, n_chars,
           CASE WHEN COUNT(*) OVER (
               PARTITION BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
           ) > 1 THEN 1 ELSE 0 END AS is_dup
    FROM documents
),
bins AS (
    SELECT n_chars // 25 AS b,
           CAST(COUNT(*) AS BIGINT) AS w,
           CAST(SUM(is_dup) AS BIGINT) AS s
    FROM dupdoc GROUP BY 1
),
pref AS (
    SELECT b, w, s,
           SUM(w) OVER (ORDER BY b) AS cw,
           SUM(s) OVER (ORDER BY b) AS cs
    FROM bins
),
pools AS (
    SELECT j.b AS jb, k.b AS kb,
           CAST(k.cs - j.cs + j.s AS DOUBLE)
               / CAST(k.cw - j.cw + j.w AS DOUBLE) AS r
    FROM pref j JOIN pref k ON j.b <= k.b
),
inner_min AS (
    SELECT i.b AS ib, p.jb, MIN(p.r) AS m
    FROM bins i JOIN pools p ON p.jb <= i.b AND p.kb >= i.b
    GROUP BY i.b, p.jb
),
iso AS (
    SELECT ib AS b, MAX(m) AS iso_rate FROM inner_min GROUP BY ib
)
SELECT bi.b AS bin,
       bi.w AS n_docs,
       bi.s AS n_dups,
       CAST(bi.s AS DOUBLE) / bi.w AS raw_rate,
       io.iso_rate,
       COALESCE(io.iso_rate >= lag(io.iso_rate)
                    OVER (ORDER BY bi.b), TRUE) AS monotone
FROM bins bi JOIN iso io ON io.b = bi.b
ORDER BY bin
"""


@register("isotonic_dup_calibration", ISOTONIC_ORACLE)
def q_isotonic_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of exact-dup rate
    on length bins via the PAVA minimax identity — the calibrated-rate
    companion of quality_dup_calibration's reliability diagram.

    Scale: the data-sized work is one dup-flag window (partitioned by
    normalized text) and one bin aggregate; everything after runs on
    the ~22-row bin grid (value-domain, not data-sized). Pool means are
    exact-integer ratios divided once; the `monotone` column is an
    in-plan proof of the isotonic property."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    wdup = Window.partitionBy(normalize_text())
    dupdoc = docs.select(
        "n_chars",
        F.when(F.count("*").over(wdup) > 1, 1).otherwise(0).alias("is_dup"),
    )
    bins = dupdoc.groupBy(
        F.expr("n_chars div 25").alias("b")
    ).agg(
        F.count("*").cast("long").alias("w"),
        F.sum("is_dup").cast("long").alias("s"),
    )
    wp = Window.orderBy("b")
    pref = bins.select(
        "b",
        "w",
        "s",
        F.sum("w").over(wp).alias("cw"),
        F.sum("s").over(wp).alias("cs"),
    )
    j = pref.select(
        F.col("b").alias("jb"),
        F.col("w").alias("jw"),
        F.col("s").alias("js"),
        F.col("cw").alias("jcw"),
        F.col("cs").alias("jcs"),
    )
    k = pref.select(
        F.col("b").alias("kb"),
        F.col("cw").alias("kcw"),
        F.col("cs").alias("kcs"),
    )
    pools = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("kcs") - F.col("jcs") + F.col("js")).cast("double")
            / (F.col("kcw") - F.col("jcw") + F.col("jw")).cast("double")
        ).alias("r"),
    )
    ib = bins.select(F.col("b").alias("ib"))
    inner_min = (
        ib.join(
            pools,
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("r").alias("m"))
    )
    iso = inner_min.groupBy(F.col("ib").alias("b")).agg(
        F.max("m").alias("iso_rate")
    )
    out = bins.join(iso, "b").select(
        F.col("b").alias("bin"),
        F.col("w").alias("n_docs"),
        F.col("s").alias("n_dups"),
        (F.col("s").cast("double") / F.col("w")).alias("raw_rate"),
        "iso_rate",
    )
    wlag = Window.orderBy("bin")
    return out.select(
        "bin",
        "n_docs",
        "n_dups",
        "raw_rate",
        "iso_rate",
        F.coalesce(
            F.col("iso_rate") >= F.lag("iso_rate").over(wlag), F.lit(True)
        ).alias("monotone"),
    ).orderBy("bin")
