"""Corpus-mining battery: collocation lift, BPE merge candidates,
activity streaks, cross-source passage leakage.

The statistical-mining shapes a training-data platform runs on top of the
token pipeline (north-star extensions per SURVEY.md §2.5; the tokenize /
hash-partition / per-key-count substrate is the reference word-count
pipeline, src/word_count.rs:90-128):

- ``pmi_bigrams``: PMI-style collocation ranking. The score is kept in
  its rational form (``cnt*N / (c1*c2)``) — both factors are exact
  BIGINTs, so the final IEEE double division is correctly rounded and
  bit-identical across engines. At 100 TB the counts could exceed 2^53
  and the score would move to log space (and an approximate ordering);
  the plan shape (two keyed aggs + broadcast dims + TakeOrdered) is the
  part that carries over.
- ``bpe_merge_pairs``: round-0 BPE merge statistics (most frequent
  adjacent symbol pair). One explode over char positions, one keyed agg,
  one TakeOrdered — the inner loop of tokenizer training, distributed.
- ``user_activity_streaks``: gaps-and-islands on integer epoch-days
  (day - row_number constant-diff grouping), all-integer outputs.
- ``cross_source_leakage``: which source pairs share *rare* verbatim
  6-gram passages — the dataset-contamination / licensing-audit view of
  duplicate_passages. Shingle -> distinct-source agg bounds the pair
  fanout at C(max_df,2) per shingle; ubiquitous grams are dropped by the
  df cap (same hot-key discipline as operators/dedup.py jaccard_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.operators.dedup import normalize_text, tokenized
from amorphous_mapreduce_spark.queries.dedup_queries import TOKS_CTE
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


# --- PMI-style collocations ------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 30

PMI_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, bg AS (
    SELECT word AS w1,
           lead(word) OVER (PARTITION BY id ORDER BY pos) AS w2
    FROM toks
), bc AS (
    SELECT w1, w2, COUNT(*) AS cnt FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
), f AS (
    SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM bc GROUP BY w1
), s AS (
    SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM bc GROUP BY w2
), n AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM bc
)
SELECT w1 || ' ' || w2 AS bigram, cnt,
       CAST(cnt * n_total AS DOUBLE) / CAST(c1 * c2 AS DOUBLE) AS lift
FROM bc JOIN f USING (w1) JOIN s USING (w2) CROSS JOIN n
WHERE cnt >= {PMI_MIN_COUNT}
ORDER BY lift DESC, bigram
LIMIT {PMI_TOP_K}
"""
)


@register("pmi_bigrams", PMI_ORACLE)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise-mutual-information lift.

    Margins (first-word / second-word totals) are re-aggregations of the
    bigram-count table itself — vocab²-sized, far smaller than the token
    stream — so the corpus is tokenised exactly once. Margins and the
    1-row total broadcast back onto the counts; the top-k plans as
    TakeOrderedAndProject (no single-partition window).
    """
    toks = tokenized(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        toks.select(F.col("word").alias("w1"), F.lead("word").over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt"))
    # Three re-reads of bc (margins + total): persist the small counts
    # table so the explode lineage runs once (CLAUDE.md self-join gotcha).
    bc = bc.persist()
    firsts = bc.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    seconds = bc.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    total = bc.agg(F.sum("cnt").alias("n_total"))
    return (
        bc.filter(F.col("cnt") >= PMI_MIN_COUNT)
        .join(F.broadcast(firsts), "w1")
        .join(F.broadcast(seconds), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cnt"),
            (
                (F.col("cnt") * F.col("n_total")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(PMI_TOP_K)
    )


# --- BPE merge candidates --------------------------------------------------

BPE_TOP_K = 20

BPE_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, ch AS (
    SELECT substr(word, CAST(i AS INT), 2) AS pair
    FROM (SELECT word, unnest(range(1, length(word))) AS i
          FROM toks WHERE length(word) >= 2)
)
SELECT pair, COUNT(*) AS cnt FROM ch GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_K}
"""
)


@register("bpe_merge_pairs", BPE_ORACLE)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE merge candidates: most frequent adjacent char pairs.

    The explode fans each word occurrence into len-1 rows — narrow,
    pipelined work after ``tokenized``'s repartition; the only shuffle is
    the pair-count agg (map-side combined on a tiny key space).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs).filter(F.length("word") >= 2)
    pairs = toks.select(
        "word",
        # sequence(1, len-1) requires len >= 2 (Spark auto-reverses
        # descending sequences instead of returning empty).
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
    ).select(F.expr("substr(word, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


# --- Gaps-and-islands activity streaks -------------------------------------

STREAKS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), st AS (
    SELECT user_id, day,
           day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
    FROM days
), runs AS (
    SELECT user_id, grp, COUNT(*) AS len FROM st GROUP BY user_id, grp
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       MAX(len) AS longest_streak
FROM runs GROUP BY user_id
"""


@register("user_activity_streaks", STREAKS_ORACLE)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands:
    day minus per-user row_number is constant within a run). Every window
    is partitioned by user_id; outputs are all integers."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    runs = (
        days.select("user_id", "day", (F.col("day") - F.row_number().over(w)).alias("grp"))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


# --- Cross-source passage leakage ------------------------------------------

LEAK_K = 6  # gram size, matches duplicate_passages
LEAK_MAX_SOURCES = 10  # drop ubiquitous grams (hot-key cap)

LEAK_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, src_of AS (
    SELECT doc_id AS id, source AS src FROM documents
), grams AS (
    SELECT id,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
                || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w
                || ' ' || lead(word, 5) OVER w AS gram,
           lead(word, {LEAK_K - 1}) OVER w AS lastw
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
), gs AS (
    SELECT DISTINCT CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS sh, src
    FROM grams JOIN src_of USING (id) WHERE lastw IS NOT NULL
), multi AS (
    SELECT sh FROM gs GROUP BY sh
    HAVING COUNT(*) BETWEEN 2 AND {LEAK_MAX_SOURCES}
)
SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared_grams
FROM gs a JOIN gs b USING (sh)
WHERE a.sh IN (SELECT sh FROM multi) AND a.src < b.src
GROUP BY a.src, b.src
"""
)


@register("cross_source_leakage", LEAK_ORACLE)
def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: count of rare verbatim 6-grams
    shared between each pair of sources.

    (sh, src) is distinct before the self-join and grams seen by more
    than LEAK_MAX_SOURCES sources are dropped, so per-shingle fanout is
    bounded at C(10,2); the pair matrix is #sources² at most. The
    semi-join against `multi` and the pair join are both keyed on sh.
    """
    docs = load_table(spark, sf_dir, "documents")
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    base = (
        docs.repartition(nparts)
        .select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("src"),
            F.posexplode(F.split(normalize_text(), " ")).alias("pos", "word"),
        )
        .filter(F.length("word") > 0)
    )
    w = Window.partitionBy("id").orderBy("pos")
    # All window columns in one select (post-filter re-evaluation gotcha).
    grams = base.select(
        "src",
        F.concat_ws(
            " ",
            "word",
            *[F.lead("word", i).over(w) for i in range(1, LEAK_K)],
        ).alias("gram"),
        F.lead("word", LEAK_K - 1).over(w).alias("lastw"),
    )
    gs = (
        grams.filter(F.col("lastw").isNotNull())
        .select("src", hex_hash64("gram").alias("sh"))
        .distinct()
    )
    gs = gs.persist()  # both branches of the self-join share this lineage
    multi = (
        gs.groupBy("sh")
        .agg(F.count("*").alias("ns"))
        .filter((F.col("ns") >= 2) & (F.col("ns") <= LEAK_MAX_SOURCES))
        .select("sh")
    )
    shm = gs.join(multi, "sh")
    a, b = shm.alias("a"), shm.alias("b")
    return (
        a.join(b, "sh")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count("*").alias("n_shared_grams"))
    )


# --- word2vec-style negative-sampling table ---------------------------------

NS_TOP_K = 50

NS_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, c AS (
    SELECT word, COUNT(*) AS f FROM toks GROUP BY word
)
SELECT word, f, sqrt(f * sqrt(f)) AS ns_weight
FROM c
ORDER BY f DESC, word
LIMIT {NS_TOP_K}
"""
)


@register("negative_sampling_weights", NS_ORACLE)
def q_negative_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram^0.75 negative-sampling table (word2vec/contrastive prep).

    f^0.75 is computed as sqrt(f * sqrt(f)): IEEE-754 sqrt and multiply
    are correctly rounded, so the double is bit-identical across engines
    (pow(x, 0.75) carries no such guarantee). The top-k cut orders by
    the raw integer frequency — the weight is monotone in f, so no
    float enters the ordering.
    """
    counts = tokenized(load_table(spark, sf_dir, "documents")).groupBy("word").agg(
        F.count("*").alias("f")
    )
    return (
        counts.select(
            "word",
            "f",
            F.sqrt(F.col("f") * F.sqrt(F.col("f"))).alias("ns_weight"),
        )
        .orderBy(F.desc("f"), F.asc("word"))
        .limit(NS_TOP_K)
    )


# --- Curriculum ordering with running token budget ---------------------------

def _curriculum_oracle() -> str:
    from amorphous_mapreduce_spark.queries.analysis_queries import (
        DOC_STATS_ORACLE,
    )

    return f"""
WITH stats AS ({DOC_STATS_ORACLE})
SELECT id, quality,
       ROW_NUMBER() OVER (ORDER BY quality DESC, id) AS position,
       CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
FROM stats
"""


@register("curriculum_manifest", _curriculum_oracle())
def q_curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning manifest: every document's global training
    position (best quality first) and the running token budget at that
    position — 'training on the top N tokens consumes docs up to here'.

    The global order + running total rides
    operators.corpus_stats.distributed_prefix_sum: a range sort stays
    parallel and the only single-partition step is the O(#partitions)
    offset merge, so the manifest is buildable at full corpus scale.
    """
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )
    from amorphous_mapreduce_spark.operators.text_analysis import doc_stats

    docs = load_table(spark, sf_dir, "documents")
    stats = doc_stats(docs).select("id", "n_tokens", "quality")
    ranked = distributed_prefix_sum(
        stats,
        "n_tokens",
        [F.desc("quality"), F.asc("id")],
        cum_col="cum_tokens",
        rank_col="position",
    )
    return ranked.select("id", "quality", "position", "cum_tokens")


# --- Keyword-in-context concordance ------------------------------------------

KWIC_WORD = "spark"
KWIC_TOP = 100

KWIC_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, ctx AS (
    SELECT id, pos, word,
           concat_ws(' ', lag(word, 2) OVER w, lag(word, 1) OVER w)
               AS left_ctx,
           concat_ws(' ', lead(word, 1) OVER w, lead(word, 2) OVER w)
               AS right_ctx
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
)
SELECT id, pos - 1 AS pos, left_ctx, word AS kw, right_ctx
FROM ctx WHERE word = '{KWIC_WORD}'
ORDER BY id, pos LIMIT {KWIC_TOP}
"""
)


@register("keyword_in_context", KWIC_ORACLE)
def q_keyword_in_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC concordance: every occurrence of the keyword with ±2 tokens
    of context — the corpus-inspection tool behind 'show me how this
    term is used'. Context windows are keyed by doc; the first-100 cut
    is TakeOrdered on (id, pos). concat_ws drops boundary NULLs the same
    way on both engines."""
    toks = tokenized(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("id").orderBy("pos")
    ctx = toks.select(
        "id",
        "pos",
        "word",
        F.concat_ws(
            " ", F.lag("word", 2).over(w), F.lag("word", 1).over(w)
        ).alias("left_ctx"),
        F.concat_ws(
            " ", F.lead("word", 1).over(w), F.lead("word", 2).over(w)
        ).alias("right_ctx"),
    )
    return (
        ctx.filter(F.col("word") == KWIC_WORD)
        .select("id", "pos", "left_ctx", F.col("word").alias("kw"), "right_ctx")
        .orderBy("id", "pos")
        .limit(KWIC_TOP)
    )


# --- per-source vocabulary divergence ----------------------------------------

DIVERGENCE_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, src_of AS (
    SELECT doc_id AS id, source AS src FROM documents
), cnt AS (
    SELECT src, word, COUNT(*) AS f
    FROM toks JOIN src_of USING (id)
    GROUP BY src, word
), tot AS (
    SELECT src, CAST(SUM(f) AS BIGINT) AS n FROM cnt GROUP BY src
), g AS (
    SELECT word, CAST(SUM(f) AS BIGINT) AS gf FROM cnt GROUP BY word
), gn AS (
    SELECT CAST(SUM(f) AS BIGINT) AS gn FROM cnt
)
SELECT t.src,
       t.n AS n_tokens,
       CAST(SUM(ABS(c.f * (gn.gn - t.n) - (g.gf - c.f) * t.n)) AS BIGINT)
           AS l1_scaled
FROM cnt c
JOIN tot t ON c.src = t.src
JOIN g ON c.word = g.word
CROSS JOIN gn
GROUP BY t.src, t.n
"""
)


@register("source_unigram_divergence", DIVERGENCE_ORACLE)
def q_source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-shift outlier detector: for each source, the scaled L1
    distance between its unigram distribution and the REST of the
    corpus, |f_s(w)*N_rest - f_rest(w)*N_s| summed over the source's
    vocabulary — integer-exact (cross-multiplied, no division), so a
    source of boilerplate or another language sticks out.

    Words the source never uses contribute 0 to ITS sum by this
    definition (sum runs over (src, word) pairs present in the source),
    so the statistic is one keyed agg over the (src, word) count table
    joined to the word-global margin — no vocab x sources densification.
    """
    toks = tokenized(load_table(spark, sf_dir, "documents"))
    src_of = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("source").alias("src")
    )
    cnt = (
        toks.join(src_of, "id")
        .groupBy("src", "word")
        .agg(F.count("*").alias("f"))
        .persist()  # three margin re-reads below
    )
    tot = cnt.groupBy("src").agg(F.sum("f").alias("n"))
    g = cnt.groupBy("word").agg(F.sum("f").alias("gf"))
    gn = cnt.agg(F.sum("f").alias("gn"))
    return (
        cnt.join(F.broadcast(tot), "src")
        .join(g, "word")
        .crossJoin(F.broadcast(gn))
        .groupBy("src", F.col("n").alias("n_tokens"))
        .agg(
            F.sum(
                F.abs(
                    F.col("f") * (F.col("gn") - F.col("n"))
                    - (F.col("gf") - F.col("f")) * F.col("n")
                )
            ).alias("l1_scaled")
        )
        .select("src", "n_tokens", "l1_scaled")
    )


# --- Spearman rank correlation: quality vs length ----------------------------

def _spearman_oracle() -> str:
    from amorphous_mapreduce_spark.queries.analysis_queries import (
        DOC_STATS_ORACLE,
    )

    return f"""
WITH stats AS ({DOC_STATS_ORACLE}),
r AS (
    SELECT id,
           ROW_NUMBER() OVER (ORDER BY quality, id) AS rq,
           ROW_NUMBER() OVER (ORDER BY n_tokens, id) AS rl
    FROM stats
), a AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM((rq - rl) * (rq - rl)) AS BIGINT) AS sum_d2
    FROM r
)
SELECT n_docs, sum_d2,
       1.0 - (6.0 * CAST(sum_d2 AS DOUBLE))
           / CAST(n_docs * (n_docs * n_docs - 1) AS DOUBLE) AS spearman
FROM a
"""


@register("quality_length_rank_corr", _spearman_oracle())
def q_quality_length_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between doc quality and length.

    Ranks are total-order permutations (ties broken by id on BOTH axes,
    so Σd² is integer-exact; with heavy ties true Spearman would
    average ranks — the tie-broken form is the documented spec). Each
    rank assignment is a distributed_prefix_sum (range sort, no global
    window); the statistic itself is one scalar aggregate and a fixed
    double expression (exact ints < 2^53 at any plausible SF of this
    fixture).
    """
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )
    from amorphous_mapreduce_spark.operators.text_analysis import doc_stats

    stats = (
        doc_stats(load_table(spark, sf_dir, "documents"))
        .select("id", "n_tokens", "quality")
        .withColumn("one", F.lit(1))
    )
    rq = distributed_prefix_sum(
        stats, "one", [F.asc("quality"), F.asc("id")], rank_col="rq", cum_col="_c"
    ).select("id", "rq")
    rl = distributed_prefix_sum(
        stats, "one", [F.asc("n_tokens"), F.asc("id")], rank_col="rl", cum_col="_d"
    ).select("id", "rl")
    d2 = (F.col("rq") - F.col("rl")) * (F.col("rq") - F.col("rl"))
    a = (
        rq.join(rl, "id")
        .agg(F.count("*").alias("n_docs"), F.sum(d2).alias("sum_d2"))
    )
    n = F.col("n_docs")
    return a.select(
        "n_docs",
        "sum_d2",
        (
            F.lit(1.0)
            - (F.lit(6.0) * F.col("sum_d2").cast("double"))
            / (n * (n * n - 1)).cast("double")
        ).alias("spearman"),
    )


# --- trending terms between corpus halves -----------------------------------

TREND_TERMS_TOP = 20

TREND_TERMS_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, halves AS (
    SELECT t.word, d.doc_id % 2 AS half
    FROM toks t JOIN documents d ON t.id = d.doc_id
),
counts AS (
    SELECT word,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
    FROM halves GROUP BY word
),
tot AS (
    SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
    FROM counts
)
SELECT word, c0, c1,
       CAST(c1 * n0 - c0 * n1 AS BIGINT) AS drift_cross
FROM counts CROSS JOIN tot
ORDER BY abs(c1 * n0 - c0 * n1) DESC, word
LIMIT {TREND_TERMS_TOP}
"""
)


@register("trending_terms", TREND_TERMS_ORACLE)
def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top term-frequency MOVERS between two corpus halves (doc-id
    parity as the epoch proxy): ranked by the cross-multiplied rate
    drift |c1*n0 - c0*n1| — the integer-exact 'what changed between
    yesterday's crawl and today's' diagnostic (the sketch-free sibling
    of a CMS-delta monitor; same cross-multiplied drift discipline as
    source_unigram_divergence).

    Scale: one conditional-sum token aggregate; the 1-row totals cross
    back; top-k is a TakeOrderedAndProject."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    halves = toks.join(
        F.broadcast(
            docs.select(
                F.col("doc_id").alias("id"), (F.col("doc_id") % 2).alias("half")
            )
        ),
        "id",
    )
    counts = halves.groupBy("word").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = counts.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    drift = F.col("c1") * F.col("n0") - F.col("c0") * F.col("n1")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select("word", "c0", "c1", drift.alias("drift_cross"))
        .orderBy(F.abs(F.col("drift_cross")).desc(), F.asc("word"))
        .limit(TREND_TERMS_TOP)
    )


# --- skip-gram co-occurrence pairs -----------------------------------------

SKIPGRAM_TOP_K = 30

SKIPGRAM_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, sg AS (
    SELECT word AS w1,
           lead(word, 1) OVER w AS a,
           lead(word, 2) OVER w AS b
    FROM toks
    WINDOW w AS (PARTITION BY id ORDER BY pos)
), pr AS (
    SELECT least(w1, x) AS wa, greatest(w1, x) AS wb
    FROM (SELECT w1, unnest([a, b]) AS x FROM sg)
    WHERE x IS NOT NULL
)
SELECT wa || ' ' || wb AS pair, COUNT(*) AS cnt
FROM pr GROUP BY 1
ORDER BY cnt DESC, pair
LIMIT {SKIPGRAM_TOP_K}
"""
)


@register("skipgram_pairs", SKIPGRAM_ORACLE)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word2vec-style skip-gram training pairs: unordered token
    co-occurrences within a ±2 window, ranked by frequency.

    This is the pair-extraction stage of embedding training: both
    offsets come from lead() columns built in ONE windowed select (the
    window-after-filter recomputation gotcha), the offset dimension is
    a constant-2 array explode (never a positional self-join), and the
    unordered collapse is least/greatest. One keyed shuffle onto the
    doc id, one hash aggregate over pairs, TakeOrdered top-k with a
    pair tie-break — the same plan at any corpus size.
    """
    toks = tokenized(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("id").orderBy("pos")
    sg = toks.select(
        F.col("word").alias("w1"),
        F.lead("word", 1).over(w).alias("a"),
        F.lead("word", 2).over(w).alias("b"),
    )
    pr = (
        sg.select(
            "w1", F.explode(F.array(F.col("a"), F.col("b"))).alias("x")
        )
        .filter(F.col("x").isNotNull())
        .select(
            F.least("w1", "x").alias("wa"), F.greatest("w1", "x").alias("wb")
        )
    )
    return (
        pr.groupBy(F.concat_ws(" ", "wa", "wb").alias("pair"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(SKIPGRAM_TOP_K)
    )


# --- intra-document trigram repetition -------------------------------------

REPETITION_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, tg AS (
    SELECT id,
           concat_ws(' ', word, lead(word, 1) OVER w, lead(word, 2) OVER w)
               AS tri,
           lead(word, 2) OVER w AS l2
    FROM toks
    WINDOW w AS (PARTITION BY id ORDER BY pos)
), tc AS (
    SELECT id, tri, COUNT(*) AS c FROM tg WHERE l2 IS NOT NULL GROUP BY id, tri
), per_doc AS (
    SELECT id, CAST(SUM(c) AS BIGINT) AS tot,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup
    FROM tc GROUP BY id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(p.tot) AS BIGINT) AS tri_total,
       CAST(SUM(p.dup) AS BIGINT) AS dup_total,
       CAST(CAST(SUM(p.dup) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(p.tot) AS BIGINT) AS DOUBLE) AS dup_frac,
       CAST(SUM(CASE WHEN p.dup * 5 > p.tot THEN 1 ELSE 0 END) AS BIGINT)
           AS high_rep_docs
FROM per_doc p JOIN documents d ON p.id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""
)


@register("intra_doc_repetition", REPETITION_ORACLE)
def q_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition profile per source: the
    fraction of trigram occurrences that are repeats of an earlier
    trigram in the SAME document (boilerplate / spam signal the
    top-bigram rule in quality_rules cannot see).

    Everything is integer until the single micro-averaged division:
    per-doc duplicated occurrences = total - distinct trigrams, the
    high-repetition flag is the cross-multiplied dup*5 > tot (no 0.2
    float threshold), and the per-source rollup sums BIGINTs. Trigrams
    come from two lead() columns in one windowed select; the doc ->
    source attachment is a keyed join on the doc id.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    w = Window.partitionBy("id").orderBy("pos")
    tg = toks.select(
        "id",
        F.concat_ws(
            " ", "word", F.lead("word", 1).over(w), F.lead("word", 2).over(w)
        ).alias("tri"),
        F.lead("word", 2).over(w).alias("l2"),
    )
    tc = (
        tg.filter(F.col("l2").isNotNull())
        .groupBy("id", "tri")
        .agg(F.count("*").alias("c"))
    )
    per_doc = tc.groupBy("id").agg(
        F.sum("c").alias("tot"), (F.sum("c") - F.count("*")).alias("dup")
    )
    return (
        per_doc.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tot").alias("tri_total"),
            F.sum("dup").alias("dup_total"),
            (
                F.sum("dup").cast("double") / F.sum("tot").cast("double")
            ).alias("dup_frac"),
            F.sum((F.col("dup") * 5 > F.col("tot")).cast("long")).alias(
                "high_rep_docs"
            ),
        )
        .orderBy("source")
    )


# --- Burrows' Delta stylometry between sources ------------------------------

BURROWS_TOP_TERMS = 40
_FQ_SCALE = 33554432  # 2^25: relative freqs -> exact ints, fq^2 sums fit int64
_CONTRIB_SCALE = 1048576  # 2^20: per-term |z| diff quantum before the pair sum

BURROWS_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, tw AS (
    SELECT d.source AS src, t.word
    FROM toks t JOIN documents d ON t.id = d.doc_id
), totals AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tw GROUP BY src
), top_terms AS (
    SELECT word FROM tw GROUP BY word
    ORDER BY COUNT(*) DESC, word LIMIT {BURROWS_TOP_TERMS}
), cnt AS (
    SELECT src, word, CAST(COUNT(*) AS BIGINT) AS c
    FROM tw JOIN top_terms USING (word) GROUP BY src, word
), grid AS (
    SELECT t.src, p.word,
           CAST(FLOOR(CAST(COALESCE(c.c, 0) AS DOUBLE)
                      / CAST(t.n_tok AS DOUBLE)
                      * CAST({_FQ_SCALE} AS DOUBLE)) AS BIGINT) AS fq
    FROM totals t CROSS JOIN top_terms p
    LEFT JOIN cnt c ON c.src = t.src AND c.word = p.word
), tstats AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS s,
           CAST(SUM(fq) AS BIGINT) AS sf,
           CAST(SUM(fq * fq) AS BIGINT) AS sq
    FROM grid GROUP BY word
), var AS (
    SELECT word, s, s * sq - sf * sf AS v FROM tstats
), pairs AS (
    SELECT a.src AS src_a, b.src AS src_b, a.word,
           CASE WHEN v.v > 0 THEN
               CAST(FLOOR(CAST(ABS(a.fq - b.fq) * v.s AS DOUBLE)
                          / SQRT(CAST(v.v AS DOUBLE))
                          * CAST({_CONTRIB_SCALE} AS DOUBLE)) AS BIGINT)
           ELSE 0 END AS contrib_q
    FROM grid a JOIN grid b ON a.word = b.word AND a.src < b.src
    JOIN var v ON v.word = a.word
)
SELECT src_a, src_b,
       CAST(SUM(contrib_q) AS BIGINT) AS delta_q,
       CAST(SUM(contrib_q) AS BIGINT)
           / CAST({BURROWS_TOP_TERMS} * {_CONTRIB_SCALE} AS DOUBLE) AS delta
FROM pairs GROUP BY src_a, src_b
"""
)


@register("burrows_delta", BURROWS_ORACLE)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair:
    z-score the relative frequencies of the top-40 corpus terms across
    sources, then Delta(a,b) = mean |z_a - z_b| — the authorship /
    style-drift fingerprint used to spot machine-generated or
    re-templated sub-corpora inside a crawl.

    Cross-engine float discipline: relative frequencies floor-quantize
    to 2^-25 BEFORE any cross-source moment (one exact-rounded double
    division each — identical on both engines); term variances are then
    pure int64; each per-term |Δz| needs one sqrt + one division
    (deterministic) and floor-quantizes to 2^-20 before the per-pair
    sum, so the 40-term summation is exact integer addition (the
    prf_expanded_retrieval precedent — float SUM order is never relied
    on).

    Scale: term dimension is a constant 40 (broadcast); per-source state
    is one 40-vector — the pair stage is O(#sources² × 40) rows keyed on
    the term, bucketable by pair block if #sources grows past ~10⁴.
    Reference tie-in: word-count substrate (src/word_count.rs:90-128)
    feeding a VecOp-style normalized reduce (src/op.rs:18-35)."""
    docs = load_table(spark, sf_dir, "documents")
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    tw = (
        docs.repartition(nparts)
        .select(
            F.col("source").alias("src"),
            F.explode(F.split(normalize_text(), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )
    totals = tw.groupBy("src").agg(F.count("*").alias("n_tok"))
    top_terms = (
        tw.groupBy("word")
        .agg(F.count("*").alias("wc"))
        .orderBy(F.desc("wc"), F.asc("word"))
        .limit(BURROWS_TOP_TERMS)
        .select("word")
    )
    cnt = (
        tw.join(F.broadcast(top_terms), "word")
        .groupBy("src", "word")
        .agg(F.count("*").alias("c"))
    )
    grid = (
        totals.crossJoin(F.broadcast(top_terms))
        .join(cnt, ["src", "word"], "left")
        .select(
            "src",
            "word",
            F.floor(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n_tok").cast("double")
                * F.lit(float(_FQ_SCALE))
            ).alias("fq"),
        )
        .persist()  # grid feeds tstats AND both sides of the pair self-join
    )
    var = (
        grid.groupBy("word")
        .agg(
            F.count("*").alias("s"),
            F.sum("fq").alias("sf"),
            F.sum(F.col("fq") * F.col("fq")).alias("sq"),
        )
        .select(
            "word",
            "s",
            (F.col("s") * F.col("sq") - F.col("sf") * F.col("sf")).alias("v"),
        )
    )
    a = grid.select(
        F.col("src").alias("src_a"), "word", F.col("fq").alias("fq_a")
    )
    b = grid.select(
        F.col("src").alias("src_b"), "word", F.col("fq").alias("fq_b")
    )
    pairs = (
        a.join(b, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(var), "word")
        .select(
            "src_a",
            "src_b",
            F.when(
                F.col("v") > 0,
                F.floor(
                    (F.abs(F.col("fq_a") - F.col("fq_b")) * F.col("s"))
                    .cast("double")
                    / F.sqrt(F.col("v").cast("double"))
                    * F.lit(float(_CONTRIB_SCALE))
                ),
            )
            .otherwise(F.lit(0))
            .alias("contrib_q"),
        )
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.sum("contrib_q").cast("long").alias("delta_q"),
        (
            F.sum("contrib_q").cast("long")
            / F.lit(float(BURROWS_TOP_TERMS * _CONTRIB_SCALE))
        ).alias("delta"),
    )


# --- Dunning G2 log-likelihood collocations ---------------------------------

# G2 = 2 * sum_ij O_ij * ln(O_ij / E_ij) over the 2x2 bigram contingency
# table — the statistically-sound collocation score (robust at low counts
# where PMI over-ranks hapax pairs).  Logs ride functions/intlog, so the
# score is an exact BIGINT in 2^-20-bit units on both engines; zero cells
# contribute 0 by the x*log(x) -> 0 convention.

G2_MIN_COUNT = 5
G2_TOP_K = 30


def _g2_terms_sql() -> str:
    """Sum of the four O*log2(O*N/(r*c)) terms, 2^20-scaled BIGINT."""
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql

    cells = [
        ("o11", "c1", "c2"),
        ("o12", "c1", "n2"),
        ("o21", "n1", "c2"),
        ("o22", "n1", "n2"),
    ]
    parts = []
    for o, r, c in cells:
        parts.append(
            f"(CASE WHEN {o} > 0 THEN {o} * ({log2_scaled_sql(o)}"
            f" + {log2_scaled_sql('n_total')} - {log2_scaled_sql(r)}"
            f" - {log2_scaled_sql(c)}) ELSE 0 END)"
        )
    return " + ".join(parts)


G2_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, bg AS (
    SELECT word AS w1,
           lead(word) OVER (PARTITION BY id ORDER BY pos) AS w2
    FROM toks
), bc AS (
    SELECT w1, w2, COUNT(*) AS cnt FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
), f AS (
    SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM bc GROUP BY w1
), s AS (
    SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM bc GROUP BY w2
), n AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM bc
), cells AS (
    SELECT w1, w2, cnt,
           CAST(cnt AS BIGINT) AS o11,
           c1 - cnt AS o12,
           c2 - cnt AS o21,
           n_total - c1 - c2 + cnt AS o22,
           c1, c2, n_total - c1 AS n1, n_total - c2 AS n2, n_total
    FROM bc JOIN f USING (w1) JOIN s USING (w2) CROSS JOIN n
    WHERE cnt >= {G2_MIN_COUNT}
), scored AS (
    SELECT w1 || ' ' || w2 AS bigram, cnt,
           CAST(2 * ({_g2_terms_sql()}) AS BIGINT) AS g2_scaled
    FROM cells
)
SELECT bigram, cnt, g2_scaled,
       CAST(g2_scaled AS DOUBLE) / 1048576.0 AS g2_bits
FROM scored
ORDER BY g2_scaled DESC, bigram
LIMIT {G2_TOP_K}
"""
)


@register("dunning_g2_collocations", G2_ORACLE)
def q_dunning_g2_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by Dunning's G2 log-likelihood ratio.

    Same single-tokenize plan as ``pmi_bigrams`` (margins re-aggregate
    the persisted bigram-count table, broadcast back, TakeOrdered top-k);
    the 2x2-table score is four guarded O*log terms in 2^20-scaled
    integer log2 — per-term magnitude is bounded by N * 64 * 2^20
    (< 2^63 for N < 2^37 tokens per engine run), and the ranking key is
    the exact BIGINT score, never a float.
    """
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled

    toks = tokenized(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        toks.select(F.col("word").alias("w1"), F.lead("word").over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt")).persist()
    firsts = bc.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    seconds = bc.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    total = bc.agg(F.sum("cnt").alias("n_total"))
    cells = (
        bc.filter(F.col("cnt") >= G2_MIN_COUNT)
        .join(F.broadcast(firsts), "w1")
        .join(F.broadcast(seconds), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "cnt",
            F.col("cnt").cast("long").alias("o11"),
            (F.col("c1") - F.col("cnt")).alias("o12"),
            (F.col("c2") - F.col("cnt")).alias("o21"),
            (F.col("n_total") - F.col("c1") - F.col("c2") + F.col("cnt")).alias(
                "o22"
            ),
            "c1",
            "c2",
            (F.col("n_total") - F.col("c1")).alias("n1"),
            (F.col("n_total") - F.col("c2")).alias("n2"),
            "n_total",
        )
    )
    ln = log2_scaled("n_total")
    term = lambda o, r, c: F.when(  # noqa: E731
        F.col(o) > 0,
        F.col(o) * (log2_scaled(o) + ln - log2_scaled(r) - log2_scaled(c)),
    ).otherwise(F.lit(0).cast("long"))
    scored = cells.select(
        F.concat_ws(" ", "w1", "w2").alias("bigram"),
        "cnt",
        (
            F.lit(2)
            * (
                term("o11", "c1", "c2")
                + term("o12", "c1", "n2")
                + term("o21", "n1", "c2")
                + term("o22", "n1", "n2")
            )
        )
        .cast("long")
        .alias("g2_scaled"),
    )
    return (
        scored.select(
            "bigram",
            "cnt",
            "g2_scaled",
            (F.col("g2_scaled").cast("double") / F.lit(1048576.0)).alias(
                "g2_bits"
            ),
        )
        .orderBy(F.desc("g2_scaled"), F.asc("bigram"))
        .limit(G2_TOP_K)
    )


# --- speculative-decoding acceptance economics -------------------------------

# Speculative decoding (Leviathan et al. 2023): a cheap DRAFT model
# proposes tokens that the TARGET model accepts with probability
# min(1, p_target / p_draft); the expected accepted tokens per
# verification round with lookahead gamma is (1 - a^(gamma+1)) / (1 - a)
# where a is the mean acceptance rate. Here the draft is the corpus
# unigram MLE and the target the bigram MLE, so every per-token
# acceptance probability is an EXACT integer rational:
#     min(1, (c_bigram / c_prev) / (c_tok / N))
#   = min(c_bigram * N, c_prev * c_tok) / (c_prev * c_tok)
# Per-token rationals are floor-quantized to 2^-20 BEFORE the per-source
# sum (the repo's quantize-then-sum rule for cross-group rational sums);
# the numerator-times-2^20 product can pass int64, so the floor division
# rides DECIMAL(38,0) pmod-floor-div on Spark == HUGEINT // in DuckDB
# (the fleiss_kappa pattern — both exact for non-negative operands).
# Precondition: token count N < ~3e9 so c_prev*c_tok fits int64
# (documented; past that the counts move to DECIMAL like ab_test_welch).
SPEC_GAMMA = 4  # draft lookahead; speedup column uses gamma+1 = 5

SPEC_DECODE_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, tk AS MATERIALIZED (SELECT id, pos, word FROM toks),
uni AS MATERIALIZED (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY word
),
ntok AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk),
bg AS MATERIALIZED (
    SELECT d.source, t.w1, t.word AS w2
    FROM (
        SELECT id, word,
               lag(word) OVER (PARTITION BY id ORDER BY pos) AS w1
        FROM tk
    ) t
    JOIN documents d ON d.doc_id = t.id
    WHERE t.w1 IS NOT NULL
),
bgc AS MATERIALIZED (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2
),
ev AS (
    SELECT b.source,
           CAST(CAST(LEAST(bc.cb * ntok.n, u1.c * u2.c) AS HUGEINT)
                * 1048576 // (u1.c * u2.c) AS BIGINT) AS q
    FROM bg b
    JOIN bgc bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    CROSS JOIN ntok
),
agg AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_proposals,
           CAST(SUM(q) AS BIGINT) AS accept_q
    FROM ev GROUP BY source
),
alph AS (
    SELECT source, n_proposals, accept_q,
           CAST(accept_q AS DOUBLE)
               / (CAST(n_proposals AS DOUBLE) * 1048576.0) AS alpha
    FROM agg
)
SELECT source, n_proposals, accept_q, alpha,
       CASE WHEN accept_q = n_proposals * 1048576
            THEN CAST(5 AS DOUBLE)
            ELSE (1.0 - (((alpha * alpha) * (alpha * alpha)) * alpha))
                 / (1.0 - alpha)
       END AS exp_tokens_per_round
FROM alph
ORDER BY source
"""
)


@register("speculative_decoding_acceptance", SPEC_DECODE_ORACLE)
def q_speculative_decoding_acceptance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Speculative-decoding economics per source: exact mean acceptance
    rate of a unigram DRAFT model against a bigram TARGET model over the
    corpus token stream, and the implied accepted-tokens-per-verification
    round at lookahead gamma=4 ((1 - a^5)/(1 - a), the Leviathan et al.
    formula) — the measurement that decides whether a draft model pays
    for itself before an inference rollout.

    Exactness: acceptance min(1, p_t/p_d) collapses to an integer
    cross-ratio (see module comment); per-token values are 2^-20
    floor-quantized via DECIMAL pmod-floor-div (== DuckDB HUGEINT //)
    before the per-source sum; alpha and the speedup are fixed double
    expressions with pinned parenthesization.

    Scale: tokenize rides the word-count substrate
    (src/word_count.rs:90-128 tokenize/hash-partition/count); the
    unigram/bigram model tables are vocab-bounded (broadcast-sized
    here; AQE picks the join side), the token stream is touched twice
    (model counts, scoring) with the shared lineage persisted.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = tokenized(docs).persist()  # model counts + scoring stream
    uni = toks.groupBy("word").agg(F.count("*").cast("long").alias("c"))
    n = toks.agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        toks.select("id", "word", F.lag("word").over(w).alias("w1"))
        .filter(F.col("w1").isNotNull())
        .join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .select("source", "w1", F.col("word").alias("w2"))
        .persist()  # bigram counts + scoring both read it
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cb"))
    ev = (
        bg.join(bgc, ["w1", "w2"])
        .join(uni.select(F.col("word").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n))
    )
    num = (
        F.least(F.col("cb") * F.col("n"), F.col("c1") * F.col("c2"))
        .cast("decimal(38,0)")
        * F.lit(1048576)
    )
    den = (F.col("c1") * F.col("c2")).cast("decimal(38,0)")
    q = ((num - F.pmod(num, den)) / den).cast("long")
    agg = ev.select("source", q.alias("q")).groupBy("source").agg(
        F.count("*").cast("long").alias("n_proposals"),
        F.sum("q").cast("long").alias("accept_q"),
    )
    alpha = F.col("accept_q").cast("double") / (
        F.col("n_proposals").cast("double") * F.lit(1048576.0)
    )
    out = agg.select("source", "n_proposals", "accept_q", alpha.alias("alpha"))
    a = F.col("alpha")
    a5 = ((a * a) * (a * a)) * a
    return out.select(
        "source",
        "n_proposals",
        "accept_q",
        "alpha",
        F.when(
            F.col("accept_q") == F.col("n_proposals") * F.lit(1048576),
            F.lit(5.0),
        )
        .otherwise((F.lit(1.0) - a5) / (F.lit(1.0) - a))
        .alias("exp_tokens_per_round"),
    ).orderBy("source")
