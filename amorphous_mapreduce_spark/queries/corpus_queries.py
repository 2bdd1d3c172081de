"""Corpus-management queries: epoch sharding, vocabulary growth, rarity
scoring, incremental dedup, key-skew profiling (operators/corpus_stats.py).

Oracle notes:
- hex-hash sharding uses the portable 60-bit MD5 prefix (CLAUDE.md
  convention 2); `%` on the non-negative hash agrees between engines.
- bucket assignment is integer floor division (`div` / `//`), never a
  float multiply, so bucket edges cannot drift.
- DuckDB SUM(BIGINT) returns HUGEINT — every summed count is cast back
  to BIGINT before it reaches the driver's hash (CLAUDE.md convention,
  round-1 failure class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.corpus_stats import (
    doc_rarity,
    epoch_shards,
    incremental_exact_dedup,
    vocab_growth,
)
from amorphous_mapreduce_spark.queries.dedup_queries import NORM, toks_cte
from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

TOKS_CTE = toks_cte()

_SHARD_HASH = (
    "CAST('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
)

SHARD_ORACLE = f"""
SELECT id, shard_id,
       ROW_NUMBER() OVER (PARTITION BY shard_id
                          ORDER BY h ASC, id ASC) AS pos
FROM (SELECT doc_id AS id,
             {_SHARD_HASH} % 8 AS shard_id,
             {_SHARD_HASH} AS h
      FROM documents)
"""


@register("epoch_shard_manifest", SHARD_ORACLE)
def q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-0 shard manifest, 8 shards: deterministic hash placement +
    per-shard order — the reference's hash partitioner (W6,
    src/word_count.rs:110-118) applied to training-epoch layout."""
    return epoch_shards(load_table(spark, sf_dir, "documents"), n_shards=8, epoch=0)


VOCAB_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, n AS (SELECT MAX(doc_id) + 1 AS _n FROM documents),
first AS (
    SELECT word, MIN((id * 10) // _n) AS first_b
    FROM toks CROSS JOIN n GROUP BY word
), contrib AS (
    SELECT first_b, unnest(range(first_b, 10)) AS bucket FROM first
)
SELECT bucket,
       CAST(SUM(CASE WHEN bucket = first_b THEN 1 ELSE 0 END) AS BIGINT)
           AS new_words,
       COUNT(*) AS vocab_size
FROM contrib GROUP BY bucket
"""
)


@register("vocab_growth", VOCAB_ORACLE)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over 10 id-range buckets; cumulative
    curve via explode-contribution (keyed agg, no running window)."""
    return vocab_growth(load_table(spark, sf_dir, "documents"), n_buckets=10)


RARITY_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, dfreq AS (SELECT word, COUNT(DISTINCT id) AS df FROM toks GROUP BY word)
SELECT id, COUNT(*) AS n_tokens,
       CAST(SUM(df) AS BIGINT) AS sum_df,
       CAST(CAST(SUM(df) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS rarity
FROM toks JOIN dfreq USING (word)
GROUP BY id
"""
)


@register("doc_rarity", RARITY_ORACLE)
def q_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean document-frequency rarity per doc — rational-form unigram
    rarity signal (integer sums + one double division)."""
    return doc_rarity(load_table(spark, sf_dir, "documents"))


INCR_ORACLE = f"""
WITH hashed AS (
    SELECT doc_id AS id, md5({NORM}) AS content_hash FROM documents
), old AS (
    SELECT content_hash, MIN(id) AS dup_of
    FROM hashed WHERE id % 2 = 0 GROUP BY content_hash
)
SELECT n.id, n.content_hash, o.dup_of,
       CASE WHEN o.dup_of IS NOT NULL THEN 1 ELSE 0 END AS is_dup
FROM (SELECT * FROM hashed WHERE id % 2 = 1) n
LEFT JOIN old o USING (content_hash)
"""


@register("incremental_dedup", INCR_ORACLE)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: odd-id docs (the 'new batch') checked
    against even-id docs (the 'existing corpus') by content digest."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_exact_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )


SKEW_ORACLE = """
WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS _total FROM c)
SELECT l_partkey, cnt,
       CAST(cnt AS DOUBLE) / CAST(_total AS DOUBLE) AS share
FROM c CROSS JOIN t
ORDER BY cnt DESC, l_partkey ASC LIMIT 20
"""


@register("key_skew_profile", SKEW_ORACLE)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 hottest join keys with their share of rows — the skew
    diagnostic that decides salting vs AQE's skew-join split;
    total via 1-row scalar agg broadcast back, top-k via
    TakeOrderedAndProject (no global sort materialised)."""
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    total = cnt.agg(F.sum("cnt").alias("_total"))
    return (
        cnt.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("_total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(20)
    )


FERTILITY_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, ntok AS (SELECT id, COUNT(*) AS n_tokens FROM toks GROUP BY id)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
           / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) AS chars_per_token
FROM documents JOIN ntok ON doc_id = id
GROUP BY lang
"""
)


@register("token_fertility", FERTILITY_ORACLE)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (chars per token) — the
    compression stat that drives per-language token budgets. Integer
    sums + one double division (engine-exact)."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    ntok = tokenized(docs).groupBy("id").agg(F.count("*").alias("n_tokens"))
    return (
        docs.join(ntok, docs.doc_id == ntok.id)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_tokens",
            (
                F.col("total_chars").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


PADDING_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, ntok AS (SELECT id, COUNT(*) AS n_tokens FROM toks GROUP BY id),
bucketed AS (
    SELECT id, n_tokens,
           CASE WHEN n_tokens <= 1 THEN 1
                ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1)))
           END AS bucket
    FROM ntok
)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(bucket - n_tokens) AS BIGINT) AS total_pad,
       CAST(CAST(SUM(bucket - n_tokens) AS BIGINT) AS DOUBLE)
           / CAST(bucket * COUNT(*) AS DOUBLE) AS pad_ratio
FROM bucketed
GROUP BY bucket
"""
)


@register("length_bucket_padding", PADDING_ORACLE)
def q_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: docs grouped into power-of-two
    token-length buckets with the padding waste each bucket pays —
    the stat behind bucketed batching / packing decisions. The
    power-of-two cap is computed with integer bit ops (length of the
    binary string), never float log2, so bucket edges are exact on
    both engines."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    ntok = tokenized(docs).groupBy("id").agg(F.count("*").alias("n_tokens"))
    bucketed = ntok.withColumn(
        "bucket",
        F.expr(
            "CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT) "
            "ELSE CAST(shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1))) "
            "AS BIGINT) END"
        ),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("n_tokens")).alias("total_pad"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            "total_pad",
            (
                F.col("total_pad").cast("double")
                / (F.col("bucket") * F.col("n_docs")).cast("double")
            ).alias("pad_ratio"),
        )
    )


_SPLIT3 = (
    "CAST('0x' || substr(md5('3way:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % 100"
)

SPLIT3_ORACLE = (
    "WITH "
    + TOKS_CTE
    + f"""
, ntok AS (SELECT id, COUNT(*) AS n_tokens FROM toks GROUP BY id),
assigned AS (
    SELECT doc_id, lang,
           CASE WHEN {_SPLIT3} < 80 THEN 'train'
                WHEN {_SPLIT3} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT lang, split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM assigned JOIN ntok ON id = doc_id
GROUP BY lang, split
"""
)


@register("three_way_split_stats", SPLIT3_ORACLE)
def q_three_way_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test manifest summarised per
    (lang, split) — the split is a stateless hash of the doc id alone,
    so it is reproducible, order-independent, and consistent across
    reruns and cluster sizes (the property that makes the split safe to
    recompute instead of storing)."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    bucket = hex_hash64(
        F.concat(F.lit("3way:"), F.col("doc_id").cast("string"))
    ) % F.lit(100)
    assigned = docs.select(
        F.col("doc_id").alias("id"),
        "lang",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .alias("split"),
    )
    ntok = tokenized(docs).groupBy("id").agg(F.count("*").alias("n_tokens"))
    return (
        assigned.join(ntok, "id")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )


COVERAGE_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, c AS (
    SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word
), n AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c
), r AS (
    SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM c
)
SELECT t.threshold_pct, MIN(rank) AS vocab_k,
       CAST(MIN(cum) AS BIGINT) AS tokens_covered
FROM r CROSS JOIN n CROSS JOIN (VALUES (50), (90), (99)) t(threshold_pct)
WHERE cum * 100 >= threshold_pct * n_total
GROUP BY t.threshold_pct
"""
)


@register("vocab_coverage", COVERAGE_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: min vocab covering 50/90/99% of tokens.
    The global cumulative sum is a distributed two-phase scan
    (operators.corpus_stats.distributed_prefix_sum) — range sort,
    per-partition partials, O(#partitions) offset merge — never a
    single-partition window over the vocabulary."""
    from amorphous_mapreduce_spark.operators.corpus_stats import vocab_coverage

    return vocab_coverage(load_table(spark, sf_dir, "documents"))


# --- Zipf frequency-spectrum octave profile ---------------------------------

ZIPF_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, tf AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
oct AS (
    SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS octave,
           c
    FROM tf
),
per AS (
    SELECT octave,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM oct GROUP BY octave
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS _total FROM per)
SELECT p.octave, p.n_types, p.n_tokens,
       CAST(p.n_tokens AS DOUBLE) / CAST(t._total AS DOUBLE) AS token_share,
       CAST(p.n_types AS DOUBLE) / CAST(prev.n_types AS DOUBLE)
           AS type_ratio_vs_prev
FROM per p
CROSS JOIN tot t
LEFT JOIN per prev ON prev.octave = p.octave - 1
"""
)


@register("zipf_octave_profile", ZIPF_ORACLE)
def q_zipf_octave_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-spectrum profile in octave (power-of-two) buckets:
    how many word types and how much token mass live at each frequency
    doubling, plus the consecutive-octave type ratio — the Zipf/Heaps
    diagnostic that sizes vocabularies and sketch widths before a
    100 TB tokenizer or CMS commit. The octave is length(bin(c)) - 1 =
    floor(log2(c)) computed EXACTLY from the binary string length on
    both engines (no libm log anywhere).

    Scale: one token-frequency aggregate, then everything runs on
    <= 64 octave rows; the corpus total is a 1-row scalar crossed back
    onto the octave frame."""
    docs = load_table(spark, sf_dir, "documents")
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    tf = tokenized(docs).groupBy("word").agg(F.count("*").alias("c"))
    per = (
        tf.select(
            (F.length(F.bin("c")) - 1).cast("long").alias("octave"), "c"
        )
        .groupBy("octave")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("c").alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("_total"))
    prev = per.select(
        (F.col("octave") + 1).alias("octave"),
        F.col("n_types").alias("_prev_types"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .join(F.broadcast(prev), "octave", "left")
        .select(
            "octave",
            "n_types",
            "n_tokens",
            (
                F.col("n_tokens").cast("double") / F.col("_total").cast("double")
            ).alias("token_share"),
            (
                F.col("n_types").cast("double")
                / F.col("_prev_types").cast("double")
            ).alias("type_ratio_vs_prev"),
        )
    )


# --- rendezvous (HRW) sharding rebalance audit ------------------------------

_HRW_H = (
    "CAST('0x' || substr(md5('hrw' || n.node || '_'"
    " || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
)

HRW_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, n.node, {_HRW_H} AS h
    FROM documents
    CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8))
        AS n(node)
),
assign AS (
    SELECT doc_id,
           arg_max(CASE WHEN node < 8 THEN node END,
                   CASE WHEN node < 8 THEN h END) AS shard8,
           arg_max(node, h) AS shard9,
           CAST('0x' || substr(md5('key_' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS kh
    FROM scored GROUP BY doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_rendezvous,
       CAST(SUM(CASE WHEN kh % 8 != kh % 9 THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_modulo,
       CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS rendezvous_moved_share,
       CAST(SUM(CASE WHEN kh % 8 != kh % 9 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS modulo_moved_share
FROM assign
"""


@register("rendezvous_sharding_audit", HRW_ORACLE)
def q_rendezvous_sharding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalance audit: assign every document to 8 nodes by
    rendezvous (highest-random-weight) hashing, add a 9th node, and
    measure how many keys MOVE — vs the naive hash-mod placement. HRW
    moves ~1/9 of keys (only those whose new node wins); mod moves
    ~8/9 — the quantified argument for consistent placement in any
    100 TB shard/cache layer (the reference's hash placement W6 made
    elastic). MD5-derived weights replay exactly in SQL.

    Scale: one 9-way bounded explode per key + one keyed argmax
    aggregate — a single pass, no joins, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    nodes = F.explode(F.array(*[F.lit(i) for i in range(9)])).alias("node")
    scored = docs.select("doc_id", nodes).select(
        "doc_id",
        "node",
        hex_hash64(
            F.concat(
                F.lit("hrw"),
                F.col("node").cast("string"),
                F.lit("_"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    )
    assign = scored.groupBy("doc_id").agg(
        F.max(
            F.when(
                F.col("node") < 8, F.struct(F.col("h"), F.col("node"))
            )
        )["node"].alias("shard8"),
        F.max(F.struct(F.col("h"), F.col("node")))["node"].alias("shard9"),
    )
    kh = hex_hash64(
        F.concat(F.lit("key_"), F.col("doc_id").cast("string"))
    )
    labeled = assign.select(
        "doc_id",
        "shard8",
        "shard9",
        kh.alias("kh"),
    )
    moved_hrw = F.sum(
        F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
    )
    moved_mod = F.sum(
        F.when(
            F.pmod(F.col("kh"), F.lit(8)) != F.pmod(F.col("kh"), F.lit(9)), 1
        ).otherwise(0)
    )
    n = F.count("*")
    return labeled.agg(
        n.alias("n_keys"),
        moved_hrw.alias("moved_rendezvous"),
        moved_mod.alias("moved_modulo"),
        (moved_hrw.cast("double") / n.cast("double")).alias(
            "rendezvous_moved_share"
        ),
        (moved_mod.cast("double") / n.cast("double")).alias(
            "modulo_moved_share"
        ),
    )


# --- vocabulary richness: hapax share per source ----------------------------

HAPAX_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, tagged AS (
    SELECT d.source, t.word
    FROM toks t JOIN documents d ON t.id = d.doc_id
),
freqs AS (
    SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
    FROM tagged GROUP BY source, word
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS hapax_type_share,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio
FROM freqs
GROUP BY source
"""
)


@register("hapax_ratio_by_source", HAPAX_ORACLE)
def q_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: hapax-legomenon share (words
    seen exactly once) and type-token ratio — the lexical-diversity
    profile that flags template-generated or boilerplate-heavy sources
    (low hapax share) before they flood a training mix (companion to
    zipf_octave_profile's corpus-level spectrum).

    Scale: one (source, word) hash aggregate + a per-source rollup;
    ratios are single divisions of exact counts."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    tagged = toks.join(
        F.broadcast(
            docs.select(F.col("doc_id").alias("id"), "source")
        ),
        "id",
    )
    freqs = tagged.groupBy("source", "word").agg(F.count("*").alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return freqs.groupBy("source").agg(
        F.count("*").alias("n_types"),
        F.sum("c").alias("n_tokens"),
        hapax.alias("n_hapax"),
        (hapax.cast("double") / F.count("*").cast("double")).alias(
            "hapax_type_share"
        ),
        (F.count("*").cast("double") / F.sum("c").cast("double")).alias(
            "type_token_ratio"
        ),
    )


# --- context-length sweep (truncate-vs-pad budget audit) --------------------

# The tune-from-one-pass pattern applied to the context-length decision:
# ONE tokenize pass, then the constant config levels (512..4096) explode
# against the per-doc lengths, so choosing a training context length is
# one scan, not four.
CTX_LEVELS = (512, 1024, 2048, 4096)

CTX_SWEEP_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, dls AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY id)
SELECT ctx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dl) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN dl > ctx THEN 1 ELSE 0 END) AS BIGINT)
           AS n_truncated,
       CAST(SUM(CASE WHEN dl > ctx THEN dl - ctx ELSE 0 END) AS BIGINT)
           AS tokens_lost,
       CAST(SUM(CASE WHEN dl <= ctx THEN ctx - dl ELSE 0 END) AS BIGINT)
           AS pad_waste_unpacked,
       CAST((SUM(CASE WHEN dl > ctx THEN ctx ELSE dl END) + ctx - 1) // ctx
            AS BIGINT) AS packed_seqs_lb,
       CAST(SUM(CASE WHEN dl > ctx THEN dl - ctx ELSE 0 END) AS DOUBLE)
           / CAST(SUM(dl) AS DOUBLE) AS truncation_loss_share
FROM dls CROSS JOIN (VALUES ({CTX_LEVELS[0]}), ({CTX_LEVELS[1]}),
                            ({CTX_LEVELS[2]}), ({CTX_LEVELS[3]})) AS c(ctx)
GROUP BY ctx
"""
)


@register("context_length_sweep", CTX_SWEEP_ORACLE)
def q_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training context-length sweep: per candidate context (512/1024/
    2048/4096 tokens), how many docs get truncated and how many tokens
    that loses, the padding waste if each doc rode its own sequence,
    and the packed-sequence lower bound ceil(kept/ctx) — the one-scan
    scorecard behind the truncate-vs-pack budget decision
    (complements sequence_packing, which lays out the chosen config).

    All integers (ceil as (x+ctx-1) div ctx); the loss share is one
    double division. Scale: one tokenize -> per-doc count, then a
    4x constant explode into a 4-row aggregate."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    dls = tokenized(docs).groupBy("id").agg(F.count("*").alias("dl"))
    kept = F.when(F.col("dl") > F.col("ctx"), F.col("ctx")).otherwise(F.col("dl"))
    lost = F.when(F.col("dl") > F.col("ctx"), F.col("dl") - F.col("ctx")).otherwise(
        F.lit(0)
    )
    pad = F.when(F.col("dl") <= F.col("ctx"), F.col("ctx") - F.col("dl")).otherwise(
        F.lit(0)
    )
    return (
        dls.select(
            "dl",
            F.explode(
                F.array(*[F.lit(c).cast("long") for c in CTX_LEVELS])
            ).alias("ctx"),
        )
        .groupBy("ctx")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("tokens_total"),
            F.sum((F.col("dl") > F.col("ctx")).cast("bigint")).alias("n_truncated"),
            F.sum(lost).alias("tokens_lost"),
            F.sum(pad).alias("pad_waste_unpacked"),
            F.expr(
                "CAST((sum(CASE WHEN dl > ctx THEN ctx ELSE dl END) + ctx - 1)"
                " div ctx AS BIGINT)"
            ).alias("packed_seqs_lb"),
            (
                F.sum(lost).cast("double") / F.sum("dl").cast("double")
            ).alias("truncation_loss_share"),
        )
    )


# --- lexical richness scorecard (Yule's K / Simpson's D / TTR) --------------

RICHNESS_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, tagged AS (
    SELECT d.source, t.word, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks t JOIN documents d ON t.id = d.doc_id
    GROUP BY d.source, t.word
)
SELECT source,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(tf * tf) - SUM(tf) AS BIGINT) AS yule_num,
       CAST(10000 * (SUM(tf * tf) - SUM(tf)) AS DOUBLE)
           / CAST(SUM(tf) * SUM(tf) AS DOUBLE) AS yules_k,
       CAST(SUM(tf * (tf - 1)) AS DOUBLE)
           / CAST(SUM(tf) * (SUM(tf) - 1) AS DOUBLE) AS simpson_d,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS ttr
FROM tagged GROUP BY source
"""
)


@register("lexical_richness", RICHNESS_ORACLE)
def q_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness scorecard per source: Yule's K (10^4 * (sum tf^2
    - N)/N^2, the length-robust repeat-rate), Simpson's D (probability
    two random tokens are the same type), type-token ratio and hapax
    count — the vocabulary-quality block of a dataset card (synthetic /
    templated sources show high K and D, natural text low).

    Every statistic is an integer numerator (sum tf, sum tf^2, counts)
    with ONE double division — no accumulation-order hazard anywhere.

    Scale: one (source, word) keyed aggregate (map-side combined) then
    a per-source rollup; identical shape to term_freq_by_lang."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    keys = docs.select(F.col("doc_id").alias("id"), "source")
    tagged = (
        toks.join(F.broadcast(keys), "id")
        .groupBy("source", "word")
        .agg(F.count("*").alias("tf"))
    )
    n = F.sum("tf")
    s2 = F.sum(F.col("tf") * F.col("tf"))
    return tagged.groupBy("source").agg(
        n.alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("tf") == 1).cast("bigint")).alias("n_hapax"),
        (s2 - n).alias("yule_num"),
        ((F.lit(10000) * (s2 - n)).cast("double") / (n * n).cast("double")).alias(
            "yules_k"
        ),
        (
            F.sum(F.col("tf") * (F.col("tf") - 1)).cast("double")
            / (n * (n - 1)).cast("double")
        ).alias("simpson_d"),
        (F.count("*").cast("double") / n.cast("double")).alias("ttr"),
    )


# --- Chao1 unseen-vocabulary estimate ---------------------------------------

CHAO1_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, tagged AS (
    SELECT d.source, t.word, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks t JOIN documents d ON t.id = d.doc_id
    GROUP BY d.source, t.word
)
SELECT source,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS v_obs,
       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(COUNT(*) AS DOUBLE)
         + CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
                * SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(2 * (SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) + 1)
                  AS DOUBLE) AS chao1_est,
       1.0 - CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(SUM(tf) AS DOUBLE) AS good_turing_coverage
FROM tagged GROUP BY source
"""
)


@register("chao1_vocab_richness", CHAO1_ORACLE)
def q_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 estimate of each source's TOTAL vocabulary (observed +
    unseen): V + f1²/(2(f2+1)) from the hapax/dis-legomena counts
    (bias-corrected form, defined even when f2=0), plus the Good-Turing
    sample coverage 1 - f1/N — 'how much vocabulary would more crawling
    of this source still surface', the forward-looking companion to
    vocab_growth's empirical curve and lexical_richness's repeat rates.

    Integer frequency-of-frequency counts; two single divisions.
    Scale: the same (source, word) aggregate shape as lexical_richness."""
    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    tagged = (
        tokenized(docs)
        .join(F.broadcast(docs.select(F.col("doc_id").alias("id"), "source")), "id")
        .groupBy("source", "word")
        .agg(F.count("*").alias("tf"))
    )
    f1 = F.sum((F.col("tf") == 1).cast("bigint"))
    f2 = F.sum((F.col("tf") == 2).cast("bigint"))
    return tagged.groupBy("source").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("v_obs"),
        f1.alias("f1"),
        f2.alias("f2"),
        (
            F.count("*").cast("double")
            + (f1 * f1).cast("double") / (2 * (f2 + 1)).cast("double")
        ).alias("chao1_est"),
        (
            F.lit(1.0) - f1.cast("double") / F.sum("tf").cast("double")
        ).alias("good_turing_coverage"),
    )


# --- Heaps' law fit: V = K * n^beta over the growth curve -------------------

def _heaps_oracle() -> str:
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql
    from amorphous_mapreduce_spark.queries.dedup_queries import shingles_cte

    return (
        "WITH "
        + shingles_cte()
        + f"""
, n AS (SELECT MAX(doc_id) + 1 AS _n FROM documents),
tb AS (
    SELECT (id * 10) // _n AS b, COUNT(*) AS t
    FROM toks CROSS JOIN n GROUP BY 1
),
ct AS (
    SELECT bucket, CAST(SUM(t) AS BIGINT) AS ctok
    FROM (SELECT t, unnest(range(b, 10)) AS bucket FROM tb)
    GROUP BY bucket
),
first AS (
    SELECT sh, MIN((id * 10) // _n) AS first_b
    FROM shingles CROSS JOIN n GROUP BY sh
),
vb AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS v
    FROM (SELECT unnest(range(first_b, 10)) AS bucket FROM first)
    GROUP BY bucket
),
pts AS (
    SELECT {log2_scaled_sql('ctok')} AS x, {log2_scaled_sql('v')} AS y
    FROM ct JOIN vb USING (bucket)
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS bn,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pts
)
SELECT bn AS n_points,
       CAST(bn * sxy - sx * sy AS DOUBLE)
           / CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE) AS beta,
       (CAST(sy AS DOUBLE)
        - (CAST(bn * sxy - sx * sy AS DOUBLE)
           / CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE))
          * CAST(sx AS DOUBLE)) / (CAST(bn AS DOUBLE) * 1048576.0) AS log2_k,
       (CAST(bn * sxy - sx * sy AS DOUBLE)
        * CAST(bn * sxy - sx * sy AS DOUBLE))
       / (CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE)
          * CAST(nullif(bn * syy - sy * sy, 0) AS DOUBLE)) AS r2
FROM m
"""
    )


@register("heaps_law_fit", _heaps_oracle())
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent for the corpus: fit log2 V = log2 K +
    beta * log2 n by closed-form OLS over the 10-bucket growth curve,
    where n = cumulative tokens and V = cumulative distinct word
    TRIGRAMS (the synthetic corpus draws from a ~31-word pool, so the
    unigram vocabulary saturates in bucket 0 — the trigram type space
    is what actually grows, exactly the unit MinHash shingles dedup
    on). The exponent is the planning constant behind "how fast does
    my type inventory grow if I add 10x more data" — tokenizer sizing
    and dedup-ROI estimates.

    Cross-engine determinism: both logs go through functions.intlog
    (2^20-scaled integer log2, shared 256-entry LUT — the quantized
    approximation IS the spec), the five OLS moments are exact BIGINT
    sums (|x|,|y| <= 55 * 2^20, so x*y sums stay ~1e16 << 2^63), and
    beta / log2_k / r2 are the SAME literal double expression on both
    engines over those exact integers, with nullif() guards on the
    degenerate-variance denominators (Spark ANSI raises on double/0
    where DuckDB returns inf — the langid_prf failure class).
    Requires cumulative counts < 2^55 (intlog domain) — at ~3.6e16
    tokens (100 TB of text) switch the top bucket to token-billions.

    Scale: one tokenize pass for the token curve, one shingle pass for
    the type curve (both keyed aggregates with constant-bounded
    10-bucket contribution explodes — the vocab_growth pattern, no
    running windows); the fit itself is a 10-row reduce. Reference:
    W3-W7 tokenize/count pipeline (src/word_count.rs:63-118) feeding a
    VecOp-style scalar reduce (src/op.rs:66-106)."""
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled
    from amorphous_mapreduce_spark.operators.dedup import shingles, tokenized

    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + F.lit(1)).alias("_n"))
    bucket = F.expr("CAST(id * 10 div _n AS BIGINT)")
    tb = (
        tokenized(docs)
        .select("id")
        .crossJoin(F.broadcast(n))
        .select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("t"))
    )
    ct = (
        tb.select(
            "t", F.explode(F.sequence(F.col("b"), F.lit(9))).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.sum("t").cast("long").alias("ctok"))
    )
    vb = (
        shingles(docs)
        .crossJoin(F.broadcast(n))
        .select(bucket.alias("b"), "sh")
        .groupBy("sh")
        .agg(F.min("b").alias("first_b"))
        .select(
            F.explode(
                F.sequence(F.col("first_b"), F.lit(9))
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("v"))
    )
    pts = ct.join(vb, "bucket").select(
        log2_scaled("ctok").alias("x"), log2_scaled("v").alias("y")
    )
    m = pts.agg(
        F.count("*").cast("long").alias("bn"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return m.select(
        F.col("bn").alias("n_points"),
        F.expr(
            "CAST(bn * sxy - sx * sy AS DOUBLE)"
            " / CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE)"
        ).alias("beta"),
        F.expr(
            "(CAST(sy AS DOUBLE)"
            " - (CAST(bn * sxy - sx * sy AS DOUBLE)"
            "    / CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE))"
            "   * CAST(sx AS DOUBLE)) / (CAST(bn AS DOUBLE) * 1048576.0D)"
        ).alias("log2_k"),
        F.expr(
            "(CAST(bn * sxy - sx * sy AS DOUBLE)"
            " * CAST(bn * sxy - sx * sy AS DOUBLE))"
            " / (CAST(nullif(bn * sxx - sx * sx, 0) AS DOUBLE)"
            "    * CAST(nullif(bn * syy - sy * sy, 0) AS DOUBLE))"
        ).alias("r2"),
    )


# --- boilerplate prefix detection ---------------------------------------------

BOILERPLATE_ORACLE = f"""
WITH pf AS (
    SELECT source, substr({NORM}, 1, 32) AS prefix
    FROM documents
),
src_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM pf GROUP BY source),
grp AS (
    SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_pref
    FROM pf GROUP BY source, prefix
),
top AS (
    SELECT source, prefix, n_pref,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_pref DESC, prefix) AS rn
    FROM grp
)
SELECT t.source, t.prefix, t.n_pref, s.n_docs,
       CAST(t.n_pref AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS mass_share,
       t.n_pref * 20 > s.n_docs AS boilerplate_flag
FROM top t JOIN src_n s ON s.source = t.source
WHERE t.rn = 1
ORDER BY t.source
"""


@register("boilerplate_prefix_mass", BOILERPLATE_ORACLE)
def q_boilerplate_prefix_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection per source: the most frequent
    32-char normalised document prefix, its document count and mass
    share, and a >5% flag (integer cross-multiplied, n_pref*20 > n_docs,
    so no float threshold) — the C4-style curation signal for
    'this source is full of templated pages' that length/repetition
    rules (quality_rules, intra_doc_repetition) miss because each
    templated doc is individually fine.

    Scale: one narrow scan -> two keyed aggregates; the per-source
    top-1 is a partitioned row_number over the (source, prefix)
    aggregate (bounded by distinct prefixes per source, with the
    hottest prefixes exactly the ones that collapse hardest under the
    groupBy's map-side combine). Reference tie-in: W4/W5 normalise +
    W7 per-key count (src/word_count.rs:63-118)."""
    from amorphous_mapreduce_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    pf = docs.select(
        "source", F.substring(normalize_text(), 1, 32).alias("prefix")
    )
    src_n = pf.groupBy("source").agg(F.count("*").alias("n_docs"))
    grp = pf.groupBy("source", "prefix").agg(F.count("*").alias("n_pref"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.desc("n_pref"), F.asc("prefix")
    )
    top = grp.select(
        "source", "prefix", "n_pref", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    return (
        top.join(F.broadcast(src_n), "source")
        .select(
            "source",
            "prefix",
            "n_pref",
            "n_docs",
            (
                F.col("n_pref").cast("double") / F.col("n_docs").cast("double")
            ).alias("mass_share"),
            (F.col("n_pref") * 20 > F.col("n_docs")).alias("boilerplate_flag"),
        )
        .orderBy("source")
    )


# --- content-defined chunking (rolling-hash boundaries) ------------------------

# Storage-dedup / RAG chunking: boundaries where the rolling 4-gram hash
# is ≡ 0 (mod 64) — expected chunk ~64 tokens, and boundaries SURVIVE
# local edits (insertions shift fixed-size chunk grids but not
# content-defined cuts). Chunk statistics per source; hash is the
# portable MD5-derived integer so both engines cut identically.
CDC_ORACLE = (
    "WITH "
    + TOKS_CTE
    + """
, grams AS (
    SELECT id, pos,
           word || ' ' || lead(word, 1) OVER w || ' '
                || lead(word, 2) OVER w || ' ' || lead(word, 3) OVER w
               AS gram,
           lead(word, 3) OVER w AS last3
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
),
cuts AS (
    SELECT id, pos FROM grams
    WHERE last3 IS NOT NULL
      AND CAST('0x' || substr(md5('cdc:' || gram), 1, 15) AS BIGINT)
          % 64 = 0
    UNION
    SELECT id, 1 FROM toks GROUP BY id
),
dl AS (SELECT id, MAX(pos) AS l FROM toks GROUP BY id),
lens AS (
    SELECT c.id,
           COALESCE(lead(c.pos) OVER (PARTITION BY c.id ORDER BY c.pos),
                    dl.l + 1) - c.pos AS len
    FROM cuts c JOIN dl ON dl.id = c.id
)
SELECT d.source,
       CAST(COUNT(DISTINCT lens.id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(len) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(len) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS avg_chunk_tokens,
       CAST(MAX(len) AS BIGINT) AS max_chunk_tokens
FROM lens JOIN documents d ON d.doc_id = lens.id
GROUP BY d.source
ORDER BY d.source
"""
)


@register("content_defined_chunks", CDC_ORACLE)
def q_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking statistics per source: cut a document
    wherever the rolling 4-gram hash ≡ 0 (mod 64) — the storage-dedup /
    RAG chunker whose boundaries survive local edits (a fixed-size grid
    like doc_chunks shifts every boundary after an insertion; a
    content-defined cut moves only the one chunk that changed, which is
    what makes chunk-level dedup across near-identical docs work).
    Emits per-source chunk count, exact mean length (one division) and
    max — the numbers that size a chunk store.

    Determinism: the boundary predicate is the portable MD5-derived
    60-bit hash mod 64 (non-negative, so `%` agrees engine-to-engine);
    cut positions are 1-based on BOTH engines (the posexplode-vs-
    generate_subscripts off-by-one gotcha, normalised here).

    Scale: one tokenize pass, all windows PARTITIONED by doc (lead-4
    gram build + one lead over each doc's cut rows); per-source rollup
    is a keyed aggregate. total_tokens == sum of doc lengths is a
    built-in conservation audit. Reference tie-in: W3-W5 tokenize
    pipeline (src/word_count.rs:63-95) under a rolling-hash head."""
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from amorphous_mapreduce_spark.operators.dedup import tokenized
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs).select(
        "id", (F.col("pos") + 1).alias("pos"), "word"
    )
    w = Window.partitionBy("id").orderBy("pos")
    grams = toks.select(
        "id",
        "pos",
        F.concat_ws(
            " ",
            F.col("word"),
            F.lead("word", 1).over(w),
            F.lead("word", 2).over(w),
            F.lead("word", 3).over(w),
        ).alias("gram"),
        F.lead("word", 3).over(w).alias("last3"),
    )
    bcuts = grams.filter(
        F.col("last3").isNotNull()
        & (
            F.pmod(
                hex_hash64(F.concat(F.lit("cdc:"), F.col("gram"))), F.lit(64)
            )
            == 0
        )
    ).select("id", "pos")
    starts = toks.groupBy("id").agg(F.lit(1).alias("pos"))
    cuts = bcuts.unionByName(starts).distinct()
    dl = toks.groupBy("id").agg(F.max("pos").alias("l"))
    wc = Window.partitionBy("id").orderBy("pos")
    lens = cuts.join(dl, "id").select(
        "id",
        (
            F.coalesce(F.lead("pos").over(wc), F.col("l") + 1) - F.col("pos")
        ).alias("len"),
    )
    src = docs.select(F.col("doc_id").alias("id"), "source")
    return (
        lens.join(F.broadcast(src), "id")
        .groupBy("source")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("len").alias("total_tokens"),
            (
                F.sum("len").cast("double") / F.count("*").cast("double")
            ).alias("avg_chunk_tokens"),
            F.max("len").alias("max_chunk_tokens"),
        )
        .orderBy("source")
    )


# --- duplicated-n-gram token coverage (the Lee et al. dedup diagnostic) ------

# What fraction of each source's TOKENS sits inside a verbatim 6-gram
# that also appears in ANOTHER document? ("Deduplicating Training Data
# Makes Language Models Better" measures exactly this before/after
# dedup.) 6 tokens: the 31-word vocab makes shorter grams collide by
# chance (31^3 ~ 3e4 << corpus grams), while 6-gram space (~9e8) leaves
# only true near-dup copies — same length cross_source_leakage uses.
_DNC_N = 6

DNC_ORACLE = (
    "WITH "
    + toks_cte()
    + f"""
, grams AS (
    SELECT id, pos,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
                || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w
                || ' ' || lead(word, 5) OVER w AS gram,
           lead(word, {_DNC_N - 1}) OVER w AS lastw
    FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
),
g AS (SELECT id, pos, gram FROM grams WHERE lastw IS NOT NULL),
dup AS (
    SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT id) >= 2
),
cov AS (
    SELECT DISTINCT g.id, u.p
    FROM g JOIN dup USING (gram)
    CROSS JOIN LATERAL (
        SELECT unnest(generate_series(g.pos, g.pos + {_DNC_N - 1})) AS p
    ) u
),
per_doc AS (
    SELECT t.id, COUNT(*) AS n_tok FROM toks t GROUP BY t.id
),
per_cov AS (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS covered FROM cov GROUP BY id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(c.covered, 0)) AS BIGINT) AS covered_tokens,
       CAST(SUM(COALESCE(c.covered, 0)) AS DOUBLE) / SUM(p.n_tok)
           AS coverage
FROM per_doc p
JOIN documents d ON d.doc_id = p.id
LEFT JOIN per_cov c ON c.id = p.id
GROUP BY d.source
ORDER BY d.source
"""
)


@register("duplicate_ngram_coverage", DNC_ORACLE)
def q_duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-6-gram token coverage per source: the share of token
    positions lying inside a verbatim 6-gram that appears in >= 2
    distinct documents — the standard corpus-contamination diagnostic a
    dedup pass is judged by (complements dedup_storage_savings, which
    counts whole-doc copies only).

    Determinism: gram df and covered-position counts are integers; ONE
    double division per source. Scale: one 6-token window pass
    (partitioned by doc), one gram-keyed distinct-doc aggregate, and a
    6-row position explode PER DUPLICATED GRAM INSTANCE (linear in dup
    mass, never pairwise — no df cap needed, unlike pair joins); the
    distinct (id, pos) collapse bounds double counting."""
    from amorphous_mapreduce_spark.operators.dedup import (
        shingle_grams,
        word_array,
    )

    docs = load_table(spark, sf_dir, "documents")
    # grams via per-row array math (round 8, guide §2.4): posexplode of
    # the gram array yields the IDENTICAL (id, pos, gram) rows the
    # lead()-window form produced (gram index == 0-based start-token
    # position), without the (id, pos) sort shuffle.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    g = (
        docs.repartition(nparts)
        .select(F.col("doc_id").alias("id"), word_array().alias("_ws"))
        .select(
            "id",
            F.posexplode(shingle_grams(F.col("_ws"), _DNC_N)).alias(
                "pos", "gram"
            ),
        )
        .persist()  # gram-df aggregate AND the dup join both read it
    )
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    cov = (
        g.join(dup, "gram")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(_DNC_N - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("covered"))
    )
    # n_tok per row (no explode/groupBy); the >=1 filter preserves the
    # original semantics (0-token docs never produced token rows, so the
    # window form excluded them from per-source n_docs).
    per_doc = docs.select(
        F.col("doc_id").alias("id"),
        F.size(word_array()).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") >= 1)
    joined = (
        per_doc.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .join(cov, "id", "left")
        .select(
            "source",
            "n_tok",
            F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("covered"),
        )
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("covered").cast("long").alias("covered_tokens"),
            (F.sum("covered").cast("double") / F.sum("n_tok")).alias(
                "coverage"
            ),
        )
        .orderBy("source")
    )


# --- token-budget water-filling across sources -------------------------------

# Allocate a training-token budget B (= half the corpus, data-derived)
# across sources, capping each at its available tokens: the classic
# water-fill min(cap_s, lambda). With caps sorted ascending, a source is
# FULLY taken iff cap_i * (m - i + 1) <= B - prefix_{i-1} (cross-
# multiplied integer test); the remaining budget splits equally with
# truncating division, remainder distributed one token each to the
# first `rem` unfilled sources in sort order — so the allocation is
# exact integers and sums to B EXACTLY (emitted as a proof column).

WATERFILL_ORACLE = (
    "WITH "
    + toks_cte()
    + """
, per AS (
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS cap
    FROM toks t JOIN documents d ON d.doc_id = t.id
    GROUP BY d.source
),
tot AS (
    SELECT CAST(SUM(cap) AS BIGINT) AS total,
           CAST(SUM(cap) AS BIGINT) // 2 AS budget,
           CAST(COUNT(*) AS BIGINT) AS m
    FROM per
),
ranked AS (
    SELECT source, cap,
           ROW_NUMBER() OVER (ORDER BY cap, source) AS i,
           SUM(cap) OVER (ORDER BY cap, source) AS prefix
    FROM per
),
full_flag AS (
    SELECT r.*, t.budget, t.m,
           CASE WHEN r.cap * (t.m - r.i + 1) <= t.budget - (r.prefix - r.cap)
                THEN 1 ELSE 0 END AS is_full
    FROM ranked r CROSS JOIN tot t
),
kk AS (
    SELECT COALESCE(MAX(CASE WHEN is_full = 1 THEN i END), 0) AS k,
           COALESCE(MAX(CASE WHEN is_full = 1 THEN prefix END), 0)
               AS p_k
    FROM full_flag
)
SELECT f.source, f.cap,
       CAST(CASE WHEN f.i <= kk.k THEN f.cap
            ELSE (f.budget - kk.p_k) // (f.m - kk.k)
                 + CASE WHEN f.i - kk.k
                             <= (f.budget - kk.p_k) % (f.m - kk.k)
                        THEN 1 ELSE 0 END
       END AS BIGINT) AS allocated,
       f.i <= kk.k AS fully_taken,
       (SUM(CASE WHEN f.i <= kk.k THEN f.cap
            ELSE (f.budget - kk.p_k) // (f.m - kk.k)
                 + CASE WHEN f.i - kk.k
                             <= (f.budget - kk.p_k) % (f.m - kk.k)
                        THEN 1 ELSE 0 END END) OVER ()
           = MAX(f.budget) OVER ()) AS sums_to_budget
FROM full_flag f CROSS JOIN kk
ORDER BY f.source
"""
)


@register("token_budget_waterfill", WATERFILL_ORACLE)
def q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources (the "give
    every source an equal share, but never more than it has" mixing
    rule): budget = half the corpus, caps = per-source token counts.

    All arithmetic is integer (cross-multiplied fill test, truncating
    equal-share division, one-token remainder distribution in sort
    order), and the output carries a self-auditing `sums_to_budget`
    proof column (the revenue_waterfall pattern). Scale: one keyed
    aggregate over the token stream; everything after is windows over
    the SOURCE-count frame (vocabulary-sized, like pareto_abc_classes'
    prefix-sum template)."""
    from pyspark.sql import Window

    from amorphous_mapreduce_spark.operators.dedup import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenized(docs)
    per = (
        toks.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("cap"))
    )
    tot = per.agg(
        F.sum("cap").cast("long").alias("total"),
        F.expr("CAST(sum(cap) div 2 AS BIGINT)").alias("budget"),
        F.count("*").cast("long").alias("m"),
    )
    w = Window.orderBy("cap", "source")
    ranked = per.select(
        "source",
        "cap",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("cap").over(w).cast("long").alias("prefix"),
    )
    ff = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "is_full",
        (
            F.col("cap") * (F.col("m") - F.col("i") + 1)
            <= F.col("budget") - (F.col("prefix") - F.col("cap"))
        ).cast("int"),
    )
    kk = ff.agg(
        F.coalesce(
            F.max(F.when(F.col("is_full") == 1, F.col("i"))), F.lit(0)
        )
        .cast("long")
        .alias("k"),
        F.coalesce(
            F.max(F.when(F.col("is_full") == 1, F.col("prefix"))), F.lit(0)
        )
        .cast("long")
        .alias("p_k"),
    )
    j = ff.crossJoin(F.broadcast(kk))
    share = F.expr("CAST((budget - p_k) div (m - k) AS BIGINT)")
    rem = F.expr("CAST((budget - p_k) % (m - k) AS BIGINT)")
    alloc = F.when(F.col("i") <= F.col("k"), F.col("cap")).otherwise(
        share + F.when(F.col("i") - F.col("k") <= rem, 1).otherwise(0)
    )
    wall = Window.partitionBy()
    out = j.select(
        "source",
        "cap",
        alloc.cast("long").alias("allocated"),
        (F.col("i") <= F.col("k")).alias("fully_taken"),
        "budget",
    )
    return out.select(
        "source",
        "cap",
        "allocated",
        "fully_taken",
        (
            F.sum("allocated").over(wall) == F.max("budget").over(wall)
        ).alias("sums_to_budget"),
    ).orderBy("source")


# --- T5-style span-corruption manifest ---------------------------------------

_SC_H = (
    "CAST('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(p AS VARCHAR)), 1, 15) AS BIGINT)"
)

SPAN_CORRUPTION_ORACLE = f"""
WITH base AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
    FROM documents
),
pos AS (
    SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS p FROM base
),
spans AS (
    SELECT doc_id, n, p,
           CASE WHEN {_SC_H} % 20 = 0
                THEN 1 + ({_SC_H} // 20) % 5 ELSE 0 END AS sl
    FROM pos
),
cov AS (
    SELECT doc_id, n, p,
           GREATEST(
               CASE WHEN sl > 0 THEN 1 ELSE 0 END,
               CASE WHEN LAG(sl, 1, 0) OVER w > 1 THEN 1 ELSE 0 END,
               CASE WHEN LAG(sl, 2, 0) OVER w > 2 THEN 1 ELSE 0 END,
               CASE WHEN LAG(sl, 3, 0) OVER w > 3 THEN 1 ELSE 0 END,
               CASE WHEN LAG(sl, 4, 0) OVER w > 4 THEN 1 ELSE 0 END
           ) AS covered
    FROM spans
    WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
isl AS (
    SELECT doc_id, n, covered,
           CASE WHEN covered = 1
                 AND LAG(covered, 1, 0)
                     OVER (PARTITION BY doc_id ORDER BY p) = 0
                THEN 1 ELSE 0 END AS island_start
    FROM cov
)
SELECT doc_id,
       MAX(n) AS n_tokens,
       CAST(SUM(covered) AS BIGINT) AS n_masked,
       CAST(SUM(island_start) AS BIGINT) AS n_spans,
       CAST(MAX(n) - SUM(covered) + SUM(island_start) AS BIGINT)
           AS corrupted_len,
       CAST((1000 * CAST(SUM(covered) AS BIGINT)) // MAX(n) AS BIGINT)
           AS masked_permille
FROM isl
GROUP BY doc_id
ORDER BY doc_id
"""


@register("span_corruption_manifest", SPAN_CORRUPTION_ORACLE)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style denoising-objective manifest: per document, mask
    deterministic token spans (a position starts a span with p=1/20 via
    the portable MD5 hash; span length 1..5, mean 3 -> ~15% of tokens
    masked) and report the corruption accounting a seq2seq training
    pipeline needs — tokens masked, merged sentinel spans (overlapping
    spans coalesce into one sentinel, the interval-islands rule), and
    the corrupted sequence length n - masked + sentinels.

    Engine-exactness: coverage at position p is the OR of five LAG
    terms (a span of length L started j<=4 positions back covers p iff
    L > j) — pure integer window arithmetic, no span self-join; island
    starts are covered-AND-NOT-prev; every output is an integer
    (masked_permille by integer div).

    Scale: one narrow scan of documents, positions exploded per doc
    (bounded by doc length), per-doc windows shuffle on doc_id only —
    linear in corpus tokens, the same budget as tokenization itself.
    """
    from pyspark.sql import Window

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    base = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
    )
    pos = base.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n") - F.lit(1).cast("long"))
        ).alias("p"),
    )
    h = hex_hash64(
        F.concat(
            F.lit("sc:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("p").cast("string"),
        )
    )
    spans = pos.withColumn("h", h).select(
        "doc_id",
        "n",
        "p",
        F.expr(
            "CASE WHEN h % 20 = 0 THEN CAST(1 + (h div 20) % 5 AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("sl"),
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    cov = spans.select(
        "doc_id",
        "n",
        "p",
        F.greatest(
            F.when(F.col("sl") > 0, 1).otherwise(0),
            *[
                F.when(F.lag("sl", j, 0).over(w) > j, 1).otherwise(0)
                for j in (1, 2, 3, 4)
            ],
        ).alias("covered"),
    )
    isl = cov.select(
        "doc_id",
        "n",
        "covered",
        F.when(
            (F.col("covered") == 1) & (F.lag("covered", 1, 0).over(w) == 0), 1
        )
        .otherwise(0)
        .alias("island_start"),
    )
    agg = isl.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        F.sum("covered").alias("n_masked"),
        F.sum("island_start").alias("n_spans"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        (F.col("n_tokens") - F.col("n_masked") + F.col("n_spans")).alias(
            "corrupted_len"
        ),
        F.expr("(1000 * n_masked) div n_tokens").alias("masked_permille"),
    ).orderBy("doc_id")


# --- epoch-shard mixing (shuffle-quality) audit --------------------------------

SHARD_MIX_ORACLE = f"""
WITH placed AS (
    SELECT doc_id AS id, source,
           {_SHARD_HASH} % 8 AS shard_id,
           {_SHARD_HASH} AS h
    FROM documents
),
adj AS (
    SELECT shard_id, source,
           LAG(source) OVER (PARTITION BY shard_id ORDER BY h, id) AS prev
    FROM placed
),
runs AS (
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN source = prev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_adjacent_same
    FROM adj GROUP BY shard_id
),
expect AS (
    SELECT shard_id, CAST(SUM(c * (c - 1)) AS BIGINT) AS pairs_same
    FROM (SELECT shard_id, source, CAST(COUNT(*) AS BIGINT) AS c
          FROM placed GROUP BY shard_id, source)
    GROUP BY shard_id
)
SELECT r.shard_id, r.n_docs, r.n_adjacent_same,
       CAST((1000000 * r.n_adjacent_same) // GREATEST(r.n_docs - 1, 1)
            AS BIGINT) AS same_ppm,
       CAST((1000000 * e.pairs_same)
            // GREATEST(r.n_docs * (r.n_docs - 1), 1)
            AS BIGINT) AS expected_ppm
FROM runs r JOIN expect e USING (shard_id)
ORDER BY r.shard_id
"""


@register("shard_mixing_audit", SHARD_MIX_ORACLE)
def q_shard_mixing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit of the epoch-0 training shards: per shard,
    the rate of ADJACENT same-source documents in the shard's read
    order (hash order — epoch_shard_manifest's layout) vs the
    expectation under a uniformly random order (Σ c_s(c_s-1) / n(n-1)).
    A pipeline whose shard order clusters sources feeds correlated
    batches; hash order should sit at the random baseline — this query
    is the proof, emitted as data.

    Exactness: pure integer counts and two integer divisions (ppm).
    Scale: one scan -> per-shard window (shuffle on shard only) + one
    (shard, source) aggregate; both branches re-read the placed frame,
    so it is persist()ed (CLAUDE.md self-join rule).
    """
    from pyspark.sql import Window

    placed = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("id"),
            "source",
            hex_hash64(
                F.concat(F.lit("ep0:"), F.col("doc_id").cast("string"))
            ).alias("h"),
        )
        .withColumn("shard_id", F.col("h") % 8)
        .persist()
    )
    w = Window.partitionBy("shard_id").orderBy("h", "id")
    runs = (
        placed.select(
            "shard_id",
            "source",
            F.lag("source").over(w).alias("prev"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("source") == F.col("prev"), 1).otherwise(0)
            ).alias("n_adjacent_same"),
        )
    )
    expect = (
        placed.groupBy("shard_id", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("shard_id")
        .agg(F.sum(F.expr("c * (c - 1)")).alias("pairs_same"))
    )
    return (
        runs.join(expect, "shard_id")
        .select(
            "shard_id",
            "n_docs",
            "n_adjacent_same",
            F.expr(
                "(1000000 * n_adjacent_same) div GREATEST(n_docs - 1, 1)"
            ).alias("same_ppm"),
            F.expr(
                "(1000000 * pairs_same)"
                " div GREATEST(n_docs * (n_docs - 1), 1)"
            ).alias("expected_ppm"),
        )
        .orderBy("shard_id")
    )


# --- inference prefix-cache hit-rate audit --------------------------------------

PREFIX_CACHE_ORACLE = """
WITH pref AS (
    SELECT doc_id, k.k,
           array_to_string(string_split(text, ' ')[1:k.k], ' ') AS prefix,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents CROSS JOIN (SELECT unnest([4, 8, 16]) AS k) k
    WHERE len(string_split(text, ' ')) >= k.k
),
firsts AS (
    SELECT k, prefix, MIN(doc_id) AS first_id,
           CAST(COUNT(*) AS BIGINT) AS grp_n
    FROM pref GROUP BY k, prefix
)
SELECT p.k AS prefix_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT p.prefix) AS BIGINT) AS distinct_prefixes,
       CAST(SUM(CASE WHEN p.doc_id > f.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST((1000000 * SUM(CASE WHEN p.doc_id > f.first_id THEN 1 ELSE 0
                           END)) // COUNT(*) AS BIGINT) AS hit_ppm,
       CAST(SUM(CASE WHEN p.doc_id > f.first_id THEN p.k ELSE 0 END)
            AS BIGINT) AS cached_tokens_served
FROM pref p JOIN firsts f ON f.k = p.k AND f.prefix = p.prefix
GROUP BY p.k
ORDER BY prefix_tokens
"""


@register("prefix_cache_hits", PREFIX_CACHE_ORACLE)
def q_prefix_cache_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference prefix-cache economics: for prefix lengths k in
    {4, 8, 16} tokens, how many requests (documents, id order standing
    in for arrival order) would HIT a prefix cache warmed by an earlier
    request with the identical k-token prefix — plus the total cached
    tokens served (the KV-recompute the cache saves). The serving-side
    twin of boilerplate_prefix_mass (which measures corpus redundancy;
    this prices the cache).

    Exactness: pure string-prefix grouping and integer counts; the
    'earlier' rule is MIN(doc_id) per (k, prefix) — a pure function of
    the corpus. Scale: one scan x3 constant k levels, grouped on the
    prefix key (hash-shuffled, no skew beyond true prefix popularity —
    exactly the phenomenon being measured).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("k")
    )
    pref = (
        docs.crossJoin(F.broadcast(ks))
        .filter(F.size(F.split(F.col("text"), " ")) >= F.col("k"))
        .select(
            "doc_id",
            "k",
            F.expr(
                "array_join(slice(split(text, ' '), 1, k), ' ')"
            ).alias("prefix"),
        )
        .persist()  # fed to BOTH the firsts aggregate and the probe join:
        # without persist each branch re-expands the 3x document-scan
        # lineage (the distributed_prefix_sum self-join lesson)
    )
    firsts = pref.groupBy("k", "prefix").agg(
        F.min("doc_id").alias("first_id")
    )
    return (
        pref.join(firsts, ["k", "prefix"])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("prefix").cast("long").alias("distinct_prefixes"),
            F.sum(F.when(F.col("doc_id") > F.col("first_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN doc_id > first_id THEN 1"
                " ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("hit_ppm"),
            F.sum(
                F.when(F.col("doc_id") > F.col("first_id"), F.col("k"))
                .otherwise(0)
            )
            .cast("long")
            .alias("cached_tokens_served"),
        )
        .select(
            F.col("k").cast("long").alias("prefix_tokens"),
            "n_docs",
            "distinct_prefixes",
            "n_hits",
            "hit_ppm",
            "cached_tokens_served",
        )
        .orderBy("prefix_tokens")
    )


# --- paged-KV block-cache depth curve ----------------------------------------

# Paged-attention prefix caching (vLLM) reuses KV cache at BLOCK
# granularity: a request reuses cached blocks while its token prefix
# matches a previously-seen prefix, block by block. For block size 8 and
# depths b = 1..8, a document "hits" at depth b when an EARLIER document
# (smaller doc_id, id order standing in for arrival order) shares its
# first 8*b tokens exactly. The depth curve prices how much KV recompute
# a block cache saves — the block-granular sibling of prefix_cache_hits
# (which measures fixed word-count prefixes); here the key is the FULL
# prefix chain, so a depth-b hit implies depths 1..b-1 also hit
# (monotone curve, asserted by construction).
KV_BLOCK = 8
KV_MAX_DEPTH = 8

KV_BLOCK_ORACLE = f"""
WITH pref AS (
    SELECT doc_id, b.b,
           md5(array_to_string(string_split(text, ' ')[1:{KV_BLOCK} * b.b],
               ' ')) AS chain_key
    FROM documents
    CROSS JOIN (SELECT unnest(generate_series(1, {KV_MAX_DEPTH})) AS b) b
    WHERE len(string_split(text, ' ')) >= {KV_BLOCK} * b.b
),
firsts AS (
    SELECT b, chain_key, MIN(doc_id) AS first_id
    FROM pref GROUP BY b, chain_key
)
SELECT p.b AS depth_blocks,
       CAST(COUNT(*) AS BIGINT) AS n_requests,
       CAST(COUNT(DISTINCT p.chain_key) AS BIGINT) AS distinct_chains,
       CAST(SUM(CASE WHEN p.doc_id > f.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN p.doc_id > f.first_id THEN {KV_BLOCK} ELSE 0 END)
            AS BIGINT) AS cached_tokens_at_depth
FROM pref p JOIN firsts f ON f.b = p.b AND f.chain_key = p.chain_key
GROUP BY p.b
ORDER BY depth_blocks
"""


@register("kv_block_cache_curve", KV_BLOCK_ORACLE)
def q_kv_block_cache_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paged-KV block-cache economics: for block depths 1..8 (block =
    8 tokens), how many requests would reuse a cached block chain warmed
    by an earlier request with the identical token prefix, and the KV
    tokens served from cache at each depth — the depth curve that sizes
    a vLLM-style prefix cache before an inference rollout.

    Exactness: chain keys are md5 of the literal prefix text (no
    normalisation — KV reuse requires byte-identical prefixes); counts
    are integers; 'earlier' is MIN(doc_id) per (depth, chain).

    Scale: one scan fanned x<=8 constant depth levels (bounded by each
    doc's own length), grouped on the chain-key hash — the same shape
    as prefix_cache_hits, with the shared fan-out frame persisted for
    its two consumers (firsts aggregate + probe join)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bs = spark.range(1, KV_MAX_DEPTH + 1).select(F.col("id").cast("int").alias("b"))
    pref = (
        docs.crossJoin(F.broadcast(bs))
        .filter(
            F.size(F.split(F.col("text"), " ")) >= F.lit(KV_BLOCK) * F.col("b")
        )
        .select(
            "doc_id",
            "b",
            F.md5(
                F.expr(
                    f"array_join(slice(split(text, ' '), 1, {KV_BLOCK} * b), ' ')"
                )
            ).alias("chain_key"),
        )
        .persist()  # firsts aggregate + probe join (self-join rule)
    )
    firsts = pref.groupBy("b", "chain_key").agg(
        F.min("doc_id").alias("first_id")
    )
    return (
        pref.join(firsts, ["b", "chain_key"])
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_requests"),
            F.countDistinct("chain_key").cast("long").alias("distinct_chains"),
            F.sum(
                F.when(F.col("doc_id") > F.col("first_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
            F.sum(
                F.when(
                    F.col("doc_id") > F.col("first_id"), F.lit(KV_BLOCK)
                ).otherwise(0)
            )
            .cast("long")
            .alias("cached_tokens_at_depth"),
        )
        .select(
            F.col("b").cast("long").alias("depth_blocks"),
            "n_requests",
            "distinct_chains",
            "n_hits",
            "cached_tokens_at_depth",
        )
        .orderBy("depth_blocks")
    )
