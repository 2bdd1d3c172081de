"""Corpus-level statistics and layout operators for training-data prep.

The reference computes per-key token statistics with its map/combine
word-count pipeline (src/word_count.rs:99-123); these operators apply the
same partial-agg shape to the corpus-management questions a pretraining
pipeline asks: how do I shard an epoch deterministically, how fast does
the vocabulary grow, how "rare" is each document's vocabulary, and which
new documents duplicate the existing corpus.

Scale notes (100 TB):
- epoch sharding is a stateless hash assignment plus ONE keyed window
  per shard — no global sort, no driver state; shard count is the only
  knob and each shard's row_number is an independent partition.
- vocabulary growth uses the explode-contribution trick (each word
  contributes a row to every bucket at-or-after its first appearance)
  so the cumulative curve is a plain keyed aggregate, not a global
  running window; fanout is bounded by n_buckets (default 10).
- rarity joins token occurrences to the document-frequency table on the
  word key: one row matches one row, so hot words add no fanout.
- incremental dedup anti-joins new content digests against the prior
  corpus digest set — uniform MD5 keys, one shuffle each side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64, md5_hex
from amorphous_mapreduce_spark.operators.dedup import normalize_text, tokenized


def epoch_shards(docs: DataFrame, n_shards: int = 8, epoch: int = 0) -> DataFrame:
    """Deterministic epoch shuffle + shard manifest: [id, shard_id, pos].

    A training run needs every document exactly once per epoch, in an
    order that (a) differs between epochs, (b) is reproducible from the
    (epoch, id) pair alone. Hash placement gives both: shard_id and the
    within-shard order derive from md5("ep<epoch>:" || id), so adding
    workers never reorders data, and no global sort exists anywhere —
    the only window is per-shard (keyed).
    """
    h = hex_hash64(F.concat(F.lit(f"ep{epoch}:"), F.col("doc_id").cast("string")))
    base = docs.select(F.col("doc_id").alias("id"), h.alias("h"))
    w = Window.partitionBy("shard_id").orderBy(F.asc("h"), F.asc("id"))
    return (
        base.withColumn("shard_id", F.col("h") % F.lit(n_shards))
        .withColumn("pos", F.row_number().over(w))
        .select("id", "shard_id", "pos")
    )


def vocab_growth(docs: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Heaps-law vocabulary growth: [bucket, new_words, vocab_size].

    Documents are assigned to ``n_buckets`` equal id-ranges (integer
    arithmetic — no float bucketing drift); each distinct word's first
    bucket marks when it entered the vocabulary. The cumulative curve is
    computed by exploding each word into every bucket >= its first
    appearance and counting per bucket — a keyed aggregate instead of an
    unpartitioned running-total window.
    """
    toks = tokenized(docs)
    n = docs.agg((F.max("doc_id") + F.lit(1)).alias("_n"))
    first = (
        toks.select("id", "word")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(f"CAST(id * {n_buckets} div _n AS BIGINT)").alias("bucket"),
            "word",
        )
        .groupBy("word")
        .agg(F.min("bucket").alias("first_b"))
    )
    contrib = first.select(
        "first_b",
        F.explode(F.sequence(F.col("first_b"), F.lit(n_buckets - 1))).alias("bucket"),
    )
    return (
        contrib.groupBy("bucket")
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum(F.when(F.col("bucket") == F.col("first_b"), 1).otherwise(0)).alias(
                "new_words"
            ),
        )
        .select("bucket", "new_words", "vocab_size")
    )


def doc_rarity(docs: DataFrame) -> DataFrame:
    """Vocabulary-rarity score per doc: [id, n_tokens, sum_df, rarity].

    rarity = mean corpus document-frequency of the doc's token
    occurrences; low = rare vocabulary (specialist text), high = stopword
    soup. Deliberately rational-form (integer df sums, ONE double
    division) so the score is bit-identical across engines — the same
    curation signal as a unigram-LM log-probability without the
    cross-engine transcendental risk.
    """
    toks = tokenized(docs).select("id", "word").persist()
    dfreq = toks.groupBy("word").agg(F.countDistinct("id").alias("df"))
    return (
        toks.join(dfreq, "word")
        .groupBy("id")
        .agg(F.count("*").alias("n_tokens"), F.sum("df").alias("sum_df"))
        .select(
            "id",
            "n_tokens",
            "sum_df",
            (F.col("sum_df").cast("double") / F.col("n_tokens").cast("double")).alias(
                "rarity"
            ),
        )
    )


def incremental_exact_dedup(new_docs: DataFrame, old_docs: DataFrame) -> DataFrame:
    """Dedup an incoming batch against an existing corpus:
    [id, content_hash, dup_of, is_dup].

    The incremental form of exact dedup (operators.dedup.exact_dedup):
    the corpus side collapses to one (digest -> min id) row per distinct
    content, then a left join marks each new document. is_dup is an int
    flag (0/1) so the driver's value hash is engine-stable.
    """
    digest = md5_hex(normalize_text())
    old = (
        old_docs.select(digest.alias("content_hash"), F.col("doc_id").alias("_oid"))
        .groupBy("content_hash")
        .agg(F.min("_oid").alias("dup_of"))
    )
    new = new_docs.select(F.col("doc_id").alias("id"), digest.alias("content_hash"))
    return new.join(old, "content_hash", "left").select(
        "id",
        "content_hash",
        "dup_of",
        F.when(F.col("dup_of").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list,
    cum_col: str = "cum",
    rank_col: str = "rank",
) -> DataFrame:
    """Global running sum + dense rank over a total order, WITHOUT a
    single-partition window.

    Classic two-phase scan: (1) range-sort (Spark's orderBy — a parallel
    total sort), stamp each row with its physical partition id; (2) a
    per-partition window computes local prefix sums; (3) per-partition
    totals (O(#partitions) rows, bounded by the cluster not the data)
    are offset-merged with one tiny window and broadcast back. The
    result is invariant to where the range partitioner cuts because
    integer addition is associative and the partition order respects the
    sort order.

    Output: input columns + [rank_col, cum_col] (both BIGINT).
    """
    ordered = df.orderBy(*order_cols).withColumn("_pid", F.spark_partition_id())
    wp = Window.partitionBy("_pid").orderBy(*order_cols)
    part = ordered.select(
        "*",
        F.sum(value_col)
        .over(wp.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cum_local"),
        F.row_number().over(wp).alias("_rn_local"),
    )
    # CRITICAL: both the offset aggregate and the final probe side read
    # `part`. Without pinning one materialisation, the two evaluations
    # can range-partition differently (AQE/sampled split points), and the
    # _pid-keyed offsets then describe a DIFFERENT layout than the local
    # sums they're joined to — silently wrong prefix sums (caught by
    # wasserstein_price_segments' dense ~500k-row grid; the smaller
    # vocab-scale inputs happened to partition identically).
    part = part.persist()
    totals = part.groupBy("_pid").agg(
        # the partition TOTAL is the sum of the raw values — NOT
        # max(_cum_local), which only equals the total when every value
        # is non-negative (signed deltas, e.g. the Wasserstein CDF
        # difference, made that shortcut silently wrong)
        F.sum(value_col).alias("_psum"),
        F.max("_rn_local").alias("_pcnt"),
    )
    # Offset merge: one window over O(#partitions) rows — bounded by the
    # cluster size, never by data volume.
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_psum").over(wo), F.lit(0)).alias("_cum_off"),
        F.coalesce(F.sum("_pcnt").over(wo), F.lit(0)).alias("_rn_off"),
    )
    return (
        part.join(F.broadcast(offsets), "_pid")
        .select(
            *[c for c in df.columns],
            (F.col("_rn_local") + F.col("_rn_off")).cast("long").alias(rank_col),
            (F.col("_cum_local") + F.col("_cum_off")).cast("long").alias(cum_col),
        )
    )


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """[threshold_pct, vocab_k, tokens_covered]: smallest vocabulary
    (by corpus frequency, ties broken by word) covering each percentage
    of all token occurrences — the tokenizer-sizing curve.

    The cumulative frequency curve runs through distributed_prefix_sum
    (range sort + partials + bounded offset merge), so the unbounded
    vocabulary dimension never funnels through one task. Thresholds and
    the 1-row token total are broadcast; the crossing point per
    threshold is MIN(rank) (cum is strictly increasing, so MIN(cum) is
    the matching coverage).
    """
    spark = docs.sparkSession
    counts = tokenized(docs).groupBy("word").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    ranked = distributed_prefix_sum(
        counts, "cnt", [F.desc("cnt"), F.asc("word")]
    )
    thr = spark.range(1).select(
        F.explode(F.array(*[F.lit(int(t)) for t in (50, 90, 99)])).alias(
            "threshold_pct"
        )
    )
    return (
        ranked.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cum") * 100 >= F.col("threshold_pct") * F.col("n_total"))
        .groupBy("threshold_pct")
        .agg(
            F.min("rank").alias("vocab_k"),
            F.min("cum").alias("tokens_covered"),
        )
    )
