"""Cross-document duplicate-passage detection (exact substring-style dedup).

The suffix-array substring dedup pass of LLM training pipelines (Lee et
al., "Deduplicating Training Data Makes Language Models Better") finds
*verbatim shared token spans* between documents — a strictly stronger
signal than whole-document near-dup. A distributed suffix array is the
wrong tool on Spark; the equivalent keyed-dataflow formulation is:

1. positioned k-token shingles ``[id, pos, sh]`` (one row per token
   position — NOT distinct, unlike ``dedup.shingles``);
2. inverted-index self-join on the shingle hash (sub-quadratic: only
   shingles that actually repeat across docs produce candidates), with a
   document-frequency cap so a degenerate hot shingle cannot go
   quadratic at 100 TB;
3. matches on the same *diagonal* (``pos1 - pos2``) with consecutive
   positions are one shared passage — islands-and-gaps per
   ``(id1, id2, diag)`` keyed window merges them and recovers the exact
   span extent: a run of ``r`` consecutive matching k-shingles is a
   verbatim shared passage of ``r + k - 1`` tokens.

Every stage is keyed (shingle hash, then (id1,id2,diag)); no global
windows, no cartesian. Per-shingle join fanout is bounded by
``max_df**2``; passage windows are bounded by document length.

Reference tie-in: the shingle join is the reference's hash-partition
word-count capability (src/word_count.rs:109-120) applied to n-gram
keys; span merging is per-key ordered reduction (src/word_count.rs:121-127).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.operators.dedup import (
    shingle_grams,
    tokenized,
    word_array,
)


def positioned_shingles(docs: DataFrame, shingle_size: int = 6) -> DataFrame:
    """[id, pos, sh]: k-gram hash at every token position (keeps repeats).

    Same rows as ``dedup.shingles``' construction but position-preserving
    and non-distinct — repeats matter for passage extents. Round 8: grams
    come from per-row array math (posexplode of ``shingle_grams``; gram
    index == 0-based start-token position), not lead() windows — no
    (id, pos) sort shuffle (guide §2.4).
    """
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        docs.repartition(nparts)
        .select(F.col("doc_id").alias("id"), word_array().alias("_ws"))
        .select(
            "id",
            F.posexplode(shingle_grams(F.col("_ws"), shingle_size)).alias(
                "pos", "gram"
            ),
        )
        .select("id", "pos", hex_hash64(F.col("gram")).alias("sh"))
    )


def duplicate_passages(
    docs: DataFrame,
    shingle_size: int = 6,
    min_tokens: int = 12,
    max_df: int = 64,
) -> DataFrame:
    """Verbatim shared passages: [id1, id2, start1, start2, span_tokens].

    One row per maximal shared token run of >= ``min_tokens`` tokens
    between a document pair (id1 < id2); ``start1``/``start2`` are the
    0-based token offsets of the passage in each document. Exact within
    the df cap: shingles appearing in more than ``max_df`` documents are
    excluded from matching (boilerplate that common is near-dup
    territory, not passage extraction; the cap is what bounds join
    fanout at scale — max_df**2 rows per shingle key, ever).
    """
    min_run = min_tokens - shingle_size + 1
    if min_run < 1:
        raise ValueError("min_tokens must be >= shingle_size")

    ps = positioned_shingles(docs, shingle_size)
    # Three consumers (df counts + both join sides) read the shingle
    # table — persist so tokenize+window+md5 runs once, not three times.
    ps = ps.persist()

    # Shingles worth matching: in >=2 docs (others cannot pair) and under
    # the hot-key cap. Left-semi keeps the probe side narrow.
    eligible = (
        ps.groupBy("sh")
        .agg(F.count_distinct("id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("sh")
    )
    keyed = ps.join(eligible, "sh", "leftsemi")

    a = keyed.alias("a")
    b = keyed.alias("b")
    matches = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.pos").alias("pos1"),
            F.col("b.pos").alias("pos2"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )

    # Islands-and-gaps on each diagonal: consecutive pos1 values are one
    # run. (id1,id2,diag,pos1) is unique — a position holds one shingle —
    # so row_number needs no extra tie-break.
    w = Window.partitionBy("id1", "id2", "diag").orderBy("pos1")
    runs = matches.withColumn("grp", F.col("pos1") - F.row_number().over(w))
    return (
        runs.groupBy("id1", "id2", "diag", "grp")
        .agg(
            F.min("pos1").alias("start1"),
            F.min("pos2").alias("start2"),
            (F.count("*") + F.lit(shingle_size - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select("id1", "id2", "start1", "start2", "span_tokens")
    )


def dedup_span_manifest(
    passages: DataFrame,
) -> DataFrame:
    """[id, n_trim_spans, tokens_to_trim]: per-document manifest of the
    token intervals to cut so that each shared passage survives only in
    the earlier document (keep-first policy: id1 < id2, so only id2's
    copy is trimmed).

    Overlapping/touching intervals from different partner documents are
    merged per doc with one keyed islands window (running max of the
    interval end), so a passage shared with many partners is counted
    once. All windows are partitioned by doc id; outputs are integers.
    """
    iv = passages.select(
        F.col("id2").alias("id"),
        F.col("start2").alias("s"),
        (F.col("start2") + F.col("span_tokens")).alias("e"),  # half-open
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.select(
        "id",
        "s",
        "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = marked.select(
        "id",
        "s",
        "e",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = islands.groupBy("id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("id").agg(
        F.count("*").alias("n_trim_spans"),
        F.sum(F.col("me") - F.col("ms")).alias("tokens_to_trim"),
    )
