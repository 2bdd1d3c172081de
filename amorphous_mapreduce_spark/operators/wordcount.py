"""Word count: the reference's first MapReduce pipeline, Spark-first.

Reference semantics (src/word_count.rs):
  W1 scan          read_file line batches            -> spark.read.text / documents.text
  W3 tokenize      split_whitespace (:99)            -> split(col, '\\s+') + explode
  W4 lowercase     to_lowercase (:102)               -> lower()
  W5 punct strip   retain(c != ',' && c != '.') (:103) -> regexp_replace('[,.]', '')
  W6 hash shuffle  last-char % R binning (:104-105)  -> groupBy's hash shuffle (key->one
                   (panics on empty tokens — we        partition is the only semantic;
                   filter length>0 instead)            exact bin fn is placement detail)
  W7 per-key count HashMap entry += 1 (:121-123)     -> groupBy(word).count()
  W8 disjoint merge scoreboard.extend (:126)         -> already global (partial+final agg)

Scale notes: the whole pipeline is one narrow chain + one hash-partitioned
aggregate with map-side partial aggregation (Spark HashAggregate partial ->
exchange -> final), i.e. exactly the reference's mapper-combine + reducer
merge, but with codegen and spill handled by Tungsten. No driver-side state;
scales linearly in input bytes. Skewed keys (stopwords) are mitigated by
partial aggregation — each map task emits at most |vocab| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Exactly the reference's normalisation: strip ',' and '.' only
# (src/word_count.rs:103). Kept as a module constant so oracles match.
PUNCT_CLASS = "[,.]"


def tokens(df: DataFrame, text_col: str) -> DataFrame:
    """Explode ``text_col`` into one normalised token per row (col ``word``).

    Empty tokens are dropped — the reference panics on them
    (unwrap on last char, src/word_count.rs:104); we define the semantics
    as filter-out, mirrored in every oracle.
    """
    # Spread rows before the explode: a small text scan is often a single
    # partition, which would serialise tokenisation onto one core.
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        df.repartition(nparts)
        .select(F.explode(F.split(F.col(text_col), r"\s+")).alias("raw"))
        .select(F.regexp_replace(F.lower(F.col("raw")), PUNCT_CLASS, "").alias("word"))
        .filter(F.length("word") > 0)
    )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-word counts: DataFrame[word: string, cnt: long].

    The groupBy compiles to partial HashAggregate (map-side combine, the
    reference's k-sliced mapper reduction) -> hash exchange (W6 shuffle) ->
    final HashAggregate (W7/W8 reducer merge).
    """
    return tokens(df, text_col).groupBy("word").agg(F.count("*").alias("cnt"))


def word_counts_from_lines(lines: DataFrame) -> DataFrame:
    """Word counts over a text-file scan (DataFrame[value: string])."""
    return word_counts(lines, text_col="value")
