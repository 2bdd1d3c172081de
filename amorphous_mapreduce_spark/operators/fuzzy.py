"""Fuzzy string matching: edit-distance pairs via lossless q-gram blocking.

The data-cleaning sibling of the shingle dedup family: find value pairs
within a small Levenshtein distance (typos, near-identical product /
entity names) WITHOUT the O(n²) distance matrix. Candidates come from a
character-q-gram inverted index — an equi-join, the same
candidates-then-verify shape as MinHash-LSH (operators/dedup.py) — and
only candidates pay the Levenshtein verification.

Losslessness: an edit operation destroys at most ``q`` q-grams, so two
strings within distance ``d`` share at least
``len - q + 1 - q*d`` q-grams; whenever the shorter string has
``len >= q*(d+1) + 1`` that bound is >= 1 and the gram join finds every
qualifying pair. Shorter strings (they have too few grams to guarantee
overlap) are routed through a brute-force short-block union — bounded by
the number of short values, usually empty.

Scale: |values| is the DISTINCT value count, not row count; the gram
join fans out by gram frequency (stopword-gram capping would bound the
worst case, same knob as jaccard_pairs); Levenshtein runs only on
candidate pairs. Both engines implement identical Wagner-Fischer edit
distance, so results hash-match the brute-force SQL oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DIST = 2  # edit budget
Q = 2  # q-gram length


def fuzzy_pairs(df: DataFrame, value_col: str) -> DataFrame:
    """Distinct value pairs within MAX_DIST edits: [a, b, dist]
    with a < b (each unordered pair once)."""
    names = df.select(F.col(value_col).alias("v")).distinct().persist()
    min_safe = Q * (MAX_DIST + 1) + 1

    grams = names.filter(F.length("v") >= min_safe).select(
        "v",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(v) - {Q} + 1),"
                    f" i -> substring(v, i, {Q}))"
                )
            )
        ).alias("g"),
    )
    long_cand = (
        grams.alias("ga")
        .join(grams.alias("gb"), "g")
        .select(F.col("ga.v").alias("a"), F.col("gb.v").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    # short strings: too few grams for a guaranteed shared gram — pair
    # them against everything in their length band (bounded, tiny)
    shorts = names.filter(F.length("v") < min_safe)
    short_cand = (
        shorts.select(F.col("v").alias("a"))
        .crossJoin(names.select(F.col("v").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    cand = long_cand.unionByName(short_cand).distinct()
    return (
        cand.filter(
            F.abs(F.length("a") - F.length("b")) <= MAX_DIST
        )
        .select("a", "b", F.levenshtein("a", "b").alias("dist"))
        .filter(F.col("dist") <= MAX_DIST)
    )
