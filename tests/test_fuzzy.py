"""Tests for fuzzy string matching (operators/fuzzy.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.fuzzy import fuzzy_pairs


def _vals(spark, vals):
    return spark.createDataFrame([Row(v=x, name=x) for x in vals])


def _brute(spark, vals, d):
    df = _vals(spark, vals)
    a = df.select(F.col("v").alias("a"))
    b = df.select(F.col("v").alias("b"))
    return {
        (r.a, r.b, r.dist)
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.levenshtein("a", "b").alias("dist"))
        .filter(F.col("dist") <= d)
        .collect()
    }


def test_fuzzy_pairs_match_brute_force_including_short_strings(spark):
    vals = [
        "hot gear", "hot year", "hot bear",      # distance-1 cluster
        "red widget", "red gadget",              # distance 3 (excluded at d=2)
        "blue bolt", "glue bolt",                # distance 1
        "ab", "ax", "xy",                        # SHORT strings (fallback path)
        "unrelated thing",
    ]
    got = {
        (r.a, r.b, r.dist)
        for r in fuzzy_pairs(_vals(spark, vals), "v").collect()
    }
    assert got == _brute(spark, vals, 2)
    assert ("ab", "ax", 1) in got          # found via the short block
    assert ("hot bear", "hot gear", 1) in got  # found via the gram index


def test_fuzzy_pairs_dedupes_value_occurrences(spark):
    # repeated rows of the same value must not produce self-pairs or dups
    vals = ["same name", "same name", "same nam", "same nam"]
    got = fuzzy_pairs(_vals(spark, vals), "v").collect()
    assert len(got) == 1 and got[0].dist == 1
