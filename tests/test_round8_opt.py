"""Round-8 optimization equivalence tests.

The shingle/minhash pipeline was rewritten from explode + lead()-window +
distinct + groupBy chains to per-row array math (operators/dedup.py
``shingle_grams`` / ``_gram_hashes`` / ``_minhash_wide``). These tests pin
the rewrite to the ORIGINAL construction: same gram strings, same distinct
shingle sets, same band-bucket rows, on docs exercising the edge cases the
window form handled (short docs, empty text, repeated grams, multi-space).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.queries_registry import QUERIES  # noqa: F401  (import order)
from amorphous_mapreduce_spark.operators.dedup import (
    minhash_band_buckets,
    minhash_lsh_pairs,
    minhash_signatures,
    normalize_text,
    shingles,
)
from amorphous_mapreduce_spark.functions.hashing import hex_hash64


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
    (3, "a b"),  # shorter than shingle size
    (4, ""),  # empty
    (5, "  spaced   out    words   here  "),  # multi-space + trim
    (6, "x y z x y z x y z"),  # repeated grams (bag vs set)
    (7, "one two three four five six"),
    (8, "ONE TWO three FOUR five six"),  # case folding
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _window_shingles(docs, shingle_size=3):
    """The ORIGINAL lead()-window shingle construction (pre-round-8)."""
    nparts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = (
        docs.repartition(nparts)
        .select(
            F.col("doc_id").alias("id"),
            F.posexplode(F.split(normalize_text(), " ")).alias("pos", "word"),
        )
        .filter(F.length("word") > 0)
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", i).over(w) for i in range(1, shingle_size)
    ]
    grams = toks.select(
        "id",
        F.concat_ws(" ", *parts).alias("gram"),
        F.lead("word", shingle_size - 1).over(w).alias("_last"),
    )
    return (
        grams.filter(F.col("_last").isNotNull())
        .select("id", hex_hash64(F.col("gram")).alias("sh"))
        .distinct()
    )


def test_shingles_match_window_construction(spark):
    docs = _docs(spark)
    new = {(r.id, r.sh) for r in shingles(docs).collect()}
    old = {(r.id, r.sh) for r in _window_shingles(docs).collect()}
    assert new == old
    # sanity: the dup pair shares its set; the short/empty docs have none
    ids = {i for i, _ in new}
    assert 3 not in ids and 4 not in ids
    assert {s for i, s in new if i == 1} == {s for i, s in new if i == 2}


def test_shingles_shuffle_free_below_distinct(spark):
    """The gram construction itself must plan without window/sort nodes."""
    from amorphous_mapreduce_spark.operators.dedup import _gram_hashes

    plan = _gram_hashes(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort" not in plan


def test_minhash_signatures_match_shingle_groupby(spark):
    """Wide fast path == min over the DISTINCT shingle set per hash fn."""
    from amorphous_mapreduce_spark.operators.dedup import MINHASH_P

    docs = _docs(spark)
    sh = shingles(docs)
    expected = {
        (r.id, r.hid, r.mh)
        for i in range(8)
        for r in sh.groupBy("id")
        .agg(
            F.min(
                ((F.col("sh") % MINHASH_P) * (2 * i + 1) + i * 12345) % MINHASH_P
            ).alias("mh")
        )
        .select("id", F.lit(i).cast("long").alias("hid"), "mh")
        .collect()
    }
    got = {(r.id, r.hid, r.mh) for r in minhash_signatures(docs, 8).collect()}
    assert got == expected


def test_lsh_pairs_match_long_format_buckets(spark):
    """minhash_lsh_pairs' per-row band sigs == minhash_band_buckets rows,
    and the resulting candidate pairs match the bucket self-join."""
    docs = _docs(spark)
    sigs = minhash_signatures(docs, 16)
    buckets = minhash_band_buckets(sigs, band_bits=4)
    a = buckets.select(F.col("id").alias("qid"), "band", "sig")
    b = buckets.select(F.col("id").alias("nid"), "band", "sig")
    expected = {
        (r.qid, r.nid)
        for r in a.join(b, ["band", "sig"])
        .filter(F.col("qid") < F.col("nid"))
        .select("qid", "nid")
        .distinct()
        .collect()
    }
    got = {(r.qid, r.nid) for r in minhash_lsh_pairs(docs).collect()}
    assert got == expected
    assert (1, 2) in got  # the exact dup pair must collide on every band


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_shingle_sizes_match_window_construction(spark, k):
    docs = _docs(spark)
    new = {(r.id, r.sh) for r in shingles(docs, shingle_size=k).collect()}
    old = {(r.id, r.sh) for r in _window_shingles(docs, shingle_size=k).collect()}
    assert new == old
