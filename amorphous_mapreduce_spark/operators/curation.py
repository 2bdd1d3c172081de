"""End-to-end corpus curation: the engine's capstone training-data pipeline.

Composes the LLM-data operators into the canonical pretraining-corpus
flow: quality filter -> exact dedup (content digest) -> near-dup
clustering (MinHash-LSH pairs + connected components) keeping one
canonical doc per cluster. Every stage is declarative DataFrame ops over
the operators in this package; nothing here collects to the driver.

Scale: the stages are independent shuffles (quality is a projection,
exact dedup one digest groupBy, LSH banded buckets, CC O(log n) rounds),
each linear in surviving rows — the pipeline's cost contracts as earlier
stages filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from amorphous_mapreduce_spark.operators.graph import dedup_clusters
from amorphous_mapreduce_spark.operators.text_analysis import doc_stats


def curate_corpus(docs: DataFrame, min_quality: float = 0.2) -> DataFrame:
    """Curated corpus: [doc_id, lang, quality] of surviving documents.

    Survivors are docs that (1) score >= min_quality, (2) are the
    smallest-id doc of their exact-content group, (3) are the canonical
    keeper of their near-dup cluster.
    """
    stats = doc_stats(docs).select(F.col("id").alias("doc_id"), "quality")
    # Persisted: both the exact-dedup branch and q2's probe side re-read
    # this (tokenize + agg + join) lineage; without the cache the whole
    # quality stage runs twice.
    qdocs = docs.join(
        stats.filter(F.col("quality") >= min_quality), "doc_id"
    ).persist()
    exact_keepers = exact_dedup(qdocs).select(F.col("keeper_id").alias("doc_id"))
    q2 = qdocs.join(exact_keepers, "doc_id").persist()
    pairs = minhash_lsh_pairs(q2, num_hashes=16, band_bits=4)
    clusters = dedup_clusters(q2, pairs)
    keepers = clusters.filter(F.col("is_keeper")).select(F.col("id").alias("doc_id"))
    return q2.join(keepers, "doc_id").select("doc_id", "lang", "quality")
