"""The corpus-curation capstone query with its full SQL oracle.

The oracle chains every stage in one statement: the doc_stats quality
formula, exact dedup by content digest, minhash-LSH candidate pairs over
the survivors, and transitive-closure clustering via WITH RECURSIVE —
the whole training-data pipeline cross-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from amorphous_mapreduce_spark.operators.curation import curate_corpus
from amorphous_mapreduce_spark.queries.dedup_queries import (
    NORM,
    _sql_list,
    shingles_cte,
)
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table
from amorphous_mapreduce_spark.operators.text_analysis import STOPWORDS


CURATION_ORACLE = (
    """
WITH RECURSIVE
stats AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE least(1.0, n_tokens / 100) * (1 - punct_ratio)
                     * (0.5 + stopword_ratio) END AS quality
    FROM (
        SELECT doc_id,
               CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens,
               (length(norm) - length(regexp_replace(norm, '[^\\w\\s]', '', 'g')))
                   / length(norm) AS punct_ratio,
               len(list_filter(string_split(norm, ' '),
                               w -> w IN (""" + _sql_list(STOPWORDS) + f""")))
                   / len(string_split(norm, ' ')) AS stopword_ratio
        FROM (SELECT doc_id, {NORM} AS norm FROM documents)
    )
),
qdocs AS (
    SELECT d.doc_id, d.text, d.lang, s.quality
    FROM documents d JOIN stats s USING (doc_id)
    WHERE s.quality >= 0.2
),
exact_keep AS (
    SELECT MIN(doc_id) AS doc_id
    FROM (SELECT doc_id, md5({NORM}) AS h FROM qdocs)
    GROUP BY h
),
q2 AS (
    SELECT qdocs.* FROM qdocs JOIN exact_keep USING (doc_id)
),
"""
    + shingles_cte("q2").strip()
    + """
, minhash AS (
    SELECT s.id, h.range AS hid,
           MIN(((s.sh % 2147483647) * (h.range * 2 + 1) + h.range * 12345)
               % 2147483647) AS mh
    FROM shingles s, range(16) h
    GROUP BY s.id, h.range
), bands AS (
    SELECT id, hid // 4 AS band, string_agg(mh, '-' ORDER BY hid) AS sig
    FROM minhash GROUP BY id, hid // 4
), pairs AS (
    SELECT DISTINCT a.id AS qid, b.id AS nid
    FROM bands a JOIN bands b USING (band, sig)
    WHERE a.id < b.id
), edges AS (
    SELECT qid AS a, nid AS b FROM pairs
    UNION
    SELECT nid AS a, qid AS b FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM q2
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), clusters AS (
    SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src
)
SELECT q2.doc_id, q2.lang, q2.quality
FROM q2 JOIN clusters USING (doc_id)
WHERE clusters.cluster = q2.doc_id
"""
)


@register("corpus_curation", CURATION_ORACLE)
def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: quality filter -> exact dedup -> near-dup cluster keeper,
    the full pretraining-corpus pipeline in one declarative plan."""
    return curate_corpus(load_table(spark, sf_dir, "documents"), min_quality=0.2)
