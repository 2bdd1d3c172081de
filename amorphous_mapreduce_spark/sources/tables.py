"""Fixture-table readers (see /root/repo/TESTDATA.md, FIXTURES.md).

Parquet scans are the 100 TB path: columnar, splittable, with predicate
pushdown and column pruning handled by the parquet DataSource — verify
with ``df.explain('formatted')`` (PushedFilters/ReadSchema). The text
reader mirrors the reference's line-batched scan (src/word_count.rs:73-88):
one row per line, splits handled by Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table from ``sf_dir``."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception as e:  # pragma: no cover - depends on caller's session
        # A caller-provided session (e.g. the driver's) may lack the
        # nanosAsLong conf that get_spark sets; events.ts is TIMESTAMP(NANOS)
        # which Spark otherwise rejects. The conf is runtime-settable.
        if "PARQUET_TYPE_ILLEGAL" not in str(e):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as long (nanosAsLong); truncate ns -> us,
            # matching DuckDB's nanos -> TIMESTAMP(us) truncation.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Fixture written as timestamp[us] without isAdjustedToUTC: Spark
            # reads TIMESTAMP_NTZ, which unix_micros/epoch arithmetic reject.
            # System TZ is UTC (see CLAUDE.md), so NTZ -> LTZ is a no-op on
            # the stored micros value and matches DuckDB's naive TIMESTAMP.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan: DataFrame[value: string], one row per line.

    Reference analog: BufReader::read_line batching
    (src/word_count.rs:73-88) + round-robin mapper fill (:50-71) — Spark's
    file-split partitioning replaces the hand-built distribution.
    """
    return spark.read.text(path)
