"""SparkSession factory with scale-oriented defaults.

The reference hard-codes its cluster shape (mappers/reducers/SRAM:
src/outer_product.rs:55-144); here the equivalent knobs are Spark confs.
Defaults are chosen for correctness-at-scale:

- AQE on (runtime partition coalescing, skew-join splitting) — subsumes the
  reference's hand-tuned reducer-grid factorisation (src/util.rs:21-61);
- Arrow on (vectorised pandas-UDF exchange for the block-GEMM/multimodal
  paths);
- shuffle partitions sized from available cores for local runs; on a real
  cluster AQE coalesces from a high initial count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "amorphous-mapreduce-spark"


def _cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local[cpus] SparkSession with the engine's
    defaults.

    Confs passed via ``extra_conf`` win over the defaults. An existing
    active session is reused (Spark semantics); runtime-settable confs are
    still applied to it.
    """
    cpus = _cpu_count()
    conf = {
        # Driver JVM heap: builder-time conf, honoured at JVM launch. The
        # 1 GB Spark default OOMs long test sessions (hundreds of jobs /
        # ~80k tasks of accumulated stage+broadcast state in one local JVM).
        # Env-overridable for constrained hosts. On a real cluster this is
        # the driver only — executors size independently.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # Output-bound baselines (simhash_near_pairs at sf1: 77M rows)
        # exceed the 1g default when an oracle check collects them.
        "spark.driver.maxResultSize": "6g",
        # Runtime re-planning: partition coalescing, skew-join handling.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Shuffle width: ~2x cores locally; AQE coalesces downward.
        "spark.sql.shuffle.partitions": str(2 * cpus),
        # Arrow-batched pandas UDF exchange (block GEMM, multimodal).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dims (region/nation/customer at test SF) should broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Deterministic timestamp semantics vs the DuckDB oracle.
        "spark.sql.session.timeZone": "UTC",
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects; read
        # as long and convert at the scan (sources.tables.load_table).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/derby",
    }
    if extra_conf:
        conf.update(extra_conf)

    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
