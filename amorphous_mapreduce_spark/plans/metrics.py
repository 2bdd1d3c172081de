"""Post-execution cost report — the reference's per-op cost annotations.

The reference annotates every op with a cost: `len` for transfers
(src/op.rs:57), `complexity = k*m*n` for compute (src/op.rs:155). Spark
tracks the executed analogue in SQLMetrics (rows/bytes/spill per physical
node); this module surfaces them as the same kind of op-cost table, one
row per node of ``plans.trace.walk`` — the walk ``plan_to_json`` exports —
so cost row ``i`` is op-list row ``i`` of the executed plan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from amorphous_mapreduce_spark.plans.trace import walk

INTERESTING = (
    "numOutputRows",
    "numFiles",
    "filesSize",
    "dataSize",
    "shuffleBytesWritten",
    "shuffleRecordsWritten",
    "recordsRead",
    "remoteBytesRead",
    "localBytesRead",
    "spillSize",
    "peakMemory",
    "numPartitions",
)


def _metrics(node: Any) -> dict[str, int]:
    metrics: dict[str, int] = {}
    try:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name, metric = kv._1(), kv._2()
            if name in INTERESTING or metric.metricType() in ("size", "sum"):
                try:
                    metrics[name] = int(metric.value())
                except Exception:
                    pass
    except Exception:
        pass
    return metrics


def cost_report(df: DataFrame) -> list[dict[str, Any]]:
    """Execute ``df`` and return per-op metric records.

    Each record: {index, op, dependency, metrics{numOutputRows, bytes,
    spill...}} — the executed-plan analogue of the reference's op trace
    costs, with the same indices and dependency edges as
    ``plan_to_json(df, "executedPlan")``.
    """
    qe = df._jdf.queryExecution()
    # Run THIS QueryExecution's plan (a df.write would build a fresh one and
    # the metrics would land there instead). count() on the InternalRow RDD
    # materialises everything executor-side.
    qe.executedPlan().execute().count()
    return [
        {
            "index": idx,
            "op": node.nodeName(),
            "dependency": deps,
            "metrics": _metrics(node),
        }
        for idx, (node, deps) in enumerate(walk(qe.executedPlan()))
    ]


def summarize_cost(report: list[dict[str, Any]]) -> dict[str, int]:
    """Aggregate totals: rows produced, shuffle bytes, spill bytes."""
    tot = {"output_rows": 0, "shuffle_bytes": 0, "spill_bytes": 0, "n_ops": 0}
    for rec in report:
        m = rec["metrics"]
        tot["n_ops"] += 1
        tot["output_rows"] += m.get("numOutputRows", 0)
        tot["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        tot["spill_bytes"] += m.get("spillSize", 0)
    return tot
