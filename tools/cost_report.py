"""Measured per-query cost report over the bench headline set.

Executes every headline query at $SPARK_GRAFT_SF_DIR (default sf0.1) and
records the EXECUTED-plan SQLMetrics — output rows, shuffle bytes
written, spill bytes, operator count — to ``COST.json``. This is the
"measure, don't guess" artifact behind the SCALE.md claims: a query
whose shuffle volume scales super-linearly in its input shows up here
long before it falls over at 100 TB.

Usage: python tools/cost_report.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from bench import HEADLINE

    from amorphous_mapreduce_spark import get_spark
    from amorphous_mapreduce_spark.plans.metrics import cost_report, summarize_cost
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from perfbench.harness import release

    spark = get_spark()
    results: dict[str, dict[str, int]] = {}
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        summary = summarize_cost(cost_report(df))
        release(spark)
        results[name] = summary
        print(
            f"{name}: rows={summary['output_rows']} "
            f"shuffle={summary['shuffle_bytes']} "
            f"spill={summary['spill_bytes']} ops={summary['n_ops']}"
        )
    out = {"sf_dir": sf_dir, "queries": results}
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COST.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    total_shuffle = sum(r["shuffle_bytes"] for r in results.values())
    total_spill = sum(r["spill_bytes"] for r in results.values())
    print(
        f"\nwrote COST.json: {len(results)} queries, "
        f"total shuffle {total_shuffle/1e6:.1f} MB, spill {total_spill/1e6:.1f} MB"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
