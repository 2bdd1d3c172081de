"""Per-query optimization measurement: a thin loop over ``perfbench.harness``.

For each named query: one ``run_pass`` at sf0.001 to warm codegen/JIT, then
N timed ``run_pass`` runs of that query alone at the target SF (builder call
through the noop sink, caches released after each run). Reports latency,
process-tree CPU and host CPU steal per run, and writes
``.explain("formatted")`` to .tmp/opt_measure/<query>_<tag>.txt so plan-shape
claims in an OPTIMIZATION note are reproducible without committing the dumps.

Usage: python tools/opt_measure.py <tag> <query> [query ...]
  tag: 'before' or 'after' (plan file suffix; 'none' skips the dump)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), OPT_RUNS (default 3)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_DIR = os.path.join(REPO, ".tmp", "opt_measure")


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("OPT_RUNS", "3"))

    from amorphous_mapreduce_spark import get_spark
    from amorphous_mapreduce_spark.plans import explain_str
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from perfbench.harness import release, run_pass

    spark = get_spark(
        app_name=f"opt-measure-{tag}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            print(f"!! {name}: not registered", flush=True)
            continue
        one = {name: QUERIES[name]}
        warm = run_pass(spark, one, "/root/testdata/sf0.001", f"warm/{name}")
        passes = [run_pass(spark, one, sf_dir, f"{tag}/{name}/{i}") for i in range(runs)]
        recs = [p["queries"][0] for p in [warm, *passes]]
        if any("error" in r for r in recs):
            print(f"!! {name}: {next(r['error'] for r in recs if 'error' in r)}", flush=True)
            continue
        times = [round(r["latency_s"], 3) for r in recs[1:]]
        out[name] = {
            "min": min(times),
            "median": round(statistics.median(times), 3),
            "runs": times,
            "cpu_s": [round(p["cpu_s"], 2) for p in passes],
            "steal_s": [round(p["steal_s"], 2) for p in passes],
        }
        print(f"{name}: {json.dumps(out[name])}", flush=True)
        if tag != "none":
            plan = explain_str(QUERIES[name](spark, sf_dir), "formatted")
            release(spark)
            with open(os.path.join(OUT_DIR, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
    path = os.path.join(OUT_DIR, f"timings_{tag}.json")
    existing = {}
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    existing.update(out)
    with open(path, "w") as f:
        json.dump(existing, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
