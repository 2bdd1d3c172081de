"""Per-layer readings of the traced run, taken from the benchmark's own code.

Spans nest run -> pass -> query -> {build, plan, action}; the spans of one
query share its Spark job-group id. They stay in memory and are written out
when the run ends. Per query the tracer also reads the physical-plan
fingerprint (node counts, and counts per reference IR class from
``plans.trace.op_category``) and the executed stages of the query's jobs
from Spark's status store. Nothing here reaches inside the package.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Any

from amorphous_mapreduce_spark.plans.trace import op_category
from pyspark.sql import SparkSession

_MB = 2**20
# First token of a plan-tree line, after the tree prefix and any codegen id.
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")
_PYTHON_EVAL = re.compile(r"Python|InPandas|InArrow")


def plan_fingerprint(plan: str) -> dict[str, int]:
    """Node counts of a physical plan's text (``executedPlan().toString()``).

    Under AQE this is the initial plan: a join AQE later turns into a
    broadcast still counts as shuffled here.
    """
    nodes = Counter(
        m.group(1) for line in plan.splitlines() if (m := _NODE.match(line))
    )
    nodes.pop("AdaptiveSparkPlan", None)
    cats = Counter()
    for name, n in nodes.items():
        cats[op_category(name)] += n

    def count(pred) -> int:
        return sum(n for name, n in nodes.items() if pred(name))

    return {
        "exchanges": count(lambda s: s.endswith("Exchange")),
        "broadcast_joins": count(lambda s: s.startswith("Broadcast") and "Join" in s),
        "shuffled_joins": count(lambda s: s in ("ShuffledHashJoin", "SortMergeJoin")),
        "cached_scans": nodes["InMemoryTableScan"],
        "python_evals": count(_PYTHON_EVAL.search),
        "trans_ops": cats["TransOp"],
        "crossp_ops": cats["CrossPOp"],
        "vec_ops": cats["VecOp"],
    }


EXEC_FIELDS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mb",
)


def stage_totals(spark: SparkSession, job_ids: list[int]) -> dict[str, float]:
    """Totals over the stages the given jobs executed (skipped ones excluded).

    ``peak_exec_mb`` is the largest per-stage sum of task peaks, the others
    are sums.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = {
        s for j in job_ids if (info := sc.statusTracker().getJobInfo(j)) for s in info.stageIds
    }
    tot = dict.fromkeys(EXEC_FIELDS, 0.0)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += sd.numCompleteTasks()
        tot["task_run_s"] += sd.executorRunTime() / 1e3
        tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        tot["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
        tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
        tot["peak_exec_mb"] = max(tot["peak_exec_mb"], sd.peakExecutionMemory() / _MB)
    return tot


class Tracer:
    """Spans and per-query layer fields for one traced run."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._run = self._add("run", None, None, 0.0, 0.0)
        self._pass: int | None = None

    def _add(self, name, parent, trace_id, start, end) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "trace_id": trace_id, "start": start, "end": end}
        )
        return len(self.spans) - 1

    def begin_pass(self, tag: str) -> None:
        self._pass = self._add("pass", self._run, tag, 0.0, 0.0)

    def end_pass(self, start: float, end: float) -> None:
        span = self.spans[self._pass]
        span["start"], span["end"] = start, end
        run = self.spans[self._run]
        run["start"] = run["start"] or start
        run["end"] = end

    def record_query(self, rec: dict[str, Any], marks: tuple, plan: str) -> None:
        """Spans of one query from its timestamps; its plan fingerprint."""
        t0, t1, t2, t3, t4 = marks
        gid = rec["group"]
        q = self._add("query", self._pass, gid, t0, t4)
        self._add("build", q, gid, t0, t1)
        self._add("plan", q, gid, t2, t3)
        self._add("action", q, gid, t3, t4)
        rec["plan"] = plan_fingerprint(plan)

    def record_exec(self, spark: SparkSession, rec: dict[str, Any], jobs: list[int]) -> None:
        rec["exec"] = stage_totals(spark, jobs)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its (sequential) children cover."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}
