"""Export a DataFrame's query plan as JSON — the engine's G14 analog.

The reference's observable artifact is a dependency-ordered op DAG dumped
to JSON (src/main.rs:17-25; envelope schema src/op.rs:50-63). Spark already
maintains that DAG — the analyzed/optimized/physical plans — so the export
here is a walk over ``df._jdf.queryExecution()`` rather than hand-built
dependency lists. Each node record carries the reference's exact envelope
fields {index, module, dependency, op, op_content} (src/op.rs:50-63):
``module`` is the reference's placement id (pid, or "global" for
movement ops) — here the op category name, since Spark owns placement;
``op`` carries the category payload; ``op_content.name`` the node class.

``op_category`` maps Spark physical operators onto the reference's three
IR classes (src/op.rs:29-173, SURVEY.md §2.1): TransOp = data movement
(exchanges/broadcasts/scans/sinks), CrossPOp = fan-out pairing
(joins/cartesian/explode), VecOp = elementwise/accumulate work
(everything else: project/filter/aggregate/sort/window).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame

# Substring -> category, first match wins (reference classes src/op.rs:29-173).
_TRANS_MARKERS = (
    "Exchange",
    "Broadcast",
    "Shuffle",
    "Scan",
    "InMemoryRelation",
    "WriteFiles",
    "InsertInto",
    "Relation",
    "LocalTableScan",
    "AQEShuffleRead",
)
_CROSSP_MARKERS = ("Join", "CartesianProduct", "Generate", "Expand")


def op_category(op_name: str) -> str:
    """Reference IR class for one Spark plan-node class name.

    TransOp = movement/materialization (the reference's local<->remote
    SRAM transfers, src/op.rs:29-63); CrossPOp = fan-out pairing (the
    outer-product tile op, src/op.rs:108-173); VecOp = elementwise or
    accumulate compute (src/op.rs:66-106).
    """
    # pairing ops first: BroadcastHashJoin is a join that HAPPENS to move
    # data — the reference models the movement as separate TransOps.
    if any(m in op_name for m in _CROSSP_MARKERS):
        return "CrossPOp"
    if any(m in op_name for m in _TRANS_MARKERS):
        return "TransOp"
    return "VecOp"


def node_class(node: Any) -> str:
    """Simple class name of a JVM plan node (Scala objects drop their ``$``)."""
    return node.getClass().getSimpleName().removesuffix("$")


def _seq(scala_seq: Any) -> list[Any]:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def walk(root: Any) -> list[tuple[Any, list[int]]]:
    """Children-first DAG walk over a JVM plan: (node, dependency indices).

    Dependencies always point at earlier entries (src/op.rs:15-16). AQE
    query stages are expanded through ``plan()``, an adaptive plan through
    its final plan once final, else its initial plan (``finalPhysicalPlan()``
    EXECUTES an unrun plan; the walk runs no job). Every other node also
    follows ``innerChildren()``: a cached scan's relation, the relation's
    cached plan, subquery plans. Each cached plan is emitted once, keyed on
    the JVM identity of its ``cacheBuilder()``; later consumers depend on
    that entry (plan text repeats it under every consumer).
    """
    identity = SparkContext._jvm.System.identityHashCode  # type: ignore[union-attr]
    out: list[tuple[Any, list[int]]] = []
    cached: dict[int, int] = {}

    def visit(node: Any) -> int:
        cls = node_class(node)
        if cls == "InMemoryRelation":
            key = identity(node.cacheBuilder())
            if key in cached:
                return cached[key]
        children = _seq(node.children())
        if "QueryStage" in cls:
            children.append(node.plan())
        elif "AdaptiveSparkPlan" in cls:
            children.append(
                node.finalPhysicalPlan() if node.isFinalPlan() else node.initialPlan()
            )
        else:
            children += _seq(node.innerChildren())
        deps = [visit(c) for c in children]
        out.append((node, deps))
        if cls == "InMemoryRelation":
            cached[key] = len(out) - 1
        return len(out) - 1

    visit(root)
    return out


def plan_to_json(df: DataFrame, plan: str = "executedPlan") -> str:
    """JSON op-list for one of the plan stages.

    ``plan``: 'logical' | 'analyzed' | 'optimizedPlan' | 'sparkPlan' |
    'executedPlan'. Nodes are emitted children-first with dependency
    edges, mirroring the reference's dependency-ordered op_list
    (src/op.rs:15-16: deps always point at already-emitted ops). The
    nodes are those of ``walk``: AQE query stages, nested adaptive plans,
    cached plans (each once) and subqueries are expanded, so an
    executed-plan trace covers every operator that actually ran.
    """
    qe = df._jdf.queryExecution()
    node = {
        "logical": qe.logical,
        "analyzed": qe.analyzed,
        "optimizedPlan": qe.optimizedPlan,
        "sparkPlan": qe.sparkPlan,
        "executedPlan": qe.executedPlan,
    }[plan]()
    ops: list[dict[str, Any]] = []
    for idx, (n, deps) in enumerate(walk(node)):
        cls = node_class(n)
        cat = op_category(cls)
        ops.append(
            {
                "index": idx,
                # reference envelope: "global" for movement ops, a placement
                # id otherwise (src/op.rs:51,95) — Spark owns placement, so
                # the category name stands in for the pid.
                "module": "global" if cat == "TransOp" else cat,
                "dependency": deps,
                "op": {"category": cat, "class": cls},
                "op_content": {"name": cls, "detail": n.simpleString(25)},
            }
        )
    return json.dumps({"plan": plan, "op_list": ops}, indent=2)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain text as a string (explain() only prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )
