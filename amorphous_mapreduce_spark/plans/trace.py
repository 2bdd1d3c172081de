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


def walk(root: Any) -> list[tuple[Any, list[int]]]:
    """Children-first walk over a JVM TreeNode: (node, child indices) per node.

    Each node follows its children, so a dependency index always points at
    an earlier entry. Unlike ``TreeNode.toJSON`` (which hides the subtrees
    of AQE ``QueryStageExec`` wrappers and nested ``AdaptiveSparkPlanExec``
    nodes — the round-4 exporter missed every operator below the first
    materialized shuffle stage), this walk EXPANDS them: a faithful G14
    trace must show the ops that actually executed inside each stage.
    """
    out: list[tuple[Any, list[int]]] = []

    def visit(node: Any) -> int:
        cls = node_class(node)
        children = [
            node.children().apply(i) for i in range(node.children().size())
        ]
        # AQE wrappers: the real subtree hangs off a non-child accessor.
        if "QueryStage" in cls:
            children.append(node.plan())
        elif "AdaptiveSparkPlan" in cls:
            # finalPhysicalPlan() on a plan that has not run EXECUTES it
            # (AQE materializes every stage to re-plan), so an unexecuted
            # plan shows its initial plan instead.
            children.append(
                node.finalPhysicalPlan() if node.isFinalPlan() else node.initialPlan()
            )
        deps = [visit(c) for c in children]
        out.append((node, deps))
        return len(out) - 1

    visit(root)
    return out


def plan_to_json(df: DataFrame, plan: str = "executedPlan") -> str:
    """JSON op-list for one of the plan stages.

    ``plan``: 'logical' | 'analyzed' | 'optimizedPlan' | 'sparkPlan' |
    'executedPlan'. Nodes are emitted children-first with dependency
    edges, mirroring the reference's dependency-ordered op_list
    (src/op.rs:15-16: deps always point at already-emitted ops). AQE
    query stages and nested adaptive plans are expanded, so an
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
