from __future__ import annotations

import json

from pyspark.sql import functions as F

from amorphous_mapreduce_spark.plans import explain_str, plan_to_json
from amorphous_mapreduce_spark.sources import load_table


def test_plan_to_json_op_list(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    doc = json.loads(plan_to_json(df, plan="optimizedPlan"))
    ops = doc["op_list"]
    assert ops, "empty op list"
    names = {o["op"]["class"] for o in ops}
    assert "Aggregate" in names
    # dependency edges reference valid indices (the reference's op DAG
    # contract: deps point at already-emitted ops, src/op.rs:15-16)
    idxs = {o["index"] for o in ops}
    assert all(d in idxs for o in ops for d in o["dependency"])


def test_trace_envelope_matches_reference_schema(spark, sf_dir):
    """Every exported node carries exactly the reference's envelope fields
    {index, module, dependency, op, op_content} (src/op.rs:50-63), deps
    point only at already-emitted indices (children-first emission,
    src/op.rs:15-16), and module is "global" iff the op is a movement op
    (TransOp envelopes hardcode module="global", src/op.rs:51)."""
    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    df = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    df.collect()
    ops = json.loads(plan_to_json(df, plan="executedPlan"))["op_list"]
    for o in ops:
        assert set(o) == {"index", "module", "dependency", "op", "op_content"}
        assert all(d < o["index"] for d in o["dependency"])
        assert (o["module"] == "global") == (o["op"]["category"] == "TransOp")
        assert o["op_content"]["name"] == o["op"]["class"]


def test_trace_categories_cover_reference_ir(spark, sf_dir):
    """A scan->join->aggregate plan exercises all three reference IR
    classes (SURVEY.md §2.1): TransOp (scan/exchange movement), CrossPOp
    (the pairing fan-out), VecOp (elementwise/accumulate compute) — and
    the classifier puts the canonical Spark nodes in the right class."""
    from amorphous_mapreduce_spark.plans.trace import op_category

    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    df = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    # sparkPlan: the pre-AQE physical plan serializes the whole tree
    # (AQE query stages hide their subtrees from toJSON).
    ops = json.loads(plan_to_json(df, plan="sparkPlan"))["op_list"]
    cats = {o["op"]["category"] for o in ops}
    assert cats == {"TransOp", "CrossPOp", "VecOp"}
    assert op_category("ShuffleExchangeExec") == "TransOp"
    assert op_category("BroadcastHashJoinExec") == "CrossPOp"
    assert op_category("SortMergeJoinExec") == "CrossPOp"
    assert op_category("HashAggregateExec") == "VecOp"
    assert op_category("ProjectExec") == "VecOp"


def test_cost_report_lines_up_with_op_list(spark, sf_dir):
    """One walk feeds both exports, as in the reference, where each op_list
    entry carries its own cost (src/op.rs:50-63): cost row i is op-list
    row i of the executed plan, with the same dependency edges, and
    neither lists a node the other lacks."""
    from amorphous_mapreduce_spark.plans.metrics import cost_report
    from amorphous_mapreduce_spark.plans.trace import op_category

    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    df = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    report = cost_report(df)
    ops = json.loads(plan_to_json(df, plan="executedPlan"))["op_list"]
    assert [r["index"] for r in report] == [o["index"] for o in ops]
    assert [r["dependency"] for r in report] == [o["dependency"] for o in ops]
    assert [op_category(r["op"]) for r in report] == [
        o["op"]["category"] for o in ops
    ]
    aggs = [i for i, o in enumerate(ops) if o["op"]["class"] == "HashAggregateExec"]
    assert aggs and all(report[i]["op"] == "HashAggregate" for i in aggs)
    assert "ResultQueryStage" not in {r["op"] for r in report}


def test_executed_plan_export_runs_no_job(spark, sf_dir):
    """Exporting the executed plan of a frame that has not run starts no
    Spark job: an adaptive plan that is not final is walked through its
    initial plan, never through finalPhysicalPlan(), which executes it."""
    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    df = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    sc = spark.sparkContext
    group = "plan-export-runs-no-job"
    sc.setJobGroup(group, "plan_to_json on an unexecuted frame")
    try:
        ops = json.loads(plan_to_json(df, plan="executedPlan"))["op_list"]
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert any("Join" in o["op"]["class"] for o in ops)


def test_plan_pushdown_visible(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")).select(
        "l_orderkey", "l_quantity"
    )
    plan = explain_str(df)
    assert "PushedFilters" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    assert "ReadSchema" in plan


def test_executed_plan_has_wholestage_codegen(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    df.collect()
    plan = explain_str(df, "simple")
    # '*(n)' marks whole-stage-codegen spans in the AQE final plan
    assert "*(" in plan or "WholeStageCodegen" in plan


def test_walk_lists_a_cached_plan_once_and_subqueries(spark):
    """The walk is the reference's op DAG (src/op.rs:15-16): a persisted
    frame read by two consumers is ONE InMemoryRelation entry that both
    scans depend on, a scalar subquery's plan is walked, every dependency
    points at an earlier entry, and exporting runs nothing. After the cost
    report the cached plan's shuffle is counted once, and cost row i is
    still op-list row i."""
    from amorphous_mapreduce_spark.plans.metrics import cost_report, summarize_cost
    from amorphous_mapreduce_spark.plans.trace import node_class, walk

    cached = (
        spark.range(1000)
        .selectExpr("id % 10 AS k", "id AS v")
        .repartition(3, "k")
        .persist()
    )
    try:
        # one-partition source: the subquery's aggregate needs no exchange,
        # so the cached plan holds the frame's only shuffle.
        top = spark.range(0, 10, 1, 1).agg(F.max("id")).scalar()
        df = cached.filter("k < 5").unionByName(cached.filter(F.col("v") > top))
        sc = spark.sparkContext
        group = "walk-cached-plan-once"
        sc.setJobGroup(group, "plan_to_json on a frame with a cache and a subquery")
        try:
            ops = json.loads(plan_to_json(df, plan="executedPlan"))["op_list"]
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        rels = [
            n
            for n, _ in walk(df._jdf.queryExecution().executedPlan())
            if node_class(n) == "InMemoryRelation"
        ]
        assert len(rels) == 1
        assert not rels[0].cacheBuilder().isCachedColumnBuffersLoaded()

        (rel,) = [o["index"] for o in ops if o["op"]["class"] == "InMemoryRelation"]
        scans = [o for o in ops if o["op"]["class"] == "InMemoryTableScanExec"]
        assert len(scans) == 2
        assert all(rel in o["dependency"] for o in scans)
        assert all(d < o["index"] for o in ops for d in o["dependency"])
        classes = {o["op"]["class"] for o in ops}
        # the subquery's aggregate: neither the cached plan nor the union has one
        assert {"SubqueryExec", "HashAggregateExec"} <= classes

        report = cost_report(df)
        after = json.loads(plan_to_json(df, plan="executedPlan"))["op_list"]
        assert [r["index"] for r in report] == [o["index"] for o in after]
        assert [r["dependency"] for r in report] == [o["dependency"] for o in after]
        assert [o["op"]["class"] for o in after].count("InMemoryRelation") == 1
        shuffles = [
            r["metrics"].get("shuffleBytesWritten", 0)
            for r in report
            if r["op"] == "Exchange"
        ]
        assert len(shuffles) == 1
        assert summarize_cost(report)["shuffle_bytes"] == shuffles[0] > 0
    finally:
        cached.unpersist()
