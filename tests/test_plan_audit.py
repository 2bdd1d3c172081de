"""Rules of ``tools/plan_audit.audit_plan`` on synthetic frames.

The audit reads the nodes of ``plans.trace.walk``: a flag is a node class
(or a SinglePartition shuffle whose consumer is not a scalar sink), and a
cached sub-plan counts once however many consumers read it. A flag is
explained when Catalyst's ``maxRows`` bounds the input of each of its
nodes, else only by an ``ALLOW`` note.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.plans.trace import walk
from tools import plan_audit
from tools.plan_audit import ALLOW, audit_plan


def _audit(name, df):
    return audit_plan(name, walk(df._jdf.queryExecution().executedPlan()))


def _non_equi_join(spark):
    a = spark.range(20).withColumnRenamed("id", "a")
    b = spark.range(10).withColumnRenamed("id", "b")
    return a.join(b, F.col("a") < F.col("b"))


def _unbounded_join(spark):
    """A nested-loop join whose build side Catalyst cannot bound: a
    checkpointed frame is a ``LogicalRDD``, which has no ``maxRows``."""
    a = spark.range(20).withColumnRenamed("id", "a")
    b = spark.range(10).withColumnRenamed("id", "b").localCheckpoint()
    return a.join(b, F.col("a") < F.col("b"))


def test_scalar_aggregate_is_not_flagged(spark):
    r = _audit("synthetic", spark.range(1000).agg(F.sum("id").alias("s")))
    assert r["flags"] == {}
    assert r["unexplained"] == {}


def test_global_window_is_flagged_single_partition(spark):
    df = spark.range(100).withColumn("r", F.row_number().over(Window.orderBy("id")))
    r = _audit("synthetic", df)
    assert r["flags"] == {"Exchange SinglePartition": 1}
    assert r["notes"] == ["Exchange SinglePartition: bounded input ≤ 100 rows"]


def test_non_equi_join_is_flagged_nested_loop(spark):
    r = _audit("synthetic", _non_equi_join(spark))
    assert r["flags"] == {"BroadcastNestedLoopJoin": 1}


def test_cached_nested_loop_join_counts_once(spark):
    """Plan text prints the cached plan under each of its two consumers;
    the walk lists it once."""
    cached = _non_equi_join(spark).persist()
    try:
        df = cached.filter("a < 5").unionByName(cached.filter("a >= 15"))
        r = _audit("synthetic", df)
    finally:
        cached.unpersist()
    assert r["flags"] == {"BroadcastNestedLoopJoin": 1}


def test_allowlisted_flag_goes_to_notes(spark):
    name = next(q for q, a in ALLOW.items() if "BroadcastNestedLoopJoin" in a)
    allowed = _audit(name, _unbounded_join(spark))
    assert allowed["unexplained"] == {}
    assert len(allowed["notes"]) == 1
    assert allowed["notes"][0].startswith("BroadcastNestedLoopJoin: allowed")
    unlisted = _audit("synthetic", _unbounded_join(spark))
    assert unlisted["unexplained"] == {"BroadcastNestedLoopJoin": 1}
    assert unlisted["notes"] == []


def test_bounded_build_side_is_explained(spark):
    """A non-equi join against a persisted scalar aggregate: the proof
    reads through the cached relation to the aggregate's one row."""
    total = spark.range(1000).agg(F.sum("id").alias("s")).persist()
    try:
        r = _audit("synthetic", spark.range(50).join(total, F.col("id") < F.col("s")))
    finally:
        total.unpersist()
    assert "synthetic" not in ALLOW
    assert r["flags"] == {"BroadcastNestedLoopJoin": 1}
    assert r["unexplained"] == {}
    assert r["notes"] == ["BroadcastNestedLoopJoin: bounded input ≤ 1 row"]


def test_checkpointed_build_side_stays_unexplained(spark):
    """The proof reads the build side only: the probe side is a bounded
    ``Range``, the checkpointed build side is not."""
    r = _audit("synthetic", _unbounded_join(spark))
    assert r["flags"] == {"BroadcastNestedLoopJoin": 1}
    assert r["unexplained"] == {"BroadcastNestedLoopJoin": 1}


def test_subset_run_writes_no_file(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """With query names the audit prints those queries and writes nothing:
    only a full run writes PLAN_AUDIT.json, so no row in it goes stale."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(sys, "argv", ["plan_audit.py", sf_dir, "wordcount"])
    assert plan_audit.main() == 0
    assert os.listdir(tmp_path) == []
    assert "wordcount" in capsys.readouterr().out
