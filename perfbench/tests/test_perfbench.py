"""Tests of the benchmark's own code.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import harness, inputs, run
from perfbench.layers import EXEC_FIELDS, Tracer, plan_fingerprint

PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1L], functions=[count(1)])
   +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=66]
      +- BroadcastHashJoin [a#1], [b#2], Inner, BuildRight
         :- ArrowEvalPython [f(x#3)#4], [pythonUDF0#5], 200
         :  +- InMemoryTableScan [x#3]
         :        +- InMemoryRelation [x#3], StorageLevel(disk, memory, 1 replicas)
         +- BroadcastExchange HashedRelationBroadcastMode(List(b#2),false)
            +- SortMergeJoin [c#6], [d#7], Inner
               :- *(1) Project [c#6]
               :  +- FileScan parquet [c#6] Batched: true
               +- LocalTableScan [d#7]
"""


def fake_pass(tag: str, tracer: Tracer | None, n: int = 4) -> dict:
    """A pass record of the shape ``harness.run_pass`` returns."""
    if tracer is not None:
        tracer.begin_pass(tag)
    recs = []
    for i in range(n):
        r = {"query": f"q{i}", "group": f"{tag}/q{i}", "latency_s": 1.0 + i,
             "build_s": 0.2, "action_s": 0.7 + i, "jobs": 3,
             "leaked_rdds": 1, "leaked_mb": 0.5, "cpu_s": 7.5, "jit_cpu_s": 1.25}
        if tracer is not None:
            r.update(build_jobs=1, plan_s=0.1)
            tracer.record_query(r, (0.0, 0.2, 0.2, 0.3, 1.0 + i), PLAN)
            r["exec"] = dict.fromkeys(EXEC_FIELDS, 1.0)
        recs.append(r)
    if tracer is not None:
        tracer.end_pass(0.0, 10.0)
    return {"tag": tag, "traced": tracer is not None, "wall_s": 10.0, "cpu_s": 30.0,
            "jit_cpu_s": 5.0, "steal_s": 0.1, "loadavg_1m": 1.5, "peak_rss_mb": 900.0, "queries": recs}


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_end_to_end_output_names_every_declared_metric_with_its_unit():
    passes = [fake_pass(f"p{i}", None) for i in range(3)]
    metrics = run.end_to_end(passes, setup_s=20.0)
    assert {k: v["unit"] for k, v in metrics.items()} == declared("end_to_end")
    assert metrics["cpu_s"]["value"] == 30.0


def test_latency_sums_per_query_medians_and_counts_samples():
    passes = [fake_pass(f"p{i}", None) for i in range(3)]
    passes[0]["queries"][3]["latency_s"] = 99.0  # one slow sample
    metrics, info = run.latency(passes)
    assert info == {"queries": 4, "passes": 3, "samples": 12,
                    "tail_percentile": pytest.approx(100 * 2 / 12)}
    assert metrics["warm_pass_s"]["value"] == pytest.approx(1 + 2 + 3 + 4)
    assert metrics["query_p50_s"]["value"] == pytest.approx(2.5)


def test_per_layer_output_names_every_declared_metric_with_its_unit():
    tracer = Tracer()
    passes = [fake_pass(f"p{i}", tracer if i % 2 else None) for i in range(6)]
    setup = {"session_s": 7.0, "registry_s": 0.4, "cold_pass_s": 20.0}
    metrics = run.per_layer(passes, setup, 0, 0.0, tracer, cpus=4)
    assert {k: v["unit"] for k, v in metrics.items()} == declared("per_layer")
    assert metrics["exec.jobs"]["value"] == 12
    assert metrics["queries.build_jobs"]["value"] == 4
    # query span 1.0 + i minus children 0.2 + 0.1 + (0.7 + i)
    assert metrics["queries.self_s"]["value"] == pytest.approx(0.0, abs=1e-9)


def test_plan_fingerprint_counts_nodes_and_reference_classes():
    fp = plan_fingerprint(PLAN)
    assert fp["exchanges"] == 2
    assert fp["broadcast_joins"] == 1
    assert fp["shuffled_joins"] == 1
    assert fp["cached_scans"] == 1
    assert fp["python_evals"] == 1
    # 11 nodes below AdaptiveSparkPlan: joins are CrossPOp, movement TransOp
    assert fp["crossp_ops"] == 2
    assert fp["trans_ops"] == 6
    assert fp["trans_ops"] + fp["crossp_ops"] + fp["vec_ops"] == 11


@pytest.mark.parametrize(
    "n, value, pct",
    [(11, 0, 100 / 11), (12, 1, 100 * 2 / 12), (20, 9, 50.0), (100, 89, 90.0)],
)
def test_tail_is_the_highest_rank_with_ten_samples_beyond(n, value, pct):
    samples = [float(x) for x in reversed(range(n))]
    got, got_pct = harness.tail(samples)
    assert got == value
    assert got_pct == pytest.approx(pct)
    assert sum(x > got for x in samples) == 10


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        harness.tail([1.0] * 10)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    def tables(seed: int, name: str) -> dict[str, bytes]:
        out = tmp_path / name
        inputs.make_inputs(seed, 0.01, str(out))
        return {p.name: p.read_bytes() for p in sorted(out.iterdir())}

    a, b, c = tables(7, "a"), tables(7, "b"), tables(8, "c")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[t] != c[t] for t in a if t not in ("region.parquet", "nation.parquet"))


def test_release_leaves_no_persistent_rdd(spark):
    df = spark.range(1000).persist()
    df.count()
    spark.sparkContext.parallelize(range(10)).cache().count()
    held, mb = harness.release(spark)
    assert held >= 2 and mb > 0
    assert harness.persisted(spark) == (0, 0.0)


def test_failing_query_costs_one_row(spark, tmp_path):
    def good(s, sf_dir):
        return s.range(0, 100, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count()

    def bad(s, sf_dir):
        raise RuntimeError("broken builder")

    def leaky(s, sf_dir):
        df = s.range(50).persist()
        df.count()
        return df

    queries = {"good": good, "bad": bad, "leaky": leaky}
    for tracer in (None, Tracer()):
        p = harness.run_pass(spark, queries, str(tmp_path), "t", tracer)
        recs = {r["query"]: r for r in p["queries"]}
        assert recs["bad"]["error"] == "RuntimeError: broken builder"
        assert "latency_s" not in recs["bad"]
        assert recs["good"]["latency_s"] > 0 and recs["good"]["jobs"] >= 1
        assert recs["leaky"]["leaked_rdds"] == 1
        assert harness.persisted(spark)[0] == 0
        if tracer is not None:
            assert recs["good"]["exec"]["tasks"] >= 1
            assert recs["good"]["plan"]["exchanges"] >= 1
            assert recs["leaky"]["build_jobs"] >= 1


def test_oracle_check_costs_one_row_per_bad_query(tmp_path):
    import pandas as pd

    sf_dir = str(tmp_path / "in")
    inputs.make_inputs(3, 0.01, sf_dir)
    warm = {"queries": [
        {"query": "ok", "output": pd.DataFrame({"n": [5]})},
        {"query": "wrong", "output": pd.DataFrame({"n": [4]})},
        {"query": "raised", "error": "RuntimeError: broken builder"},
        {"query": "bad_sql", "output": pd.DataFrame({"n": [5]})},
    ]}
    oracles = {q: "SELECT count(*)::BIGINT AS n FROM region" for q in ("ok", "wrong", "raised")}
    oracles["bad_sql"] = "SELECT no_such_column FROM region"
    status = run.check_outputs(warm, oracles, sf_dir, str(tmp_path / "cache"))
    assert status["ok"] == "OK"
    assert status["wrong"].startswith("VALUES")
    assert status["raised"] == "ERROR RuntimeError: broken builder"
    assert status["bad_sql"].startswith("ORACLE ERROR")
    assert all("output" not in r for r in warm["queries"])
    # the second check reads the cached oracle result
    warm["queries"][0]["output"] = pd.DataFrame({"n": [5]})
    assert run.check_outputs({"queries": warm["queries"][:1]}, oracles, sf_dir,
                             str(tmp_path / "cache"))["ok"] == "OK"
    assert len(list((tmp_path / "cache").iterdir())) == 1
