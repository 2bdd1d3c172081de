from __future__ import annotations

from pyspark.sql import functions as F

from amorphous_mapreduce_spark.plans.metrics import cost_report, summarize_cost
from amorphous_mapreduce_spark.sources import load_table


def test_cost_report_metrics(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    report = cost_report(df)
    assert report
    ops = {r["op"] for r in report}
    assert any("Aggregate" in o for o in ops)
    totals = summarize_cost(report)
    assert totals["output_rows"] > 0
    assert totals["n_ops"] == len(report)
