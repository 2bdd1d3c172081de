from __future__ import annotations


def test_aqe_splits_skewed_join_partitions(spark):
    # With skew thresholds lowered, AQE must split the hot key's partition
    # (OptimizeSkewedJoin): the engine leaves join skew to AQE rather than
    # salting keys by hand.
    from amorphous_mapreduce_spark.plans import explain_str
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hot = spark.range(400_000).select(
            F.lit(1).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(2_000).select(
            (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionByName(tail)
        right = spark.range(60).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
        )
        joined = left.join(right, "k")
        # execute joined's OWN QueryExecution (count() would build a new
        # one and the final AQE plan would not be visible on `joined`)
        n = joined._jdf.queryExecution().executedPlan().execute().count()
        assert n == 402_000
        plan = explain_str(joined, "simple")
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not mark the skewed join"
    finally:
        for k, v in saved.items():
            conf.set(k, v)
