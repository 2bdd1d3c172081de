from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.sources import load_table
from amorphous_mapreduce_spark.streaming import (
    sessionized_event_counts,
    windowed_event_stats,
)


def _run_stream_over_parquet(spark, src_df, transform, tmp_path, name, mode="append"):
    """Write src to parquet, readStream it, run transform to a memory sink."""
    path = str(tmp_path / f"{name}_src")
    src_df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src_df.schema).parquet(path)
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_event_stats_batch_stream_parity(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    batch = windowed_event_stats(events).toPandas()
    streamed = _run_stream_over_parquet(
        spark,
        events,
        lambda s: windowed_event_stats(s),
        tmp_path,
        "win_stats",
    ).toPandas()
    key = ["window_start", "event_type"]
    b = batch.sort_values(key, ignore_index=True)
    s = streamed.sort_values(key, ignore_index=True)
    # availableNow + watermark: all but the trailing (open) windows emit.
    assert len(s) >= 0.8 * len(b)
    merged = s.merge(b, on=key, suffixes=("_s", "_b"))
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["sum_value_s"] == merged["sum_value_b"]).all()


def test_sessionized_event_counts_batch(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    sess = sessionized_event_counts(events)
    rows = sess.collect()
    assert rows
    # session windows per user never overlap
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2
    # total events preserved
    assert sum(r["n_events"] for r in rows) == events.count()


def test_watermark_drops_late_data(spark, tmp_path):
    import datetime as dt

    def _ts(s):
        return dt.datetime.fromisoformat(s)

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch1 = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:10:00"), 1, "view", 1.0),
            (2, _ts("2024-01-01 12:00:00"), 1, "view", 1.0),  # advances watermark
        ],
        schema,
    )
    # batch2's event is 2h older than the watermark (12:00 - 30min) -> dropped
    batch2 = spark.createDataFrame(
        [
            (3, _ts("2024-01-01 10:20:00"), 1, "view", 1.0),
            (4, _ts("2024-01-01 13:00:00"), 1, "view", 1.0),
        ],
        schema,
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    batch2.coalesce(1).write.mode("append").parquet(src + "/b2")
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = windowed_event_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].hour, r["n_events"])
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # The 10:00 window must close with only batch1's event: batch2's
    # 10:20 row arrived after the watermark passed 10:30 (if file order
    # put batch2 first, the window would hold 2 — accept either closed
    # count but require the window closed exactly once).
    ten = [n for (h, n) in rows if h == 10]
    assert len(ten) == 1 and ten[0] in (1, 2)


def test_stream_static_join(spark, sf_dir, tmp_path):
    # stream-static enrichment: streaming events joined to a static dim
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    user_dim = (
        events.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    src = str(tmp_path / "ssj_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.join(F.broadcast(user_dim), "user_id").groupBy("tier").count()
    q = (
        enriched.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["tier"]: r["count"] for r in spark.sql("SELECT * FROM ssj").collect()}
    want = {
        r["tier"]: r["count"]
        for r in events.join(user_dim, "user_id").groupBy("tier").count().collect()
    }
    assert got == want


def test_sliding_window_stats_batch_stream_parity(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    batch = windowed_event_stats(
        events, slide="30 minutes"
    ).toPandas()
    streamed = _run_stream_over_parquet(
        spark,
        events,
        lambda s: windowed_event_stats(s, slide="30 minutes"),
        tmp_path,
        "slide_stats",
    ).toPandas()
    key = ["window_start", "event_type"]
    b = batch.sort_values(key, ignore_index=True)
    s = streamed.sort_values(key, ignore_index=True)
    assert len(s) >= 0.8 * len(b)
    merged = s.merge(b, on=key, suffixes=("_s", "_b"))
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["sum_value_s"] == merged["sum_value_b"]).all()


def test_streaming_cms_partials_merge_to_batch_sketch(spark, sf_dir, tmp_path):
    """Count-min grids are mergeable: per-micro-batch partial sketches
    summed cell-wise equal the one-shot batch sketch over the full
    corpus — the property that lets a stream maintain heavy hitters
    without reprocessing history."""
    from collections import defaultdict

    from amorphous_mapreduce_spark.operators.sketches import cms_cells

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "cms_src")
    # two physical files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src + "/a")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src + "/b")

    merged: dict[tuple[int, int], int] = defaultdict(int)
    n_batches = [0]

    def merge_batch(bdf, _bid):
        n_batches[0] += 1
        for row in cms_cells(bdf).collect():
            merged[(row["depth"], row["bucket"])] += row["cell"]

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(merge_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert n_batches[0] >= 2

    want = {
        (r["depth"], r["bucket"]): r["cell"] for r in cms_cells(docs).collect()
    }
    assert dict(merged) == want


def test_streaming_drift_cells_merge_to_batch_verdicts(spark, sf_dir, tmp_path):
    """The drift monitor's state (integer cell counts) is mergeable:
    per-micro-batch (event_type, bucket, period) counts summed across
    batches reproduce the batch query's chi-square inputs and integer
    drift verdicts exactly — a stream can maintain the monitor without
    reprocessing history."""
    from collections import defaultdict

    from amorphous_mapreduce_spark.queries_registry import QUERIES

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    src = str(tmp_path / "drift_src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src + "/a")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src + "/b")

    cells: dict[tuple[str, int], list[int]] = defaultdict(lambda: [0, 0])
    n_batches = [0]

    def merge_batch(bdf, _bid):
        n_batches[0] += 1
        rows = (
            bdf.select(
                "event_type",
                F.least(
                    F.floor(F.col("value") / 50.0).cast("long"),
                    F.lit(9).cast("long"),
                ).alias("bucket"),
                F.when(
                    F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
                    1,
                )
                .otherwise(0)
                .alias("ref"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.sum("ref").alias("n_ref"), F.sum(1 - F.col("ref")).alias("n_cur"))
            .collect()
        )
        for r in rows:
            c = cells[(r.event_type, r.bucket)]
            c[0] += r.n_ref
            c[1] += r.n_cur

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream.writeStream.foreachBatch(merge_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert n_batches[0] >= 2

    got = QUERIES["feature_drift_buckets"](spark, sf_dir).collect()
    tot = defaultdict(lambda: [0, 0])
    for (et, _b), (nr, nc) in cells.items():
        tot[et][0] += nr
        tot[et][1] += nc
    for r in got:
        nr, nc = cells[(r.event_type, r.bucket)]
        assert (r.n_ref, r.n_cur) == (nr, nc)
        tr, tc = tot[r.event_type]
        assert r.drifted == (abs(nr * tc - nc * tr) * 50 > tr * tc)
    assert len(got) == len(cells)


def test_streaming_ivm_foreachbatch_matches_batch(spark, sf_dir, tmp_path):
    """Incremental view maintenance through foreachBatch: micro-batches of
    lineitem deltas maintain a (returnflag, linestatus) rollup by
    mergeable-state addition; the final state must equal the one-shot
    batch aggregate exactly (integer counts and cents)."""
    import threading

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    src = str(tmp_path / "ivm_src")
    li.repartition(8).write.mode("overwrite").parquet(src)

    state: dict[tuple, list] = {}
    lock = threading.Lock()

    def upsert(batch_df, batch_id):
        rows = (
            batch_df.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("qty").alias("sq"),
                F.sum("cents").alias("sc"),
            )
            .collect()
        )
        with lock:
            for r in rows:
                k = (r.l_returnflag, r.l_linestatus)
                cur = state.setdefault(k, [0, 0, 0])
                cur[0] += r.n
                cur[1] += r.sq
                cur[2] += r.sc

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 2)  # force multiple micro-batches
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ivm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = {
        (r.l_returnflag, r.l_linestatus): [r.n, r.sq, r.sc]
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("qty").alias("sq"),
            F.sum("cents").alias("sc"),
        )
        .collect()
    }
    assert state == want
