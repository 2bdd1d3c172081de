"""Temporal joins Spark lacks as builtins: as-of join and range join.

Both are implemented as compositions of existing DataFrame ops (the
preferred strategy per SURVEY.md §2.4 custom-operator ladder), not pandas
cogroups:

- **as-of join**: union both sides tagged, one window sort per key with a
  forward-carried last-observation — O(n log n) in each key's rows, one
  shuffle on the key, no per-key driver loops, no pandas. This is the
  scalable formulation (the per-key sort happens inside Spark's window
  exec, spilling as needed).
- **range join**: interval containment via time-bucketing — intervals
  explode to the buckets they cover, events join on their bucket
  (equi-join!), then the exact containment predicate filters. Turns an
  inequality join (nested loop at scale) into a hash join with bounded
  fanout = interval_span/bucket + 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row of the same
    ``user_id``: the latest with ``right.ts <= left.ts`` (backward,
    default) or the earliest with ``right.ts >= left.ts`` (forward).

    Returns left columns + ``asof_ts`` + ``asof_value``. Left rows with
    no matching right row keep NULLs (left-outer as-of semantics). At
    equal timestamps the right row is considered visible (<=/>=),
    matching DuckDB's ASOF JOIN. With ``tolerance_us``, matches farther
    than that many microseconds from the left timestamp are nulled out
    (pandas merge_asof ``tolerance`` semantics) — the mask is applied
    AFTER the carry, so it is one scalar comparison per row, not a
    second join.

    Duplicate right (user_id, ts) pairs resolve deterministically:
    backward carries the greatest ``value``, forward the smallest (each
    is the payload adjacent to the left row in the total window order).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1))
    r = right.select(
        F.col("user_id"),
        F.col("ts"),
        F.col("value"),
    ).withColumn("_side", F.lit(0))
    # Align schemas: left payload columns are NULL on right rows & v.v.
    for c in lcols:
        if c not in ("user_id", "ts") and c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    if "value" not in l.columns:
        l = l.withColumn("value", F.lit(None).cast(dict(right.dtypes)["value"]))
    unioned = l.unionByName(r.select(*l.columns))
    # Right rows sort before left rows at identical ts so they are
    # visible to them (ASOF's <=). Among right rows with the SAME
    # (user_id, ts) the payload struct ascending makes the ordering
    # total, so F.last deterministically carries the greatest payload —
    # without it the carried right row is arbitrary run-to-run.
    fwd = direction == "forward"
    payload = F.when(F.col("_side") == 0, F.struct(F.col("value")))
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc() if fwd else F.col("ts").asc(),
            F.col("_side").asc(),
            # Walking the window order, F.last carries the right row
            # closest to the left row; ordering the same-(user_id, ts)
            # payloads so the carried one is greatest (backward) /
            # smallest (forward).
            payload.desc_nulls_first() if fwd else payload.asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *[F.col(c) for c in unioned.columns],
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"asof_{c}")
            for c in ("ts", "value")
        ],
    )
    out_cols = lcols + ["asof_ts", "asof_value"]
    result = carried.filter(F.col("_side") == 1).select(*out_cols)
    if tolerance_us is not None:
        gap = (
            F.unix_micros(F.col("asof_ts")) - F.unix_micros(F.col("ts"))
            if fwd
            else F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))
        )
        in_tol = F.col("asof_ts").isNotNull() & (gap <= F.lit(tolerance_us))
        result = result.select(
            *lcols,
            *[F.when(in_tol, F.col(c)).alias(c) for c in ("asof_ts", "asof_value")],
        )
    return result


def range_join(
    events: DataFrame,
    intervals: DataFrame,
    bucket: str = "1 hour",
) -> DataFrame:
    """Rows of ``events`` matched to every interval containing them
    (start <= ts < end), via bucketed equi-join.

    ``bucket`` should be >= the typical interval length so fanout stays
    near 1; the containment filter guarantees exactness regardless.
    """
    n_secs = {"1 hour": 3600, "1 day": 86400, "15 minutes": 900, "1 minute": 60}[
        bucket
    ]
    ev = events.withColumn(
        "_b", (F.unix_timestamp(F.col("ts")) / n_secs).cast("long")
    )
    iv = intervals.withColumn(
        "_bs", (F.unix_timestamp(F.col("start")) / n_secs).cast("long")
    ).withColumn(
        # end is exclusive: a zero-length tail bucket is still generated,
        # the containment filter discards spurious matches.
        "_be",
        (F.unix_timestamp(F.col("end")) / n_secs).cast("long"),
    )
    iv_exploded = iv.withColumn("_b", F.explode(F.sequence("_bs", "_be"))).drop(
        "_bs", "_be"
    )
    return (
        ev.join(iv_exploded, "_b")
        .filter(
            (F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end"))
        )
        .drop("_b")
    )


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Hypertable-style gap-filled daily rollup with forward fill:
    [event_type, day, n_events, filled_sum].

    Every (key, day) cell of the corpus's day span exists in the output;
    days with no events carry n_events = 0 and the last observed daily
    sum (NULL before the first observation). The time spine is built
    from a 1-row MIN/MAX bounds aggregate crossed onto the distinct key
    set — never a per-row expansion of the raw events — so spine size is
    |keys| x |days| regardless of event volume. The forward-fill window
    partitions on the bounded key, ordering only each key's |days| rows.

    Daily sums accumulate in DECIMAL before the double cast (CLAUDE.md
    float-agg convention) and the fill only *copies* values, so outputs
    are engine-exact.
    """
    # persisted: bounds, the key set, and the spine join all read this
    # (bounded |keys| x |days|) rollup — without the cache the events
    # aggregation would run three times
    daily = (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("k"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("_sum"),
        )
        .persist()
    )
    bounds = daily.agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
    keys = daily.select("k").distinct()
    spine = keys.crossJoin(F.broadcast(bounds)).select(
        "k",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["k", "day"], "left")
        .select(
            F.col("k").alias("event_type"),
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last("_sum", ignorenulls=True).over(w).alias("filled_sum"),
        )
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    right_cols: tuple[str, ...] = (),
    tolerance_us: int | None = None,
) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof direction=
    'nearest'): each left row gets the right row minimizing |right.us −
    left.us| within the same ``user_id``, preferring the BACKWARD match
    on exact distance ties. ``us`` is an integer column (epoch
    microseconds), so the distance is exact integer arithmetic.

    Same scale shape as asof_join: ONE shuffle on the key, two ordered
    carries inside the same window partition (ascending for the
    backward candidate, descending for the forward candidate), then a
    scalar chooser — never a row-pair blowup. Duplicate right (user_id, us)
    rows resolve like asof_join: the backward carry keeps the greatest
    payload tuple, the forward carry the smallest.
    """
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1))
    r = right.select(
        F.col("user_id"), F.col("us"), *[F.col(c) for c in right_cols]
    ).withColumn("_side", F.lit(0))
    for c in lcols:
        if c not in ("user_id", "us") and c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in right_cols:
        if c not in l.columns:
            l = l.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    unioned = l.unionByName(r.select(*l.columns))

    payload = F.when(
        F.col("_side") == 0, F.struct(*[F.col(c) for c in right_cols])
    )
    w_b = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("_side").asc(), payload.asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").desc(), F.col("_side").asc(), payload.desc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def carry(w, name_prefix):
        cols = [
            F.last(F.when(F.col("_side") == 0, F.col("us")), ignorenulls=True)
            .over(w)
            .alias(f"{name_prefix}_us")
        ]
        cols += [
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"{name_prefix}_{c}")
            for c in right_cols
        ]
        return cols

    # All window columns in ONE select (window-after-filter recompute
    # gotcha), then the scalar chooser.
    carried = unioned.select(
        *unioned.columns, *carry(w_b, "_b"), *carry(w_f, "_f")
    ).filter(F.col("_side") == 1)

    d_b = F.col("us") - F.col("_b_us")
    d_f = F.col("_f_us") - F.col("us")
    b_ok = F.col("_b_us").isNotNull() & (
        F.lit(True) if tolerance_us is None else (d_b <= F.lit(tolerance_us))
    )
    f_ok = F.col("_f_us").isNotNull() & (
        F.lit(True) if tolerance_us is None else (d_f <= F.lit(tolerance_us))
    )
    take_b = b_ok & (~f_ok | (d_b <= d_f))
    take_f = f_ok & ~take_b

    out_cols = [F.col(c) for c in lcols]
    out_cols.append(
        F.when(take_b, F.col("_b_us"))
        .when(take_f, F.col("_f_us"))
        .alias("asof_us")
    )
    for c in right_cols:
        out_cols.append(
            F.when(take_b, F.col(f"_b_{c}"))
            .when(take_f, F.col(f"_f_{c}"))
            .alias(f"asof_{c}")
        )
    return carried.select(*out_cols)
