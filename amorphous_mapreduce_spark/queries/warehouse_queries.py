"""Warehouse-modelling battery: SCD Type-2 interval builds, exact
anomaly flags, Pareto (skyline) frontiers, and calendar moving averages.

These are the dimensional-modelling / monitoring shapes a training-data
warehouse runs daily on top of the relational core (SURVEY.md §2.4):
change-data intervals from an event stream, outlier detection that a
driver can alert on, and trailing-window KPIs. Every rule is
integer/decimal-exact so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.agg import dec, dsum
from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


# --- SCD Type-2 validity intervals ----------------------------------------

SCD2_ORACLE = """
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
marked AS (
    SELECT user_id, event_id, event_type, us,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
seg AS (
    SELECT user_id, event_type, us,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS seg_id
    FROM marked
),
g AS (
    SELECT user_id, seg_id, event_type,
           MIN(us) AS valid_from_us, COUNT(*) AS n_events
    FROM seg GROUP BY user_id, seg_id, event_type
)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us) AS valid_to_us,
       n_events
FROM g
"""


@register("scd2_user_state", SCD2_ORACLE)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the event stream: collapse each
    user's consecutive same-type events into validity intervals
    [valid_from, valid_to) — the islands-and-gaps shape every warehouse
    uses for slowly-changing dimensions. All three windows partition by
    user_id (keyed, no global sort); change detection and segment
    numbering are built in ONE select so the windows share a sort
    (CLAUDE.md gotcha: never split window cols across filters).
    Comparisons run on epoch microseconds (the precision both engines
    share on the nanos fixture); ties broken by event_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    seg = ev.select(
        "user_id",
        "event_type",
        "us",
        F.sum(chg).over(wrun).alias("seg_id"),
    )
    g = seg.groupBy("user_id", "seg_id", "event_type").agg(
        F.min("us").alias("valid_from_us"), F.count("*").alias("n_events")
    )
    wlead = Window.partitionBy("user_id").orderBy("valid_from_us")
    return g.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(wlead).alias("valid_to_us"),
        "n_events",
    )


# --- exact anomaly flags (no float division anywhere) ----------------------

SPIKES_ORACLE = """
WITH stats AS (
    SELECT event_type,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum6,
           CAST(COUNT(*) AS DECIMAL(10,0)) AS cnt
    FROM events GROUP BY event_type
)
SELECT event_id, user_id, e.event_type, value
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE CAST(value AS DECIMAL(18,6)) * s.cnt > 3 * s.sum6
"""


@register("events_value_spikes", SPIKES_ORACLE)
def q_events_value_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events whose value exceeds 3x their type's
    mean. The mean is never materialised — the predicate is rearranged
    to ``value * count > 3 * sum`` so every comparison is exact decimal
    x integer arithmetic (no float division to drift between engines).
    One keyed agg over a handful of types, broadcast back onto the
    stream: at 100 TB the stats side is a few rows per event type."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.sum(dec("value", "decimal(18,6)")).alias("sum6"),
        F.count("*").cast("decimal(10,0)").alias("cnt"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(dec("value", "decimal(18,6)") * F.col("cnt") > 3 * F.col("sum6"))
        .select("event_id", "user_id", "event_type", "value")
    )


# --- Pareto frontier (skyline) per brand -----------------------------------

SKYLINE_ORACLE = """
SELECT p_partkey, p_brand, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_brand = p.p_brand
      AND q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@register("part_skyline", SKYLINE_ORACLE)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier: parts not dominated on (cheaper price,
    larger size) by any same-brand part. The dominance test is a left
    ANTI join whose equi-component is the brand key, so Spark plans a
    hash join with the inequality as a residual filter — candidate
    pairs are bounded per brand group, never a global cartesian."""
    p = load_table(spark, sf_dir, "part")
    q = p.select(
        F.col("p_brand").alias("q_brand"),
        F.col("p_retailprice").alias("q_price"),
        F.col("p_size").alias("q_size"),
    )
    dominated_by = (
        (F.col("p_brand") == F.col("q_brand"))
        & (F.col("q_price") <= F.col("p_retailprice"))
        & (F.col("q_size") >= F.col("p_size"))
        & (
            (F.col("q_price") < F.col("p_retailprice"))
            | (F.col("q_size") > F.col("p_size"))
        )
    )
    return p.join(q, dominated_by, "left_anti").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )


# --- trailing 7-day moving average without a global window -----------------

MA7_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS ddate,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY ddate
),
contrib AS (
    SELECT daily.ddate + CAST(g.i AS INTEGER) AS tdate, rev
    FROM daily CROSS JOIN (SELECT UNNEST(range(0, 7)) AS i) g
),
ma AS (
    SELECT tdate, SUM(rev) AS rev7, COUNT(*) AS days_present
    FROM contrib GROUP BY tdate
)
SELECT CAST(d.ddate AS TIMESTAMP) AS ddate,
       CAST(d.rev AS DOUBLE) AS day_revenue,
       CAST(m.rev7 AS DOUBLE) AS rev_7d,
       m.days_present,
       CAST(m.rev7 AS DOUBLE) / m.days_present AS ma_7d
FROM daily d JOIN ma m ON d.ddate = m.tdate
"""


@register("daily_revenue_ma7", MA7_ORACLE)
def q_daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily order revenue WITHOUT a
    global ordered window: each daily total is exploded into the 7
    target dates it contributes to, then re-aggregated by target date —
    two keyed hash aggs, embarrassingly parallel at any scale (the
    classic scale-out replacement for ``ROWS 6 PRECEDING`` over an
    unpartitioned frame). Division happens once, double/int, identical
    on both engines; sums stay decimal."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("ddate")
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    contrib = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "ddate", "rev"
    ).select(F.expr("date_add(ddate, i)").alias("tdate"), "rev")
    ma = contrib.groupBy("tdate").agg(
        F.sum("rev").alias("rev7"), F.count("*").alias("days_present")
    )
    return daily.join(ma, daily.ddate == ma.tdate).select(
        F.col("ddate").cast("timestamp").alias("ddate"),
        F.col("rev").cast("double").alias("day_revenue"),
        F.col("rev7").cast("double").alias("rev_7d"),
        "days_present",
        (F.col("rev7").cast("double") / F.col("days_present")).alias("ma_7d"),
    )


# --- mergeable histogram quantile (the 100 TB median) ----------------------

HIST_MEDIAN_ORACLE = """
WITH hist AS (
    SELECT l_returnflag,
           CAST(LEAST(FLOOR(l_extendedprice / 10000.0), 10) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, bin
),
cum AS (
    SELECT h1.l_returnflag, h1.bin, SUM(h2.n) AS cum_n
    FROM hist h1 JOIN hist h2
      ON h1.l_returnflag = h2.l_returnflag AND h2.bin <= h1.bin
    GROUP BY h1.l_returnflag, h1.bin
),
tot AS (
    SELECT l_returnflag, SUM(n) AS total FROM hist GROUP BY l_returnflag
)
SELECT c.l_returnflag,
       MIN(c.bin) AS median_bin,
       CAST(MIN(c.bin) * 10000 + 5000 AS DOUBLE) AS approx_median,
       CAST(MIN(t.total) AS BIGINT) AS total
FROM cum c JOIN tot t ON c.l_returnflag = t.l_returnflag
WHERE 2 * c.cum_n >= t.total
GROUP BY c.l_returnflag
"""


@register("approx_median_hist", HIST_MEDIAN_ORACLE)
def q_approx_median_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch median: one hash aggregation builds fixed-width
    bucket counts (a mergeable sketch — partial aggs combine by adding
    counts, so the 100 TB plan is a single map-side-combined pass, no
    global sort like the exact percentile path); the cumulative
    distribution is recovered by a self-join KEYED ON l_returnflag
    (bin inequality is a residual on an equi-join over <=11-row
    groups). Median = first bin where 2*cum >= total; the estimate is
    the bin midpoint, exact integer arithmetic end-to-end."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(10000.0)), F.lit(10)
    ).cast("long")
    hist = (
        li.groupBy("l_returnflag", bin_col.alias("bin"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    h2 = hist.select(
        F.col("l_returnflag").alias("flag2"),
        F.col("bin").alias("bin2"),
        F.col("n").alias("n2"),
    )
    cum = (
        hist.join(
            h2,
            (F.col("l_returnflag") == F.col("flag2"))
            & (F.col("bin2") <= F.col("bin")),
        )
        .groupBy("l_returnflag", "bin")
        .agg(F.sum("n2").alias("cum_n"))
    )
    tot = hist.groupBy("l_returnflag").agg(F.sum("n").alias("total"))
    return (
        cum.join(tot, "l_returnflag")
        .filter(2 * F.col("cum_n") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("bin").alias("median_bin"),
            (F.min("bin") * 10000 + 5000).cast("double").alias("approx_median"),
            F.min("total").cast("long").alias("total"),
        )
    )


# --- day-over-day delta via keyed self-join (no global lag window) ---------

DELTA_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS ddate,
           SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
    FROM orders GROUP BY ddate
)
SELECT CAST(d.ddate AS TIMESTAMP) AS ddate,
       CAST(d.rev AS DOUBLE) AS day_revenue,
       CAST(p.rev AS DOUBLE) AS prev_revenue,
       CAST(d.rev - p.rev AS DOUBLE) AS delta
FROM daily d LEFT JOIN daily p ON p.ddate = d.ddate - 1
"""


@register("daily_revenue_delta", DELTA_ORACLE)
def q_daily_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta via a keyed self-join on the previous
    calendar day instead of LAG over an unpartitioned ordered window —
    the delta survives any partitioning and parallelises freely (the
    same explode/shift trick as the moving average, specialised to
    shift=1). Missing previous day yields NULL, matching LAG
    semantics over a date spine. Subtraction stays decimal."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("ddate")
    ).agg(F.sum(dec("o_totalprice")).alias("rev")).persist()
    prev = daily.select(
        F.expr("date_add(ddate, 1)").alias("ddate"), F.col("rev").alias("prev")
    )
    return daily.join(prev, "ddate", "left").select(
        F.col("ddate").cast("timestamp").alias("ddate"),
        F.col("rev").cast("double").alias("day_revenue"),
        F.col("prev").cast("double").alias("prev_revenue"),
        (F.col("rev") - F.col("prev")).cast("double").alias("delta"),
    )


# --- referential-integrity audit (orphan detection) ------------------------

FK_AUDIT_ORACLE = """
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
"""


@register("fk_integrity_audit", FK_AUDIT_ORACLE)
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: orphan counts for every foreign-key edge of
    the star schema (the audit a warehouse runs before publishing a
    snapshot). Each relation is one ANTI join on its key followed by a
    scalar count — dimension sides broadcast, the fact side streams
    once per edge; nothing materialises the orphan rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def orphans(name, fact, fk, dim, pk):
        missing = fact.join(
            F.broadcast(dim.select(pk)), fact[fk] == dim[pk], "left_anti"
        )
        return missing.agg(F.count("*").alias("n_orphans")).select(
            F.lit(name).alias("relation"), "n_orphans"
        )

    return (
        orphans("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(
            orphans(
                "lineitem->part",
                li,
                "l_partkey",
                load_table(spark, sf_dir, "part"),
                "p_partkey",
            )
        )
        .unionByName(
            orphans(
                "lineitem->supplier",
                li,
                "l_suppkey",
                load_table(spark, sf_dir, "supplier"),
                "s_suppkey",
            )
        )
        .unionByName(
            orphans(
                "orders->customer",
                orders,
                "o_custkey",
                load_table(spark, sf_dir, "customer"),
                "c_custkey",
            )
        )
    )


# --- explicit GROUPING SETS (completes the cube/rollup lattice family) -----

GSETS_ORACLE = """
SELECT COALESCE(p_brand, 'ALL') AS brand,
       COALESCE(l_returnflag, 'ALL') AS returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY GROUPING SETS ((p_brand), (l_returnflag), ())
"""


@register("sales_grouping_sets", GSETS_ORACLE)
def q_sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two marginal rollups plus the grand
    total WITHOUT the full cross-product a CUBE would compute (at 100 TB
    the expand operator emits one replica per grouping set, so asking
    for 3 sets instead of CUBE's 4 is a 25% shuffle saving). Rolled-up
    dimensions surface as 'ALL', matching the cube query's convention."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        joined.groupingSets(
            [["p_brand"], ["l_returnflag"], []], "p_brand", "l_returnflag"
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(dec("l_extendedprice", "decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            "n_items",
            "sum_price",
        )
    )


# --- percent_rank / cume_dist (keyed rank-statistics windows) --------------

PRANK_ORACLE = """
SELECT c_custkey, c_nationkey, c_acctbal,
       percent_rank() OVER w AS spend_pr,
       cume_dist() OVER w AS spend_cd
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


@register("customer_percent_rank", PRANK_ORACLE)
def q_customer_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank statistics per nation: percent_rank and cume_dist over the
    customer balance, windows PARTITIONED BY the nation key (keyed sort,
    never global) with a total-order tie-break. Both functions are
    rank/count ratios of identical integers, so the doubles match the
    oracle bit-for-bit."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("spend_pr"),
        F.cume_dist().over(w).alias("spend_cd"),
    )


# --- incremental rollup maintenance (mergeable partial state) --------------

INCR_ORACLE = """
WITH base AS (
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum6, COUNT(*) AS cnt
    FROM events WHERE event_id % 2 = 0 GROUP BY day
),
delta AS (
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum6, COUNT(*) AS cnt
    FROM events WHERE event_id % 2 = 1 GROUP BY day
),
merged AS (
    SELECT day, sum6, cnt FROM base
    UNION ALL SELECT day, sum6, cnt FROM delta
)
SELECT day, CAST(SUM(sum6) AS DOUBLE) AS sum_value,
       CAST(SUM(cnt) AS BIGINT) AS n_events
FROM merged GROUP BY day
"""


@register("incremental_daily_rollup", INCR_ORACLE)
def q_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: a daily rollup kept as mergeable
    partial state (decimal sum + count per day). The 'base' snapshot and
    a 'late-arriving' delta batch are aggregated independently and then
    MERGED by adding states — the algebraic-aggregate property that lets
    a 100 TB rollup absorb new partitions without rescanning history
    (the batch twin of a streaming aggregate's state update). Split is
    simulated by event-id parity; merged result equals a full recompute
    because decimal addition is associative."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("timestamp").alias("day"),
        (F.col("event_id") % 2).alias("parity"),
        dec("value", "decimal(18,6)").alias("v6"),
    )

    def state(df):
        return df.groupBy("day").agg(
            F.sum("v6").alias("sum6"), F.count("*").alias("cnt")
        )

    base = state(ev.filter(F.col("parity") == 0))
    delta = state(ev.filter(F.col("parity") == 1))
    return (
        base.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("sum6").cast("double").alias("sum_value"),
            F.sum("cnt").cast("long").alias("n_events"),
        )
    )


# --- peak concurrent sessions (interval analytics, two-phase scan) ---------

PEAK_ORACLE = """
WITH lagged AS (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, us, event_id,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sess AS (
    SELECT user_id, us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), spans AS (
    SELECT user_id, session_id, MIN(us) AS s_us, MAX(us) + 1 AS e_us
    FROM sess GROUP BY user_id, session_id
), bounds AS (
    SELECT s_us AS us, 1 AS delta FROM spans
    UNION ALL
    SELECT e_us AS us, -1 AS delta FROM spans
), pre AS (
    SELECT us // 86400000000 AS day_idx, delta,
           SUM(delta) OVER (PARTITION BY us // 86400000000
                            ORDER BY us, delta DESC
                            ROWS UNBOUNDED PRECEDING) AS prefix
    FROM bounds
), daily AS (
    SELECT day_idx, SUM(delta) AS net, MAX(prefix) AS dmax
    FROM pre GROUP BY day_idx
), carry AS (
    SELECT d1.day_idx, COALESCE(SUM(d2.net), 0) AS c
    FROM daily d1 LEFT JOIN daily d2 ON d2.day_idx < d1.day_idx
    GROUP BY d1.day_idx
)
SELECT d.day_idx,
       CAST(c.c + GREATEST(d.dmax, 0) AS BIGINT) AS peak_concurrency
FROM daily d JOIN carry c ON d.day_idx = c.day_idx
"""


@register("peak_concurrent_sessions", PEAK_ORACLE)
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval analytics: max concurrent 30-min-gap sessions per day,
    via the distributed two-phase sweep — +1/-1 boundary events get a
    prefix sum KEYED BY DAY (parallel), then each day's carried-in
    level is the sum of prior days' nets (a join over the calendar
    frame, whose size is bounded by the date domain, not the data).
    Peak = carry + max(prefix, 0) — the 0 covers a day whose level
    only falls, where the peak is the level standing at day start.
    This replaces the textbook single global sort of all boundaries,
    which would funnel 100 TB of events through one task."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("us") - F.lag("us").over(w)
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = ev.select("user_id", "us", F.sum(is_new).over(wrun).alias("session_id"))
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("us").alias("s_us"), (F.max("us") + 1).alias("e_us")
    )
    bounds = spans.select(F.col("s_us").alias("us"), F.lit(1).alias("delta")).unionByName(
        spans.select(F.col("e_us").alias("us"), F.lit(-1).alias("delta"))
    )
    day = F.expr("us div 86400000000")
    wpre = (
        Window.partitionBy("day_idx")
        .orderBy(F.col("us"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = bounds.select(
        day.alias("day_idx"), "us", "delta"
    ).select("day_idx", "delta", F.sum("delta").over(wpre).alias("prefix"))
    daily = pre.groupBy("day_idx").agg(
        F.sum("delta").alias("net"), F.max("prefix").alias("dmax")
    ).persist()
    d2 = daily.select(F.col("day_idx").alias("day2"), F.col("net").alias("net2"))
    carry = (
        daily.join(d2, F.col("day2") < F.col("day_idx"), "left")
        .groupBy("day_idx", "dmax")
        .agg(F.coalesce(F.sum("net2"), F.lit(0)).alias("c"))
    )
    return carry.select(
        "day_idx",
        (F.col("c") + F.greatest(F.col("dmax"), F.lit(0)))
        .cast("long")
        .alias("peak_concurrency"),
    )


# --- median absolute deviation (robust dispersion) -------------------------

MAD_ORACLE = """
WITH med AS (
    SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       MIN(m.p50) AS p50,
       quantile_cont(ABS(l.l_extendedprice - m.p50), 0.5) AS mad
FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
GROUP BY l.l_returnflag
"""


@register("price_mad", MAD_ORACLE)
def q_price_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per returnflag — the robust dispersion
    statistic outlier monitoring wants when variance is poisoned by the
    outliers themselves. Two keyed aggregations with a broadcast of the
    tiny per-group medians between them; |x - median| is one double
    subtraction (bit-identical on both engines) and both engines share
    the same interpolated-percentile formula (proven by the
    price_percentiles query)."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min("p50").alias("p50"),
            F.percentile(
                F.abs(F.col("l_extendedprice") - F.col("p50")), 0.5
            ).alias("mad"),
        )
    )


# --- multi-granularity rollup reuse (month FROM day partials) --------------

GRAIN_ORACLE = """
WITH day_state AS (
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           SUM(CAST(value AS DECIMAL(18,6))) AS sum6, COUNT(*) AS cnt
    FROM events GROUP BY day
)
SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
       CAST(SUM(sum6) AS DOUBLE) AS sum_value,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       COUNT(*) AS n_days
FROM day_state GROUP BY month
"""


@register("multi_grain_rollup", GRAIN_ORACLE)
def q_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granularity chaining: the month rollup is computed FROM the
    day-level partial states, never from raw events — at 100 TB the
    coarse grains cost O(#days), not a second full scan (the same
    algebraic-merge property the incremental rollup exploits, applied
    up the time hierarchy day -> month)."""
    ev = load_table(spark, sf_dir, "events")
    day_state = ev.groupBy(
        F.col("ts").cast("date").cast("timestamp").alias("day")
    ).agg(
        F.sum(dec("value", "decimal(18,6)")).alias("sum6"),
        F.count("*").alias("cnt"),
    )
    return day_state.groupBy(
        F.date_trunc("month", F.col("day")).alias("month")
    ).agg(
        F.sum("sum6").cast("double").alias("sum_value"),
        F.sum("cnt").cast("long").alias("n_events"),
        F.count("*").alias("n_days"),
    )


# --- user event-path analysis ---------------------------------------------

PATHS_ORACLE = """
WITH paths AS (
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
    FROM events GROUP BY user_id
)
SELECT path, COUNT(*) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path
LIMIT 20
"""


@register("user_event_paths", PATHS_ORACLE)
def q_user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's full ordered event-type sequence as a
    '>'-joined string, ranked by frequency (the product-analytics
    'what journeys happen most' query). Ordering inside each path comes
    from array_sort over (us, event_id, type) structs — a total order,
    so the aggregation is deterministic under any shuffle; the final
    top-20 is a TakeOrderedAndProject with the path itself as
    tie-break."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_micros(F.col("ts")).alias("us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("etype"),
        ).alias("s"),
    )
    paths = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda x: x.etype),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# --- rolling 7-day median (exact order statistic, full frames only) --------

ROLLMED_ORACLE = """
WITH daily AS (
    SELECT l_returnflag, CAST(l_shipdate AS DATE) AS ddate,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
    FROM lineitem GROUP BY l_returnflag, ddate
),
d AS (SELECT l_returnflag, ddate, CAST(rev AS DOUBLE) AS revd FROM daily),
wmed AS (
    SELECT l_returnflag, ddate, revd,
           median(revd) OVER (PARTITION BY l_returnflag ORDER BY ddate
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS med_7d,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY ddate)
               AS rn
    FROM d
)
SELECT l_returnflag, CAST(ddate AS TIMESTAMP) AS ddate,
       revd AS day_revenue, med_7d
FROM wmed WHERE rn >= 7
"""


@register("rolling_median_7d", ROLLMED_ORACLE)
def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day MEDIAN of daily revenue per return flag — the
    robust cousin of daily_revenue_ma7. Median is not decomposable, so
    the explode-shift trick doesn't apply; instead the window runs over
    the already-aggregated per-day frame (tiny: one row per key-day —
    aggregate first, window the compact frame). Only FULL 7-row frames
    are emitted (rn >= 7): an odd-count median is an exact order
    statistic — one of the input doubles, never an interpolated value —
    so both engines return the identical bit pattern (Spark's
    percentile and DuckDB's median interpolate even counts with
    different IEEE expression shapes). Both window columns are built in
    one select before the filter (CLAUDE.md gotcha)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.col("l_shipdate").cast("date").alias("ddate")
    ).agg(F.sum(dec("l_extendedprice")).alias("rev"))
    d = daily.select(
        "l_returnflag", "ddate", F.col("rev").cast("double").alias("revd")
    )
    wf = (
        Window.partitionBy("l_returnflag")
        .orderBy("ddate")
        .rowsBetween(-6, Window.currentRow)
    )
    wo = Window.partitionBy("l_returnflag").orderBy("ddate")
    out = d.select(
        "l_returnflag",
        "ddate",
        "revd",
        F.expr("percentile(revd, 0.5)").over(wf).alias("med_7d"),
        F.row_number().over(wo).alias("rn"),
    )
    return out.filter(F.col("rn") >= 7).select(
        "l_returnflag",
        F.col("ddate").cast("timestamp").alias("ddate"),
        F.col("revd").alias("day_revenue"),
        "med_7d",
    )


# --- price-volume-mix revenue waterfall -------------------------------------

WATERFALL_ORACLE = """
WITH bm AS (
    SELECT p_brand AS brand,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
               AS midx,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY brand, midx
)
SELECT c.brand, c.midx,
       CAST(c.rev AS DOUBLE) AS revenue,
       CAST(c.rev AS DOUBLE) - CAST(p.rev AS DOUBLE) AS delta,
       (CAST(c.qty AS DOUBLE) - CAST(p.qty AS DOUBLE))
           * (CAST(p.rev AS DOUBLE) / CAST(p.qty AS DOUBLE)) AS volume_effect,
       (CAST(c.rev AS DOUBLE) / CAST(c.qty AS DOUBLE)
        - CAST(p.rev AS DOUBLE) / CAST(p.qty AS DOUBLE))
           * CAST(c.qty AS DOUBLE) AS price_effect
FROM bm c JOIN bm p ON c.brand = p.brand AND c.midx = p.midx + 1
"""


@register("revenue_waterfall", WATERFALL_ORACLE)
def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume revenue waterfall: month-over-month revenue change
    per brand decomposed into a volume effect ((Δqty)·p_prev) and a
    price effect ((Δavg_price)·qty) — the FP&A bridge chart, and an
    identity: volume_effect + price_effect == delta algebraically, so
    the decomposition is self-auditing.

    Scale: one keyed aggregate to the brand x month grid (exact decimal
    sums), then a keyed self-join on (brand, month-1) over that tiny
    grid. All divisions are one fixed double expression over exact
    decimal inputs (the ab_test_welch discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bm = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("long")
            .alias("midx"),
            dec("l_quantity").alias("q"),
            dec("l_extendedprice").alias("r"),
        )
        .groupBy("brand", "midx")
        .agg(F.sum("q").alias("qty"), F.sum("r").alias("rev"))
        .persist()  # both sides of the month self-join share this lineage
    )
    cur = bm.select(
        "brand",
        "midx",
        F.col("qty").cast("double").alias("q1"),
        F.col("rev").cast("double").alias("r1"),
    )
    prev = bm.select(
        "brand",
        (F.col("midx") + 1).alias("midx"),
        F.col("qty").cast("double").alias("q0"),
        F.col("rev").cast("double").alias("r0"),
    )
    j = cur.join(prev, ["brand", "midx"])
    return j.select(
        "brand",
        "midx",
        F.col("r1").alias("revenue"),
        (F.col("r1") - F.col("r0")).alias("delta"),
        ((F.col("q1") - F.col("q0")) * (F.col("r0") / F.col("q0"))).alias(
            "volume_effect"
        ),
        (
            (F.col("r1") / F.col("q1") - F.col("r0") / F.col("q0"))
            * F.col("q1")
        ).alias("price_effect"),
    )


# --- monthly top-10 leaderboard churn ---------------------------------------

CHURN_TOP_ORACLE = """
WITH bm AS (
    SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
               AS midx,
           l_partkey AS p,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
    FROM lineitem GROUP BY midx, p
),
ranked AS (
    SELECT midx, p, rnk FROM (
        SELECT midx, p,
               ROW_NUMBER() OVER (PARTITION BY midx
                                  ORDER BY rev DESC, p ASC) AS rnk
        FROM bm
    ) WHERE rnk <= 10
)
SELECT c.midx,
       CAST(SUM(CASE WHEN p.p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_entered,
       CAST(SUM(CASE WHEN p.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_stayed,
       CAST(COALESCE(SUM(ABS(c.rnk - p.rnk)), 0) AS BIGINT)
           AS rank_shift_stayed
FROM ranked c
LEFT JOIN ranked p ON p.midx = c.midx - 1 AND p.p = c.p
WHERE EXISTS (SELECT 1 FROM ranked x WHERE x.midx = c.midx - 1)
GROUP BY c.midx
"""


@register("leaderboard_churn", CHURN_TOP_ORACLE)
def q_leaderboard_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly top-10 part-leaderboard churn: how many of this month's
    top sellers are new vs returning, and the total rank displacement of
    the returners — the stability metric a merchandising/ranking team
    watches to separate durable winners from volatility.

    Scale: keyed aggregate to the month x part grid, per-month top-10
    via a window PARTITIONED BY month (never global), then a keyed
    self-join of two 10-rows-per-month frames. Deterministic tie-break
    on part id in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    bm = (
        li.select(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("long")
            .alias("midx"),
            F.col("l_partkey").alias("p"),
            dec("l_extendedprice").alias("r"),
        )
        .groupBy("midx", "p")
        .agg(F.sum("r").alias("rev"))
    )
    w = Window.partitionBy("midx").orderBy(F.desc("rev"), F.asc("p"))
    ranked = (
        bm.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("midx", "p", "rnk")
        .persist()  # current/previous/exists branches all read this
    )
    prev = ranked.select(
        (F.col("midx") + 1).alias("midx"),
        F.col("p").alias("p"),
        F.col("rnk").alias("prev_rnk"),
    )
    months_with_prev = ranked.select(
        (F.col("midx") + 1).alias("midx")
    ).distinct()
    joined = (
        ranked.join(months_with_prev, "midx", "left_semi")
        .join(prev, ["midx", "p"], "left")
    )
    return joined.groupBy("midx").agg(
        F.sum(F.when(F.col("prev_rnk").isNull(), 1).otherwise(0)).alias(
            "n_entered"
        ),
        F.sum(F.when(F.col("prev_rnk").isNotNull(), 1).otherwise(0)).alias(
            "n_stayed"
        ),
        F.coalesce(
            F.sum(F.abs(F.col("rnk") - F.col("prev_rnk"))), F.lit(0)
        ).alias("rank_shift_stayed"),
    )


# --- hierarchical ancestor-chain rollup ------------------------------------

HIER_TOP = 50

HIER_ORACLE = f"""
WITH rev AS (
    SELECT o_custkey AS c,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
chain AS (
    SELECT DISTINCT c, c // p.d AS node
    FROM rev CROSS JOIN (VALUES (10), (100), (1000), (10000), (100000),
                                (1000000), (10000000)) AS p(d)
),
rolled AS (
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_descendants,
           CAST(SUM(r.cents) AS BIGINT) AS subtree_cents
    FROM chain JOIN rev r USING (c)
    GROUP BY node
)
SELECT node, n_descendants, subtree_cents
FROM rolled
ORDER BY subtree_cents DESC, node
LIMIT {HIER_TOP}
"""


@register("hierarchy_rollup", HIER_ORACLE)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a fixed-depth hierarchy — the org-chart /
    category-tree aggregation (every internal node's descendant count
    and revenue total). The tree is synthetic (parent = custkey div 10,
    7 levels — the fixtures carry no hierarchy) but the operator is the
    real one: recursive subtree aggregation WITHOUT recursion, via a
    bounded ancestor-chain explode (depth-many rows per leaf) and ONE
    keyed aggregate on the ancestor node — the scale-safe plan for
    hierarchies of known max depth, vs. iterative parent-pointer
    climbing. Top-{HIER_TOP} is a TakeOrderedAndProject.

    DISTINCT on (leaf, node) collapses the repeated root 0 once a chain
    bottoms out, so the root row aggregates every customer exactly once
    (its subtree_cents is the grand total — a self-auditing identity)."""
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.select(
            F.col("o_custkey").alias("c"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("c")
        .agg(F.sum("cents").alias("cents"))
    )
    # both the chain explode and the revenue join read rev: persist the
    # small per-customer aggregate (CLAUDE.md self-join gotcha)
    rev = rev.persist()
    chain = (
        rev.select(
            "c",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            (F.col("c") / F.lit(10**k)).cast("long")
                            for k in range(1, 8)
                        ]
                    )
                )
            ).alias("node"),
        )
    )
    rolled = (
        chain.join(rev, "c")
        .groupBy("node")
        .agg(
            F.count("*").alias("n_descendants"),
            F.sum("cents").alias("subtree_cents"),
        )
    )
    return rolled.orderBy(F.desc("subtree_cents"), F.asc("node")).limit(
        HIER_TOP
    )


# --- business-day (weekday) lag arithmetic ---------------------------------

# 1970-01-01 is a Thursday; W[r] = weekdays among day offsets [0, r)
# within a week that starts on Thursday — the lookup that makes
# weekday_count(d) = 5*(d div 7) + W[d mod 7] pure integer arithmetic.
_BIZ_W = (0, 1, 2, 2, 2, 3, 4)

BIZLAG_ORACLE = f"""
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           epoch_us(o_orderdate) // 86400000000 AS od
    FROM orders
),
l AS (
    SELECT l_orderkey, epoch_us(l_shipdate) // 86400000000 AS sd
    FROM lineitem
),
lagged AS (
    SELECT o_orderpriority,
           (5 * (sd // 7) + [{", ".join(str(w) for w in _BIZ_W)}][CAST(sd % 7 AS INT) + 1])
           - (5 * (od // 7) + [{", ".join(str(w) for w in _BIZ_W)}][CAST(od % 7 AS INT) + 1])
               AS biz_days
    FROM o JOIN l ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(biz_days) AS BIGINT) AS sum_biz_days,
       CAST(MIN(biz_days) AS BIGINT) AS min_biz_days,
       CAST(MAX(biz_days) AS BIGINT) AS max_biz_days,
       CAST(SUM(biz_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS mean_biz_days,
       CAST(SUM(CASE WHEN biz_days > 5 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS share_over_5
FROM lagged
GROUP BY o_orderpriority
"""


def _weekday_count(day_col):
    lut = F.array(*[F.lit(w) for w in _BIZ_W])
    return F.lit(5) * (day_col / F.lit(7)).cast("long") + F.element_at(
        lut, F.pmod(day_col, F.lit(7)).cast("int") + F.lit(1)
    )


@register("business_day_lag", BIZLAG_ORACLE)
def q_business_day_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag in BUSINESS DAYS (weekends excluded) per order
    priority — calendar arithmetic without a calendar table: the
    weekday count below any epoch day is the closed-form
    5*(d div 7) + lut[d mod 7] (1970-01-01 = Thursday anchors the
    lookup), so the lag is exact integer math both engines reproduce
    (companion to the engine-independent (epoch_day+4)%7 day-of-week).

    Scale: one fact-fact equi-join on orderkey (co-partitioned shuffle,
    AQE-sized) + one hash aggregate on the 5-value priority key; the
    SLA shares are single IEEE divisions of exact integer sums."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86_400_000_000))
        .cast("long")
        .alias("od"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (F.unix_micros(F.col("l_shipdate").cast("timestamp")) / F.lit(86_400_000_000))
        .cast("long")
        .alias("sd"),
    )
    lagged = o.join(li, "o_orderkey").select(
        "o_orderpriority",
        (_weekday_count(F.col("sd")) - _weekday_count(F.col("od"))).alias(
            "biz_days"
        ),
    )
    n = F.count("*")
    return lagged.groupBy("o_orderpriority").agg(
        n.alias("n_lines"),
        F.sum("biz_days").alias("sum_biz_days"),
        F.min("biz_days").alias("min_biz_days"),
        F.max("biz_days").alias("max_biz_days"),
        (F.sum("biz_days").cast("double") / n.cast("double")).alias(
            "mean_biz_days"
        ),
        (
            F.sum(F.when(F.col("biz_days") > 5, 1).otherwise(0)).cast("double")
            / n.cast("double")
        ).alias("share_over_5"),
    )


# --- ABC-XYZ inventory classification matrix --------------------------------

ABC_XYZ_ORACLE = """
WITH monthly AS (
    SELECT l_partkey AS part,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS m,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY 1, 2
),
per_part AS (
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) // 1048576 AS BIGINT)
               AS ss_hi,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) % 1048576 AS BIGINT)
               AS ss_lo
    FROM monthly GROUP BY part
),
ranked AS (
    SELECT part, n_months, total_cents, ss_hi, ss_lo,
           SUM(total_cents) OVER (ORDER BY total_cents DESC, part) AS cum,
           SUM(total_cents) OVER () AS grand
    FROM per_part
),
classed AS (
    SELECT part, n_months, total_cents,
           CASE WHEN 5 * cum <= 4 * grand THEN 'A'
                WHEN 20 * cum <= 19 * grand THEN 'B'
                ELSE 'C' END AS abc,
           -- CV² = n*ΣX² / (ΣX)² - 1, compared against thresholds by
           -- cross-multiplication in exact integer/double arithmetic
           (CAST(n_months AS DOUBLE)
            * (CAST(ss_hi AS DOUBLE) * 1048576.0 + CAST(ss_lo AS DOUBLE)))
           / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE))
           - 1.0 AS cv2
    FROM ranked
),
final AS (
    SELECT abc,
           CASE WHEN cv2 <= 0.25 THEN 'X'
                WHEN cv2 <= 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz,
           total_cents
    FROM classed
)
SELECT abc, xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(total_cents) AS BIGINT) AS class_cents
FROM final
GROUP BY abc, xyz
"""


@register("abc_xyz_matrix", ABC_XYZ_ORACLE)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: parts classed by cumulative revenue
    share (A = first 80%, B = next 15%, C = tail — integer
    cross-multiplied thresholds) x demand variability (X/Y/Z by the
    squared coefficient of variation of monthly revenue, CV² =
    n·ΣX²/(ΣX)² − 1 from exact moments) — the planning grid that
    decides which SKUs get safety stock vs make-to-order. Completes
    the inventory battery beside pareto_abc_classes.

    Scale: monthly rollup and per-part moments are keyed aggregates
    (ΣX² rides the hi/lo int64 split); the cumulative-share ranking is
    over the PART dimension. CV² is a fixed double expression; all
    class boundaries are exact comparisons."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.select(
            F.col("l_partkey").alias("part"),
            (
                F.year(F.col("l_shipdate").cast("timestamp")) * 12
                + F.month(F.col("l_shipdate").cast("timestamp"))
                - 1
            )
            .cast("long")
            .alias("m"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("part", "m")
        .agg(F.sum("cents").alias("cents"))
    )
    ss = F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents")).cast(
        "decimal(38,0)"
    )
    per_part = monthly.groupBy("part").agg(
        F.count("*").alias("n_months"),
        F.sum("cents").alias("total_cents"),
        ((ss - F.pmod(ss, F.lit(1048576))) / F.lit(1048576))
        .cast("long")
        .alias("ss_hi"),
        F.pmod(ss, F.lit(1048576)).cast("long").alias("ss_lo"),
    )
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )

    ranked = distributed_prefix_sum(
        per_part,
        "total_cents",
        [F.desc("total_cents"), F.asc("part")],
        cum_col="cum",
    )
    # grand total from the prefix scan's persisted output instead of
    # re-executing the whole lineitem monthly-rollup lineage a second
    # time (round-6 bench fix: the duplicate rollup was the in-bench
    # latency outlier). SUM over the persisted rows — NOT max(cum),
    # which equals the grand total only while every per-part total is
    # non-negative (a returns/credits fixture would silently break it;
    # ADVICE_r06).
    grand = ranked.agg(F.sum("total_cents").alias("grand"))
    ssd = F.col("ss_hi").cast("double") * F.lit(1048576.0) + F.col(
        "ss_lo"
    ).cast("double")
    cv2 = (
        F.col("n_months").cast("double")
        * ssd
        / (
            F.col("total_cents").cast("double")
            * F.col("total_cents").cast("double")
        )
        - F.lit(1.0)
    )
    classed = (
        ranked.crossJoin(F.broadcast(grand))
        .select(
            "part",
            "total_cents",
            F.when(5 * F.col("cum") <= 4 * F.col("grand"), "A")
            .when(20 * F.col("cum") <= 19 * F.col("grand"), "B")
            .otherwise("C")
            .alias("abc"),
            cv2.alias("cv2"),
        )
        .select(
            "abc",
            F.when(F.col("cv2") <= 0.25, "X")
            .when(F.col("cv2") <= 1.0, "Y")
            .otherwise("Z")
            .alias("xyz"),
            "total_cents",
        )
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count("*").alias("n_parts"),
        F.sum("total_cents").alias("class_cents"),
    )


# --- daily-winner reign streaks ---------------------------------------------

REIGN_ORACLE = """
WITH daily AS (
    SELECT epoch_us(l.l_shipdate) // 86400000000 AS day,
           p.p_brand AS brand,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
winners AS (
    SELECT day, brand FROM (
        SELECT day, brand,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY cents DESC, brand) AS rn
        FROM daily
    ) WHERE rn = 1
),
islands AS (
    SELECT brand, day,
           day - ROW_NUMBER() OVER (PARTITION BY brand ORDER BY day) AS grp
    FROM winners
),
reigns AS (
    SELECT brand, grp,
           CAST(COUNT(*) AS BIGINT) AS len,
           CAST(MIN(day) AS BIGINT) AS start_day
    FROM islands GROUP BY brand, grp
)
SELECT brand,
       CAST(SUM(len) AS BIGINT) AS n_days_on_top,
       CAST(COUNT(*) AS BIGINT) AS n_reigns,
       CAST(MAX(len) AS BIGINT) AS longest_reign,
       CAST(MIN(CASE WHEN len = (SELECT MAX(r2.len) FROM reigns r2
                                 WHERE r2.brand = reigns.brand)
                     THEN start_day END) AS BIGINT) AS longest_reign_start
FROM reigns
GROUP BY brand
"""


@register("brand_reign_streaks", REIGN_ORACLE)
def q_brand_reign_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """King-of-the-hill analysis: which brand wins each day's revenue
    crown, and for how many CONSECUTIVE days it holds it — the
    gaps-and-islands pattern applied to a ranked daily winner stream
    (leaderboard persistence, the time-dimension complement of
    leaderboard_churn's composition view).

    Scale: the daily winner is a window keyed by day over the
    calendar x brand frame; islands come from the classic
    day - row_number trick keyed by brand; everything downstream is
    brand x reign sized."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.select(
            F.col("l_partkey").alias("p_partkey"),
            (
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("day"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .join(F.broadcast(part), "p_partkey")
        .groupBy("day", F.col("p_brand").alias("brand"))
        .agg(F.sum("cents").alias("cents"))
    )
    wd = Window.partitionBy("day").orderBy(F.desc("cents"), F.asc("brand"))
    winners = (
        daily.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("day", "brand")
    )
    wb = Window.partitionBy("brand").orderBy("day")
    islands = winners.select(
        "brand", "day", (F.col("day") - F.row_number().over(wb)).alias("grp")
    )
    reigns = islands.groupBy("brand", "grp").agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    wmax = Window.partitionBy("brand")
    flagged = reigns.select(
        "brand",
        "len",
        "start_day",
        F.max("len").over(wmax).alias("max_len"),
    )
    return flagged.groupBy("brand").agg(
        F.sum("len").alias("n_days_on_top"),
        F.count("*").alias("n_reigns"),
        F.max("len").alias("longest_reign"),
        F.min(
            F.when(F.col("len") == F.col("max_len"), F.col("start_day"))
        ).alias("longest_reign_start"),
    )


# --- hierarchy percent-of-parent --------------------------------------------

HIER_SHARE_ORACLE = f"""
WITH rev AS (
    SELECT o_custkey AS c,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
chain AS (
    SELECT DISTINCT c, c // p.d AS node
    FROM rev CROSS JOIN (VALUES (10), (100), (1000), (10000), (100000),
                                (1000000), (10000000)) AS p(d)
),
rolled AS (
    SELECT node, CAST(SUM(r.cents) AS BIGINT) AS subtree_cents
    FROM chain JOIN rev r USING (c)
    GROUP BY node
)
SELECT ch.node, ch.parent, ch.subtree_cents, pr.subtree_cents AS parent_cents,
       CAST(ch.subtree_cents AS DOUBLE) / CAST(pr.subtree_cents AS DOUBLE)
           AS share_of_parent
FROM (SELECT node, node // 10 AS parent, subtree_cents
      FROM rolled WHERE node > 0) ch
JOIN rolled pr ON ch.parent = pr.node
ORDER BY ch.subtree_cents DESC, ch.node
LIMIT {HIER_TOP}
"""


@register("hierarchy_share_of_parent", HIER_SHARE_ORACLE)
def q_hierarchy_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent within the synthetic customer hierarchy: each
    internal node's subtree revenue as a share of its parent's subtree
    — the drill-down ratio every OLAP tree view shows next to
    absolute totals (extends hierarchy_rollup; the parent edge is
    node div 10, one keyed self-join on the rollup frame).

    Scale: same recursion-free ancestor-explode rollup; the
    percent-of-parent join is keyed on the parent node id; top-50 is a
    TakeOrderedAndProject."""
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.select(
            F.col("o_custkey").alias("c"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("c")
        .agg(F.sum("cents").alias("cents"))
        .persist()
    )
    chain = rev.select(
        "c",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        (F.col("c") / F.lit(10**k)).cast("long")
                        for k in range(1, 8)
                    ]
                )
            )
        ).alias("node"),
    )
    rolled = (
        chain.join(rev, "c")
        .groupBy("node")
        .agg(F.sum("cents").alias("subtree_cents"))
        .persist()
    )
    ch = rolled.filter(F.col("node") > 0).select(
        "node",
        (F.col("node") / F.lit(10)).cast("long").alias("parent"),
        "subtree_cents",
    )
    pr = rolled.select(
        F.col("node").alias("parent"),
        F.col("subtree_cents").alias("parent_cents"),
    )
    return (
        ch.join(pr, "parent")
        .select(
            "node",
            "parent",
            "subtree_cents",
            "parent_cents",
            (
                F.col("subtree_cents").cast("double")
                / F.col("parent_cents").cast("double")
            ).alias("share_of_parent"),
        )
        .orderBy(F.desc("subtree_cents"), F.asc("node"))
        .limit(HIER_TOP)
    )


# --- incremental aggregate maintenance (IVM delta proof) ----------------------

_IVM_H = (
    "CAST('0x' || substr(md5('ivm:' || CAST(l_orderkey AS VARCHAR) || ':'"
    " || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 10"
)

IVM_ORACLE = f"""
WITH base AS (
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           {_IVM_H} AS h
    FROM lineitem
),
agg_old AS (
    SELECT rf, ls, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS sq, CAST(SUM(cents) AS BIGINT) AS sc
    FROM base WHERE h <> 9 GROUP BY rf, ls
),
agg_del AS (
    SELECT rf, ls, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS sq, CAST(SUM(cents) AS BIGINT) AS sc
    FROM base WHERE h = 0 GROUP BY rf, ls
),
agg_ins AS (
    SELECT rf, ls, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS sq, CAST(SUM(cents) AS BIGINT) AS sc
    FROM base WHERE h = 9 GROUP BY rf, ls
),
agg_full AS (
    SELECT rf, ls, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS sq, CAST(SUM(cents) AS BIGINT) AS sc
    FROM base WHERE h <> 0 GROUP BY rf, ls
)
SELECT f.rf AS returnflag, f.ls AS linestatus,
       f.n AS n_full, f.sq AS sum_qty_full, f.sc AS sum_cents_full,
       o.n - COALESCE(d.n, 0) + COALESCE(i.n, 0) AS n_incr,
       o.sq - COALESCE(d.sq, 0) + COALESCE(i.sq, 0) AS sum_qty_incr,
       o.sc - COALESCE(d.sc, 0) + COALESCE(i.sc, 0) AS sum_cents_incr,
       (f.n = o.n - COALESCE(d.n, 0) + COALESCE(i.n, 0)
        AND f.sq = o.sq - COALESCE(d.sq, 0) + COALESCE(i.sq, 0)
        AND f.sc = o.sc - COALESCE(d.sc, 0) + COALESCE(i.sc, 0)) AS matches
FROM agg_full f
JOIN agg_old o ON f.rf = o.rf AND f.ls = o.ls
LEFT JOIN agg_del d ON f.rf = d.rf AND f.ls = d.ls
LEFT JOIN agg_ins i ON f.rf = i.rf AND f.ls = i.ls
ORDER BY returnflag, linestatus
"""


@register("incremental_agg_maintenance", IVM_ORACLE)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance proof for the Q1-style rollup: apply
    a 10% delete batch and a 10% insert batch to a 90% 'old' snapshot
    (deterministic hash split), maintain the aggregate as
    old - delta_del + delta_ins, and emit it side-by-side with the full
    recompute plus per-group equality flags — the self-auditing IVM
    pattern that lets a 100 TB rollup refresh touch only the deltas.

    Exactness: counts and integer-cent sums are exact on both engines
    (HUGEINT cast back); the incremental combine is pure integer
    arithmetic, so `matches` must be uniformly true — the query output
    IS the proof.

    Scale: ONE scan of the base feeds all four branch aggregates (the
    persisted tagged frame); each branch is a map-side-combined rollup
    onto 6 (rf, ls) groups; joins run on those 6 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("ivm:"),
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 10
        ).alias("h"),
    ).persist()  # four branch aggregates share one scan

    def agg(df, pa, pb, pc):
        return df.groupBy("rf", "ls").agg(
            F.count("*").alias(pa), F.sum("qty").alias(pb), F.sum("cents").alias(pc)
        )

    o = agg(base.filter(F.col("h") != 9), "n_o", "sq_o", "sc_o")
    d = agg(base.filter(F.col("h") == 0), "n_d", "sq_d", "sc_d")
    i = agg(base.filter(F.col("h") == 9), "n_i", "sq_i", "sc_i")
    f = agg(base.filter(F.col("h") != 0), "n_f", "sq_f", "sc_f")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    n_incr = F.col("n_o") - z("n_d") + z("n_i")
    sq_incr = F.col("sq_o") - z("sq_d") + z("sq_i")
    sc_incr = F.col("sc_o") - z("sc_d") + z("sc_i")
    return (
        f.join(o, ["rf", "ls"])
        .join(d, ["rf", "ls"], "left")
        .join(i, ["rf", "ls"], "left")
        .select(
            F.col("rf").alias("returnflag"),
            F.col("ls").alias("linestatus"),
            F.col("n_f").alias("n_full"),
            F.col("sq_f").alias("sum_qty_full"),
            F.col("sc_f").alias("sum_cents_full"),
            n_incr.alias("n_incr"),
            sq_incr.alias("sum_qty_incr"),
            sc_incr.alias("sum_cents_incr"),
            (
                (F.col("n_f") == n_incr)
                & (F.col("sq_f") == sq_incr)
                & (F.col("sc_f") == sc_incr)
            ).alias("matches"),
        )
        .orderBy("returnflag", "linestatus")
    )


# --- Little's law audit (L = lambda * W, proven by an independent sweep) ----

# Session spans use peak_concurrent_sessions' exact definition (30-min
# gap, [min_us, max_us + 1)). The concurrency INTEGRAL is computed two
# independent ways: (a) sum of session durations, (b) the boundary-sweep
# integral — per day, (carry + running delta) x gap-to-next-boundary,
# with the carry from a triangular join over the gap-filled calendar.
# Both are exact integer microseconds; `matches` proves the sweep
# machinery agrees with the direct sum, and Little's L = lambda * W
# follows from the same integers.
_DAY_US = 86_400_000_000

LITTLE_ORACLE = f"""
WITH lagged AS (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, us, event_id,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sess AS (
    SELECT user_id, us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), spans AS (
    SELECT user_id, session_id, MIN(us) AS s_us, MAX(us) + 1 AS e_us
    FROM sess GROUP BY user_id, session_id
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(e_us - s_us) AS BIGINT) AS total_dur_us,
           CAST(MIN(s_us) AS BIGINT) AS t0,
           CAST(MAX(e_us) AS BIGINT) AS t1
    FROM spans
), bounds AS (
    SELECT s_us AS us, 1 AS delta FROM spans
    UNION ALL
    SELECT e_us AS us, -1 AS delta FROM spans
), perb AS (
    SELECT us // {_DAY_US} AS day_idx, us, delta,
           SUM(delta) OVER (PARTITION BY us // {_DAY_US}
                            ORDER BY us, delta DESC
                            ROWS UNBOUNDED PRECEDING) AS prefix,
           LEAD(us) OVER (PARTITION BY us // {_DAY_US}
                          ORDER BY us, delta DESC) AS next_us
    FROM bounds
), daylist AS (
    SELECT unnest(generate_series(t0 // {_DAY_US}, (t1 - 1) // {_DAY_US}))
               AS day_idx
    FROM tot
), dnet AS (
    SELECT day_idx, CAST(SUM(delta) AS BIGINT) AS net,
           CAST(MIN(us) AS BIGINT) AS first_us
    FROM perb GROUP BY day_idx
), carry AS (
    SELECT dl.day_idx,
           CAST(COALESCE(SUM(d2.net), 0) AS BIGINT) AS c,
           MAX(dn.first_us) AS first_us
    FROM daylist dl
    LEFT JOIN dnet d2 ON d2.day_idx < dl.day_idx
    LEFT JOIN dnet dn ON dn.day_idx = dl.day_idx
    GROUP BY dl.day_idx
), dint AS (
    SELECT c.day_idx,
           CASE WHEN c.first_us IS NULL THEN c.c * {_DAY_US}
                ELSE c.c * (c.first_us - c.day_idx * {_DAY_US})
                     + (SELECT CAST(SUM((c.c + p.prefix) *
                             (COALESCE(p.next_us,
                                       (c.day_idx + 1) * {_DAY_US}) - p.us))
                          AS BIGINT)
                        FROM perb p WHERE p.day_idx = c.day_idx)
           END AS day_integral
    FROM carry c
)
SELECT t.n_sessions, t.total_dur_us,
       CAST(SUM(d.day_integral) AS BIGINT) AS sweep_integral_us,
       CAST(SUM(d.day_integral) AS BIGINT) = t.total_dur_us AS matches,
       t.t1 - t.t0 AS horizon_us,
       CAST(t.n_sessions * 3600000000 AS DOUBLE)
           / CAST(t.t1 - t.t0 AS DOUBLE) AS lambda_per_hour,
       CAST(t.total_dur_us AS DOUBLE)
           / CAST(t.n_sessions * 1000000 AS DOUBLE) AS w_mean_s,
       CAST(SUM(d.day_integral) AS DOUBLE)
           / CAST(t.t1 - t.t0 AS DOUBLE) AS l_avg_concurrency
FROM dint d CROSS JOIN tot t
GROUP BY t.n_sessions, t.total_dur_us, t.t0, t.t1
"""


@register("littles_law_audit", LITTLE_ORACLE)
def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law scorecard over gap-sessionized events: arrival rate
    lambda (sessions/hour), mean session duration W, and average
    concurrency L — with L's integral computed by an INDEPENDENT
    boundary sweep (per-day running delta x gap-to-next-boundary plus a
    calendar carry) and proven equal to the direct duration sum by the
    `matches` column. The queueing identity L = lambda x W then holds in
    the integers themselves, not approximately.

    Scale: the sweep windows are keyed by day (running delta + lead);
    the carry is a triangular join over the gap-filled calendar
    (bounded ~tens of rows); nothing global."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wlag = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    flagged = ev.select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.when(
            F.lag(us).over(wlag).isNull()
            | (us - F.lag(us).over(wlag) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "us",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_id"),
    )
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("us").alias("s_us"), (F.max("us") + 1).alias("e_us")
    )
    spans = spans.persist()  # read by totals and both bound branches
    tot = spans.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("e_us") - F.col("s_us")).alias("total_dur_us"),
        F.min("s_us").alias("t0"),
        F.max("e_us").alias("t1"),
    )
    bounds = spans.select(F.col("s_us").alias("us"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("e_us").alias("us"), F.lit(-1).alias("delta"))
    )
    day = F.expr(f"us div {_DAY_US}")
    wday = Window.partitionBy("day_idx").orderBy("us", F.desc("delta"))
    perb = bounds.select(day.alias("day_idx"), "us", "delta").select(
        "day_idx",
        "us",
        "delta",
        F.sum("delta").over(wday.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
        F.lead("us").over(wday).alias("next_us"),
    )
    perb = perb.persist()  # read by dnet and the per-day integral
    daylist = tot.select(
        F.explode(
            F.sequence(
                F.expr(f"t0 div {_DAY_US}"), F.expr(f"(t1 - 1) div {_DAY_US}")
            )
        ).alias("day_idx")
    )
    dnet = perb.groupBy("day_idx").agg(
        F.sum("delta").alias("net"), F.min("us").alias("first_us")
    )
    d2 = dnet.select(F.col("day_idx").alias("d2"), F.col("net").alias("net2"))
    carry = (
        daylist.join(d2, F.col("d2") < F.col("day_idx"), "left")
        .groupBy("day_idx")
        .agg(F.coalesce(F.sum("net2"), F.lit(0)).alias("c"))
        .join(dnet.select("day_idx", "first_us"), "day_idx", "left")
    )
    seg = perb.withColumn(
        "gap",
        F.coalesce(F.col("next_us"), (F.col("day_idx") + 1) * F.lit(_DAY_US))
        - F.col("us"),
    )
    segint = seg.groupBy("day_idx").agg(
        F.sum(F.col("prefix") * F.col("gap")).alias("pint"),
        F.sum("gap").alias("gsum"),
    )
    dint = (
        carry.join(segint, "day_idx", "left")
        .select(
            "day_idx",
            F.when(
                F.col("first_us").isNull(), F.col("c") * F.lit(_DAY_US)
            )
            .otherwise(
                F.col("c") * (F.col("first_us") - F.col("day_idx") * F.lit(_DAY_US))
                + F.col("pint")
                + F.col("c") * F.col("gsum")
            )
            .alias("day_integral"),
        )
    )
    out = dint.crossJoin(F.broadcast(tot))
    integral = F.sum("day_integral").cast("long")
    return out.groupBy("n_sessions", "total_dur_us", "t0", "t1").agg(
        integral.alias("sweep_integral_us"),
        (integral == F.col("total_dur_us")).alias("matches"),
        (F.col("t1") - F.col("t0")).alias("horizon_us"),
        (
            (F.col("n_sessions") * F.lit(3_600_000_000)).cast("double")
            / (F.col("t1") - F.col("t0")).cast("double")
        ).alias("lambda_per_hour"),
        (
            F.col("total_dur_us").cast("double")
            / (F.col("n_sessions") * F.lit(1_000_000)).cast("double")
        ).alias("w_mean_s"),
        (
            integral.cast("double") / (F.col("t1") - F.col("t0")).cast("double")
        ).alias("l_avg_concurrency"),
    ).select(
        "n_sessions",
        "total_dur_us",
        "sweep_integral_us",
        "matches",
        "horizon_us",
        "lambda_per_hour",
        "w_mean_s",
        "l_avg_concurrency",
    )


# --- Apdex score per day ----------------------------------------------------

APDEX_ORACLE = f"""
WITH lagged AS (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, us, event_id,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sess AS (
    SELECT user_id, us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), spans AS (
    SELECT user_id, session_id, MIN(us) AS s_us,
           MAX(us) + 1 - MIN(us) AS dur_us
    FROM sess GROUP BY user_id, session_id
)
SELECT s_us // {_DAY_US} AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN dur_us <= 60000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_satisfied,
       CAST(SUM(CASE WHEN dur_us > 60000000 AND dur_us <= 240000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
       CAST(2 * SUM(CASE WHEN dur_us <= 60000000 THEN 1 ELSE 0 END)
            + SUM(CASE WHEN dur_us > 60000000 AND dur_us <= 240000000
                       THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(2 * COUNT(*) AS DOUBLE) AS apdex
FROM spans GROUP BY 1
"""


@register("apdex_daily_score", APDEX_ORACLE)
def q_apdex_daily_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Apdex score of session durations (satisfied <= 60 s,
    tolerating <= 240 s): the (satisfied + tolerating/2) / total SLO
    summary, cross-multiplied to (2*sat + tol)/(2*n) so the only double
    is one division — the ops-dashboard companion to littles_law_audit
    on the same session spans.

    Scale: keyed sessionize windows + one hash aggregate per day."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wlag = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    flagged = ev.select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.when(
            F.lag(us).over(wlag).isNull()
            | (us - F.lag(us).over(wlag) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "us",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_id"),
    )
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("us").alias("s_us"),
        (F.max("us") + 1 - F.min("us")).alias("dur_us"),
    )
    sat = F.sum((F.col("dur_us") <= 60_000_000).cast("bigint"))
    tol = F.sum(
        (
            (F.col("dur_us") > 60_000_000) & (F.col("dur_us") <= 240_000_000)
        ).cast("bigint")
    )
    return spans.groupBy(F.expr(f"s_us div {_DAY_US}").alias("day_idx")).agg(
        F.count("*").alias("n_sessions"),
        sat.alias("n_satisfied"),
        tol.alias("n_tolerating"),
        (
            (2 * sat + tol).cast("double") / (2 * F.count("*")).cast("double")
        ).alias("apdex"),
    )


# --- zone-map (min/max statistics) pruning audit -----------------------------

_ZM_FILES = 64  # simulated file count (shard width = max_okey/64, SF-relative)

# (pred_id, kind, lo, hi): okey bounds are PERCENT of max(l_orderkey)
# (SF-relative); day bounds are epoch days; cents bounds absolute.
_ZM_REL = [("okey_mid_decile", 10, 12), ("okey_top_tail", 90, 100)]
_ZM_ABS = [
    ("ship_30d_window", "day", 9131, 9161),       # 1995-01-01..31
    ("ship_before_93", "day", 0, 8400),           # < 1992-12-31
    ("price_top_band", "cents", 9_000_000, 11_000_000),
    ("price_floor", "cents", 0, 100_000),
]

ZM_ORACLE = f"""
WITH base0 AS (
    SELECT l_orderkey AS okey,
           CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
               AS day,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
    FROM lineitem
),
mx AS (SELECT CAST(MAX(okey) AS BIGINT) AS maxk,
              GREATEST(CAST(1 AS BIGINT),
                       (CAST(MAX(okey) AS BIGINT) + {_ZM_FILES} - 1)
                           // {_ZM_FILES}) AS w
       FROM base0),
base AS (
    SELECT okey // w AS shard, okey, day, cents FROM base0 CROSS JOIN mx
),
preds AS (
    SELECT pred_id, 'okey' AS kind,
           (maxk * p1) // 100 AS lo, (maxk * p2) // 100 AS hi
    FROM (VALUES {", ".join(f"('{p}', {a}, {b})" for p, a, b in _ZM_REL)})
         AS r(pred_id, p1, p2) CROSS JOIN mx
    UNION ALL
    SELECT pred_id, kind, CAST(lo AS BIGINT), CAST(hi AS BIGINT)
    FROM (VALUES {", ".join(f"('{p}', '{k}', {a}, {b})" for p, k, a, b in _ZM_ABS)})
         AS a(pred_id, kind, lo, hi)
),
zones AS (
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(okey) AS okey_min, MAX(okey) AS okey_max,
           MIN(day) AS day_min, MAX(day) AS day_max,
           MIN(cents) AS cents_min, MAX(cents) AS cents_max
    FROM base GROUP BY shard
),
zp AS (
    SELECT p.pred_id, z.n_rows,
           CASE p.kind WHEN 'okey' THEN z.okey_max WHEN 'day' THEN z.day_max
                       ELSE z.cents_max END < p.lo
           OR CASE p.kind WHEN 'okey' THEN z.okey_min WHEN 'day' THEN z.day_min
                          ELSE z.cents_min END > p.hi AS skipped
    FROM zones z CROSS JOIN preds p
),
skips AS (
    SELECT pred_id,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_skipped
    FROM zp GROUP BY pred_id
),
matches AS (
    SELECT p.pred_id,
           CAST(SUM(CASE WHEN (CASE p.kind WHEN 'okey' THEN b.okey
                               WHEN 'day' THEN b.day ELSE b.cents END)
                              BETWEEN p.lo AND p.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
    FROM base b CROSS JOIN preds p GROUP BY p.pred_id
)
SELECT s.pred_id, s.n_shards, s.n_skipped,
       CAST(s.n_skipped AS DOUBLE) / CAST(s.n_shards AS DOUBLE) AS skip_frac,
       s.rows_total, s.rows_skipped, m.n_matches,
       CAST(m.n_matches AS DOUBLE) / CAST(s.rows_total AS DOUBLE)
           AS selectivity
FROM skips s JOIN matches m USING (pred_id)
ORDER BY s.pred_id
"""


@register("zone_map_skipping", ZM_ORACLE)
def q_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max statistics) pruning audit: simulate a
    ~64-file layout of equal orderkey ranges (SF-relative width), build each shard's
    min/max zone for three columns, and price a 6-predicate panel —
    what fraction of files (and rows) would data skipping eliminate at
    the scan? Clustered-column predicates (l_orderkey ranges) should
    skip ~proportionally to selectivity; unclustered columns (shipdate,
    price) skip ~nothing at the same selectivity — the measured
    argument for sort/Z-order layout beside zorder_layout, and the same
    accounting a lakehouse manifest pruner does at 100 TB.

    Exactness: zones / skip decisions / row counts are pure integers;
    skip_frac and selectivity are one double division per output row.

    Scale: one hash aggregate to #shards zone rows; the panel join is a
    constant 6-row broadcast fanout; the match counts are one more
    aggregate over the same scan (a real system reads zones from the
    manifest instead)."""
    li = load_table(spark, sf_dir, "lineitem")
    base0 = li.select(
        F.col("l_orderkey").alias("okey"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    ).persist()
    mx = base0.agg(
        F.max("okey").alias("maxk"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(CAST(MAX(okey) AS BIGINT) + {_ZM_FILES} - 1) div {_ZM_FILES}"),
        ).alias("w"),
    )
    base = base0.crossJoin(F.broadcast(mx)).select(
        F.expr("okey div w").alias("shard"), "okey", "day", "cents"
    ).persist()
    rel = spark.createDataFrame(_ZM_REL, ["pred_id", "p1", "p2"])
    preds_rel = rel.crossJoin(F.broadcast(mx)).select(
        "pred_id",
        F.lit("okey").alias("kind"),
        F.expr("(maxk * p1) div 100").alias("lo"),
        F.expr("(maxk * p2) div 100").alias("hi"),
    )
    preds_abs = spark.createDataFrame(
        _ZM_ABS, ["pred_id", "kind", "lo", "hi"]
    ).select("pred_id", "kind", F.col("lo").cast("long"), F.col("hi").cast("long"))
    preds = preds_rel.unionByName(preds_abs).persist()
    zones = base.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        F.min("okey").alias("okey_min"),
        F.max("okey").alias("okey_max"),
        F.min("day").alias("day_min"),
        F.max("day").alias("day_max"),
        F.min("cents").alias("cents_min"),
        F.max("cents").alias("cents_max"),
    )
    vmax = (
        F.when(F.col("kind") == "okey", F.col("okey_max"))
        .when(F.col("kind") == "day", F.col("day_max"))
        .otherwise(F.col("cents_max"))
    )
    vmin = (
        F.when(F.col("kind") == "okey", F.col("okey_min"))
        .when(F.col("kind") == "day", F.col("day_min"))
        .otherwise(F.col("cents_min"))
    )
    zp = zones.crossJoin(F.broadcast(preds)).select(
        "pred_id",
        "n_rows",
        ((vmax < F.col("lo")) | (vmin > F.col("hi"))).alias("skipped"),
    )
    skips = zp.groupBy("pred_id").agg(
        F.count("*").alias("n_shards"),
        F.sum(F.col("skipped").cast("long")).alias("n_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(F.col("skipped"), F.col("n_rows")).otherwise(0)).alias(
            "rows_skipped"
        ),
    )
    val = (
        F.when(F.col("kind") == "okey", F.col("okey"))
        .when(F.col("kind") == "day", F.col("day"))
        .otherwise(F.col("cents"))
    )
    matches = (
        base.crossJoin(F.broadcast(preds))
        .groupBy("pred_id")
        .agg(
            F.sum(
                F.when(val.between(F.col("lo"), F.col("hi")), 1).otherwise(0)
            ).alias("n_matches")
        )
    )
    return (
        skips.join(matches, "pred_id")
        .select(
            "pred_id",
            "n_shards",
            "n_skipped",
            (
                F.col("n_skipped").cast("double")
                / F.col("n_shards").cast("double")
            ).alias("skip_frac"),
            "rows_total",
            "rows_skipped",
            "n_matches",
            (
                F.col("n_matches").cast("double")
                / F.col("rows_total").cast("double")
            ).alias("selectivity"),
        )
        .orderBy("pred_id")
    )


# --- log-rank test: session survival between user cohorts --------------------

_LR_CENSOR_S = 600  # administrative censoring horizon (seconds)
_LR_SCALE = 1048576


LOGRANK_ORACLE = f"""
WITH lagged AS (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
), flagged AS (
    SELECT user_id, us, event_id,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sess AS (
    SELECT user_id, us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), spans AS (
    SELECT user_id % 2 AS grp,
           (MAX(us) + 1 - MIN(us)) // 1000000 AS dur_s
    FROM sess GROUP BY user_id, session_id
), obs AS (
    SELECT grp, LEAST(dur_s, {_LR_CENSOR_S}) AS t,
           CASE WHEN dur_s < {_LR_CENSOR_S} THEN 1 ELSE 0 END AS ev
    FROM spans
), hist AS (
    SELECT grp, t, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(ev) AS BIGINT) AS d
    FROM obs GROUP BY grp, t
), ng AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_g FROM hist GROUP BY grp),
tp AS (SELECT t FROM hist GROUP BY t HAVING SUM(d) >= 1),
risk AS (
    SELECT tp.t, g.grp,
           g.n_g - COALESCE(CAST((SELECT SUM(h.cnt) FROM hist h
                                  WHERE h.grp = g.grp AND h.t < tp.t)
                                 AS BIGINT), 0) AS at_risk,
           COALESCE((SELECT h2.d FROM hist h2
                     WHERE h2.grp = g.grp AND h2.t = tp.t), 0) AS d_g
    FROM tp CROSS JOIN ng g
), wide AS (
    SELECT t,
           MAX(CASE WHEN grp = 0 THEN at_risk END) AS n1,
           MAX(CASE WHEN grp = 1 THEN at_risk END) AS n2,
           MAX(CASE WHEN grp = 0 THEN d_g END) AS d1,
           MAX(CASE WHEN grp = 1 THEN d_g END) AS d2
    FROM risk GROUP BY t
), terms AS (
    SELECT t, n1, n2, d1, d2, n1 + n2 AS n, d1 + d2 AS d
    FROM wide WHERE n1 + n2 >= 2 AND d1 + d2 >= 1
), contrib AS (
    SELECT t,
           d1 * {_LR_SCALE} - (d * n1 * {_LR_SCALE}) // n AS ome_q,
           CAST((CAST(d AS HUGEINT) * n1 * n2 * (n - d) * {_LR_SCALE})
                // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS v_q
    FROM terms
), tots AS (
    SELECT CAST(SUM(ome_q) AS BIGINT) AS sum_ome_q,
           CAST(SUM(v_q) AS BIGINT) AS sum_v_q,
           CAST(COUNT(*) AS BIGINT) AS n_timepoints
    FROM contrib
), gg AS (
    SELECT CAST(SUM(CASE WHEN grp = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN grp = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN grp = 0 THEN d ELSE 0 END) AS BIGINT)
               AS events_a,
           CAST(SUM(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT)
               AS events_b
    FROM hist
)
SELECT n_a, n_b, events_a, events_b, n_timepoints, sum_ome_q, sum_v_q,
       (CAST(sum_ome_q AS DOUBLE) * CAST(sum_ome_q AS DOUBLE))
           / ({_LR_SCALE}.0 * CAST(sum_v_q AS DOUBLE)) AS chi2
FROM tots CROSS JOIN gg
"""


@register("logrank_survival_test", LOGRANK_ORACLE)
def q_logrank_survival_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two user cohorts' session-survival curves
    (even vs odd user ids), with administrative censoring at
    {_LR_CENSOR_S} s: per event time, observed-minus-expected cohort-A
    deaths under the shared-hazard null plus the hypergeometric
    variance; chi² = (ΣO-E)²/ΣV — the inferential companion to
    session_survival_curve / nelson_aalen_hazard / cohort_half_life
    (curves describe, the log-rank DECIDES whether two curves differ).

    Exactness: per-timepoint terms are rationals quantized to 2^20
    fixed point with one truncating integer division each (variance in
    DECIMAL/HUGEINT — d*n1*n2*(n-d)*2^20 passes int64); the sums are
    exact BIGINTs; chi² is one fixed double expression.

    Scale: sessionize is the standard keyed-window pass; the
    second-grain + censoring cap bounds the time axis at
    {_LR_CENSOR_S + 1} points, so the risk-set computation is a
    constant-size triangular join over per-cohort histograms, never
    over raw sessions."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wlag = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    flagged = ev.select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.when(
            F.lag(us).over(wlag).isNull()
            | (us - F.lag(us).over(wlag) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "us",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_id"),
    )
    spans = sess.groupBy("user_id", "session_id").agg(
        F.expr("(MAX(us) + 1 - MIN(us)) div 1000000").alias("dur_s")
    )
    obs = spans.select(
        (F.col("user_id") % 2).alias("grp"),
        F.least(F.col("dur_s"), F.lit(_LR_CENSOR_S)).alias("t"),
        F.when(F.col("dur_s") < _LR_CENSOR_S, 1).otherwise(0).alias("ev"),
    )
    hist = (
        obs.groupBy("grp", "t")
        .agg(F.count("*").alias("cnt"), F.sum("ev").alias("d"))
        .persist()
    )
    ng = hist.groupBy("grp").agg(F.sum("cnt").alias("n_g"))
    tp = hist.groupBy("t").agg(F.sum("d").alias("dt")).filter(
        F.col("dt") >= 1
    ).select("t")
    # at-risk via the bounded triangular join over per-cohort histograms
    before = (
        tp.crossJoin(F.broadcast(ng))
        .join(
            hist.select(
                F.col("grp").alias("hgrp"),
                F.col("t").alias("ht"),
                "cnt",
            ),
            (F.col("hgrp") == F.col("grp")) & (F.col("ht") < F.col("t")),
            "left",
        )
        .groupBy("t", "grp", "n_g")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_before"))
    )
    risk = (
        before.select(
            "t",
            "grp",
            (F.col("n_g") - F.col("n_before")).alias("at_risk"),
        )
        .join(
            hist.select("grp", "t", F.col("d").alias("d_g")),
            ["grp", "t"],
            "left",
        )
        .na.fill({"d_g": 0})
    )
    wide = risk.groupBy("t").agg(
        F.max(F.when(F.col("grp") == 0, F.col("at_risk"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("at_risk"))).alias("n2"),
        F.max(F.when(F.col("grp") == 0, F.col("d_g"))).alias("d1"),
        F.max(F.when(F.col("grp") == 1, F.col("d_g"))).alias("d2"),
    )
    terms = wide.select(
        "t",
        "n1",
        "n2",
        "d1",
        "d2",
        (F.col("n1") + F.col("n2")).alias("n"),
        (F.col("d1") + F.col("d2")).alias("d"),
    ).filter((F.col("n") >= 2) & (F.col("d") >= 1))
    contrib = terms.select(
        F.expr(f"d1 * {_LR_SCALE} - (d * n1 * {_LR_SCALE}) div n").alias(
            "ome_q"
        ),
        F.expr(
            f"CAST((CAST(d AS DECIMAL(38,0)) * n1 * n2 * (n - d)"
            f" * {_LR_SCALE}) div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))"
            f" AS BIGINT)"
        ).alias("v_q"),
    )
    tots = contrib.agg(
        F.sum("ome_q").alias("sum_ome_q"),
        F.sum("v_q").alias("sum_v_q"),
        F.count("*").alias("n_timepoints"),
    )
    gg = hist.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("cnt")).otherwise(0)).alias(
            "n_a"
        ),
        F.sum(F.when(F.col("grp") == 1, F.col("cnt")).otherwise(0)).alias(
            "n_b"
        ),
        F.sum(F.when(F.col("grp") == 0, F.col("d")).otherwise(0)).alias(
            "events_a"
        ),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0)).alias(
            "events_b"
        ),
    )
    return tots.crossJoin(F.broadcast(gg)).select(
        "n_a",
        "n_b",
        "events_a",
        "events_b",
        "n_timepoints",
        "sum_ome_q",
        "sum_v_q",
        (
            F.col("sum_ome_q").cast("double")
            * F.col("sum_ome_q").cast("double")
            / (F.lit(float(_LR_SCALE)) * F.col("sum_v_q").cast("double"))
        ).alias("chi2"),
    )


# --- RLE compression audit: layout x column run structure ---------------------

_RLE_SHARD = 4096  # rows per simulated row group (natural layout)

_RLE_COLS = [("returnflag", 1), ("shipday", 4), ("qty", 8)]


def _rle_layout_sql(layout: str, part: str, order: str) -> str:
    # a run starts where the value differs from its predecessor OR at a
    # row-group boundary (LAG is NULL there and IS DISTINCT FROM counts
    # it) — so n_runs == the flag sum, no +1
    flags = ", ".join(
        f"""CASE WHEN {c} IS DISTINCT FROM
                LAG({c}) OVER (PARTITION BY {part} ORDER BY {order})
            THEN 1 ELSE 0 END AS chg_{c}"""
        for c, _ in _RLE_COLS
    )
    runs = ", ".join(
        f"CAST(SUM(chg_{c}) AS BIGINT) AS runs_{c}" for c, _ in _RLE_COLS
    )
    return f"""
SELECT '{layout}' AS layout, CAST(COUNT(*) AS BIGINT) AS n_rows, {runs}
FROM (SELECT {flags} FROM base) GROUP BY ()
"""


RLE_ORACLE = f"""
WITH base AS (
    SELECT l_orderkey AS okey, l_linenumber AS ln,
           l_orderkey // {_RLE_SHARD} AS shard,
           l_returnflag AS returnflag,
           CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
               AS shipday,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
),
lay AS (
    {_rle_layout_sql("natural", "shard",
                     "okey, ln, returnflag, shipday, qty")}
    UNION ALL
    {_rle_layout_sql("by_shipdate", "shipday // 32",
                     "shipday, okey, ln, returnflag, qty")}
),
longf AS (
    {" UNION ALL ".join(
        f"SELECT layout, '{c}' AS col, n_rows, runs_{c} AS n_changes, "
        f"{w} AS width FROM lay"
        for c, w in _RLE_COLS
    )}
)
SELECT layout, col, n_rows,
       n_changes AS n_runs,
       CAST(n_rows AS DOUBLE) / CAST(n_changes AS DOUBLE) AS avg_run_len,
       n_changes * (width + 4) AS est_rle_bytes,
       n_rows * width AS raw_bytes,
       CAST(n_rows * width AS DOUBLE)
           / CAST(n_changes * (width + 4) AS DOUBLE) AS compression_ratio
FROM longf ORDER BY layout, col
"""


@register("rle_compression_audit", RLE_ORACLE)
def q_rle_compression_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding audit of two physical layouts: count value
    runs of (returnflag, shipdate, quantity) under the natural
    orderkey order vs a shipdate-sorted rewrite, and price each as
    RLE bytes — the measured 'sort order buys compression' argument
    that complements zone_map_skipping's 'sort order buys pruning'
    (the two halves of a lakehouse OPTIMIZE decision). Sorting by
    shipdate turns the date column into ~one run per day but shreds
    the orderkey clustering — the trade-off is the output.

    Exactness: runs are LAG-compare counts per simulated row group
    (IS DISTINCT FROM, so NULL-safe), integer byte formulas; ratios
    are one double division per row.

    Scale: both window passes are keyed by bounded row groups
    ({_RLE_SHARD} orderkeys / 32-day buckets) — no global sort; the
    final frame is 6 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("ln"),
        F.expr(f"l_orderkey div {_RLE_SHARD}").alias("shard"),
        F.col("l_returnflag").alias("returnflag"),
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("shipday"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).persist()

    def layout(name: str, part, order):
        w = Window.partitionBy(part).orderBy(*order)
        sel = base.select(
            *[
                (
                    ~F.col(c).eqNullSafe(F.lag(c).over(w))
                ).cast("long").alias(f"chg_{c}")
                for c, _ in _RLE_COLS
            ]
        )
        return sel.agg(
            F.lit(name).alias("layout"),
            F.count("*").alias("n_rows"),
            *[F.sum(f"chg_{c}").alias(f"runs_{c}") for c, _ in _RLE_COLS],
        )

    # (okey, ln) is NOT unique in the synthetic lineitem — include the
    # value columns in the sort so the order is total and runs are
    # engine-deterministic
    lay = layout(
        "natural",
        F.col("shard"),
        [F.col("okey"), F.col("ln"), F.col("returnflag"), F.col("shipday"),
         F.col("qty")],
    ).unionByName(
        layout(
            "by_shipdate",
            F.expr("shipday div 32"),
            [F.col("shipday"), F.col("okey"), F.col("ln"),
             F.col("returnflag"), F.col("qty")],
        )
    )
    parts = [
        lay.select(
            "layout",
            F.lit(c).alias("col"),
            "n_rows",
            F.col(f"runs_{c}").alias("n_changes"),
            F.lit(w).cast("long").alias("width"),
        )
        for c, w in _RLE_COLS
    ]
    longf = parts[0]
    for p in parts[1:]:
        longf = longf.unionByName(p)
    return longf.select(
        "layout",
        "col",
        "n_rows",
        F.col("n_changes").alias("n_runs"),
        (
            F.col("n_rows").cast("double") / F.col("n_changes").cast("double")
        ).alias("avg_run_len"),
        (F.col("n_changes") * (F.col("width") + 4)).alias("est_rle_bytes"),
        (F.col("n_rows") * F.col("width")).alias("raw_bytes"),
        (
            (F.col("n_rows") * F.col("width")).cast("double")
            / (F.col("n_changes") * (F.col("width") + 4)).cast("double")
        ).alias("compression_ratio"),
    ).orderBy("layout", "col")


# --- z-order layout audit (multi-dim clustering vs zone-map pruning) --------

_ZO_BITS = 6
_ZO_SHARDS = 64
# rectangle predicates on (p_size, price cents)
# price spans 90000..99990 cents in the fixtures (both SFs)
_ZO_PREDS = [
    ("mid_box", 20, 30, 93_000, 95_000),
    ("small_cheap", 1, 10, 90_000, 92_000),
    ("large_expensive", 40, 50, 98_000, 99_990),
    ("narrow_size", 25, 25, 0, 1_000_000_000),
    ("narrow_price", 1, 50, 95_000, 95_200),
]


def _zo_z_duck() -> str:
    terms = []
    for k in range(_ZO_BITS):
        terms.append(f"(((sz >> {k}) & 1) << {2 * k})")
        terms.append(f"(((pb >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


def _zo_z_spark() -> str:
    terms = []
    for k in range(_ZO_BITS):
        terms.append(f"shiftleft(shiftright(sz, {k}) & 1, {2 * k})")
        terms.append(f"shiftleft(shiftright(pb, {k}) & 1, {2 * k + 1})")
    return " + ".join(terms)


_ZO_PRED_VALUES = ", ".join(
    f"('{p}', {a}, {b}, {c}, {d})" for p, a, b, c, d in _ZO_PREDS
)

ZORDER_ORACLE = f"""
WITH base0 AS (
    SELECT p_partkey AS pk, CAST(p_size AS BIGINT) AS sz,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
    FROM part
),
mx AS (SELECT CAST(MAX(pk) AS BIGINT) AS maxpk FROM base0),
base AS (
    SELECT pk, sz, cents,
           LEAST({_ZO_SHARDS - 1}, ((pk - 1) * {_ZO_SHARDS}) // maxpk)
               AS shard_nat,
           (LEAST(63, GREATEST(0, (cents - 90000) // 157))) AS pb
    FROM base0 CROSS JOIN mx
),
zed AS (
    SELECT pk, sz, cents, shard_nat,
           ({_zo_z_duck()}) // {_ZO_SHARDS} AS shard_z
    FROM base
),
layouts AS (
    SELECT 'natural' AS layout, shard_nat AS shard, sz, cents FROM zed
    UNION ALL
    SELECT 'zorder' AS layout, shard_z AS shard, sz, cents FROM zed
),
zones AS (
    SELECT layout, shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(sz) AS sz_min, MAX(sz) AS sz_max,
           MIN(cents) AS c_min, MAX(cents) AS c_max
    FROM layouts GROUP BY layout, shard
),
preds AS (
    SELECT * FROM (VALUES {_ZO_PRED_VALUES})
        AS p(pred_id, sz_lo, sz_hi, c_lo, c_hi)
),
zp AS (
    SELECT z.layout, p.pred_id, z.n_rows,
           (z.sz_max < p.sz_lo OR z.sz_min > p.sz_hi
            OR z.c_max < p.c_lo OR z.c_min > p.c_hi) AS skipped
    FROM zones z CROSS JOIN preds p
),
skips AS (
    SELECT layout, pred_id,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_skipped
    FROM zp GROUP BY layout, pred_id
),
matches AS (
    SELECT p.pred_id,
           CAST(SUM(CASE WHEN b.sz BETWEEN p.sz_lo AND p.sz_hi
                          AND b.cents BETWEEN p.c_lo AND p.c_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
    FROM base b CROSS JOIN preds p GROUP BY p.pred_id
)
SELECT s.layout, s.pred_id, s.n_shards, s.n_skipped,
       CAST(s.n_skipped AS DOUBLE) / CAST(s.n_shards AS DOUBLE) AS skip_frac,
       s.rows_total, s.rows_skipped, m.n_matches
FROM skips s JOIN matches m USING (pred_id)
ORDER BY s.layout, s.pred_id
"""


@register("zorder_layout_audit", ZORDER_ORACLE)
def q_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) clustering audit: lay `part` out in 64
    shards twice — natural key order vs interleaved (p_size, price)
    bits — build per-shard zone maps, and replay a panel of 2-D
    rectangle predicates against both. The z-order rows skip far more
    shards on 2-D boxes (each shard covers a coarse Morton tile) while
    natural order only prunes the key dimension — the measured argument
    for OPTIMIZE ZORDER BY in a lakehouse.

    The Morton code is 12 bits of literal shift/mask arithmetic
    (shiftleft needs constant shifts — fine, k is a Python loop
    constant), identical in both engines; shard = z div 64 needs no
    rank/sort. Complements zone_map_skipping (1-D sort pruning) and
    rle_compression_audit (layout vs encoding).

    Scale: two keyed aggregates over part + a constant 128-row
    zones x 5-predicate replay; the max-key scalar is the only
    broadcast-cross."""
    part = load_table(spark, sf_dir, "part")
    base0 = part.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_size").cast("long").alias("sz"),
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    mx = base0.agg(F.max("pk").alias("maxpk"))
    base = base0.crossJoin(F.broadcast(mx)).select(
        "pk",
        "sz",
        "cents",
        F.expr(
            f"LEAST({_ZO_SHARDS - 1}, ((pk - 1) * {_ZO_SHARDS}) div maxpk)"
        ).alias("shard_nat"),
        F.expr("LEAST(63, GREATEST(0, (cents - 90000) div 157))").alias("pb"),
    )
    zed = base.withColumn(
        "shard_z", F.expr(f"({_zo_z_spark()}) div {_ZO_SHARDS}")
    )
    both = zed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.col("shard_nat").alias("shard"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("shard_z").alias("shard"),
                ),
            )
        ).alias("ls"),
        "sz",
        "cents",
    ).select("ls.layout", "ls.shard", "sz", "cents")
    zones = both.groupBy("layout", "shard").agg(
        F.count("*").alias("n_rows"),
        F.min("sz").alias("sz_min"),
        F.max("sz").alias("sz_max"),
        F.min("cents").alias("c_min"),
        F.max("cents").alias("c_max"),
    )
    preds = spark.createDataFrame(
        _ZO_PREDS, "pred_id string, sz_lo long, sz_hi long, c_lo long, c_hi long"
    )
    zp = zones.crossJoin(F.broadcast(preds)).select(
        "layout",
        "pred_id",
        "n_rows",
        (
            (F.col("sz_max") < F.col("sz_lo"))
            | (F.col("sz_min") > F.col("sz_hi"))
            | (F.col("c_max") < F.col("c_lo"))
            | (F.col("c_min") > F.col("c_hi"))
        ).alias("skipped"),
    )
    skips = zp.groupBy("layout", "pred_id").agg(
        F.count("*").alias("n_shards"),
        F.sum(F.when(F.col("skipped"), 1).otherwise(0)).alias("n_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(F.col("skipped"), F.col("n_rows")).otherwise(0)).alias(
            "rows_skipped"
        ),
    )
    matches = (
        base.crossJoin(F.broadcast(preds))
        .groupBy("pred_id")
        .agg(
            F.sum(
                F.when(
                    F.col("sz").between(F.col("sz_lo"), F.col("sz_hi"))
                    & F.col("cents").between(F.col("c_lo"), F.col("c_hi")),
                    1,
                ).otherwise(0)
            ).alias("n_matches")
        )
    )
    return (
        skips.join(F.broadcast(matches), "pred_id")
        .select(
            "layout",
            "pred_id",
            "n_shards",
            "n_skipped",
            (
                F.col("n_skipped").cast("double")
                / F.col("n_shards").cast("double")
            ).alias("skip_frac"),
            "rows_total",
            "rows_skipped",
            "n_matches",
        )
        .orderBy("layout", "pred_id")
    )


# --- incremental JOIN-view maintenance (delta rules) ---------------------------

# The aggregate-IVM proof (incremental_agg_maintenance) extended to a
# two-table JOIN view: V = revenue-per-supplier over lineitem ⋈ orders.
# Both inputs receive INDEPENDENT deltas (hash-selected ~10% slices), so
# the maintained view must apply the full delta algebra
#     ΔV = ΔL ⋈ O_old  ∪  L_old ⋈ ΔO  ∪  ΔL ⋈ ΔO
# — forgetting the ΔL⋈ΔO cross term is the classic IVM bug, and this
# query would catch it: `matches` is part of the hashed output.
_IVM_LH = (
    "CAST('0x' || substr(md5('ivmL:' || CAST(l_orderkey * 8 + l_linenumber"
    " AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0"
)
_IVM_OH = (
    "CAST('0x' || substr(md5('ivmO:' || CAST(o_orderkey AS VARCHAR)), 1, 15)"
    " AS BIGINT) % 10 = 0"
)

JOIN_IVM_ORACLE = f"""
WITH l AS (
    SELECT l_orderkey AS ok, l_suppkey AS sk,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           {_IVM_LH} AS is_delta
    FROM lineitem
),
o AS (
    SELECT o_orderkey AS ok, {_IVM_OH} AS is_delta FROM orders
),
direct AS (
    SELECT sk, CAST(SUM(cents) AS BIGINT) AS direct_cents
    FROM l JOIN o USING (ok) GROUP BY sk
),
base AS (
    SELECT sk, CAST(SUM(cents) AS BIGINT) AS v
    FROM l JOIN o USING (ok)
    WHERE NOT l.is_delta AND NOT o.is_delta GROUP BY sk
),
d1 AS (
    SELECT sk, CAST(SUM(cents) AS BIGINT) AS v
    FROM l JOIN o USING (ok)
    WHERE l.is_delta AND NOT o.is_delta GROUP BY sk
),
d2 AS (
    SELECT sk, CAST(SUM(cents) AS BIGINT) AS v
    FROM l JOIN o USING (ok)
    WHERE NOT l.is_delta AND o.is_delta GROUP BY sk
),
d3 AS (
    SELECT sk, CAST(SUM(cents) AS BIGINT) AS v
    FROM l JOIN o USING (ok)
    WHERE l.is_delta AND o.is_delta GROUP BY sk
),
maintained AS (
    SELECT sk, CAST(SUM(v) AS BIGINT) AS maintained_cents
    FROM (SELECT * FROM base UNION ALL SELECT * FROM d1
          UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
    GROUP BY sk
)
SELECT d.sk AS suppkey, d.direct_cents, m.maintained_cents,
       d.direct_cents = m.maintained_cents AS matches
FROM direct d JOIN maintained m ON m.sk = d.sk
ORDER BY suppkey
"""


@register("join_view_ivm_proof", JOIN_IVM_ORACLE)
def q_join_view_ivm_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view, self-auditing: split BOTH
    join inputs into base + hash-selected delta slices, maintain the
    revenue-per-supplier view with the three delta-rule terms
    (ΔL⋈O_base, L_base⋈ΔO, ΔL⋈ΔO — dropping the cross term is the
    canonical IVM bug), and emit `matches` = maintained == direct
    recompute per supplier as a hashed output column.

    At 100 TB this is the algebra a streaming/foreachBatch refresh runs
    so a new micro-batch costs O(|Δ| join-probe) instead of a full
    re-join: the base⋈base term is the stored view, never recomputed.
    Here all four terms run (cheap at oracle SF) so the identity is
    proven, not assumed. Revenue stays in integer cents. Reference
    tie-in: G10-G12 reduce accumulation (src/outer_product.rs:118-140)
    under delta-rule decomposition."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        (
            F.pmod(
                hex_hash64(
                    F.concat(
                        F.lit("ivmL:"),
                        (
                            F.col("l_orderkey") * 8 + F.col("l_linenumber")
                        ).cast("string"),
                    )
                ),
                F.lit(10),
            )
            == 0
        ).alias("l_delta"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        (
            F.pmod(
                hex_hash64(
                    F.concat(
                        F.lit("ivmO:"), F.col("o_orderkey").cast("string")
                    )
                ),
                F.lit(10),
            )
            == 0
        ).alias("o_delta"),
    )
    joined = li.join(orders, "ok").persist()
    direct = joined.groupBy("sk").agg(F.sum("cents").alias("direct_cents"))
    terms = []
    for lf, of in (
        (~F.col("l_delta"), ~F.col("o_delta")),
        (F.col("l_delta"), ~F.col("o_delta")),
        (~F.col("l_delta"), F.col("o_delta")),
        (F.col("l_delta"), F.col("o_delta")),
    ):
        terms.append(
            joined.filter(lf & of).groupBy("sk").agg(F.sum("cents").alias("v"))
        )
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t)
    maintained = allt.groupBy("sk").agg(F.sum("v").alias("maintained_cents"))
    return (
        direct.join(maintained, "sk")
        .select(
            F.col("sk").alias("suppkey"),
            "direct_cents",
            "maintained_cents",
            (F.col("direct_cents") == F.col("maintained_cents")).alias(
                "matches"
            ),
        )
        .orderBy("suppkey")
    )


# --- Hilbert vs Z-order vs linear layout audit ------------------------------

# Same zone-map replay methodology as zorder_layout_audit, but head-to-
# head between THREE curve layouts over a 256x256 (price-bucket x
# quantity-bucket) grid on lineitem: row-major (the "sorted by one key"
# baseline), Morton interleave, and the Hilbert curve (functions/
# hilbert.py — chained integer rounds, no bitwise ops, engine-portable).
# Hilbert's unit-step property keeps per-shard bounding boxes tighter,
# which the avg_bbox_area column and the 2-D box predicates measure
# directly.

_HILB_BITS = 8
_HILB_N = 1 << _HILB_BITS
_HILB_SHARDS = 64
_HILB_CELLS_PER_SHARD = (_HILB_N * _HILB_N) // _HILB_SHARDS

_HILB_PREDS = [
    ("mid_box", 96, 159, 96, 159),
    ("low_corner", 0, 63, 0, 63),
    ("narrow_price", 100, 103, 0, 255),
    ("narrow_qty", 0, 255, 128, 131),
    ("high_corner", 192, 255, 192, 255),
]

_HILB_PRED_VALUES = ", ".join(
    f"('{p}', {a}, {b}, {c}, {d})" for p, a, b, c, d in _HILB_PREDS
)


def _morton8(intdiv: str) -> str:
    terms = []
    for k in range(_HILB_BITS):
        terms.append(f"((x8 {intdiv} {1 << k}) % 2) * {1 << (2 * k)}")
        terms.append(f"((y8 {intdiv} {1 << k}) % 2) * {1 << (2 * k + 1)}")
    return " + ".join(terms)


def _hilb_oracle() -> str:
    from amorphous_mapreduce_spark.functions.hilbert import hilbert_cte_chain

    chain, last = hilbert_cte_chain(_HILB_BITS, "x8, y8, z, lin")
    return f"""
WITH base0 AS (
    SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           CAST(l_quantity AS INT) AS qty
    FROM lineitem
),
grid AS (
    SELECT LEAST(255, cents // 43000) AS x8,
           LEAST(255, (qty * 256) // 51) AS y8
    FROM base0
),
pts AS (
    SELECT x8, y8, ({_morton8('//')}) AS z, x8 * 256 + y8 AS lin,
           x8 AS hx, y8 AS hy, 0 AS hd
    FROM grid
){chain}
, layouts AS (
    SELECT 'hilbert' AS layout, hd // {_HILB_CELLS_PER_SHARD} AS shard,
           x8, y8 FROM {last}
    UNION ALL
    SELECT 'zorder', z // {_HILB_CELLS_PER_SHARD}, x8, y8 FROM {last}
    UNION ALL
    SELECT 'linear', lin // {_HILB_CELLS_PER_SHARD}, x8, y8 FROM {last}
),
zones AS (
    SELECT layout, shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x8) AS x_min, MAX(x8) AS x_max,
           MIN(y8) AS y_min, MAX(y8) AS y_max
    FROM layouts GROUP BY layout, shard
),
lstats AS (
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM((x_max - x_min + 1) * (y_max - y_min + 1)) AS BIGINT)
               AS sum_bbox_area
    FROM zones GROUP BY layout
),
preds AS (
    SELECT * FROM (VALUES {_HILB_PRED_VALUES})
        AS p(pred_id, x_lo, x_hi, y_lo, y_hi)
),
zp AS (
    SELECT z.layout, p.pred_id, z.n_rows,
           (z.x_max < p.x_lo OR z.x_min > p.x_hi
            OR z.y_max < p.y_lo OR z.y_min > p.y_hi) AS skipped
    FROM zones z CROSS JOIN preds p
),
skips AS (
    SELECT layout, pred_id,
           CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_skipped
    FROM zp GROUP BY layout, pred_id
),
matches AS (
    SELECT p.pred_id,
           CAST(SUM(CASE WHEN g.x8 BETWEEN p.x_lo AND p.x_hi
                          AND g.y8 BETWEEN p.y_lo AND p.y_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
    FROM grid g CROSS JOIN preds p GROUP BY p.pred_id
)
SELECT s.layout, s.pred_id, l.n_shards, s.n_skipped,
       CAST(s.n_skipped AS DOUBLE) / CAST(l.n_shards AS DOUBLE) AS skip_frac,
       s.rows_total, s.rows_skipped, m.n_matches,
       CAST(l.sum_bbox_area AS DOUBLE) / CAST(l.n_shards AS DOUBLE)
           AS avg_bbox_area
FROM skips s
JOIN lstats l USING (layout)
JOIN matches m USING (pred_id)
ORDER BY s.layout, s.pred_id
"""


@register("hilbert_layout_audit", _hilb_oracle())
def q_hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Morton vs row-major shard-layout bake-off on lineitem.

    The Hilbert index is 8 chained integer rounds (quadrant digit +
    rotate/reflect) applied as successive narrow selects — the
    expression tree stays linear, everything whole-stage codegens, and
    the identical round text runs in DuckDB (functions/hilbert.py).
    One lineitem scan feeds all three layouts via a 3-way explode; the
    rest is two bounded aggregates (<= 192 zone rows) and a constant
    5-predicate replay.  Expected (and asserted in tests): hilbert
    avg_bbox_area <= zorder <= linear on this price x quantity grid.
    """
    from amorphous_mapreduce_spark.functions.hilbert import hilbert_rounds

    li = load_table(spark, sf_dir, "lineitem")
    grid = li.select(
        F.expr(
            "LEAST(255, CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
            " AS BIGINT) div 43000)"
        ).alias("x8"),
        F.expr("LEAST(255, (CAST(l_quantity AS INT) * 256) div 51)").alias(
            "y8"
        ),
    )
    pts = grid.select(
        "x8",
        "y8",
        F.expr(_morton8("div")).alias("z"),
        F.expr("x8 * 256 + y8").alias("lin"),
        F.col("x8").alias("hx"),
        F.col("y8").alias("hy"),
        F.lit(0).alias("hd"),
    )
    for r in hilbert_rounds(_HILB_BITS, "div"):
        pts = pts.select(
            "x8",
            "y8",
            "z",
            "lin",
            F.expr(r["hx"]).alias("hx"),
            F.expr(r["hy"]).alias("hy"),
            F.expr(r["hd"]).alias("hd"),
        )
    layouts = pts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hilbert").alias("layout"),
                    F.expr(f"hd div {_HILB_CELLS_PER_SHARD}").alias("shard"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"z div {_HILB_CELLS_PER_SHARD}").alias("shard"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"lin div {_HILB_CELLS_PER_SHARD}").alias("shard"),
                ),
            )
        ).alias("ls"),
        "x8",
        "y8",
    ).select("ls.layout", "ls.shard", "x8", "y8")
    zones = layouts.groupBy("layout", "shard").agg(
        F.count("*").alias("n_rows"),
        F.min("x8").alias("x_min"),
        F.max("x8").alias("x_max"),
        F.min("y8").alias("y_min"),
        F.max("y8").alias("y_max"),
    )
    lstats = zones.groupBy("layout").agg(
        F.count("*").alias("n_shards"),
        F.sum(
            (F.col("x_max") - F.col("x_min") + 1)
            * (F.col("y_max") - F.col("y_min") + 1)
        ).alias("sum_bbox_area"),
    )
    preds = spark.createDataFrame(
        _HILB_PREDS, "pred_id string, x_lo long, x_hi long, y_lo long, y_hi long"
    )
    zp = zones.crossJoin(F.broadcast(preds)).select(
        "layout",
        "pred_id",
        "n_rows",
        (
            (F.col("x_max") < F.col("x_lo"))
            | (F.col("x_min") > F.col("x_hi"))
            | (F.col("y_max") < F.col("y_lo"))
            | (F.col("y_min") > F.col("y_hi"))
        ).alias("skipped"),
    )
    skips = zp.groupBy("layout", "pred_id").agg(
        F.sum(F.when(F.col("skipped"), 1).otherwise(0))
        .cast("long")
        .alias("n_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(F.col("skipped"), F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_skipped"),
    )
    matches = (
        grid.crossJoin(F.broadcast(preds))
        .groupBy("pred_id")
        .agg(
            F.sum(
                F.when(
                    F.col("x8").between(F.col("x_lo"), F.col("x_hi"))
                    & F.col("y8").between(F.col("y_lo"), F.col("y_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_matches")
        )
    )
    return (
        skips.join(F.broadcast(lstats), "layout")
        .join(F.broadcast(matches), "pred_id")
        .select(
            "layout",
            "pred_id",
            "n_shards",
            "n_skipped",
            (
                F.col("n_skipped").cast("double")
                / F.col("n_shards").cast("double")
            ).alias("skip_frac"),
            "rows_total",
            "rows_skipped",
            "n_matches",
            (
                F.col("sum_bbox_area").cast("double")
                / F.col("n_shards").cast("double")
            ).alias("avg_bbox_area"),
        )
        .orderBy("layout", "pred_id")
    )


# --- RFM segmentation matrix ------------------------------------------------

# The classic CRM cube: every customer scored into quintiles of
# Recency (days since last order, anchored at the corpus max date),
# Frequency (order count) and Monetary (lifetime cents), then the 125
# cells profiled. Quintiles are EXACT global ranks — ONE fused pass of
# operators.corpus_stats.distributed_prefix_sum over the stacked
# (dimension, value, ck) rows (range sort, never a single-partition
# window over customers) with q = (5*(rank-1)) div n; ties break by
# custkey so both engines walk the same order.

RFM_ORACLE = """
WITH ref AS (
    SELECT MAX(epoch_us(o_orderdate) // 86400000000) AS ref_day FROM orders
),
cust AS (
    SELECT o_custkey AS ck,
           CAST(r.ref_day - MAX(epoch_us(o_orderdate) // 86400000000)
                AS BIGINT) AS rec,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS mon
    FROM orders CROSS JOIN ref r
    GROUP BY o_custkey, r.ref_day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
rr AS (
    SELECT ck, rec, freq, mon,
           ROW_NUMBER() OVER (ORDER BY rec, ck) AS r_rank,
           ROW_NUMBER() OVER (ORDER BY freq, ck) AS f_rank,
           ROW_NUMBER() OVER (ORDER BY mon, ck) AS m_rank
    FROM cust
),
q AS (
    SELECT ck, rec, freq, mon,
           (5 * (r_rank - 1)) // n.n AS r_q,
           (5 * (f_rank - 1)) // n.n AS f_q,
           (5 * (m_rank - 1)) // n.n AS m_q
    FROM rr CROSS JOIN n
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(mon) AS BIGINT) AS cell_cents,
       CAST(SUM(mon) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cents,
       CAST(MIN(rec) AS BIGINT) AS min_rec_days,
       CAST(MAX(rec) AS BIGINT) AS max_rec_days
FROM q GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@register("rfm_cell_matrix", RFM_ORACLE)
def q_rfm_cell_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile cube over customers: each
    dimension ranked EXACTLY (ascending with custkey tie-break) —
    the data-driven counterpart of customer_rfm's fixed-threshold
    segments (which need no ranking and cost one hash aggregate),
    quintile q = (5*(rank-1)) div n, then the occupied cells profiled
    by population and value — the segmentation every CRM team keys
    campaigns off.

    Scale: one customer aggregate of orders, then ONE fused pass of the
    two-phase distributed prefix scan over the (dimension, value, ck)
    STACK — the three per-dimension rank passes collapse into a single
    3n-row range sort (round-6 bench fix: each dimension's block is
    contiguous with exactly n rows, so rank-in-dim = global_rank − d·n);
    no single-partition window anywhere; the cell rollup is a bounded
    125-key aggregate. Determinism: ranks, quintile cuts, and cell sums
    are all integers; the single double (avg_cents) is one division of
    exact integers."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
    ref = orders.agg(F.max(day).alias("ref_day"))
    cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("ck"), "ref_day")
        .agg(
            (F.col("ref_day") - F.max(day)).cast("long").alias("rec"),
            F.count("*").cast("long").alias("freq"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("mon"),
        )
        .drop("ref_day")
        .persist()  # three rank passes + the n scalar all read it
    )
    n = cust.agg(F.count("*").cast("long").alias("n"))
    # One fused scan: stack the three dimensions (d=0 rec, 1 freq,
    # 2 mon), carry the customer's values through, range-sort ONCE on
    # (d, v, ck). Within each d-block the order is exactly the
    # per-dimension (value, ck) order, and blocks are contiguous with n
    # rows each, so rank-in-dim = global_rank − d·n.
    stacked = cust.select(
        "ck",
        "rec",
        "freq",
        "mon",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("d"), F.col("rec").alias("v")),
                F.struct(F.lit(1).alias("d"), F.col("freq").alias("v")),
                F.struct(F.lit(2).alias("d"), F.col("mon").alias("v")),
            )
        ).alias("e"),
    ).select("ck", "rec", "freq", "mon", F.col("e.d").alias("d"), F.col("e.v").alias("v"))
    ranked = distributed_prefix_sum(
        stacked, "v", [F.asc("d"), F.asc("v"), F.asc("ck")],
        cum_col="_cum_v", rank_col="grank",
    ).drop("_cum_v")
    qd = F.expr("(5 * (grank - d * n - 1)) div n")
    q = (
        ranked.crossJoin(F.broadcast(n))
        .select("ck", "rec", "freq", "mon", "d", qd.alias("qv"))
        .groupBy("ck")
        .agg(
            F.first("rec").alias("rec"),
            F.first("freq").alias("freq"),
            F.first("mon").alias("mon"),
            F.max(F.when(F.col("d") == 0, F.col("qv"))).alias("r_q"),
            F.max(F.when(F.col("d") == 1, F.col("qv"))).alias("f_q"),
            F.max(F.when(F.col("d") == 2, F.col("qv"))).alias("m_q"),
        )
    )
    return (
        q.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("mon").cast("long").alias("cell_cents"),
            (
                F.sum("mon").cast("double") / F.count("*").cast("double")
            ).alias("avg_cents"),
            F.min("rec").cast("long").alias("min_rec_days"),
            F.max("rec").cast("long").alias("max_rec_days"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )
