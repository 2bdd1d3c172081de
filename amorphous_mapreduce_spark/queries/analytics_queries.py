"""Deeper analytics battery: nation-pair flows, yearly profit rollups,
exact distribution statistics (TPC-H Q7/Q9 shapes + percentiles)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.agg import dec, dsum_expr
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


Q7_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
"""


@register("nation_trade_flows", Q7_ORACLE)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair revenue by ship year
    (disjunctive join predicate + year extraction + dim broadcasts)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum_expr(rev).alias("revenue"))
    )


Q9_ORACLE = """
SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(l_shipdate)
"""


@register("gear_profit_by_nation_year", Q9_ORACLE)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: substring part filter, supplier-nation rollup by
    year. part/supplier/nation broadcast; only lineitem shuffles (agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum_expr(rev).alias("revenue"), F.count("*").alias("n_items"))
    )


PCTL_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("price_percentiles", PCTL_ORACLE)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (distribution stats for data-quality
    monitoring) — bit-identical to DuckDB quantile_cont."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.9).alias("p90"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
        F.min(dec("l_extendedprice")).cast("double").alias("min_price"),
        F.max(dec("l_extendedprice")).cast("double").alias("max_price"),
    )


FUNNEL_ORACLE = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
e1 AS (
    SELECT user_id, MIN(us) AS t1 FROM ev
    WHERE event_type = 'view' GROUP BY user_id
),
e2 AS (
    SELECT e.user_id, MIN(us) AS t2
    FROM ev e JOIN e1 ON e.user_id = e1.user_id
    WHERE e.event_type = 'click' AND e.us > e1.t1
    GROUP BY e.user_id
),
e3 AS (
    SELECT e.user_id, MIN(us) AS t3
    FROM ev e JOIN e2 ON e.user_id = e2.user_id
    WHERE e.event_type = 'purchase' AND e.us > e2.t2
    GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM e1
UNION ALL SELECT '2_click_after_view', COUNT(*) FROM e2
UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM e3
"""


@register("events_funnel", FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase, strictly
    increasing event times per user): each stage is one keyed
    aggregation + one keyed join — no window over the event stream, no
    per-user sorting; comparisons run on epoch microseconds, the
    precision both engines share on this nanos fixture."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    e1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    e2 = (
        ev.filter(F.col("event_type") == "click")
        .join(e1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    e3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(e2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    stage = lambda name, df: df.agg(F.count("*").alias("n_users")).select(
        F.lit(name).alias("stage"), "n_users"
    )
    return (
        stage("1_view", e1)
        .unionByName(stage("2_click_after_view", e2))
        .unionByName(stage("3_purchase_after_click", e3))
    )


COHORT_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS aweek
    FROM events
)
SELECT f.cohort_week,
       CAST((epoch_us(a.aweek) - epoch_us(f.cohort_week)) / 604800000000
            AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
"""


@register("events_cohort_retention", COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, one
    row per (cohort, week offset) with active-user counts. Two keyed
    aggregations + one keyed join; (user, week) distinct rows bound the
    join input, so the shape is linear in active user-weeks."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("aweek")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                (
                    F.unix_micros(F.col("aweek"))
                    - F.unix_micros(F.col("cohort_week"))
                )
                / F.lit(604_800_000_000)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


BASKET_ORACLE = """
WITH items AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
sup AS (SELECT p, COUNT(*) AS s FROM items GROUP BY p),
nn AS (SELECT COUNT(DISTINCT o) AS n FROM items),
pairs AS (
    SELECT a.p AS pa, b.p AS pb, COUNT(*) AS ab
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p
    HAVING COUNT(*) >= 2
)
SELECT pa, pb, ab, sa.s AS sup_a, sb.s AS sup_b,
       CAST(ab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
       CAST(ab * nn.n AS DOUBLE) / CAST(sa.s * sb.s AS DOUBLE) AS lift
FROM pairs JOIN sup sa ON pa = sa.p JOIN sup sb ON pb = sb.p CROSS JOIN nn
"""


@register("basket_part_pairs", BASKET_ORACLE)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: co-occurring
    part pairs with support/confidence/lift. Pair generation is a keyed
    self-join on the order id with fanout bounded by basket size (k²
    per order, k small by construction) — never an all-parts cartesian;
    the part-support side is broadcast. Ratios are single exact double
    divisions of integer counts."""
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    sup = items.groupBy("p").agg(F.count("*").alias("s"))
    nn = items.agg(F.countDistinct("o").alias("n"))
    a = items.select(F.col("o"), F.col("p").alias("pa"))
    b = items.select(F.col("o"), F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("ab"))
        .filter(F.col("ab") >= 2)
    )
    return (
        pairs.join(F.broadcast(sup.select(F.col("p").alias("pa"), F.col("s").alias("sup_a"))), "pa")
        .join(F.broadcast(sup.select(F.col("p").alias("pb"), F.col("s").alias("sup_b"))), "pb")
        .crossJoin(F.broadcast(nn))
        .select(
            "pa",
            "pb",
            "ab",
            "sup_a",
            "sup_b",
            (F.col("ab").cast("double") / F.col("sup_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("ab") * F.col("n")).cast("double")
                / (F.col("sup_a") * F.col("sup_b")).cast("double")
            ).alias("lift"),
        )
    )


HIST_ORACLE = """
SELECT l_returnflag,
       CAST(LEAST(FLOOR(l_extendedprice / 10000.0), 10) AS BIGINT) AS bin,
       COUNT(*) AS n_items,
       CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS bin_min,
       CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS bin_max
FROM lineitem
GROUP BY l_returnflag, bin
"""


@register("price_histogram", HIST_ORACLE)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram per returnflag (10k-wide bins, top
    bin open) — the data-profiling shape; bin assignment is one exact
    double division + floor, counts are a single hash aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(10000.0)), F.lit(10)
    ).cast("long")
    return li.groupBy("l_returnflag", bin_col.alias("bin")).agg(
        F.count("*").alias("n_items"),
        F.min(dec("l_extendedprice")).cast("double").alias("bin_min"),
        F.max(dec("l_extendedprice")).cast("double").alias("bin_max"),
    )


RFM_ORACLE = """
WITH rfm AS (
    SELECT o_custkey AS custkey,
           CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                          DATE '1998-12-01') AS BIGINT) AS r_days,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY o_custkey
)
SELECT custkey, r_days, frequency, monetary,
       CASE WHEN r_days <= 90 AND frequency >= 10 THEN 'core'
            WHEN r_days <= 90 THEN 'active'
            WHEN frequency >= 10 THEN 'lapsing_whale'
            ELSE 'dormant' END AS segment
FROM rfm
"""


@register("customer_rfm", RFM_ORACLE)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation per customer (recency vs a fixed as-of date,
    order frequency, decimal-exact monetary) with threshold segments —
    one hash aggregation on the customer key, every rule integer/exact."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit("1998-12-01").cast("date"),
            F.max(F.col("o_orderdate")).cast("date"),
        )
        .cast("long")
        .alias("r_days"),
        F.count("*").alias("frequency"),
        F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
    )
    seg = (
        F.when((F.col("r_days") <= 90) & (F.col("frequency") >= 10), "core")
        .when(F.col("r_days") <= 90, "active")
        .when(F.col("frequency") >= 10, "lapsing_whale")
        .otherwise("dormant")
    )
    return rfm.select("custkey", "r_days", "frequency", "monetary", seg.alias("segment"))


# --- multi-touch attribution ------------------------------------------------

# 7 days in microseconds; touches are encoded as a sortable string
# lpad(us, 20) || lpad(event_id, 12) || type, so MAX over a time-range
# window = the latest (ts, id) touch (and MIN = the earliest) with a
# total-order tie-break built in — one window pass, no self-join.
_WIN_US = 7 * 24 * 3600 * 1000000

_ENC_SQL = (
    "lpad(CAST(us AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type"
)

ATTRIBUTION_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us, value
    FROM events
),
touched AS (
    SELECT user_id, event_type, us, value,
        MAX(CASE WHEN event_type IN ('click', 'view') THEN {_ENC_SQL} END)
            OVER w AS last_code,
        MIN(CASE WHEN event_type IN ('click', 'view') THEN {_ENC_SQL} END)
            OVER w AS first_code
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN {_WIN_US} PRECEDING AND 1 PRECEDING)
),
credited AS (
    SELECT value,
           COALESCE(substr(last_code, 33), 'direct') AS last_channel,
           COALESCE(substr(first_code, 33), 'direct') AS first_channel
    FROM touched WHERE event_type = 'purchase'
),
both_models AS (
    SELECT 'last_touch' AS model, last_channel AS channel, value
    FROM credited
    UNION ALL
    SELECT 'first_touch' AS model, first_channel AS channel, value
    FROM credited
)
SELECT model, channel,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS credited_value
FROM both_models GROUP BY model, channel
"""


@register("events_attribution", ATTRIBUTION_ORACLE)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: every purchase credits its revenue to the
    last (and, in a second model, the first) click/view touchpoint by the
    same user within the preceding 7 days, else 'direct' — the two
    classic single-touch models, per channel.

    ONE keyed range-frame window computes both models: each touch is
    encoded as a sortable (ts, id, type) string, so MAX over the frame is
    the latest touch and MIN the earliest, with the total-order tie-break
    embedded. Purchases are filtered AFTER the window (windows over the
    full event stream — the round-1 shingle-truncation lesson), then both
    models unpivot through one explode into a single keyed aggregate.

    Scale: the window is partitioned by user_id (no global frames); the
    explode doubles purchase rows only. At 100 TB this is a sessionize-
    class op: one shuffle on user, one map-side-combined rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        "value",
    )
    enc = F.concat(
        F.lpad(F.col("us").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.col("event_type"),
    )
    touch = F.when(F.col("event_type").isin("click", "view"), enc)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_WIN_US, -1)
    )
    touched = ev.select(
        "event_type",
        "value",
        F.max(touch).over(w).alias("last_code"),
        F.min(touch).over(w).alias("first_code"),
    )
    credited = touched.filter(F.col("event_type") == "purchase").select(
        "value",
        F.coalesce(F.substring("last_code", 33, 10), F.lit("direct")).alias(
            "last_channel"
        ),
        F.coalesce(F.substring("first_code", 33, 10), F.lit("direct")).alias(
            "first_channel"
        ),
    )
    both = credited.select(
        "value",
        F.explode(
            F.array(
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_channel").alias("channel"),
                ),
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_channel").alias("channel"),
                ),
            )
        ).alias("mc"),
    )
    return both.groupBy(
        F.col("mc.model").alias("model"), F.col("mc.channel").alias("channel")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.sum(dec("value")).cast("double").alias("credited_value"),
    )


# --- item-based collaborative filtering -------------------------------------

RECO_ORACLE = """
WITH basket AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
owned AS MATERIALIZED (
    SELECT DISTINCT o_custkey AS cust, l_partkey AS p
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cooc AS MATERIALIZED (
    SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
    FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING COUNT(*) >= 2
),
sym AS (
    SELECT pa AS p, pb AS q, cnt FROM cooc
    UNION ALL
    SELECT pb AS p, pa AS q, cnt FROM cooc
),
neighbors AS MATERIALIZED (
    SELECT p, q, cnt FROM (
        SELECT p, q, cnt,
               ROW_NUMBER() OVER (PARTITION BY p
                                  ORDER BY cnt DESC, q ASC) AS nr
        FROM sym
    ) WHERE nr <= 8
),
cand AS (
    SELECT o.cust, n.q, CAST(SUM(n.cnt) AS BIGINT) AS score,
           COUNT(*) AS n_paths
    FROM owned o JOIN neighbors n ON o.p = n.p
    WHERE NOT EXISTS (
        SELECT 1 FROM owned w WHERE w.cust = o.cust AND w.p = n.q
    )
    GROUP BY o.cust, n.q
)
SELECT cust, q AS rec_part, score, n_paths, rnk
FROM (
    SELECT cust, q, score, n_paths,
           ROW_NUMBER() OVER (PARTITION BY cust
                              ORDER BY score DESC, q ASC) AS rnk
    FROM cand
) WHERE rnk <= 3
"""


@register("recommend_parts", RECO_ORACLE)
def q_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-based collaborative filtering: top-3 part recommendations per
    customer from basket co-occurrence — candidate generation (owned
    parts x top-8 co-occurrence neighbors), ownership anti-join, score
    aggregation, and a keyed top-k. The full batch-recommender shape.

    Scale: pair generation is the basket self-join (fanout k² per order,
    k = basket size); the neighbor table is CAPPED at 8 rows per part
    (keyed window, never global), so candidates are bounded by
    |owned| x 8 regardless of catalog size; ownership exclusion is a
    keyed LEFT ANTI join; final ranking is a per-customer window. Every
    shuffle is on a uniform key (part or customer); nothing is
    broadcast-sized-dependent except the capped neighbor table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # persist: both sides of the pair self-join read this lineage
    basket = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    owned = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    a = basket.select("o", F.col("p").alias("pa"))
    b = basket.select("o", F.col("p").alias("pb"))
    cooc = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        # persisted: BOTH unionAll branches of sym re-read this lineage
        .persist()
    )
    sym = cooc.select(
        F.col("pa").alias("p"), F.col("pb").alias("q"), "cnt"
    ).unionAll(cooc.select(F.col("pb").alias("p"), F.col("pa").alias("q"), "cnt"))
    wn = Window.partitionBy("p").orderBy(F.desc("cnt"), F.asc("q"))
    neighbors = (
        sym.withColumn("nr", F.row_number().over(wn))
        .filter(F.col("nr") <= 8)
        .select("p", "q", "cnt")
    )
    cand = (
        # the neighbor table is capped at 8 rows/part — broadcast it so
        # candidate generation never sort-merge-spills the owned side
        owned.join(F.broadcast(neighbors), "p")
        .join(
            owned.select(F.col("cust"), F.col("p").alias("q")),
            ["cust", "q"],
            "left_anti",
        )
        .groupBy("cust", "q")
        .agg(F.sum("cnt").alias("score"), F.count("*").alias("n_paths"))
    )
    wr = Window.partitionBy("cust").orderBy(F.desc("score"), F.asc("q"))
    return (
        cand.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select("cust", F.col("q").alias("rec_part"), "score", "n_paths", "rnk")
    )


# --- cohort lifetime value --------------------------------------------------

LTV_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
    FROM events GROUP BY user_id
),
wk AS (
    SELECT f.cohort_week,
           CAST((epoch_us(date_trunc('week', e.ts))
                 - epoch_us(f.cohort_week)) / 604800000000 AS BIGINT)
               AS weeks_since,
           COUNT(DISTINCT e.user_id) AS n_buyers,
           SUM(CAST(e.value AS DECIMAL(12,2))) AS rev
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY f.cohort_week, weeks_since
)
SELECT cohort_week, weeks_since, n_buyers,
       CAST(rev AS DOUBLE) AS wk_revenue,
       CAST(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY weeks_since
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS cum_revenue
FROM wk
"""


@register("cohort_ltv", LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: per first-activity-week cohort, the
    weekly purchase revenue and its running cumulative (the LTV curve a
    growth team projects payback from), plus weekly distinct buyers.

    Scale: the heavy work is two keyed aggregates (first-week per user —
    broadcastable; the cohort x week grid). The cumulative window runs
    on the AGGREGATED grid (|cohorts| x |weeks| rows, data-size
    independent), partitioned by cohort — never a window over raw
    events. Decimal accumulation end to end; doubles only at the edge."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    wk = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                (
                    F.unix_micros(F.date_trunc("week", F.col("ts")))
                    - F.unix_micros(F.col("cohort_week"))
                )
                / F.lit(604800000000)
            )
            .cast("long")
            .alias("weeks_since"),
            "user_id",
            dec("value").alias("v"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(
            F.countDistinct("user_id").alias("n_buyers"),
            F.sum("v").alias("rev"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return wk.select(
        "cohort_week",
        "weeks_since",
        "n_buyers",
        F.col("rev").cast("double").alias("wk_revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_revenue"),
    )


# --- temporal-holdout recommender backtest ----------------------------------

# lcm(1..10) = 2520: reciprocal ranks as exact integers (2520 / rank).
_MRR_L = 2520
_SPLIT = "1996-01-01"

BACKTEST_ORACLE = f"""
WITH train_orders AS (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '{_SPLIT}'
),
test_orders AS (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_SPLIT}'
),
basket AS MATERIALIZED (
    SELECT DISTINCT t.o_orderkey AS o, l_partkey AS p
    FROM lineitem JOIN train_orders t ON l_orderkey = t.o_orderkey
),
owned AS MATERIALIZED (
    SELECT DISTINCT t.o_custkey AS cust, l_partkey AS p
    FROM lineitem JOIN train_orders t ON l_orderkey = t.o_orderkey
),
cooc AS MATERIALIZED (
    SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cnt
    FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING COUNT(*) >= 2
),
sym AS (
    SELECT pa AS p, pb AS q, cnt FROM cooc
    UNION ALL SELECT pb, pa, cnt FROM cooc
),
neighbors AS MATERIALIZED (
    SELECT p, q, cnt FROM (
        SELECT p, q, cnt,
               ROW_NUMBER() OVER (PARTITION BY p
                                  ORDER BY cnt DESC, q ASC) AS nr
        FROM sym
    ) WHERE nr <= 8
),
ranked AS MATERIALIZED (
    SELECT cust, q, ROW_NUMBER() OVER (PARTITION BY cust
                                       ORDER BY score DESC, q ASC) AS rnk
    FROM (
        SELECT o.cust, n.q, CAST(SUM(n.cnt) AS BIGINT) AS score
        FROM owned o JOIN neighbors n ON o.p = n.p
        WHERE NOT EXISTS (
            SELECT 1 FROM owned w WHERE w.cust = o.cust AND w.p = n.q
        )
        GROUP BY o.cust, n.q
    )
),
test_purchases AS (
    SELECT DISTINCT t.o_custkey AS cust, l_partkey AS p
    FROM lineitem JOIN test_orders t ON l_orderkey = t.o_orderkey
),
hits AS (
    SELECT tp.cust, tp.p, r.rnk
    FROM test_purchases tp
    LEFT JOIN ranked r ON r.cust = tp.cust AND r.q = tp.p AND r.rnk <= 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test_purchases,
       CAST(COUNT(rnk) AS BIGINT) AS n_hits_at_10,
       CAST(COALESCE(SUM({_MRR_L} // rnk), 0) AS BIGINT) AS mrr_scaled_sum
FROM hits
"""


@register("recsys_backtest_mrr", BACKTEST_ORACLE)
def q_recsys_backtest_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-holdout backtest of the co-occurrence recommender: train
    the neighbor model on pre-1996 orders, score every post-1996
    purchase by its rank in the customer's top-10 recommendations, and
    report hits@10 plus an EXACT mean-reciprocal-rank numerator
    (2520/rank is an integer for every rank <= 10; divide by
    2520 * n_test for the float MRR) — offline recsys evaluation with a
    leakage-free time split, as one declarative plan.

    Scale: identical posture to recommend_parts (capped neighbor table,
    keyed windows, anti-join exclusion) plus one keyed join of the test
    purchases against the ranked lists. The only new state is the
    per-customer ranked candidates, bounded by |owned| x 8."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(_SPLIT).cast("timestamp")
    train_o = orders.filter(F.col("o_orderdate") < split).select(
        "o_orderkey", "o_custkey"
    )
    test_o = orders.filter(F.col("o_orderdate") >= split).select(
        "o_orderkey", "o_custkey"
    )
    basket = (
        li.join(train_o, li.l_orderkey == train_o.o_orderkey)
        .select(F.col("o_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    owned = (
        li.join(train_o, li.l_orderkey == train_o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    a = basket.select("o", F.col("p").alias("pa"))
    b = basket.select("o", F.col("p").alias("pb"))
    cooc = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        # persisted: BOTH unionAll branches of sym re-read this lineage
        .persist()
    )
    sym = cooc.select(
        F.col("pa").alias("p"), F.col("pb").alias("q"), "cnt"
    ).unionAll(cooc.select(F.col("pb").alias("p"), F.col("pa").alias("q"), "cnt"))
    wn = Window.partitionBy("p").orderBy(F.desc("cnt"), F.asc("q"))
    neighbors = (
        sym.withColumn("nr", F.row_number().over(wn))
        .filter(F.col("nr") <= 8)
        .select("p", "q", "cnt")
    )
    cand = (
        # the neighbor table is capped at 8 rows/part — broadcast it so
        # candidate generation never sort-merge-spills the owned side
        owned.join(F.broadcast(neighbors), "p")
        .join(
            owned.select("cust", F.col("p").alias("q")),
            ["cust", "q"],
            "left_anti",
        )
        .groupBy("cust", "q")
        .agg(F.sum("cnt").alias("score"))
    )
    wr = Window.partitionBy("cust").orderBy(F.desc("score"), F.asc("q"))
    ranked = (
        cand.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
        .select("cust", F.col("q").alias("p"), "rnk")
    )
    test_p = (
        li.join(test_o, li.l_orderkey == test_o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    hits = test_p.join(ranked, ["cust", "p"], "left")
    return hits.agg(
        F.count("*").alias("n_test_purchases"),
        F.count("rnk").alias("n_hits_at_10"),
        # integer division on both engines (2520 is divisible by every
        # rank <= 10, so this is exact reciprocal-rank mass)
        F.coalesce(F.sum(F.expr(f"{_MRR_L} div rnk")), F.lit(0))
        .cast("long")
        .alias("mrr_scaled_sum"),
    )


# --- Pareto / ABC inventory classification ----------------------------------

ABC_ORACLE = """
WITH pr AS (
    SELECT l_partkey AS p,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS rev_c
    FROM lineitem GROUP BY 1
),
ranked AS (
    SELECT p, rev_c,
           SUM(rev_c) OVER (ORDER BY rev_c DESC, p ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM pr
),
tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS total FROM pr)
SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev_c) AS BIGINT) AS class_rev_cents
FROM ranked CROSS JOIN tot
GROUP BY abc_class
"""


@register("pareto_abc_classes", ABC_ORACLE)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification: parts ranked by revenue,
    classified A (first 80% of revenue mass), B (to 95%), C (tail) via
    the EXACT global running total — integer cents, cross-multiplied
    class edges, no division.

    Scale: the running total rides operators/corpus_stats.
    distributed_prefix_sum (range sort + partition partials +
    O(#partitions) offset merge — never a single-partition window over
    the parts); the grand total is a 1-row scalar broadcast-crossed
    back. This is the vocab_coverage template applied to revenue."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pr = (
        li.select(
            F.col("l_partkey").alias("p"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("p")
        .agg(F.sum("cents").alias("rev_c"))
    )
    pr = pr.persist()  # prefix-sum branch and the scalar total share it
    ranked = distributed_prefix_sum(
        pr, "rev_c", [F.desc("rev_c"), F.asc("p")], cum_col="cum"
    )
    tot = pr.agg(F.sum("rev_c").alias("total"))
    cls = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
            "rev_c",
        )
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("rev_c").alias("class_rev_cents"),
    )


# --- signup -> first-purchase conversion lag --------------------------------

LAG_ORACLE = """
WITH s AS (
    SELECT user_id, MIN(epoch_us(ts)) AS s_us
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_us
    GROUP BY e.user_id
),
lags AS (
    SELECT s.user_id,
           CAST(date_trunc('month', to_timestamp(s.s_us / 1000000.0))
                AS TIMESTAMP) AS cohort_month,
           p.p_us - s.s_us AS lag_us
    FROM s LEFT JOIN p ON s.user_id = p.user_id
)
SELECT cohort_month,
       COUNT(*) AS n_signups,
       CAST(COUNT(lag_us) AS BIGINT) AS n_converted,
       CAST(SUM(CASE WHEN lag_us <= 604800000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted_7d,
       quantile_cont(lag_us, 0.5) AS p50_lag_us,
       quantile_cont(lag_us, 0.9) AS p90_lag_us
FROM lags GROUP BY cohort_month
"""


@register("signup_purchase_lag", LAG_ORACLE)
def q_signup_purchase_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase conversion lag per signup cohort month:
    conversion counts (total / within 7 days) and exact interpolated
    P50/P90 latency — the activation metric a growth team tracks per
    cohort.

    Scale: two keyed min-aggregates + one keyed join; percentiles run
    per cohort-month group (bounded group count, the price_percentiles
    parity-proven formula). Comparisons in epoch microseconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"), "ts"
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"), F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s.select("user_id", "s_us"), "user_id")
        .filter(F.col("us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    lags = s.join(p, "user_id", "left").select(
        F.date_trunc("month", F.to_timestamp(F.col("s_us") / 1000000.0)).alias(
            "cohort_month"
        ),
        (F.col("p_us") - F.col("s_us")).alias("lag_us"),
    )
    return lags.groupBy("cohort_month").agg(
        F.count("*").alias("n_signups"),
        F.count("lag_us").alias("n_converted"),
        F.sum(
            F.when(F.col("lag_us") <= 604800000000, 1).otherwise(0)
        ).alias("n_converted_7d"),
        F.percentile("lag_us", 0.5).alias("p50_lag_us"),
        F.percentile("lag_us", 0.9).alias("p90_lag_us"),
    )


# --- revenue Gini coefficient -----------------------------------------------

GINI_ORACLE = """
WITH cust AS (
    SELECT o_custkey AS c,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents ASC, c ASC) AS rnk
    FROM cust
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS s0,
           CAST((SUM(CAST(rnk AS HUGEINT) * cents) // 1048576) AS BIGINT)
               AS s1_hi,
           CAST((SUM(CAST(rnk AS HUGEINT) * cents) % 1048576) AS BIGINT)
               AS s1_lo
    FROM ranked
)
SELECT n, s0 AS total_cents,
       (2.0 * (CAST(s1_hi AS DOUBLE) * 1048576.0 + CAST(s1_lo AS DOUBLE))
        - (CAST(n AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) AS gini
FROM sums
"""


@register("revenue_gini", GINI_ORACLE)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality /
    concentration headline number, computed exactly: G = (2·Σr·x −
    (n+1)·Σx) / (n·Σx) over ranks from the distributed prefix-sum
    template (range sort, never a single-partition window over
    customers). Σr·x exceeds int64, so it rides the hi/lo int64 split
    (the rolling_correlation_14d workaround for DuckDB's int128→double
    1-ulp mis-round); the final ratio is one fixed double expression."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        orders.select(
            F.col("o_custkey").alias("c"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("c")
        .agg(F.sum("cents").alias("cents"))
    )
    ranked = distributed_prefix_sum(
        cust, "cents", [F.asc("cents"), F.asc("c")], rank_col="rnk"
    )
    s1 = F.sum(F.col("rnk").cast("decimal(19,0)") * F.col("cents")).cast(
        "decimal(38,0)"
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s0"),
        s1.alias("_s1"),
    ).select(
        "n",
        "s0",
        F.pmod(F.col("_s1"), F.lit(1048576)).cast("long").alias("s1_lo"),
        ((F.col("_s1") - F.pmod(F.col("_s1"), F.lit(1048576))) / F.lit(1048576))
        .cast("long")
        .alias("s1_hi"),
    )
    nd = F.col("n").cast("double")
    s0d = F.col("s0").cast("double")
    s1d = F.col("s1_hi").cast("double") * F.lit(1048576.0) + F.col(
        "s1_lo"
    ).cast("double")
    return sums.select(
        "n",
        F.col("s0").alias("total_cents"),
        (
            (F.lit(2.0) * s1d - (nd + F.lit(1.0)) * s0d) / (nd * s0d)
        ).alias("gini"),
    )


# --- time-decay multi-touch attribution -------------------------------------

# 12-hour half-life quantized to buckets: weight = 2^(13 - age_bucket),
# age_bucket = age_us div 12h in [0, 13] inside the 7-day window — the
# decay curve as exact integers.
_DECAY_BUCKET_US = 12 * 3600 * 1000000

DECAY_ATTR_ORACLE = f"""
WITH p AS (
    SELECT user_id, event_id AS pid, epoch_us(ts) AS pus,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT user_id, event_type AS channel, epoch_us(ts) AS tus
    FROM events WHERE event_type IN ('click', 'view')
),
credits AS (
    SELECT t.channel, p.cents,
           (p.pus - t.tus) // {_DECAY_BUCKET_US} AS bucket
    FROM p JOIN t ON p.user_id = t.user_id
    WHERE t.tus < p.pus AND t.tus >= p.pus - {14 * _DECAY_BUCKET_US}
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(cents * (CAST(1 AS BIGINT) << CAST(13 - bucket AS INTEGER)))
            AS BIGINT) AS credit_scaled
FROM credits GROUP BY channel
"""


@register("events_decay_attribution", DECAY_ATTR_ORACLE)
def q_events_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every click/view in the 7
    days before a purchase earns credit value x 2^-(age/12h), with the
    decay curve quantized to half-life buckets so the credit mass is
    exact BIGINT arithmetic (weight = 2^(13 - bucket)) — the fractional
    sibling of events_attribution's winner-take-all models.

    Scale: a keyed (user) equi-join between purchases and touches with
    the 7-day band as a post-join filter — per-user fanout is bounded
    by a user's own 7-day touch density, never cross-user; one keyed
    rollup ends it. The dyadic-weight trick is ewma_user_value's."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("pus"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros(F.col("ts")).alias("tus"),
    )
    credits = (
        p.join(t, "user_id")
        .filter(
            (F.col("tus") < F.col("pus"))
            & (F.col("tus") >= F.col("pus") - 14 * _DECAY_BUCKET_US)
        )
        .select(
            "channel",
            "cents",
            F.expr(f"(pus - tus) div {_DECAY_BUCKET_US}").alias("bucket"),
        )
    )
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(13 - bucket AS INT))")
    return credits.groupBy("channel").agg(
        F.count("*").alias("n_credits"),
        F.sum(F.col("cents") * weight).alias("credit_scaled"),
    )


# --- grouped OLS: per-brand price ~ discount regression ---------------------

OLS_ORACLE = """
WITH obs AS (
    SELECT p_brand AS brand,
           CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
stats AS (
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(x AS DECIMAL(12,0)))
                AS DECIMAL(38,0)) AS sxx,
           CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(y AS DECIMAL(15,0)))
                AS DECIMAL(38,0)) AS sxy,
           CAST(SUM(CAST(y AS DECIMAL(15,0)) * CAST(y AS DECIMAL(15,0)))
                AS DECIMAL(38,0)) AS syy
    FROM obs GROUP BY brand
),
d AS (
    SELECT brand, n,
           CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
           CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
           CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd
    FROM stats
)
SELECT brand, n,
       CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
            ELSE (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
       END AS slope_cents_per_pt,
       CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
            ELSE (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                        * sxd) / nd
       END AS intercept_cents,
       CASE WHEN (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd) = 0
            THEN NULL
            ELSE (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                 / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
       END AS r2
FROM d
"""


@register("brand_discount_ols", OLS_ORACLE)
def q_brand_discount_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS regression of line price on discount points — the
    'millions of tiny regressions' shape (one closed-form fit per
    group) that price-elasticity and trend-fitting jobs run at scale.
    Sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) are EXACT integer
    cents accumulated in DECIMAL(38,0) (mergeable across any partition
    split — the ab_test_welch discipline); slope/intercept/R² are one
    fixed double expression per brand, NULL-guarded on degenerate
    variance (Spark ANSI raises on double/0 where DuckDB returns inf).

    Scale: one fact-dim broadcast join + one keyed aggregate; per-brand
    state is six numbers regardless of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    obs = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        (F.col("l_discount").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    stats = obs.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(12,0)") * F.col("x").cast("decimal(12,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("x").cast("decimal(12,0)") * F.col("y").cast("decimal(15,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("y").cast("decimal(15,0)") * F.col("y").cast("decimal(15,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    den_x = nd * sxxd - sxd * sxd
    den_y = nd * syyd - syd * syd
    cov = nd * sxyd - sxd * syd
    slope = F.when(den_x == 0, F.lit(None).cast("double")).otherwise(
        cov / den_x
    )
    return stats.select(
        "brand",
        "n",
        slope.alias("slope_cents_per_pt"),
        F.when(den_x == 0, F.lit(None).cast("double"))
        .otherwise((syd - cov / den_x * sxd) / nd)
        .alias("intercept_cents"),
        F.when(den_x * den_y == 0, F.lit(None).cast("double"))
        .otherwise(cov * cov / (den_x * den_y))
        .alias("r2"),
    )


# --- exact trimmed mean per brand --------------------------------------------

TRIMMED_ORACLE = """
WITH obs AS (
    SELECT p_brand AS brand,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           l_orderkey, l_linenumber
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
ranked AS (
    SELECT brand, cents,
           ROW_NUMBER() OVER (PARTITION BY brand
                              ORDER BY cents, l_orderkey, l_linenumber)
               AS r
    FROM obs
),
tot AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 5 // 100 AS BIGINT) AS k
    FROM ranked GROUP BY brand
)
SELECT t.brand, t.n, t.k AS k_trim,
       CAST(SUM(CASE WHEN r.r > t.k AND r.r <= t.n - t.k
                     THEN r.cents ELSE 0 END) AS BIGINT) AS kept_cents,
       CAST(SUM(CASE WHEN r.r > t.k AND r.r <= t.n - t.k
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN r.r > t.k AND r.r <= t.n - t.k
                     THEN r.cents ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CASE WHEN r.r > t.k AND r.r <= t.n - t.k
                       THEN 1 ELSE 0 END) AS DOUBLE) AS trimmed_mean_cents,
       CAST(SUM(r.cents) AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_cents
FROM ranked r JOIN tot t ON r.brand = t.brand
GROUP BY t.brand, t.n, t.k
"""


@register("brand_trimmed_mean", TRIMMED_ORACLE)
def q_brand_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed mean of line price per brand beside the plain
    mean — the robust-statistics companion to price_mad: k = floor(5%·n)
    rows are dropped from EACH end by rank (total-order tie-break), so
    the trim is count-exact, engine-exact integer arithmetic with one
    final division.

    Scale: ranks come from a keyed window (partition = brand — the
    window sort spills inside each bounded group); per-brand totals are
    a 25-row broadcast. No global sort anywhere."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    obs = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("brand").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    ranked = obs.select("brand", "cents", F.row_number().over(w).alias("r"))
    tot = ranked.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.expr("div(count(*) * 5, 100)").alias("k"),
    )
    kept = F.when(
        (F.col("r") > F.col("k")) & (F.col("r") <= F.col("n") - F.col("k")),
        F.col("cents"),
    ).otherwise(0)
    kept1 = F.when(
        (F.col("r") > F.col("k")) & (F.col("r") <= F.col("n") - F.col("k")), 1
    ).otherwise(0)
    return (
        ranked.join(F.broadcast(tot), "brand")
        .groupBy("brand", "n", F.col("k").alias("k_trim"))
        .agg(
            F.sum(kept).alias("kept_cents"),
            F.sum(kept1).cast("long").alias("n_kept"),
            (F.sum(kept).cast("double") / F.sum(kept1).cast("double")).alias(
                "trimmed_mean_cents"
            ),
            (F.sum("cents").cast("double") / F.first("n").cast("double")).alias(
                "mean_cents"
            ),
        )
    )


# --- position-bias curve (CTR by display position) --------------------------

_PB_WINDOW_US = 300_000_000  # 5 minutes

PB_ORACLE = f"""
WITH views AS (
    SELECT event_id, user_id, epoch_us(ts) AS us,
           CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
               AS pos_bucket
    FROM events WHERE event_type = 'view'
), clicks AS (
    SELECT user_id, epoch_us(ts) AS us FROM events
    WHERE event_type = 'click'
), flagged AS (
    SELECT v.pos_bucket,
           CASE WHEN EXISTS (
               SELECT 1 FROM clicks c
               WHERE c.user_id = v.user_id
                 AND c.us > v.us AND c.us <= v.us + {_PB_WINDOW_US}
           ) THEN 1 ELSE 0 END AS conv
    FROM views v
)
SELECT pos_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cvr
FROM flagged GROUP BY pos_bucket
"""


@register("position_bias_curve", PB_ORACLE)
def q_position_bias_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-through propensity by display position: for each view
    (props.k read as the result slot, bucketed by 10), the fraction
    followed by ANY click from the same user within 5 minutes — the
    position-bias curve an unbiased learning-to-rank pipeline estimates
    before inverse-propensity-weighting its training clicks.

    Scale: the view→click lookup is the RANGE-JOIN pattern — views
    probe two 5-minute time buckets (their own and the next), the join
    is an EQUI-join on (user_id, bucket), and the exact window
    predicate filters after — bounded fanout, never a per-user
    cross product. The oracle states the same semantics as a
    correlated EXISTS."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.expr(
            "div(variant_get(parse_json(props), '$.k', 'bigint'), 10)"
        ).alias("pos_bucket"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros(F.col("ts")).alias("c_us")
    )
    probes = views.select(
        "event_id",
        "user_id",
        "us",
        "pos_bucket",
        F.explode(
            F.array(
                F.expr(f"div(us, {_PB_WINDOW_US})"),
                F.expr(f"div(us, {_PB_WINDOW_US}) + 1"),
            )
        ).alias("bkt"),
    )
    hits = (
        probes.join(
            clicks.withColumn("bkt", F.expr(f"div(c_us, {_PB_WINDOW_US})")),
            ["user_id", "bkt"],
        )
        .filter(
            (F.col("c_us") > F.col("us"))
            & (F.col("c_us") <= F.col("us") + _PB_WINDOW_US)
        )
        .select("event_id")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    flagged = views.join(hits, "event_id", "left").select(
        "pos_bucket", F.coalesce("conv", F.lit(0)).alias("conv")
    )
    return flagged.groupBy("pos_bucket").agg(
        F.count("*").alias("n_views"),
        F.sum("conv").cast("long").alias("n_converted"),
        (F.sum("conv").cast("double") / F.count("*").cast("double")).alias(
            "cvr"
        ),
    )


# --- supplier lead-time SLA scorecard ----------------------------------------

LEAD_ORACLE = """
WITH lag AS (
    SELECT n.n_name AS nation,
           CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
               AS lag_days
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n ON s_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_within_30d,
       CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS sla_30d_frac,
       quantile_cont(lag_days, 0.5) AS p50_lag_days,
       quantile_cont(lag_days, 0.9) AS p90_lag_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
FROM lag GROUP BY nation
"""


@register("supplier_lead_time", LEAD_ORACLE)
def q_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per supplier nation: 30-day SLA
    compliance plus exact interpolated P50/P90 of the lag-day
    distribution — the operational supply-chain scorecard.

    Scale: the fact-fact join rides the (orderkey) key; supplier and
    nation dims broadcast; percentiles run per nation (bounded groups,
    the price_percentiles parity-proven formula); day lags are exact
    integers from timestamp date_diff."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    lag = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("lag_days"),
        )
    )
    within = F.when(F.col("lag_days") <= 30, 1).otherwise(0)
    return lag.groupBy("nation").agg(
        F.count("*").alias("n_lines"),
        F.sum(within).cast("long").alias("n_within_30d"),
        (F.sum(within).cast("double") / F.count("*").cast("double")).alias(
            "sla_30d_frac"
        ),
        F.percentile("lag_days", 0.5).alias("p50_lag_days"),
        F.percentile("lag_days", 0.9).alias("p90_lag_days"),
        F.max("lag_days").alias("max_lag_days"),
    )


# --- brand cross-sell lift matrix --------------------------------------------

XSELL_ORACLE = """
WITH ob AS (
    SELECT DISTINCT l_orderkey AS o, p_brand AS b
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
sup AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM ob GROUP BY b),
nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM ob),
pairs AS (
    SELECT a.b AS brand_a, c.b AS brand_b, CAST(COUNT(*) AS BIGINT) AS ab
    FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
    GROUP BY a.b, c.b
)
SELECT brand_a, brand_b, ab,
       sa.s AS n_a, sb.s AS n_b,
       CAST(ab AS DOUBLE) / CAST(nn.n AS DOUBLE) AS support,
       (CAST(ab AS DOUBLE) * CAST(nn.n AS DOUBLE))
       / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift,
       (ab * nn.n * 10 > sa.s * sb.s * 11) AS high_affinity
FROM pairs
JOIN sup sa ON sa.b = brand_a
JOIN sup sb ON sb.b = brand_b
CROSS JOIN nn
"""


@register("cross_sell_matrix", XSELL_ORACLE)
def q_cross_sell_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level cross-sell affinity matrix: co-purchase support and
    lift for every brand pair, with a high-affinity flag at lift > 1.1
    decided by CROSS-MULTIPLIED INTEGERS (ab·n·10 > s_a·s_b·11) so the
    verdict can never flip on a double rounding — the merchandising
    heatmap behind 'customers also bought' placements at the brand
    grain (bounded 25x25 output, unlike the part-level pair mining).

    Scale: basket fanout is bounded by distinct brands per order
    (<= 25); per-brand supports and the order total are broadcast
    scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    sup = ob.groupBy("b").agg(F.count("*").alias("s"))
    nn = ob.agg(F.countDistinct("o").alias("n"))
    pairs = (
        ob.select("o", F.col("b").alias("brand_a"))
        .join(ob.select("o", F.col("b").alias("brand_b")), "o")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("ab"))
    )
    return (
        pairs.join(
            F.broadcast(sup.select(F.col("b").alias("brand_a"), F.col("s").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(sup.select(F.col("b").alias("brand_b"), F.col("s").alias("n_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "brand_a",
            "brand_b",
            "ab",
            "n_a",
            "n_b",
            (F.col("ab").cast("double") / F.col("n").cast("double")).alias(
                "support"
            ),
            (
                (F.col("ab").cast("double") * F.col("n").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
            (
                F.col("ab") * F.col("n") * 10
                > F.col("n_a") * F.col("n_b") * 11
            ).alias("high_affinity"),
        )
    )


# --- behavioural diversity (Gini-Simpson index, log-free) --------------------

SIMPSON_ORACLE = """
WITH per AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id, event_type
),
u AS (
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c * c) AS BIGINT) AS sum_sq
    FROM per GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       1.0 - CAST(sum_sq AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
           AS simpson_diversity
FROM u
"""


@register("user_event_diversity", SIMPSON_ORACLE)
def q_user_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural diversity per user as the Gini-Simpson index
    1 − Σpᵢ² — the engagement-breadth feature a churn model uses, and
    the LOG-FREE diversity metric (Shannon entropy needs libm log,
    which differs in the last ulp across engines; Simpson is integer
    Σc² with one fixed double expression, engine-exact by
    construction).

    Scale: two keyed aggregates, both map-side combined; per-user state
    is three integers."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    u = per.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        (
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (
                F.col("n_events").cast("double")
                * F.col("n_events").cast("double")
            )
        ).alias("simpson_diversity"),
    )


# --- per-user cumulative-value max drawdown -----------------------------------

DRAWDOWN_ORACLE = """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS us, event_id,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
bal AS (
    SELECT user_id, us, event_id,
           SUM(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS bal
    FROM e
),
cum AS (
    SELECT user_id, bal,
           MAX(bal) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
    FROM bal
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(MAX(bal) AS BIGINT) AS peak_cents,
       CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents
FROM cum GROUP BY user_id
"""


@register("user_value_drawdown", DRAWDOWN_ORACLE)
def q_user_value_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative purchase value — the
    peak-to-trough statistic (finance's risk number, a churn-risk
    feature when value can be negative/refunded): running balance and
    running peak ride ONE (user_id) window partition; the drawdown is
    integer cents end to end.

    Scale: one keyed window (two frames over the same sort) + one keyed
    aggregate; no self-joins."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = e.select(
        "user_id", "us", "event_id", F.sum("cents").over(w).alias("bal")
    )
    cum = bal.select(
        "user_id", "bal", F.max("bal").over(w).alias("peak")
    )
    return cum.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.max("bal").alias("peak_cents"),
        F.max(F.col("peak") - F.col("bal")).alias("max_drawdown_cents"),
    )


# --- inter-purchase regularity (squared coefficient of variation) ------------

REGULARITY_ORACLE = """
WITH p AS (
    SELECT user_id, epoch_us(ts) AS us,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS r
    FROM events WHERE event_type = 'purchase'
),
gaps AS (
    SELECT a.user_id, b.us - a.us AS g
    FROM p a JOIN p b ON a.user_id = b.user_id AND b.r = a.r + 1
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           -- 2^40 hi/lo split: sum(g^2) in micros^2 passes 2^63 at the
           -- sf1 rung, where DuckDB's HUGEINT->DOUBLE cast mis-rounds;
           -- hi*2^40 is an exact exponent shift, so the reconstruction
           -- rounds ONCE, identically on both engines (CLAUDE.md rule)
           -- CAST TO HUGEINT FIRST: DuckDB's // on DECIMAL operands is
           -- a DOUBLE floor-division (measured), only HUGEINT // is
           -- exact integer division
           CAST(CAST(SUM(CAST(g AS DECIMAL(19,0))
                         * CAST(g AS DECIMAL(19,0))) AS HUGEINT)
                // 1099511627776 AS BIGINT) AS g2_hi,
           CAST(CAST(SUM(CAST(g AS DECIMAL(19,0))
                         * CAST(g AS DECIMAL(19,0))) AS HUGEINT)
                % 1099511627776 AS BIGINT) AS g2_lo
    FROM gaps GROUP BY user_id
)
SELECT user_id, n_gaps, sum_g,
       CASE WHEN sum_g = 0 THEN NULL
            ELSE (CAST(n_gaps AS DOUBLE)
                  * (CAST(g2_hi AS DOUBLE) * 1099511627776.0
                     + CAST(g2_lo AS DOUBLE))
                  - CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE))
                 / (CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE))
       END AS cv2
FROM s WHERE n_gaps >= 2
"""


@register("purchase_regularity", REGULARITY_ORACLE)
def q_purchase_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-interval regularity per user: the squared
    coefficient of variation of gap lengths (clumpiness — cv² ≈ 0 is a
    metronome, ≈ 1 Poisson, > 1 bursty), the classic feature behind
    'regular vs impulsive buyer' segmentation. Gaps pair consecutive
    purchases via a rank self-join; moments are exact (Σg in int64,
    Σg² DECIMAL-accumulated); cv² is one fixed double expression,
    NULL-guarded like langid_prf.

    Scale: the rank window and the r = r+1 pairing both ride the
    (user_id) key; per-user state is three numbers."""
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.unix_micros(F.col("ts")).alias("us"), "event_id"
        )
        .select(
            "user_id",
            "us",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("us", "event_id"))
            .alias("r"),
        )
    )
    a = p.select("user_id", F.col("us").alias("a_us"), F.col("r").alias("ra"))
    b = p.select("user_id", F.col("us").alias("b_us"), F.col("r").alias("rb"))
    gaps = (
        a.join(b, "user_id")
        .filter(F.col("rb") == F.col("ra") + 1)
        .select("user_id", (F.col("b_us") - F.col("a_us")).alias("g"))
    )
    g2 = F.sum(
        F.col("g").cast("decimal(19,0)") * F.col("g").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    two40 = F.lit(1_099_511_627_776)
    s = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("sum_g"),
        # 2^40 hi/lo split — see the oracle note (sum passes 2^63 at sf1)
        ((g2 - F.pmod(g2, two40)) / two40).cast("long").alias("g2_hi"),
        F.pmod(g2, two40).cast("long").alias("g2_lo"),
    )
    nd = F.col("n_gaps").cast("double")
    sg = F.col("sum_g").cast("double")
    sg2 = (
        F.col("g2_hi").cast("double") * F.lit(1_099_511_627_776.0)
        + F.col("g2_lo").cast("double")
    )
    return s.filter(F.col("n_gaps") >= 2).select(
        "user_id",
        "n_gaps",
        "sum_g",
        F.when(F.col("sum_g") == 0, F.lit(None).cast("double"))
        .otherwise((nd * sg2 - sg * sg) / (sg * sg))
        .alias("cv2"),
    )


# --- bitmap activity masks ---------------------------------------------------

_US_PER_DAY = 86_400_000_000

BITMAP_ORACLE = f"""
WITH ev AS (
    SELECT user_id,
           epoch_us(ts) // {_US_PER_DAY} AS d
    FROM events
),
masks AS (
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << CAST(d % 64 AS INT)) AS day_mask
    FROM ev GROUP BY user_id
),
per_user AS (
    SELECT user_id, day_mask,
           CAST(bit_count(day_mask) AS BIGINT) AS n_active_days
    FROM masks
)
SELECT n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT day_mask) AS BIGINT) AS n_distinct_masks,
       CAST(MIN(day_mask) AS BIGINT) AS min_mask
FROM per_user
GROUP BY n_active_days
"""


@register("user_day_bitmaps", BITMAP_ORACLE)
def q_user_day_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-activity BITMAPS: one 64-bit mask per user
    (bit d%64 set iff the user had any event on epoch-day d),
    aggregated with bit_or — the roaring-bitmap-style presence encoding
    warehouses use for audience/segment membership, where set
    intersection/union become bitwise AND/OR on fixed-size integers
    instead of distinct-joins. Popcount gives active-day counts; the
    output is the (n_active_days -> users, distinct-pattern) histogram.

    Scale: ONE hash aggregate over events builds all masks (bit_or is
    partial-aggregatable map-side); the histogram is a second keyed
    aggregate over per-user rows. No windows, no joins. The fixture's
    event span (30 days) is < 64 so d%64 is collision-free; longer
    spans take an array of masks (one per 64-day epoch) — same plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / F.lit(_US_PER_DAY))
        .cast("long")
        .alias("d"),
    )
    masks = ev.groupBy("user_id").agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(d % 64 AS INT))")
        ).alias("day_mask")
    )
    per_user = masks.select(
        "user_id",
        "day_mask",
        F.bit_count("day_mask").cast("long").alias("n_active_days"),
    )
    return per_user.groupBy("n_active_days").agg(
        F.count("*").alias("n_users"),
        F.countDistinct("day_mask").alias("n_distinct_masks"),
        F.min("day_mask").alias("min_mask"),
    )


# --- session entry/exit/bounce profile --------------------------------------

ENTRY_EXIT_ORACLE = """
WITH lagged AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sessions AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), ranked AS (
    SELECT event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                              ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM sessions
)
SELECT event_type,
       CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
       CAST(SUM(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
       CAST(SUM(CASE WHEN rn_a = 1 AND rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       CASE WHEN SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN rn_a = 1 AND rn_d = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       END AS bounce_rate
FROM ranked
GROUP BY event_type
"""


@register("session_entry_exit", ENTRY_EXIT_ORACLE)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit/bounce profile per event type: which actions OPEN
    sessions, which CLOSE them, and which are one-and-done (bounces) —
    the landing/exit-page report over gap-based (30-min) sessions.

    Scale: sessionization and the first/last ranks are all windows
    KEYED by user (and session) — no global sorts; the profile is one
    hash aggregate on the small event-type alphabet. Both row_number
    directions are built in the same select over the same partition
    key, so Spark plans a single window exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
        )
        .over(wrun)
        .alias("session_id"),
    )
    wa = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "session_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = sess.select(
        "event_type",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    entries = F.sum(F.when(F.col("rn_a") == 1, 1).otherwise(0))
    exits = F.sum(F.when(F.col("rn_d") == 1, 1).otherwise(0))
    bounces = F.sum(
        F.when((F.col("rn_a") == 1) & (F.col("rn_d") == 1), 1).otherwise(0)
    )
    return ranked.groupBy("event_type").agg(
        entries.alias("n_entries"),
        exits.alias("n_exits"),
        bounces.alias("n_bounces"),
        F.when(
            entries != 0, bounces.cast("double") / entries.cast("double")
        ).alias("bounce_rate"),
    )


# --- value-segment migration matrix -----------------------------------------

MIGRATION_ORACLE = """
WITH monthly AS (
    SELECT o_custkey AS c,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS m,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1, 2
),
ranked AS (
    SELECT c, m, cents,
           (3 * (ROW_NUMBER() OVER (PARTITION BY m
                                    ORDER BY cents DESC, c) - 1))
           // COUNT(*) OVER (PARTITION BY m) AS terc
    FROM monthly
),
last_m AS (SELECT MAX(m) AS max_m FROM monthly),
flows AS (
    SELECT a.terc AS from_tercile,
           COALESCE(b.terc, 3) AS to_state
    FROM ranked a
    LEFT JOIN ranked b ON a.c = b.c AND b.m = a.m + 1
    CROSS JOIN last_m
    WHERE a.m < last_m.max_m
),
counts AS (
    SELECT from_tercile, to_state, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM flows GROUP BY from_tercile, to_state
)
SELECT from_tercile, to_state, n_users,
       CAST(n_users AS DOUBLE)
       / CAST(SUM(n_users) OVER (PARTITION BY from_tercile) AS DOUBLE)
           AS row_share
FROM counts
"""


@register("segment_migration_matrix", MIGRATION_ORACLE)
def q_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-segment migration: month-over-month transitions
    between spend terciles (0 = top third) plus churn-to-inactive
    (state 3) — the Sankey/retention-flow table behind lifecycle
    marketing. Terciles are EXACT rank buckets (3*(rn-1) div n under a
    total order), so segment membership is reproducible, not
    percentile-approximate.

    Scale: monthly rollup is one keyed aggregate; tercile ranks ride a
    window keyed by month; the flow join is keyed on (customer,
    month+1); the matrix is calendar x 4 sized. The max-month scalar
    crosses back (standard pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.col("o_custkey").alias("c"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            )
            .cast("long")
            .alias("m"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("c", "m")
        .agg(F.sum("cents").alias("cents"))
    )
    wr = Window.partitionBy("m").orderBy(F.desc("cents"), F.asc("c"))
    wn = Window.partitionBy("m")
    ranked = (
        monthly.select(
            "c",
            "m",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .select("c", "m", F.expr("(3 * (rn - 1)) div n").alias("terc"))
        .persist()
    )
    last_m = monthly.agg(F.max("m").alias("max_m"))
    b = ranked.select(
        F.col("c").alias("c"),
        (F.col("m") - 1).alias("m"),
        F.col("terc").alias("to_terc"),
    )
    flows = (
        ranked.join(b, ["c", "m"], "left")
        .crossJoin(F.broadcast(last_m))
        .filter(F.col("m") < F.col("max_m"))
        .select(
            F.col("terc").alias("from_tercile"),
            F.coalesce("to_terc", F.lit(3)).cast("long").alias("to_state"),
        )
    )
    counts = flows.groupBy("from_tercile", "to_state").agg(
        F.count("*").alias("n_users")
    )
    wrow = Window.partitionBy("from_tercile")
    return counts.select(
        "from_tercile",
        "to_state",
        "n_users",
        (
            F.col("n_users").cast("double")
            / F.sum("n_users").over(wrow).cast("double")
        ).alias("row_share"),
    )


# --- Markov removal-effect attribution --------------------------------------

_MRK_CHANNELS = ("click", "error", "signup", "view")
_MRK_STEPS = 12
_MRK_SCALE = 1 << 40


def _mrk_oracle() -> str:
    vals = "), (".join(f"'{c}'" for c in ("full",) + _MRK_CHANNELS)
    head = f"""
WITH ev AS (
    SELECT user_id, event_type AS t, ts, event_id FROM events
),
seq AS (
    SELECT user_id, t,
           lag(t) OVER w AS prev, lead(t) OVER w AS nxt
    FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
raw_edges AS (
    SELECT 'START' AS f,
           CASE WHEN t = 'purchase' THEN 'CONV' ELSE t END AS tt
    FROM seq WHERE prev IS NULL OR prev = 'purchase'
    UNION ALL
    SELECT t,
           CASE WHEN nxt IS NULL THEN 'NULL'
                WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
    FROM seq WHERE t != 'purchase'
),
variants(v) AS (VALUES ({vals})),
vedges AS (
    SELECT v, f,
           CASE WHEN tt = v THEN 'NULL' ELSE tt END AS tt
    FROM raw_edges CROSS JOIN variants
    WHERE f != v
),
edges0 AS (
    SELECT v, f, tt, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM vedges GROUP BY 1, 2, 3
    UNION ALL
    SELECT v, s.s, s.s, CAST(1 AS BIGINT)
    FROM variants CROSS JOIN (VALUES ('CONV'), ('NULL')) AS s(s)
),
rsum AS (
    SELECT v, f, CAST(SUM(cnt) AS BIGINT) AS rowsum
    FROM edges0 GROUP BY 1, 2
),
e AS MATERIALIZED (
    SELECT edges0.v, f, tt, cnt, rowsum FROM edges0 JOIN rsum USING (v, f)
),
vec0 AS (
    SELECT v, 'START' AS s, CAST({_MRK_SCALE} AS BIGINT) AS m FROM variants
)"""
    steps = []
    for k in range(1, _MRK_STEPS + 1):
        steps.append(
            f""",
vec{k} AS MATERIALIZED (
    SELECT e.v, e.tt AS s, CAST(SUM((m * cnt) // rowsum) AS BIGINT) AS m
    FROM vec{k - 1} x JOIN e ON x.v = e.v AND x.s = e.f
    GROUP BY 1, 2
)"""
        )
    tail = f""",
conv AS (
    SELECT v AS variant,
           CAST(SUM(CASE WHEN s = 'CONV' THEN m ELSE 0 END) AS BIGINT)
               AS conv_scaled,
           CAST(SUM(CASE WHEN s = 'NULL' THEN m ELSE 0 END) AS BIGINT)
               AS null_scaled
    FROM vec{_MRK_STEPS} GROUP BY v
)
SELECT c.variant, c.conv_scaled, c.null_scaled,
       CASE WHEN c.variant = 'full' THEN NULL
            ELSE (CAST(f.conv_scaled AS DOUBLE) - CAST(c.conv_scaled AS DOUBLE))
                 / CAST(f.conv_scaled AS DOUBLE) END AS removal_effect
FROM conv c CROSS JOIN (SELECT conv_scaled FROM conv WHERE variant = 'full') f
"""
    return head + "".join(steps) + tail


MARKOV_ATTR_ORACLE = _mrk_oracle()


@register("markov_removal_attribution", MARKOV_ATTR_ORACLE)
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution: model user journeys as
    a first-order chain (START -> channels -> CONV/NULL, purchase
    absorbing), then for each channel re-run the chain with that
    channel knocked out (its inbound traffic redirected to NULL) and
    report how much conversion mass disappears — the data-driven
    multi-touch attribution standard (vs heuristic first/last/decay
    in events_attribution).

    Determinism: transition probabilities never materialize as floats —
    each propagation term is (mass * count) div rowsum in BIGINT
    (truncating div agrees across engines), 12 fixed steps from a 2^40
    START mass, sinks self-loop so absorbed mass is conserved.

    Scale: ONE keyed lag/lead window over events builds the edge
    counts; everything after is (variants x states)-sized (~35 rows,
    corpus-size independent), so all 12 propagation steps run inside a
    single applyInPandas kernel grouped by variant — one job, not a
    12-deep sequential chain (round-2 verdict latency fix)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t"),
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    start_edges = seq.filter(
        F.col("prev").isNull() | (F.col("prev") == "purchase")
    ).select(
        F.lit("START").alias("f"),
        F.when(F.col("t") == "purchase", "CONV").otherwise(F.col("t")).alias(
            "tt"
        ),
    )
    step_edges = seq.filter(F.col("t") != "purchase").select(
        F.col("t").alias("f"),
        F.when(F.col("nxt").isNull(), "NULL")
        .when(F.col("nxt") == "purchase", "CONV")
        .otherwise(F.col("nxt"))
        .alias("tt"),
    )
    raw = start_edges.unionByName(step_edges)
    variants = spark.createDataFrame(
        [(v,) for v in ("full",) + _MRK_CHANNELS], ["v"]
    )
    vedges = (
        raw.crossJoin(F.broadcast(variants))
        .filter(F.col("f") != F.col("v"))
        .select(
            "v",
            "f",
            F.when(F.col("tt") == F.col("v"), "NULL")
            .otherwise(F.col("tt"))
            .alias("tt"),
        )
    )
    sinks = spark.createDataFrame(
        [(v, s, s, 1) for v in ("full",) + _MRK_CHANNELS for s in ("CONV", "NULL")],
        ["v", "f", "tt", "cnt"],
    )
    edges0 = (
        vedges.groupBy("v", "f", "tt")
        .agg(F.count("*").alias("cnt"))
        .unionByName(sinks.select("v", "f", "tt", F.col("cnt").cast("long")))
    )
    rsum = edges0.groupBy("v", "f").agg(F.sum("cnt").alias("rowsum"))
    e = edges0.join(rsum, ["v", "f"]).select(
        F.col("v").alias("ev"),
        F.col("f").alias("ef"),
        F.col("tt").alias("et"),
        "cnt",
        "rowsum",
    )

    # The per-variant transition table is corpus-size-INDEPENDENT
    # (<= |states+START| x |states+sinks| rows), so the 12 truncating
    # propagation steps run inside ONE grouped Arrow kernel instead of
    # a 12-job localCheckpoint chain (round-2 verdict: the chain was
    # 11.6 s of pure scheduling latency on ~35 rows). Python ints
    # reproduce BIGINT (m * cnt) div rowsum exactly (all masses
    # non-negative, so // == div), and integer addition is
    # order-independent — the oracle hash is unchanged.
    def _propagate(pdf):
        import pandas as pd

        out = {}
        for f_, t_, c_, rs_ in zip(
            pdf["ef"], pdf["et"], pdf["cnt"], pdf["rowsum"]
        ):
            out.setdefault(f_, []).append((t_, int(c_), int(rs_)))
        mass = {"START": _MRK_SCALE}
        for _ in range(_MRK_STEPS):
            nxt: dict[str, int] = {}
            for s_, m_ in mass.items():
                for t_, c_, rs_ in out.get(s_, ()):
                    nxt[t_] = nxt.get(t_, 0) + (m_ * c_) // rs_
            mass = nxt
        return pd.DataFrame(
            {
                "variant": [str(pdf["ev"].iloc[0])],
                "conv_scaled": [mass.get("CONV", 0)],
                "null_scaled": [mass.get("NULL", 0)],
            }
        )

    conv = e.groupBy("ev").applyInPandas(
        _propagate, "variant string, conv_scaled long, null_scaled long"
    )
    full = conv.filter(F.col("variant") == "full").select(
        F.col("conv_scaled").alias("full_conv")
    )
    return conv.crossJoin(F.broadcast(full)).select(
        "variant",
        "conv_scaled",
        "null_scaled",
        F.when(
            F.col("variant") != "full",
            (
                F.col("full_conv").cast("double")
                - F.col("conv_scaled").cast("double")
            )
            / F.col("full_conv").cast("double"),
        ).alias("removal_effect"),
    )


# --- A-priori frequent triple mining ----------------------------------------

TRIPLES_MINSUP = 2

TRIPLES_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
fp AS (
    SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS sup
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2
    HAVING COUNT(*) >= {TRIPLES_MINSUP}
),
cand AS (
    SELECT x.p1, x.p2, y.p2 AS p3
    FROM fp x JOIN fp y ON x.p1 = y.p1 AND x.p2 < y.p2
    WHERE EXISTS (SELECT 1 FROM fp z WHERE z.p1 = x.p2 AND z.p2 = y.p2)
),
op AS (
    SELECT a.o, a.p AS p1, b.p AS p2
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    WHERE EXISTS (SELECT 1 FROM fp WHERE fp.p1 = a.p AND fp.p2 = b.p)
),
tri AS (
    SELECT c.p1, c.p2, c.p3, CAST(COUNT(*) AS BIGINT) AS support
    FROM op
    JOIN cand c ON op.p1 = c.p1 AND op.p2 = c.p2
    JOIN items i3 ON i3.o = op.o AND i3.p = c.p3
    GROUP BY 1, 2, 3
)
SELECT p1, p2, p3, support
FROM tri WHERE support >= {TRIPLES_MINSUP}
ORDER BY support DESC, p1, p2, p3
"""


@register("frequent_part_triples", TRIPLES_ORACLE)
def q_frequent_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets with the A-PRIORI prune:
    candidate triples are generated only from frequent pairs (all three
    sub-pairs must clear min-support) and support counting touches only
    basket pairs that are themselves frequent — the pruning cascade
    that makes market-basket mining tractable when the naive triple
    join is |items|³.

    Scale: the frequent-pair table (persisted; read by candidate
    generation twice and the counting semi-join) shrinks the basket
    stream before any triple work; the candidate frame is broadcast;
    all joins are keyed on order or item ids."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    a = items.select("o", F.col("p").alias("p1"))
    b = items.select("o", F.col("p").alias("p2"))
    fp = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= TRIPLES_MINSUP)
        .persist()
    )
    x = fp.select("p1", "p2")
    y = fp.select(F.col("p1").alias("p1"), F.col("p2").alias("p3"))
    cand = (
        x.join(y, "p1")
        .filter(F.col("p2") < F.col("p3"))
        .join(
            fp.select(F.col("p1").alias("p2"), F.col("p2").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    op = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .join(fp.select("p1", "p2"), ["p1", "p2"], "left_semi")
    )
    i3 = items.select("o", F.col("p").alias("p3"))
    tri = (
        op.join(F.broadcast(cand), ["p1", "p2"])
        .join(i3, ["o", "p3"], "left_semi")
        .groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= TRIPLES_MINSUP)
    )
    return tri.orderBy(
        F.desc("support"), F.asc("p1"), F.asc("p2"), F.asc("p3")
    )


# --- sessionization gap-threshold sensitivity --------------------------------

GAP_THRESHOLDS_MIN = (5, 15, 30, 60)

GAP_SENS_ORACLE = f"""
WITH lagged AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id))
               AS gap_us
    FROM events
),
counts AS (
    SELECT
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        {", ".join(
            f"CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > CAST({m} AS BIGINT) * 60000000 "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS s{m}"
            for m in GAP_THRESHOLDS_MIN
        )}
    FROM lagged
)
{" UNION ALL ".join(
    f"SELECT {m} AS gap_minutes, n_users, n_events, s{m} AS n_sessions, "
    f"CAST(n_events AS DOUBLE) / CAST(s{m} AS DOUBLE) AS events_per_session "
    "FROM counts"
    for m in GAP_THRESHOLDS_MIN
)}
"""


@register("session_gap_sensitivity", GAP_SENS_ORACLE)
def q_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization parameter sweep: total session counts at 5/15/30/
    60-minute inactivity gaps, from ONE pass — a session starts where
    the user's gap exceeds the threshold, so each threshold is just a
    conditional sum over the same lag column. The
    pick-the-session-timeout table every product-analytics setup needs
    before committing a session definition (the parameter-sweep
    sibling of cms_width_sweep / bloom_fpr_sweep).

    Scale: one keyed lag window + one aggregate with 4 conditional
    sums; the 4-row output reshape is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    aggs = [
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    ]
    for m in GAP_THRESHOLDS_MIN:
        aggs.append(
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > m * 60_000_000),
                    1,
                ).otherwise(0)
            ).alias(f"s{m}")
        )
    counts = lagged.agg(*aggs)
    out = None
    for m in GAP_THRESHOLDS_MIN:
        row = counts.select(
            F.lit(m).cast("long").alias("gap_minutes"),
            "n_users",
            "n_events",
            F.col(f"s{m}").alias("n_sessions"),
            (
                F.col("n_events").cast("double")
                / F.col(f"s{m}").cast("double")
            ).alias("events_per_session"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- exact two-channel Shapley attribution ----------------------------------

SHAPLEY_ORACLE = """
WITH lagged AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), sessions AS (
    SELECT user_id, event_type,
           SUM(CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
    FROM lagged
),
per_user AS (
    SELECT user_id, session_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
           MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM sessions GROUP BY user_id, session_id
),
cells AS (
    SELECT has_click, has_view,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conv) AS BIGINT) AS k
    FROM per_user GROUP BY has_click, has_view
),
rates AS (
    SELECT
        MAX(CASE WHEN has_click = 0 AND has_view = 0
                 THEN CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END) AS r00,
        MAX(CASE WHEN has_click = 1 AND has_view = 0
                 THEN CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END) AS r10,
        MAX(CASE WHEN has_click = 0 AND has_view = 1
                 THEN CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END) AS r01,
        MAX(CASE WHEN has_click = 1 AND has_view = 1
                 THEN CAST(k AS DOUBLE) / CAST(n AS DOUBLE) END) AS r11,
        CAST(SUM(n) AS BIGINT) AS n_sessions,
        CAST(SUM(k) AS BIGINT) AS n_converted
    FROM cells
)
SELECT n_sessions, n_converted, r00, r10, r01, r11,
       0.5 * ((r10 - r00) + (r11 - r01)) AS shapley_click,
       0.5 * ((r01 - r00) + (r11 - r10)) AS shapley_view
FROM rates
"""


@register("shapley_channel_attribution", SHAPLEY_ORACLE)
def q_shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the two marketing channels
    (click, view) at the SESSION grain: each channel's value is its
    average marginal contribution to the session-conversion rate
    across both join orders — closed-form for two players, no
    sampling (the per-user grain is degenerate on this fixture:
    every user touches every channel eventually; sessions vary).
    Completes the attribution trilogy: heuristic (first/last/decay in
    events_attribution), Markov removal effects, and now
    cooperative-game Shapley.

    Scale: gap sessionization is a keyed window; presence is one
    per-session aggregate + a 4-cell contingency rollup; the Shapley
    values are fixed double expressions over exact cell rates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(
            F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
        )
        .over(wrun)
        .alias("session_id"),
    )
    per_user = sess.groupBy("user_id", "session_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_click"
        ),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "has_view"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cells = per_user.groupBy("has_click", "has_view").agg(
        F.count("*").alias("n"), F.sum("conv").alias("k")
    )

    def rate(c, v):
        return F.max(
            F.when(
                (F.col("has_click") == c) & (F.col("has_view") == v),
                F.col("k").cast("double") / F.col("n").cast("double"),
            )
        )

    rates = cells.agg(
        rate(0, 0).alias("r00"),
        rate(1, 0).alias("r10"),
        rate(0, 1).alias("r01"),
        rate(1, 1).alias("r11"),
        F.sum("n").alias("n_sessions"),
        F.sum("k").alias("n_converted"),
    )
    return rates.select(
        "n_sessions",
        "n_converted",
        "r00",
        "r10",
        "r01",
        "r11",
        (
            F.lit(0.5)
            * ((F.col("r10") - F.col("r00")) + (F.col("r11") - F.col("r01")))
        ).alias("shapley_click"),
        (
            F.lit(0.5)
            * ((F.col("r01") - F.col("r00")) + (F.col("r11") - F.col("r10")))
        ).alias("shapley_view"),
    )


# --- Herfindahl-Hirschman market concentration --------------------------------

HHI_ORACLE = """
WITH monthly AS (
    SELECT CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) - 1 AS BIGINT)
               AS m,
           p.p_brand AS brand,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
),
per_month AS (
    SELECT m,
           CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) // 1048576 AS BIGINT)
               AS ss_hi,
           CAST(SUM(CAST(cents AS HUGEINT) * cents) % 1048576 AS BIGINT)
               AS ss_lo
    FROM monthly GROUP BY m
)
SELECT m, n_brands, total_cents,
       -- HHI = Σ share² = Σcents² / total², on the 0..1 scale
       (CAST(ss_hi AS DOUBLE) * 1048576.0 + CAST(ss_lo AS DOUBLE))
       / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE)) AS hhi,
       1.0 / CAST(n_brands AS DOUBLE) AS hhi_floor
FROM per_month
"""


@register("brand_hhi_by_month", HHI_ORACLE)
def q_brand_hhi_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of monthly brand revenue:
    HHI = Σ share² per month (1/n_brands = perfectly even, 1.0 =
    monopoly) — the antitrust/market-structure metric completing the
    concentration pair with revenue_gini. Σcents² rides the hi/lo
    int64 split (int128 cast gotcha); HHI is one fixed double
    expression, and the 1/n floor rides along for calibration.

    Scale: one fact-dim broadcast join + two keyed aggregates
    (month x brand, then month)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    monthly = (
        li.select(
            "l_partkey",
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
        .join(F.broadcast(part), "l_partkey")
        .groupBy("m", F.col("p_brand").alias("brand"))
        .agg(F.sum("cents").alias("cents"))
    )
    ss = F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents")).cast(
        "decimal(38,0)"
    )
    per_month = monthly.groupBy("m").agg(
        F.count("*").alias("n_brands"),
        F.sum("cents").alias("total_cents"),
        ((ss - F.pmod(ss, F.lit(1048576))) / F.lit(1048576))
        .cast("long")
        .alias("ss_hi"),
        F.pmod(ss, F.lit(1048576)).cast("long").alias("ss_lo"),
    )
    ssd = F.col("ss_hi").cast("double") * F.lit(1048576.0) + F.col(
        "ss_lo"
    ).cast("double")
    return per_month.select(
        "m",
        "n_brands",
        "total_cents",
        (
            ssd
            / (
                F.col("total_cents").cast("double")
                * F.col("total_cents").cast("double")
            )
        ).alias("hhi"),
        (F.lit(1.0) / F.col("n_brands").cast("double")).alias("hhi_floor"),
    )


# --- part revenue rank persistence (Spearman across halves) -----------------

PERSIST_SPLIT_DAY = 10378  # 1998-06-01, mid-span of lineitem shipdates

PERSISTENCE_ORACLE = f"""
WITH halves AS (
    SELECT l_partkey AS part,
           CASE WHEN epoch_us(l_shipdate) // 86400000000
                     < {PERSIST_SPLIT_DAY} THEN 0 ELSE 1 END AS half,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem GROUP BY 1, 2
),
both_halves AS (
    SELECT a.part, a.cents AS rev_a, b.cents AS rev_b
    FROM halves a JOIN halves b
      ON a.part = b.part AND a.half = 0 AND b.half = 1
),
ranked AS (
    SELECT part,
           ROW_NUMBER() OVER (ORDER BY rev_a DESC, part) AS rank_a,
           ROW_NUMBER() OVER (ORDER BY rev_b DESC, part) AS rank_b
    FROM both_halves
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM((rank_a - rank_b) * (rank_a - rank_b)) AS BIGINT) AS sum_d2,
       1.0 - 6.0 * CAST(SUM((rank_a - rank_b) * (rank_a - rank_b)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE)
                * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0))
           AS spearman_rho
FROM ranked
"""


@register("part_rank_persistence", PERSISTENCE_ORACLE)
def q_part_rank_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment stability: Spearman rank correlation between each
    part's revenue RANK in the first and second halves of the shipping
    history — rho near 1 means the catalog's winners persist
    (cumulative advantage), near 0 means churn-driven demand. Ranks
    ride the distributed prefix-sum template on each axis (the
    quality_length_rank_corr pattern applied to temporal stability);
    Σd² stays in int64 and rho is one fixed double expression.

    Scale: two keyed aggregates + two range-sorted rank passes over
    the PART dimension — never a corpus-sized window."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    day = (
        F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        / F.lit(86_400_000_000)
    ).cast("long")
    halves = (
        li.select(
            F.col("l_partkey").alias("part"),
            F.when(day < PERSIST_SPLIT_DAY, 0).otherwise(1).alias("half"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("part", "half")
        .agg(F.sum("cents").alias("cents"))
        .persist()
    )
    a = halves.filter(F.col("half") == 0).select(
        "part", F.col("cents").alias("rev_a")
    )
    b = halves.filter(F.col("half") == 1).select(
        "part", F.col("cents").alias("rev_b")
    )
    both = a.join(b, "part").select(
        "part", "rev_a", "rev_b", F.lit(1).alias("_one")
    )
    ra = distributed_prefix_sum(
        both, "_one", [F.desc("rev_a"), F.asc("part")], rank_col="rank_a"
    ).select("part", "rev_b", "rank_a")
    rb = distributed_prefix_sum(
        ra.select("part", "rev_b", "rank_a", F.lit(1).alias("_one")),
        "_one",
        [F.desc("rev_b"), F.asc("part")],
        rank_col="rank_b",
    )
    d2 = (F.col("rank_a") - F.col("rank_b")) * (
        F.col("rank_a") - F.col("rank_b")
    )
    nd = F.count("*").cast("double")
    return rb.agg(
        F.count("*").alias("n_parts"),
        F.sum(d2).alias("sum_d2"),
        (
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2).cast("double")
            / (nd * (nd * nd - F.lit(1.0)))
        ).alias("spearman_rho"),
    )


# --- growth accounting: new vs returning revenue ----------------------------

NEW_RET_ORACLE = """
WITH o AS (
    SELECT o_custkey AS c,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS m,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
    FROM orders
),
firsts AS (SELECT c, CAST(MIN(m) AS BIGINT) AS first_m FROM o GROUP BY c)
SELECT o.m,
       CAST(SUM(CASE WHEN o.m = f.first_m THEN o.cents ELSE 0 END) AS BIGINT)
           AS new_cents,
       CAST(SUM(CASE WHEN o.m > f.first_m THEN o.cents ELSE 0 END) AS BIGINT)
           AS returning_cents,
       CAST(COUNT(DISTINCT CASE WHEN o.m = f.first_m THEN o.c END) AS BIGINT)
           AS new_customers,
       CAST(COUNT(DISTINCT CASE WHEN o.m > f.first_m THEN o.c END) AS BIGINT)
           AS returning_customers,
       CAST(SUM(CASE WHEN o.m = f.first_m THEN o.cents ELSE 0 END) AS DOUBLE)
       / CAST(SUM(o.cents) AS DOUBLE) AS new_share
FROM o JOIN firsts f ON o.c = f.c
GROUP BY o.m
"""


@register("new_vs_returning_revenue", NEW_RET_ORACLE)
def q_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each month's revenue split between NEW
    customers (first-ever order month) and RETURNING ones, with
    distinct-customer counts and the new-revenue share — the
    acquisition-vs-retention P&L view behind every growth dashboard
    (monthly complement of cohort_ltv's lifetime view).

    Scale: first-order months are one keyed aggregate broadcast back
    onto orders; the split is conditional sums per month. Exact cents;
    the share is one division."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).persist()
    firsts = o.groupBy("c").agg(F.min("m").alias("first_m"))
    joined = o.join(firsts, "c")
    is_new = F.col("m") == F.col("first_m")
    new_c = F.sum(F.when(is_new, F.col("cents")).otherwise(0))
    ret_c = F.sum(F.when(~is_new, F.col("cents")).otherwise(0))
    return joined.groupBy("m").agg(
        new_c.alias("new_cents"),
        ret_c.alias("returning_cents"),
        F.countDistinct(F.when(is_new, F.col("c"))).alias("new_customers"),
        F.countDistinct(F.when(~is_new, F.col("c"))).alias(
            "returning_customers"
        ),
        (new_c.cast("double") / F.sum("cents").cast("double")).alias(
            "new_share"
        ),
    )


# --- cohort retention half-life ----------------------------------------------

HALFLIFE_ORACLE = """
WITH weeks AS (
    SELECT DISTINCT user_id,
           (epoch_us(ts) // 86400000000) // 7 AS w
    FROM events
),
cohorts AS (
    SELECT user_id, CAST(MIN(w) AS BIGINT) AS cw FROM weeks GROUP BY user_id
),
activity AS (
    SELECT c.cw, w.w - c.cw AS off, w.user_id
    FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
),
sizes AS (
    SELECT cw, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
    FROM activity WHERE off = 0 GROUP BY cw
),
grid AS (
    SELECT a.cw, a.off, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active
    FROM activity a GROUP BY a.cw, a.off
)
SELECT g.cw AS cohort_week,
       MAX(s.cohort_size) AS cohort_size,
       CAST(MAX(g.off) AS BIGINT) AS max_offset,
       CAST(MIN(CASE WHEN g.off >= 1 AND 2 * g.active < s.cohort_size
                     THEN g.off END) AS BIGINT) AS half_life_weeks
FROM grid g JOIN sizes s ON g.cw = s.cw
GROUP BY g.cw
"""


@register("cohort_half_life", HALFLIFE_ORACLE)
def q_cohort_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention HALF-LIFE per weekly signup cohort: the first week
    offset where fewer than half the cohort is still active — the
    one-number summary product teams quote from a retention grid
    (derived metric over the events_cohort_retention shape; the
    sub-half test is the integer comparison 2*active < size, NULL if
    the cohort never decays below half within the observed window).

    Scale: distinct (user, week) is one aggregate; cohort assignment
    is a keyed MIN broadcast back; the grid is cohort x offset sized
    (calendar-bounded); the half-life pick is a conditional MIN."""
    ev = load_table(spark, sf_dir, "events")
    weeks = (
        ev.select(
            "user_id",
            (
                (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast(
                    "long"
                )
                / F.lit(7)
            )
            .cast("long")
            .alias("w"),
        )
        .distinct()
        .persist()
    )
    cohorts = weeks.groupBy("user_id").agg(F.min("w").alias("cw"))
    activity = weeks.join(F.broadcast(cohorts), "user_id").select(
        "cw", (F.col("w") - F.col("cw")).alias("off"), "user_id"
    ).persist()
    sizes = (
        activity.filter(F.col("off") == 0)
        .groupBy("cw")
        .agg(F.countDistinct("user_id").alias("cohort_size"))
    )
    grid = activity.groupBy("cw", "off").agg(
        F.countDistinct("user_id").alias("active")
    )
    return (
        grid.join(F.broadcast(sizes), "cw")
        .groupBy(F.col("cw").alias("cohort_week"))
        .agg(
            F.max("cohort_size").alias("cohort_size"),
            F.max("off").alias("max_offset"),
            F.min(
                F.when(
                    (F.col("off") >= 1)
                    & (2 * F.col("active") < F.col("cohort_size")),
                    F.col("off"),
                )
            ).alias("half_life_weeks"),
        )
    )


# --- Funnel step significance: two-proportion z per conversion step ---------

FUNNEL_Z_ORACLE = """
WITH ev AS (
    SELECT user_id, CAST(ts AS DATE) AS d, event_type, epoch_us(ts) AS us,
           CAST(user_id % 2 AS BIGINT) AS grp
    FROM events
),
e1 AS (
    SELECT user_id, d, MAX(grp) AS grp, MIN(us) AS t1 FROM ev
    WHERE event_type = 'view' GROUP BY user_id, d
),
e2 AS (
    SELECT e.user_id, e.d, MAX(e.grp) AS grp, MIN(us) AS t2
    FROM ev e JOIN e1 ON e.user_id = e1.user_id AND e.d = e1.d
    WHERE e.event_type = 'click' AND e.us > e1.t1
    GROUP BY e.user_id, e.d
),
e3 AS (
    SELECT e.user_id, e.d, MAX(e.grp) AS grp, MIN(us) AS t3
    FROM ev e JOIN e2 ON e.user_id = e2.user_id AND e.d = e2.d
    WHERE e.event_type = 'purchase' AND e.us > e2.t2
    GROUP BY e.user_id, e.d
),
cells AS (
    SELECT stage,
           CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
    FROM (
        SELECT 1 AS stage, grp FROM e1
        UNION ALL SELECT 2, grp FROM e2
        UNION ALL SELECT 3, grp FROM e3
    ) GROUP BY stage
)
SELECT CASE b.stage WHEN 2 THEN '1_view_to_click'
                    ELSE '2_click_to_purchase' END AS step,
       a.c0 AS n_even, b.c0 AS conv_even,
       a.c1 AS n_odd, b.c1 AS conv_odd,
       CAST(b.c0 AS DOUBLE) / CAST(a.c0 AS DOUBLE) AS rate_even,
       CAST(b.c1 AS DOUBLE) / CAST(a.c1 AS DOUBLE) AS rate_odd,
       CASE WHEN b.c0 + b.c1 > 0 AND b.c0 + b.c1 < a.c0 + a.c1 THEN
           (CAST(b.c0 AS DOUBLE) / CAST(a.c0 AS DOUBLE)
            - CAST(b.c1 AS DOUBLE) / CAST(a.c1 AS DOUBLE))
           / SQRT((CAST(b.c0 + b.c1 AS DOUBLE) / CAST(a.c0 + a.c1 AS DOUBLE))
                  * (1.0 - CAST(b.c0 + b.c1 AS DOUBLE)
                           / CAST(a.c0 + a.c1 AS DOUBLE))
                  * (1.0 / CAST(a.c0 AS DOUBLE) + 1.0 / CAST(a.c1 AS DOUBLE)))
       END AS z_value
FROM cells a JOIN cells b ON b.stage = a.stage + 1
"""


@register("funnel_step_significance", FUNNEL_Z_ORACLE)
def q_funnel_step_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step funnel conversion comparison between the even/odd
    user-id cohorts (the canonical deterministic A/B split) at the
    user-day grain, scored with the pooled two-proportion z statistic —
    "did the treatment change THIS step?", not just the end-to-end
    rate. (User grain is degenerate on this fixture — every user
    eventually converts everywhere; same lesson as the Shapley
    session-grain move.)

    Exactness: every count is an exact int64; the z expression is
    divisions + one sqrt over identical doubles (sqrt-only statistics
    are engine-safe — the return_rate_wilson_ci precedent), ONE
    identical expression tree on both engines, NULL-guarded where the
    pooled rate degenerates to 0 or 1 (Spark ANSI raises on /0 where
    DuckDB returns inf — the langid_prf gotcha).

    Scale: the funnel stages are keyed joins + keyed aggs on
    (user, day) — the events_funnel plan; the z stage runs on a 3-row
    cells frame joined to itself on stage+1. Reference tie-in: trace-op
    event semantics (src/op.rs:18-35) under a cohort split."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("user_id") % 2).alias("grp"),
    )
    e1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "d")
        .agg(F.max("grp").alias("grp"), F.min("us").alias("t1"))
    )
    e2 = (
        ev.filter(F.col("event_type") == "click")
        .join(e1.select("user_id", "d", "t1"), ["user_id", "d"])
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id", "d")
        .agg(F.max("grp").alias("grp"), F.min("us").alias("t2"))
    )
    e3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(e2.select("user_id", "d", "t2"), ["user_id", "d"])
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id", "d")
        .agg(F.max("grp").alias("grp"), F.min("us").alias("t3"))
    )
    tagged = (
        e1.select(F.lit(1).alias("stage"), "grp")
        .unionByName(e2.select(F.lit(2).alias("stage"), "grp"))
        .unionByName(e3.select(F.lit(3).alias("stage"), "grp"))
    )
    cells = tagged.groupBy("stage").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    a = cells.select(
        F.col("stage").alias("sa"), F.col("c0").alias("a0"), F.col("c1").alias("a1")
    )
    b = cells.select(
        F.col("stage").alias("sb"), F.col("c0").alias("b0"), F.col("c1").alias("b1")
    )
    j = a.join(b, F.col("sb") == F.col("sa") + 1)
    a0 = F.col("a0").cast("double")
    a1 = F.col("a1").cast("double")
    b0 = F.col("b0").cast("double")
    b1 = F.col("b1").cast("double")
    pooled = (F.col("b0") + F.col("b1")).cast("double") / (
        F.col("a0") + F.col("a1")
    ).cast("double")
    guard = (F.col("b0") + F.col("b1") > 0) & (
        F.col("b0") + F.col("b1") < F.col("a0") + F.col("a1")
    )
    return j.select(
        F.when(F.col("sb") == 2, "1_view_to_click")
        .otherwise("2_click_to_purchase")
        .alias("step"),
        F.col("a0").alias("n_even"),
        F.col("b0").alias("conv_even"),
        F.col("a1").alias("n_odd"),
        F.col("b1").alias("conv_odd"),
        (b0 / a0).alias("rate_even"),
        (b1 / a1).alias("rate_odd"),
        F.when(
            guard,
            (b0 / a0 - b1 / a1)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / a0 + F.lit(1.0) / a1)
            ),
        ).alias("z_value"),
    )


# --- HITS hubs/authorities on the customer -> supplier order graph -----------

_HITS_SCALE = 1048576  # 2^20 fixed-point unit per normalization round


def _hits_round_sql(i: int, prev_h: str) -> str:
    """One authority+hub update with max-normalized integer scores."""
    return f"""
a{i}r AS MATERIALIZED (
    SELECT s, SUM(CAST(e.w AS HUGEINT) * {prev_h}.h) AS a
    FROM edges e JOIN {prev_h} ON e.c = {prev_h}.c GROUP BY s
),
a{i} AS MATERIALIZED (
    SELECT s, CAST(CAST(a AS HUGEINT) * {_HITS_SCALE}
                   // (SELECT MAX(a) FROM a{i}r) AS BIGINT) AS a
    FROM a{i}r
),
h{i}r AS MATERIALIZED (
    SELECT c, SUM(CAST(e.w AS HUGEINT) * a{i}.a) AS h
    FROM edges e JOIN a{i} ON e.s = a{i}.s GROUP BY c
),
h{i} AS MATERIALIZED (
    SELECT c, CAST(CAST(h AS HUGEINT) * {_HITS_SCALE}
                   // (SELECT MAX(h) FROM h{i}r) AS BIGINT) AS h
    FROM h{i}r
)"""


HITS_ORACLE = (
    f"""
WITH edges AS MATERIALIZED (
    SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey, l_suppkey
),
h0 AS MATERIALIZED (
    SELECT DISTINCT c, CAST({_HITS_SCALE} AS BIGINT) AS h FROM edges
),"""
    + ",".join(_hits_round_sql(i, f"h{i - 1}") for i in (1, 2, 3))
    + """
SELECT s AS suppkey, a AS authority_scaled
FROM a3 ORDER BY a DESC, s LIMIT 10
"""
)


@register("hits_supplier_authority", HITS_ORACLE)
def q_hits_supplier_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs/authorities) on the bipartite customer ->
    supplier order graph: authoritative suppliers are the ones bought
    from by high-hub customers, mutually reinforcing over 3 rounds —
    the link-analysis sibling of pagerank_near_dup.

    Exactness: scores are max-normalized 2^20 fixed-point integers each
    round — products run in HUGEINT/decimal, the normalized score is
    (a·2^20) div max(a) (truncating div == DuckDB //, both toward
    zero), so every intermediate is an exact integer and no float enters
    the iteration. The oracle unrolls the 3 rounds as MATERIALIZED CTEs
    (the kcore_near_dup lesson: un-materialized chains re-expand
    exponentially).

    Scale: the iteration state is one score per node; each round is two
    keyed join+agg passes over the aggregated (cust, supp) edge list.
    Each round is localCheckpoint-ed — the power-iteration lesson: a
    scalar-cross (the MAX normalizer) re-executes its input lineage,
    which compounds exponentially across rounds otherwise. Reference
    tie-in: CrossPOp outer-product semantics (src/outer_product.rs) as
    the E·EᵀE chain of link analysis."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count("*").alias("w"))
        .persist()  # re-read twice per round x 3 rounds
    )
    h = edges.select("c").distinct().select(
        "c", F.lit(_HITS_SCALE).cast("long").alias("h")
    )
    a = None
    for rnd in range(3):
        ar = (
            edges.join(h, "c")
            .groupBy("s")
            .agg(F.sum(F.expr("CAST(w AS DECIMAL(19,0)) * h")).alias("ar"))
        )
        amax = ar.agg(F.max("ar").alias("amax"))
        a = (
            ar.crossJoin(F.broadcast(amax))
            .select(
                "s",
                F.expr(
                    f"CAST(CAST(ar AS DECIMAL(38,0)) * {_HITS_SCALE}"
                    " div amax AS BIGINT)"
                ).alias("a"),
            )
            .localCheckpoint()
        )
        if rnd == 2:
            break  # the final hub update feeds nothing
        hr = (
            edges.join(a, "s")
            .groupBy("c")
            .agg(F.sum(F.expr("CAST(w AS DECIMAL(19,0)) * a")).alias("hr"))
        )
        hmax = hr.agg(F.max("hr").alias("hmax"))
        h = (
            hr.crossJoin(F.broadcast(hmax))
            .select(
                "c",
                F.expr(
                    f"CAST(CAST(hr AS DECIMAL(38,0)) * {_HITS_SCALE}"
                    " div hmax AS BIGINT)"
                ).alias("h"),
            )
            .localCheckpoint()
        )
    return (
        a.select(F.col("s").alias("suppkey"), F.col("a").alias("authority_scaled"))
        .orderBy(F.desc("authority_scaled"), F.asc("suppkey"))
        .limit(10)
    )


# --- offline bandit policy evaluation by replay -------------------------------

_BANDIT_WINDOW_US = 30 * 60 * 1000000  # 30-minute reward window

BANDIT_ORACLE = f"""
WITH v AS (
    SELECT event_id, user_id,
           epoch_us(ts) AS vus,
           CAST('0x' || substr(md5('arm:' || CAST(event_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 3 AS logged_arm,
           CAST('0x' || substr(md5('pol:' || CAST(user_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 3 AS policy_arm
    FROM events WHERE event_type = 'view'
),
r AS (
    SELECT v.*,
           CASE WHEN EXISTS (
               SELECT 1 FROM events c
               WHERE c.event_type = 'click' AND c.user_id = v.user_id
                 AND epoch_us(c.ts) > v.vus
                 AND epoch_us(c.ts) <= v.vus + {_BANDIT_WINDOW_US}
           ) THEN 1 ELSE 0 END AS reward
    FROM v
)
SELECT logged_arm AS arm,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(reward) AS BIGINT) AS n_rewarded,
       CAST(SUM(reward) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS logged_ctr,
       CAST(SUM(CASE WHEN policy_arm = logged_arm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN policy_arm = logged_arm THEN reward ELSE 0 END)
            AS BIGINT) AS n_matched_rewarded,
       CASE WHEN SUM(CASE WHEN policy_arm = logged_arm THEN 1 ELSE 0 END) = 0
            THEN NULL
            ELSE CAST(SUM(CASE WHEN policy_arm = logged_arm
                               THEN reward ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN policy_arm = logged_arm
                                 THEN 1 ELSE 0 END) AS DOUBLE)
       END AS replay_ctr
FROM r GROUP BY logged_arm ORDER BY logged_arm
"""


@register("bandit_replay_eval", BANDIT_ORACLE)
def q_bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit evaluation by replay (Li et al. 2011): the logged
    arm of each view is a uniform MD5 draw (replayable randomization,
    the dp_randomized_response discipline); the candidate personalized
    policy picks an arm per user; replay keeps only views where the
    logged arm equals the policy's choice, and their reward rate is an
    unbiased estimate of the policy's online CTR. Reward = a click by
    the same user within 30 minutes (epoch-us comparisons, funnel
    convention).

    Exactness: arms and matches are integer hash arithmetic; reward is
    an EXISTS over an equi-join band; CTRs are single divisions of
    exact counts (NULL-guarded denominators — Spark ANSI raises where
    DuckDB returns nan).

    Scale: one keyed user join with a bounded time band (per-user
    fanout only), one rollup onto 3 arm rows."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("vus"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("arm:"), F.col("event_id").cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("logged_arm"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("pol:"), F.col("user_id").cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("policy_arm"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.unix_micros("ts").alias("cus")
    )
    rewarded = (
        v.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cus") > F.col("vus"))
            & (F.col("cus") <= F.col("vus") + _BANDIT_WINDOW_US),
            "left_semi",
        )
        .select("event_id")
        .withColumn("reward", F.lit(1))
    )
    r = v.join(rewarded, "event_id", "left").withColumn(
        "reward", F.coalesce(F.col("reward"), F.lit(0))
    )
    matched = F.when(F.col("policy_arm") == F.col("logged_arm"), 1).otherwise(0)
    n_matched = F.sum(matched)
    n_matched_rew = F.sum(
        F.when(F.col("policy_arm") == F.col("logged_arm"), F.col("reward")).otherwise(0)
    )
    return (
        r.groupBy(F.col("logged_arm").alias("arm"))
        .agg(
            F.count("*").alias("n_views"),
            F.sum("reward").alias("n_rewarded"),
            (F.sum("reward").cast("double") / F.count("*").cast("double")).alias(
                "logged_ctr"
            ),
            n_matched.alias("n_matched"),
            n_matched_rew.alias("n_matched_rewarded"),
            F.when(
                n_matched == 0, F.lit(None).cast("double")
            )
            .otherwise(n_matched_rew.cast("double") / n_matched.cast("double"))
            .alias("replay_ctr"),
        )
        .orderBy("arm")
    )


# --- matched-basket Fisher price index by year --------------------------------

_PIDX_BASE_YEAR = 1995

PRICE_INDEX_ORACLE = f"""
WITH py AS (
    SELECT l_partkey AS part, CAST(year(l_shipdate) AS BIGINT) AS yr,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY l_partkey, year(l_shipdate)
),
up AS (SELECT part, yr, qty, rev_cents // qty AS p_cents FROM py),
base AS (SELECT part, qty AS q0, p_cents AS p0 FROM up
         WHERE yr = {_PIDX_BASE_YEAR}),
matched AS (
    SELECT u.yr, u.part, u.p_cents AS pm, u.qty AS qm, b.p0, b.q0
    FROM up u JOIN base b USING (part) WHERE u.yr <> {_PIDX_BASE_YEAR}
),
agg AS (
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n_matched_parts,
           CAST(SUM(pm * q0) AS BIGINT) AS l_num,
           CAST(SUM(p0 * q0) AS BIGINT) AS l_den,
           CAST(SUM(pm * qm) AS BIGINT) AS p_num,
           CAST(SUM(p0 * qm) AS BIGINT) AS p_den
    FROM matched GROUP BY yr
)
SELECT yr, n_matched_parts,
       CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) AS laspeyres,
       CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS paasche,
       sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
            * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))) AS fisher
FROM agg ORDER BY yr
"""


@register("fisher_price_index", PRICE_INDEX_ORACLE)
def q_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-basket price indices vs the {_PIDX_BASE_YEAR} base year:
    Laspeyres (base-quantity weights), Paasche (current-quantity
    weights) and their geometric mean, the Fisher ideal index — the
    standard inflation/repricing decomposition over a part basket
    restricted to parts traded in both periods.

    Exactness: per-(part, year) unit prices quantize to integer cents
    by truncating division (Spark div == DuckDB //); index numerators
    and denominators are exact integer sums; each index is ONE double
    division (sqrt is engine-safe).

    Scale: one (part, year) rollup, a keyed self-join on part against
    the base-year basket, a per-year aggregate. No windows, no
    quadratic stage."""
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").cast("long").alias("yr"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.sum(
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
        ).alias("rev_cents"),
    )
    up = py.withColumn("p_cents", F.expr("rev_cents div qty")).persist()
    base = up.filter(F.col("yr") == _PIDX_BASE_YEAR).select(
        "part", F.col("qty").alias("q0"), F.col("p_cents").alias("p0")
    )
    matched = up.filter(F.col("yr") != _PIDX_BASE_YEAR).join(base, "part")
    agg = matched.groupBy("yr").agg(
        F.count("*").alias("n_matched_parts"),
        F.sum(F.col("p_cents") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p_cents") * F.col("qty")).alias("p_num"),
        F.sum(F.col("p0") * F.col("qty")).alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den").cast("double")
    paas = F.col("p_num").cast("double") / F.col("p_den").cast("double")
    return agg.select(
        "yr",
        "n_matched_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    ).orderBy("yr")


# --- log-log price elasticity of demand per brand ----------------------------

_ELA_P53 = 9007199254740992  # 2^53 hi/lo split unit (values reach ~2^84)


def _ela_oracle() -> str:
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled_sql

    xs = log2_scaled_sql(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    )
    ys = log2_scaled_sql("CAST(l_quantity AS BIGINT)")
    # NOTE DuckDB types a `N.0` literal as DECIMAL, not DOUBLE — the
    # reconstruction must cast every piece to DOUBLE explicitly or the
    # downstream numd*numd product overflows DECIMAL(38).
    recon = (
        lambda v: f"(CAST(CAST({v} // {_ELA_P53} AS BIGINT) AS DOUBLE)"
        f" * CAST({_ELA_P53} AS DOUBLE)"
        f" + CAST(CAST({v} % {_ELA_P53} AS BIGINT) AS DOUBLE))"
    )
    return f"""
WITH obs AS (
    SELECT p_brand AS brand, {xs} AS x, {ys} AS y
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
stats AS (
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(y AS HUGEINT) * y) AS syy
    FROM obs GROUP BY brand
),
c AS (
    SELECT brand, n,
           n * sxy - CAST(sx AS HUGEINT) * sy AS num,
           n * sxx - CAST(sx AS HUGEINT) * sx AS den,
           n * syy - CAST(sy AS HUGEINT) * sy AS deny
    FROM stats
),
d AS (
    SELECT brand, n,
           {recon("num")} AS numd,
           {recon("den")} AS dend,
           {recon("deny")} AS denyd
    FROM c
)
SELECT brand, n,
       CASE WHEN dend = 0.0 THEN NULL ELSE numd / dend END AS elasticity,
       CASE WHEN dend * denyd = 0.0 THEN NULL
            ELSE numd * numd / (dend * denyd) END AS r2
FROM d ORDER BY brand
"""


ELASTICITY_ORACLE = _ela_oracle()


@register("price_elasticity_loglog", ELASTICITY_ORACLE)
def q_price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: OLS slope of log2(quantity)
    on log2(price) — the economist's log-log regression where the slope
    IS the elasticity (%-change in demand per %-change in price), plus
    r² for fit quality. Composes the intlog kernel with the grouped-OLS
    moment template (brand_discount_ols): both logs are 2^20-scaled
    integers, so the scale factors cancel exactly in the slope ratio.

    Exactness: x,y are intlog integers (~2^24); second moments reach
    ~2^66 and the cross-multiplied num/den ~2^84 — accumulated in
    DECIMAL(38,0)/HUGEINT and converted via a hi/lo 2^53 split (one
    identical IEEE rounding on both engines; div/% truncate toward zero
    identically for the negative covariances).

    Scale: one lineitem-part equi-join, one hash aggregate to #brands
    rows, constant-size final arithmetic."""
    from amorphous_mapreduce_spark.functions.intlog import log2_scaled

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    obs = li.join(pt, li["l_partkey"] == pt["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        log2_scaled(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("x"),
        log2_scaled("CAST(l_quantity AS BIGINT)").alias("y"),
    )
    st = obs.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    c = st.select(
        "brand",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxy")
            - F.col("sx").cast("decimal(38,0)") * F.col("sy")
        ).alias("num"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).alias("den"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("syy")
            - F.col("sy").cast("decimal(38,0)") * F.col("sy")
        ).alias("deny"),
    )

    def recon(v: str):
        return (
            F.expr(f"CAST({v} div {_ELA_P53} AS BIGINT)").cast("double")
            * F.lit(float(_ELA_P53))
            + F.expr(f"CAST({v} % {_ELA_P53} AS BIGINT)").cast("double")
        )

    d = c.select(
        "brand",
        "n",
        recon("num").alias("numd"),
        recon("den").alias("dend"),
        recon("deny").alias("denyd"),
    )
    return d.select(
        "brand",
        "n",
        F.when(F.col("dend") == 0.0, F.lit(None).cast("double"))
        .otherwise(F.col("numd") / F.col("dend"))
        .alias("elasticity"),
        F.when(
            F.col("dend") * F.col("denyd") == 0.0, F.lit(None).cast("double")
        )
        .otherwise(
            F.col("numd") * F.col("numd") / (F.col("dend") * F.col("denyd"))
        )
        .alias("r2"),
    ).orderBy("brand")


# --- exponentially time-decayed leaderboard ----------------------------------

_DECAY_HALF_DAYS = 180
_DECAY_K = 40  # weight = 2^(K - age_halflives), dyadic-exact

DECAYED_LB_ORACLE = f"""
WITH li AS (
    SELECT l_partkey AS pk,
           CAST(date_diff('day', TIMESTAMP '1970-01-01', l_shipdate)
                AS BIGINT) AS day
    FROM lineitem
),
mx AS (SELECT MAX(day) AS t_now FROM li),
wt AS (
    SELECT pk,
           (CAST(1 AS BIGINT) << {_DECAY_K})
               >> CAST(LEAST(63, (t_now - day) // {_DECAY_HALF_DAYS}) AS INT)
               AS w
    FROM li CROSS JOIN mx
),
agg AS (
    SELECT pk, CAST(COUNT(*) AS BIGINT) AS raw_cnt,
           CAST(SUM(w) AS BIGINT) AS decayed_scaled
    FROM wt GROUP BY pk
),
top AS (
    SELECT pk, raw_cnt, decayed_scaled FROM agg
    ORDER BY decayed_scaled DESC, pk LIMIT 20
)
SELECT t.pk AS partkey, t.raw_cnt, t.decayed_scaled,
       CAST(1 + (SELECT COUNT(*) FROM agg a
                 WHERE a.raw_cnt > t.raw_cnt
                    OR (a.raw_cnt = t.raw_cnt AND a.pk < t.pk))
            AS BIGINT) AS raw_rank
FROM top t
ORDER BY t.decayed_scaled DESC, t.pk
"""


@register("decayed_part_leaderboard", DECAYED_LB_ORACLE)
def q_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed part leaderboard: order counts weighted by
    2^(-age/180d) against the raw all-time counts — the 'what is hot
    NOW' ranking every trending surface runs, with the rank shift vs
    the undecayed leaderboard visible per row (raw_rank).

    Decay weights are dyadic (a right-shift by age-in-half-lives —
    exact integers, the ewma_user_value discipline), so the decayed
    scores hash-match in SQL; no pow(), no float accumulation. The
    raw rank of each finalist is a dominance count of the top-20 frame
    against the part aggregate (20 broadcast rows — never a global
    window). Scale: one keyed aggregate + TakeOrdered; weights stay in
    int64 while corpus-rows x 2^40 < 2^63 (drop K for bigger counts)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.datediff(
            F.col("l_shipdate"), F.lit("1970-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("day"),
    )
    mx = li.agg(F.max("day").alias("t_now"))
    wt = li.crossJoin(F.broadcast(mx)).select(
        "pk",
        # LEAST(63, ...) clamp: Java shifts mask the amount to 6 bits while
        # DuckDB's >> does not — a span >= 64 half-lives (~31.5 y at 180 d)
        # would silently diverge without it. Clamped, both engines yield 0.
        F.expr(
            f"shiftright(shiftleft(CAST(1 AS BIGINT), {_DECAY_K}),"
            f" CAST(LEAST(63, (t_now - day) div {_DECAY_HALF_DAYS}) AS INT))"
        ).alias("w"),
    )
    agg = wt.groupBy("pk").agg(
        F.count("*").alias("raw_cnt"), F.sum("w").alias("decayed_scaled")
    ).persist()
    top = (
        agg.orderBy(F.desc("decayed_scaled"), F.asc("pk")).limit(20).persist()
    )
    t, a = top.alias("t"), agg.alias("a")
    # dominance count with the 20-row finalist frame broadcast (the big
    # aggregate streams; zero-dominator finalists restored by left join)
    dom = (
        a.join(
            F.broadcast(t),
            (F.col("a.raw_cnt") > F.col("t.raw_cnt"))
            | (
                (F.col("a.raw_cnt") == F.col("t.raw_cnt"))
                & (F.col("a.pk") < F.col("t.pk"))
            ),
        )
        .groupBy(F.col("t.pk").alias("pk"))
        .agg(F.count("*").alias("_n_dom"))
    )
    return (
        top.join(F.broadcast(dom), "pk", "left")
        .select(
            F.col("pk").alias("partkey"),
            "raw_cnt",
            "decayed_scaled",
            (1 + F.coalesce(F.col("_n_dom"), F.lit(0))).alias("raw_rank"),
        )
        .orderBy(F.desc("decayed_scaled"), F.asc("partkey"))
    )


# --- sequential purchase rules (temporal association) -------------------------

SEQ_RULES_ORACLE = """
WITH cb AS (
    SELECT o.o_custkey AS cust, p.p_brand AS brand,
           MIN(epoch_us(o.o_orderdate) // 86400000000) AS first_day
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
),
n_cust AS (SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n FROM cb),
brand_n AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM cb GROUP BY brand),
rules AS (
    SELECT a.brand AS antecedent, b.brand AS consequent,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM cb a JOIN cb b
      ON a.cust = b.cust AND a.first_day < b.first_day
         AND a.brand <> b.brand
    GROUP BY 1, 2
)
SELECT r.antecedent, r.consequent, r.support,
       na.n_b AS n_ante, nc.n_b AS n_cons, n.n AS n_cust,
       CAST(r.support AS DOUBLE) / CAST(na.n_b AS DOUBLE) AS confidence,
       CAST(r.support * n.n AS DOUBLE)
           / CAST(na.n_b * nc.n_b AS DOUBLE) AS lift
FROM rules r
JOIN brand_n na ON na.brand = r.antecedent
JOIN brand_n nc ON nc.brand = r.consequent
CROSS JOIN n_cust n
ORDER BY r.support DESC, r.antecedent, r.consequent
LIMIT 15
"""


@register("sequential_purchase_rules", SEQ_RULES_ORACLE)
def q_sequential_purchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporally-ORDERED association rules: brand A's first purchase
    strictly precedes brand B's first purchase for the same customer —
    the 'gateway product' analysis (what leads to what), which plain
    co-occurrence (cross_sell_matrix) and unordered itemset mining
    (brand_association_rules / frequent_part_triples) cannot answer
    because they are symmetric. Support, confidence and lift are exact
    integers until one division each.

    Scale: the (customer, brand, first_day) frame is bounded by
    |customers| x |brands| (25 brands), so the per-customer self-join
    fans out <= 625 rows per customer — never order-line-quadratic; the
    brand margins and the 1-row customer count broadcast onto the
    bounded rule table. Top-k is TakeOrdered with the (antecedent,
    consequent) tie-break. Reference tie-in: per-key count + merge
    (W7-W8, src/word_count.rs:96-118) under a sequence-mining head."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp")
        )
        .cast("long")
        .alias("day"),
        "o_orderkey",
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    cb = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(part), "l_partkey")
        .groupBy("cust", "brand")
        .agg(F.min("day").alias("first_day"))
        .persist()
    )
    n_cust = cb.agg(F.countDistinct("cust").alias("n"))
    brand_n = cb.groupBy("brand").agg(F.count("*").alias("n_b"))
    a = cb.select(
        F.col("cust").alias("ac"),
        F.col("brand").alias("antecedent"),
        F.col("first_day").alias("ad"),
    )
    b = cb.select(
        F.col("cust").alias("bc"),
        F.col("brand").alias("consequent"),
        F.col("first_day").alias("bd"),
    )
    rules = (
        a.join(
            b,
            (F.col("ac") == F.col("bc"))
            & (F.col("ad") < F.col("bd"))
            & (F.col("antecedent") != F.col("consequent")),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("support"))
    )
    na = brand_n.select(
        F.col("brand").alias("antecedent"), F.col("n_b").alias("n_ante")
    )
    nc = brand_n.select(
        F.col("brand").alias("consequent"), F.col("n_b").alias("n_cons")
    )
    return (
        rules.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nc), "consequent")
        .crossJoin(F.broadcast(n_cust))
        .select(
            "antecedent",
            "consequent",
            "support",
            "n_ante",
            "n_cons",
            F.col("n").alias("n_cust"),
            (F.col("support").cast("double") / F.col("n_ante").cast("double"))
            .alias("confidence"),
            (
                (F.col("support") * F.col("n")).cast("double")
                / (F.col("n_ante") * F.col("n_cons")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), F.asc("antecedent"), F.asc("consequent"))
        .limit(15)
    )


# --- Bellman-Ford weighted shortest paths over the co-purchase graph --------

# The relaxation-algorithm family (distinct from BFS hop counting and
# PageRank power iteration): integer edge weights w = 1 + 1000 div
# support over the basket co-purchase graph (ALL co-purchased pairs —
# a support>=2 floor shattered the graph into 2-node components at
# sf0.1, ADVICE_r03 item 3; rare pairs instead carry weight 1001), 4
# unrolled relaxation rounds from the max-support seed.  Each round is
# one keyed join
# (settled-distance frame x adjacency) + one grouped MIN — the textbook
# distributed Bellman-Ford step; distances are exact integers so the
# unrolled MATERIALIZED-CTE oracle hash-matches.

BF_ROUNDS = 4
BF_TOP = 40

_BF_EDGE_CTE = """
items AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
    SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS ab
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p
),
edges AS (
    SELECT pa AS u, pb AS v, 1 + 1000 // ab AS w FROM pairs
    UNION ALL
    SELECT pb AS u, pa AS v, 1 + 1000 // ab AS w FROM pairs
),
srcp AS (SELECT pa AS s FROM pairs ORDER BY ab DESC, pa, pb LIMIT 1),
d0 AS (SELECT s AS p, CAST(0 AS BIGINT) AS dist FROM srcp)
"""


def _bf_round_cte(k: int) -> str:
    return f"""
d{k} AS MATERIALIZED (
    SELECT p, MIN(dist) AS dist FROM (
        SELECT p, dist FROM d{k - 1}
        UNION ALL
        SELECT e.v AS p, d.dist + e.w AS dist
        FROM d{k - 1} d JOIN edges e ON e.u = d.p
    ) GROUP BY p
)
"""


BF_ORACLE = (
    "WITH "
    + _BF_EDGE_CTE
    + ","
    + ",".join(_bf_round_cte(k) for k in range(1, BF_ROUNDS + 1))
    + f"""
SELECT p AS part, dist FROM d{BF_ROUNDS}
ORDER BY dist, part LIMIT {BF_TOP}
"""
)


def _bf_graph(spark: SparkSession, sf_dir: str):
    """Weighted co-purchase adjacency (persisted) + the deterministic
    high-degree seed: the `pa` endpoint of the max-support edge,
    tie-broken by (pa, pb)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = items.select("o", F.col("p").alias("pa"))
    b = items.select("o", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("ab"))
        .persist()  # feeds both edge-direction branches AND the seed pick
    )
    w = F.expr("1 + 1000 div ab").alias("w")
    edges = (
        pairs.select(F.col("pa").alias("u"), F.col("pb").alias("v"), w)
        .unionByName(
            pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"), w)
        )
        .persist()
    )
    src = (
        pairs.orderBy(F.desc("ab"), "pa", "pb")
        .limit(1)
        .select(F.col("pa").alias("p"))
    )
    return edges, src


@register("bellman_ford_part_distances", BF_ORACLE)
def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-round Bellman-Ford from a deterministic high-degree seed (the
    `pa` endpoint of the max-support edge, tie-broken by key) over the
    weighted co-purchase graph.  Seeding from MIN(u) degenerated at
    sf0.1 — the smallest part key landed in a 2-node component so the
    rounds relaxed almost nothing (ADVICE_r03 item 3).

    Scale shape: the adjacency build is the bounded basket self-join
    (fanout k² per order); each relaxation round is one shuffle join on
    the frontier key + a grouped MIN, and the settled frame is
    persisted per round because it feeds BOTH the carry-over branch and
    the relaxation join (the shared-lineage gotcha).  Rounds are a
    fixed constant so the plan is static and oracle-unrollable; a
    production run to convergence would relax only the changed frontier
    per round (delta stepping), same per-round plan.
    """
    edges, src = _bf_graph(spark, sf_dir)
    dist = src.select("p", F.lit(0).cast("long").alias("dist")).persist()
    for _ in range(BF_ROUNDS):
        # fresh aliases per round: dist derives from edges after round 1,
        # so a bare self-join would trip the ambiguous-column check
        relaxed = (
            dist.select(F.col("p").alias("dp"), F.col("dist").alias("dd"))
            .join(
                edges.select(
                    F.col("u").alias("eu"),
                    F.col("v").alias("ev"),
                    F.col("w").alias("ew"),
                ),
                F.col("dp") == F.col("eu"),
            )
            .select(
                F.col("ev").alias("p"),
                (F.col("dd") + F.col("ew")).alias("dist"),
            )
        )
        dist = (
            dist.select("p", "dist")
            .unionByName(relaxed)
            .groupBy("p")
            .agg(F.min("dist").alias("dist"))
            .persist()
        )
    return (
        dist.select(F.col("p").alias("part"), "dist")
        .orderBy("dist", "part")
        .limit(BF_TOP)
    )


# --- Delta-frontier Bellman-Ford (VERDICT_r03 item 5) -----------------------

# The production shape the plain query's docstring promised: each round
# relaxes ONLY the rows whose distance improved last round (the
# frontier), not the whole settled frame — at 100 TB the frontier decays
# towards the graph fringe while the settled set keeps growing, so
# per-round work tracks the frontier, not the corpus.  Per-round
# frontier sizes ship as proof columns (pure dataflow: four 1-row
# aggregates cross-joined at the end, no driver counts), making the
# shrink auditable in the output itself.  Final distances are provably
# identical to full relaxation: a node whose distance did not change in
# round k-1 already had all its out-relaxations applied when it last
# changed.


def _bfd_round_cte(k: int) -> str:
    return f"""
c{k} AS MATERIALIZED (
    SELECT e.v AS p, MIN(f.dist + e.w) AS dist
    FROM f{k - 1} f JOIN edges e ON e.u = f.p
    GROUP BY e.v
),
f{k} AS MATERIALIZED (
    SELECT c.p, c.dist FROM c{k} c LEFT JOIN d{k - 1} d ON c.p = d.p
    WHERE d.p IS NULL OR c.dist < d.dist
),
d{k} AS MATERIALIZED (
    SELECT p, MIN(dist) AS dist FROM (
        SELECT p, dist FROM d{k - 1}
        UNION ALL
        SELECT p, dist FROM f{k}
    ) GROUP BY p
)
"""


BFD_ORACLE = (
    "WITH "
    + _BF_EDGE_CTE
    + ", f0 AS (SELECT p, dist FROM d0),"
    + ",".join(_bfd_round_cte(k) for k in range(1, BF_ROUNDS + 1))
    + f"""
SELECT d.p AS part, d.dist,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f1) AS frontier_1,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f2) AS frontier_2,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f3) AS frontier_3,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f4) AS frontier_4
FROM d{BF_ROUNDS} d
ORDER BY d.dist, d.p LIMIT {BF_TOP}
"""
)


@register("bellman_ford_delta_frontier", BFD_ORACLE)
def q_bellman_ford_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-frontier Bellman-Ford: relax only last round's improved rows.

    Same graph, seed, weights, and round count as
    bellman_ford_part_distances, but round k joins the FRONTIER (rows
    improved in round k-1) against the adjacency instead of the whole
    settled frame, then anti-filters candidates against the settled
    distances (left join + keep null-or-better).  frontier_1..4 proof
    columns expose the per-round frontier size so the shrink is part of
    the hash-checked output.  Reference analog: none (graph family
    extension); the unrolled MATERIALIZED-CTE oracle mirrors the
    frontier recursion exactly.
    """
    edges, src = _bf_graph(spark, sf_dir)
    # localCheckpoint (eager, MEMORY_AND_DISK, lineage truncation) rather
    # than persist: the delta recursion references each round's improved
    # frame THREE times (settled-filter join, next frontier, size proof),
    # and the un-truncated 4-round plan OOMs a default-1g driver JVM — the
    # operators/graph convergence-loop convention applies.
    #
    # Round-8 optimization (guide §2.4/§5): dist is NOT checkpointed per
    # round any more. It is derived lazily as min() over the union of the
    # already-checkpointed improved frames (d0 ∪ improved_1..k), so each
    # round runs ONE eager job instead of two — the union inputs are all
    # checkpointed RDDs, so nothing recomputes and the plan stays shallow
    # (k+1 small unions). Same relaxation sequence, same output.
    d0 = src.select("p", F.lit(0).cast("long").alias("dist")).localCheckpoint()
    layers = [d0]

    def dist_now():
        acc = layers[0]
        for extra in layers[1:]:
            acc = acc.unionByName(extra)
        return acc.groupBy("p").agg(F.min("dist").alias("dist"))

    frontier = d0
    fsizes = []
    for k in range(1, BF_ROUNDS + 1):
        cand = (
            frontier.select(F.col("p").alias("fp"), F.col("dist").alias("fd"))
            .join(
                edges.select(
                    F.col("u").alias("eu"),
                    F.col("v").alias("ev"),
                    F.col("w").alias("ew"),
                ),
                F.col("fp") == F.col("eu"),
            )
            .groupBy(F.col("ev").alias("p"))
            .agg(F.min(F.col("fd") + F.col("ew")).alias("cdist"))
        )
        improved = (
            cand.join(
                dist_now().select(
                    F.col("p").alias("dp"), F.col("dist").alias("dd")
                ),
                F.col("p") == F.col("dp"),
                "left_outer",
            )
            .filter(F.col("dd").isNull() | (F.col("cdist") < F.col("dd")))
            .select("p", F.col("cdist").alias("dist"))
            # three consumers: the dist merge, next round's frontier,
            # and the frontier-size aggregate
            .localCheckpoint()
        )
        layers.append(improved)
        frontier = improved
        fsizes.append(
            improved.agg(F.count("*").cast("long").alias(f"frontier_{k}"))
        )
    out = dist_now().select(F.col("p").alias("part"), "dist")
    for fs in fsizes:
        out = out.crossJoin(F.broadcast(fs))
    return out.orderBy("dist", "part").limit(BF_TOP)


# --- personalized PageRank over the co-purchase graph -----------------------

# Random-walk-with-restart from the same deterministic high-degree seed
# the Bellman-Ford pair uses: 3 unrolled push rounds of
# m'(v) = sum_u (17 * m(u)) div (20 * deg(u)) + [v = seed] * (3*M) div 20
# — the alpha = 17/20 teleport split in pure truncating-integer
# arithmetic over 2^40-scaled mass, so every intermediate is BIGINT and
# the oracle unrolls bit-identically. Complements global PageRank
# (pagerank_near_dup / fixed-point) with the seeded variant that powers
# related-item carousels.

PPR_ROUNDS = 3
PPR_TOP = 40
_PPR_M = 1 << 40


def _ppr_round_cte(k: int) -> str:
    return f"""
m{k} AS MATERIALIZED (
    SELECT p, CAST(SUM(inc) AS BIGINT) AS m FROM (
        SELECT e.v AS p, (17 * m.m) // (20 * dg.deg) AS inc
        FROM m{k - 1} m
        JOIN edges e ON e.u = m.p
        JOIN deg dg ON dg.u = m.p
        UNION ALL
        SELECT s AS p, (3 * CAST({_PPR_M} AS BIGINT)) // 20 AS inc FROM srcp
    ) GROUP BY p
)
"""


PPR_ORACLE = (
    "WITH "
    + _BF_EDGE_CTE
    + f""",
deg AS MATERIALIZED (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u
),
m0 AS MATERIALIZED (
    SELECT s AS p, CAST({_PPR_M} AS BIGINT) AS m FROM srcp
),"""
    + ",".join(_ppr_round_cte(k) for k in range(1, PPR_ROUNDS + 1))
    + f"""
SELECT p AS part, m AS mass_q
FROM m{PPR_ROUNDS}
ORDER BY m DESC, p LIMIT {PPR_TOP}
"""
)


@register("ppr_copurchase", PPR_ORACLE)
def q_ppr_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (restart split 17/20, 3 push rounds) from
    the max-support co-purchase seed: the related-item ranking a
    carousel would serve, next to the global-rank and shortest-path
    views of the same graph.

    Determinism: 2^40-scaled integer mass, truncating division on both
    engines, exact BIGINT sums; the restart term re-injects
    (3*M) div 20 at the seed each round. Scale: deg and edges are the
    persisted co-purchase adjacency (shared builder with the
    Bellman-Ford pair); each round is one keyed join + grouped sum over
    the CURRENT mass frontier — mass spreads but stays
    support-bounded; rounds localCheckpoint (the delta-BF lesson:
    un-truncated multi-round lineage OOMs a default-1g driver)."""
    edges, src = _bf_graph(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("deg")).persist()
    mass = src.select(
        "p", F.lit(_PPR_M).cast("long").alias("m")
    ).localCheckpoint()
    restart = src.select(
        "p", F.lit((3 * _PPR_M) // 20).cast("long").alias("inc")
    )
    for _ in range(PPR_ROUNDS):
        pushed = (
            mass.select(F.col("p").alias("mp"), F.col("m").alias("mm"))
            .join(
                edges.select(F.col("u").alias("eu"), F.col("v").alias("ev")),
                F.col("mp") == F.col("eu"),
            )
            .join(
                deg.select(F.col("u").alias("du"), "deg"),
                F.col("mp") == F.col("du"),
            )
            .select(
                F.col("ev").alias("p"),
                F.expr("(17 * mm) div (20 * deg)").alias("inc"),
            )
        )
        mass = (
            pushed.unionByName(restart)
            .groupBy("p")
            .agg(F.sum("inc").cast("long").alias("m"))
            .localCheckpoint()
        )
    return (
        mass.select(F.col("p").alias("part"), F.col("m").alias("mass_q"))
        .orderBy(F.desc("mass_q"), "part")
        .limit(PPR_TOP)
    )


# --- Bradley-Terry brand strengths from basket "wins" -----------------------

# Paired-comparison ranking: within each order, a brand with the larger
# shipped quantity "beats" the other (ties skipped); the 25x25 win
# matrix feeds three minorize-maximize rounds of the Bradley-Terry
# model, s_i <- w_i / sum_j n_ij/(s_i + s_j), carried in 2^20-scaled
# integers (terms quantized via (n_ij * 2^40) div (s_i + s_j)) so the
# iteration replays exactly in unrolled SQL. The matrix is
# catalog-bounded, so all three rounds run inside one grouped kernel
# (the markov pattern); the corpus-sized stage is the one basket
# aggregate.

_BT_ROUNDS = 3
_BT_S0 = 1 << 20
_BT_Q = 1 << 40

_BT_WINS_CTE = """
bq AS (
    SELECT l.l_orderkey AS o, p.p_brand AS brand,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
),
games AS (
    SELECT a.brand AS wi, b.brand AS li
    FROM bq a JOIN bq b ON a.o = b.o AND a.brand != b.brand AND a.q > b.q
),
wmat AS (
    SELECT wi, li, CAST(COUNT(*) AS BIGINT) AS w
    FROM games GROUP BY wi, li
),
nmat AS (
    SELECT w1.wi AS i, w1.li AS j,
           w1.w + COALESCE(w2.w, 0) AS n_ij, w1.w AS w_ij
    FROM wmat w1
    LEFT JOIN wmat w2 ON w2.wi = w1.li AND w2.li = w1.wi
),
wtot AS (SELECT wi AS i, CAST(SUM(w) AS BIGINT) AS w_i FROM wmat GROUP BY wi)
"""


def _bt_round_cte(k: int) -> str:
    return f"""
s{k} AS MATERIALIZED (
    SELECT n.i,
           CAST((wt.w_i * {_BT_Q})
               // CAST(SUM((n.n_ij * {_BT_Q}) // (sa.s + sb.s))
                       AS BIGINT) AS BIGINT) AS s
    FROM nmat n
    JOIN s{k - 1} sa ON sa.i = n.i
    JOIN s{k - 1} sb ON sb.i = n.j
    JOIN wtot wt ON wt.i = n.i
    GROUP BY n.i, wt.w_i
)
"""


BT_ORACLE = (
    "WITH "
    + _BT_WINS_CTE
    + ", s0 AS (SELECT i, CAST("
    + str(_BT_S0)
    + " AS BIGINT) AS s FROM wtot),"
    + ",".join(_bt_round_cte(k) for k in range(1, _BT_ROUNDS + 1))
    + f"""
SELECT wt.i AS brand, wt.w_i AS wins, s.s AS strength_q
FROM wtot wt JOIN s{_BT_ROUNDS} s ON s.i = wt.i
ORDER BY strength_q DESC, brand
"""
)


@register("bradley_terry_brands", BT_ORACLE)
def q_bradley_terry_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths over basket quantity duels: three MM
    rounds on the 25-brand win matrix in exact 2^20-scaled integer
    arithmetic — the paired-comparison ranking (think team/judge/model
    leaderboards) the ranking family lacked next to rank-persistence
    and leaderboard-churn.

    Determinism: every MM term quantizes via truncating division
    before the integer sum; the oracle unrolls the identical three
    rounds. Scale: one basket aggregate + one pair aggregate (fanout
    <= |brands per order|^2, catalog-bounded); the iteration state is
    the 25-row strength vector inside one grouped kernel."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bq = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
        .persist()  # both duel sides read it
    )
    a = bq.select("o", F.col("brand").alias("wi"), F.col("q").alias("qa"))
    b = bq.select("o", F.col("brand").alias("li"), F.col("q").alias("qb"))
    wmat = (
        a.join(b, "o")
        .filter((F.col("wi") != F.col("li")) & (F.col("qa") > F.col("qb")))
        .groupBy("wi", "li")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()  # forward rows, reverse lookup, and totals all read it
    )
    rev = wmat.select(
        F.col("wi").alias("li"), F.col("li").alias("wi"), F.col("w").alias("wr")
    )
    nmat = (
        wmat.join(rev, ["wi", "li"], "left")
        .select(
            F.col("wi").alias("i"),
            F.col("li").alias("j"),
            (F.col("w") + F.coalesce("wr", F.lit(0))).cast("long").alias("n_ij"),
        )
    )
    wtot = wmat.groupBy(F.col("wi").alias("i")).agg(
        F.sum("w").cast("long").alias("w_i")
    )
    feed = nmat.join(wtot, "i")
    rounds, s0, qscale = _BT_ROUNDS, _BT_S0, _BT_Q

    def _mm(pdf):
        import pandas as pd

        n: dict[tuple[str, str], int] = {}
        w: dict[str, int] = {}
        for i_, j_, nij, wi_ in zip(
            pdf["i"], pdf["j"], pdf["n_ij"], pdf["w_i"]
        ):
            n[(str(i_), str(j_))] = int(nij)
            w[str(i_)] = int(wi_)
        s = {i_: s0 for i_ in w}
        for _ in range(rounds):
            new = {}
            for i_ in s:
                # Skip opponents with zero wins (absent from s) — the
                # oracle's inner join on the strength CTE drops those
                # terms, so a default here would diverge (ADVICE_r04
                # item 2; can trigger at tiny/skewed SFs).
                d = sum(
                    (nij * qscale) // (s[i_] + s[j_])
                    for (ii, j_), nij in n.items()
                    if ii == i_ and j_ in s
                )
                if d > 0:  # no surviving terms -> i drops, like the CTE
                    new[i_] = (w[i_] * qscale) // d
            s = new
        out = sorted(
            ((i_, w[i_], s[i_]) for i_ in s), key=lambda r: (-r[2], r[0])
        )
        return pd.DataFrame(out, columns=["brand", "wins", "strength_q"])

    return (
        feed.groupBy(F.lit(0).alias("one"))
        .applyInPandas(_mm, "brand string, wins long, strength_q long")
        .orderBy(F.desc("strength_q"), "brand")
    )
