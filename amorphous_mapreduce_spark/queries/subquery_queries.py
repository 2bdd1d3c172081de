"""Semi/anti joins, subqueries, conditional aggregation, HAVING, LIKE —
relational operator classes beyond the core battery (SURVEY.md §2.4 gaps
filled judge-side)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.agg import dec, dsum, dsum_expr
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


# --- EXISTS (left-semi join) ----------------------------------------------

SEMI_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@register("orders_with_returns_semi", SEMI_ORACLE)
def q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join (TPC-H Q4 shape): the probe side streams,
    the semi side deduplicates inside the join — no fanout."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --- NOT EXISTS (left-anti join) ------------------------------------------

ANTI_ORACLE = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey
                    AND l_shipdate >= TIMESTAMP '2001-01-01')
GROUP BY p_brand
"""


@register("parts_never_shipped_anti", ANTI_ORACLE)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join."""
    part = load_table(spark, sf_dir, "part")
    recent = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        part.join(recent, part.p_partkey == recent.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


# --- conditional aggregation (TPC-H Q12/Q14 shape) ------------------------

PROMO_ORACLE = """
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
       AS promo_share,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1997-07-01'
"""


@register("promo_revenue_share", PROMO_ORACLE)
def q_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN conditional aggregation over a broadcast dim join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (dsum_expr(promo_rev) / dsum_expr(rev)).alias("promo_share"),
            F.count("*").alias("n_items"),
        )
    )


# --- HAVING + IN-subquery (TPC-H Q18 shape) -------------------------------

HAVING_ORACLE = """
SELECT o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
"""


@register("large_quantity_orders", HAVING_ORACLE)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + HAVING on the exact-decimal sum (deterministic cut)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).alias("_dq"))
        .filter(F.col("_dq") > 150)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_dq").cast("double").alias("total_qty"),
        )
    )


# --- LIKE / disjunctive predicates (TPC-H Q19 flavour) --------------------

LIKE_ORACLE = """
SELECT p_type,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_name LIKE 'small%' OR p_name LIKE '%widget')
  AND p_size BETWEEN 5 AND 40
  AND l_quantity >= 5
GROUP BY p_type
"""


@register("widget_pricing_like", LIKE_ORACLE)
def q_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE prefixes/suffixes + disjunction + BETWEEN, over broadcast join."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 5)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_name").like("small%") | F.col("p_name").like("%widget"))
        & F.col("p_size").between(5, 40)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# --- correlated scalar subquery (above-nation-average customers) ----------

CORR_ORACLE = """
SELECT c.c_custkey, c.c_acctbal, n.n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                            / COUNT(*)
                     FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
"""


@register("above_avg_customers", CORR_ORACLE)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery decorrelated into a window average —
    one pass, no rejoin. avg is double on both sides: same input set per
    nation (order-insensitive comparison set), deterministic? The window
    avg sums doubles in partition order — so the comparison uses the
    exact-decimal mean instead, mirrored in the oracle via the same
    decimal discipline."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey")
    dec_avg = (
        F.sum(dec("c_acctbal")).over(w).cast("double") / F.count("*").over(w)
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("_avg", dec_avg)
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", "c_acctbal", "n_name")
    )


# --- correlated aggregate threshold (TPC-H Q17 shape) ---------------------

Q17_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
           AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2)))
                                         AS DOUBLE) / COUNT(*))
                      FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
"""


@register("small_quantity_revenue", Q17_ORACLE)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-part average-quantity threshold, decorrelated
    into a window mean over the part key — one pass over lineitem."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(dec("l_quantity")).over(w).cast("double") / F.count("*").over(w)
    return (
        li.withColumn("_avg", avg_qty)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


# --- anti-join + global scalar subquery (TPC-H Q22 shape) -----------------

Q22_ORACLE = """
WITH wealthy AS (
    SELECT * FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2)))
                                   AS DOUBLE) / COUNT(*)
                       FROM customer c2 WHERE c2.c_acctbal > 0)
)
SELECT CAST(c_nationkey % 5 AS INT) AS cntry_group,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM wealthy w
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = w.c_custkey
                    AND o.o_totalprice > 450000)
GROUP BY cntry_group
"""


@register("idle_wealthy_customers", Q22_ORACLE)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-global-average customers with no large orders —
    uncorrelated scalar subquery (``DataFrame.scalar()``, one 1-row
    aggregate per execution) + left-anti join. Pure dataflow: the average
    stays in-plan (no driver action)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(dec("c_acctbal")).cast("double") / F.count("*"))
        .scalar()
    )
    big_orders = orders.filter(F.col("o_totalprice") > 450000)
    wealthy = cust.filter(F.col("c_acctbal") > avg_bal)
    return (
        wealthy.join(big_orders, wealthy.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntry_group"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )
