"""Remaining TPC-H query shapes adapted to the fixture schema.

Q2 (correlated MIN), Q4 (EXISTS + priority counts), Q8 (market-share
ratio by year), Q11 (group value above a global-total threshold),
Q12 (conditional priority tallies), Q13 (customer order-count
distribution via left outer join), Q15 (top-revenue supplier via scalar
MAX), Q16 (NOT LIKE / IN-list distinct counts), Q19
(OR-of-conjunction brackets), Q20 (IN over grouped HAVING), Q21
(sole-supplier NOT EXISTS).
With these, all 22 TPC-H query shapes have a registered adaptation:
Q1/Q3/Q5/Q6/Q10 in relational_queries (q10_returned_items), Q14/Q18
in subquery_queries (promo_revenue_share / large_quantity_orders),
Q7/Q9 rollups + Q17/Q22 in the relational/subquery modules.
All follow the exact-decimal discipline; thresholds/totals are computed
in-plan (scalar aggregate broadcast back), never on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.agg import dec, dsum, dsum_expr
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


Q2_ORACLE = """
SELECT p.p_type, p.p_partkey, p.p_retailprice
FROM part p
WHERE p.p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                         WHERE p2.p_type = p.p_type)
"""


@register("cheapest_part_per_type", Q2_ORACLE)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery decorrelated into a window
    minimum (all minimum-priced parts per type; MIN of doubles is exact)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type")
    return (
        part.withColumn("_min", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("_min"))
        .select("p_type", "p_partkey", "p_retailprice")
    )


Q8_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN p_brand = 'Brand#1'
                     THEN CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
           AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN part     ON l_partkey = p_partkey
WHERE r_name = 'EUROPE'
GROUP BY o_year
"""


@register("brand_market_share", Q8_ORACLE)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one brand's revenue share per order year among a
    region's customers (conditional ratio over a 6-way star join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    brand_rev = F.when(F.col("p_brand") == "Brand#1", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum_expr(brand_rev) / dsum_expr(rev)).alias("mkt_share"))
    )


Q11_ORACLE = """
WITH sv AS (
    SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS dval
    FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, CAST(dval AS DOUBLE) AS supplier_value
FROM sv
WHERE CAST(dval AS DOUBLE) >
      CAST((SELECT SUM(dval) FROM sv) AS DOUBLE) * 0.011
"""


@register("important_suppliers", Q11_ORACLE)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: suppliers above a fraction of the global value —
    the total is a 1-row exact-decimal scalar aggregate broadcast-crossed
    back (no Window.partitionBy(lit(1)) exchange-to-one: the per-supplier
    rows never funnel through a single partition, only the 1-row total
    does)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Both branches (per-supplier rows + scalar total) read sv: persist so
    # the lineitem scan+agg runs once (CLAUDE.md shared-lineage gotcha).
    sv = (
        li.groupBy("l_suppkey")
        .agg(F.sum(dec("l_extendedprice")).alias("dval"))
        .persist()
    )
    total = sv.agg(F.sum("dval").alias("_total"))
    return (
        sv.crossJoin(F.broadcast(total))
        .filter(
            F.col("dval").cast("double") > F.col("_total").cast("double") * 0.011
        )
        .select("l_suppkey", F.col("dval").cast("double").alias("supplier_value"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25)
GROUP BY p_brand, p_type, p_size
"""


@register("part_supplier_counts", Q16_ORACLE)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: exclusion predicates (<>, NOT LIKE, IN-list) +
    distinct supplier counts per part group."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        F.broadcast(part)
        .join(li, part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q20_ORACLE = """
SELECT DISTINCT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 100
)
"""


@register("excess_stock_suppliers", Q20_ORACLE)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery as a left-semi
    join against the aggregated (supplier, part) quantities."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("_q"))
        .filter(F.col("_q") > 100)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


Q21_ORACLE = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
      AND l2.l_returnflag = 'R'
)
GROUP BY s.s_name
"""


@register("sole_return_suppliers", Q21_ORACLE)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: NOT EXISTS over sibling rows, decorrelated: keep
    returned items whose order has exactly one distinct returning
    supplier (cnt==1 ⟺ no other supplier returned in that order)."""
    supp = load_table(spark, sf_dir, "supplier")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
    )
    per_order = returned.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_nsupp")
    )
    sole = (
        returned.join(per_order, "l_orderkey")
        .filter(F.col("_nsupp") == 1)
    )
    return (
        sole.join(F.broadcast(supp), sole.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
"""


@register("late_order_priorities", Q4_ORACLE)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over correlated lineitems (here: any line
    shipped after the order date, the fixture's stand-in for
    commitdate < receiptdate) as a left-semi join with the inequality in
    the join condition, then priority counts. Semi join shuffles on the
    equi key only; the inequality is a post-probe filter."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
"""


@register("late_lines_by_status", Q12_ORACLE)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority tallies over late-shipped
    lines, grouped by line status (l_linestatus stands in for the
    fixture-absent l_shipmode). Outer CAST AS BIGINT in the oracle:
    DuckDB SUM(int) is HUGEINT (CLAUDE.md gotcha)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
"""


@register("customer_order_distribution", Q13_ORACLE)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution — left outer join
    (customers with zero matching orders count as 0), per-customer
    COUNT(col) (null-skipping), then a second aggregation over the
    counts. Two narrow shuffles on uniform keys; scale-safe."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q15_ORACLE = """
WITH rev AS (
    SELECT l_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2))) AS tr
    FROM lineitem
    WHERE l_returnflag = 'N'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE tr = (SELECT MAX(tr) FROM rev)
"""


@register("top_revenue_supplier", Q15_ORACLE)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum revenue — the scalar
    MAX is a 1-row aggregate broadcast-crossed back (same no-single-
    partition pattern as Q11); revenue in exact decimal so the equality
    against MAX is bit-safe on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "N")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
            ).alias("tr")
        )
        .persist()
    )
    mx = rev.agg(F.max("tr").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("tr") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("tr").cast("double").alias("total_revenue"))
    )


Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("bracketed_discount_revenue", Q19_ORACLE)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three conjunctive
    brackets spanning both join sides (brand/size from part,
    quantity from lineitem; fixture has no p_container so size ranges
    stand in). The disjunction sits on the broadcast-joined row —
    Catalyst still pushes the per-side conjuncts common to all brackets
    (none here) and evaluates the residual in whole-stage codegen.
    Scalar decimal aggregate, one row out."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    rev = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(bracket)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# --- Q7: volume shipping between two nations ---------------------------------

Q7_ORACLE = """
SELECT n1.r_name AS supp_nation, n2.r_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l.l_discount AS DECIMAL(12,2))) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation x1  ON x1.n_nationkey = s.s_nationkey
JOIN region n1  ON n1.r_regionkey = x1.n_regionkey
JOIN nation x2  ON x2.n_nationkey = c.c_nationkey
JOIN region n2  ON n2.r_regionkey = x2.n_regionkey
WHERE ((n1.r_name = 'AMERICA' AND n2.r_name = 'ASIA')
    OR (n1.r_name = 'ASIA' AND n2.r_name = 'AMERICA'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


@register("volume_shipping", Q7_ORACLE)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral REGION-pair trade volume by ship year
    (region grain keeps every SF populated — 10 suppliers at sf0.001) —
    two broadcast dim joins into the fact, an OR-of-pairs filter, and
    the exact-decimal revenue aggregate."""
    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    c, s = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("sk"), F.col("r_name").alias("supp_nation")
    )
    n2 = n.join(
        r.select(
            F.col("r_regionkey").alias("rk2"), F.col("r_name").alias("cust_nation")
        ),
        n["n_regionkey"] == F.col("rk2"),
    ).select(F.col("n_nationkey").alias("ck"), "cust_nation")
    disc_price = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("sk"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("ck"))
        .filter(
            (
                (F.col("supp_nation") == "AMERICA")
                & (F.col("cust_nation") == "ASIA")
            )
            | (
                (F.col("supp_nation") == "ASIA")
                & (F.col("cust_nation") == "AMERICA")
            )
        )
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum_expr(disc_price).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- Q9: product-type profit by nation and year -------------------------------

# The fixture has no partsupp/supplycost; the adapted cost model is
# 50% of retail price per unit — profit = disc_price - 0.5*qty*retail,
# all in exact decimals before ONE cast to double.

Q9_ORACLE = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l.l_discount AS DECIMAL(12,2))
                - CAST(0.5 AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2))
                  * CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


@register("product_type_profit", Q9_ORACLE)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name family — the five-way join with an expression aggregate
    (adapted cost model: 50% of retail per unit, exact decimals)."""
    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    p, s = load_table(spark, sf_dir, "part"), load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")) - dec(
        F.lit(0.5)
    ) * dec("l_quantity") * dec("p_retailprice")
    j = (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%gear%"))),
            li["l_partkey"] == p["p_partkey"],
        )
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum_expr(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )
