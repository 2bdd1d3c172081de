"""Lakehouse maintenance battery: snapshot reconciliation (CDC diff),
single-pass column profiling, and Z-order layout statistics.

The operational shapes a table-format maintenance job runs against a
large warehouse: diff two snapshots of a keyed table into
insert/update/delete change rows, profile every column's null/distinct/
extent stats in one scan, and summarise a Z-order (Morton) curve over
two dimensions — the layout that makes multi-dimensional min/max data
skipping work at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table


# --- snapshot diff (CDC reconciliation) -----------------------------------

ORDER_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_SNAP_CTE = """
snap AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 5
    UNION ALL
    SELECT * FROM orders WHERE o_orderkey % 97 NOT IN (3, 5)
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 = 7
)
"""

SNAPSHOT_DIFF_ORACLE = (
    "WITH "
    + _SNAP_CTE
    + """
SELECT COALESCE(b.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN s.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       b.o_totalprice AS old_totalprice,
       s.o_totalprice AS new_totalprice
FROM orders b FULL OUTER JOIN snap s ON b.o_orderkey = s.o_orderkey
WHERE b.o_orderkey IS NULL OR s.o_orderkey IS NULL
   OR (b.o_custkey IS DISTINCT FROM s.o_custkey)
   OR (b.o_orderstatus IS DISTINCT FROM s.o_orderstatus)
   OR (b.o_totalprice IS DISTINCT FROM s.o_totalprice)
   OR (b.o_orderdate IS DISTINCT FROM s.o_orderdate)
   OR (b.o_orderpriority IS DISTINCT FROM s.o_orderpriority)
"""
)


@register("snapshot_diff", SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a keyed table into
    insert/update/delete change rows — the CDC extraction every
    lakehouse MERGE/audit pipeline starts from. The 'next' snapshot is
    simulated deterministically from orders (every 97th key deleted /
    price-bumped / re-keyed as an insert); the diff itself is ONE full
    outer join on the unique key with null-safe per-column comparison —
    unchanged rows are dropped, so the output is proportional to the
    churn, not the table. At scale both sides shuffle once on the key
    (or zero times if both snapshots are bucketed on it); no row hash
    is materialised, so no cross-engine string-format hazard."""
    base = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    upd = base.filter(key % 97 == 5).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    keep = base.filter((key % 97 != 3) & (key % 97 != 5))
    ins = base.filter(key % 97 == 7).withColumn(
        "o_orderkey", key + F.lit(100000000)
    )
    snap = keep.unionByName(upd).unionByName(ins)

    b = base.alias("b")
    s = snap.alias("s")
    bkey, skey = F.col("b.o_orderkey"), F.col("s.o_orderkey")
    col_changed: Column = F.lit(False)
    for c in ORDER_COLS[1:]:
        col_changed = col_changed | ~F.col(f"b.{c}").eqNullSafe(F.col(f"s.{c}"))
    return (
        b.join(s, bkey == skey, "full_outer")
        .filter(bkey.isNull() | skey.isNull() | col_changed)
        .select(
            F.coalesce(bkey, skey).alias("o_orderkey"),
            F.when(bkey.isNull(), "insert")
            .when(skey.isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("b.o_totalprice").alias("old_totalprice"),
            F.col("s.o_totalprice").alias("new_totalprice"),
        )
    )


# --- single-pass column profile -------------------------------------------

PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_returnflag",
    "l_linestatus",
)

TABLE_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_s,
       CAST(MAX({c}) AS VARCHAR) AS max_s
FROM lineitem"""
    for c in PROFILE_COLS
)


@register("table_profile", TABLE_PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE table scan: rows / nulls / exact distinct
    / min / max per column, unpivoted to long format. All per-column
    aggregates ride a single aggregation (Catalyst plans the
    multi-distinct via one Expand + partial aggs — one scan, one
    shuffle), and the wide 1-row result is unpivoted driver-free with
    stack(). Extents are stringified AFTER aggregating on the native
    type, so min/max semantics are the column's own ordering. The doubles
    (l_quantity etc.) are deliberately excluded: profile extents are
    strings, and double->string formatting is not portable across
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_s, max_s)"
        )
    )


# --- Z-order layout statistics --------------------------------------------

ZORDER_BITS = 4  # 16 buckets per dimension -> 8-bit Morton code

_Z_EXPR_SQL = " + ".join(
    f"((cb // {1 << i}) % 2) * {1 << (2 * i)}"
    f" + ((pb // {1 << i}) % 2) * {1 << (2 * i + 1)}"
    for i in range(ZORDER_BITS)
)

ZORDER_ORACLE = f"""
WITH dims AS (
    SELECT least(15, o_custkey // 100) AS cb,
           least(15, CAST(FLOOR(o_totalprice / 40000.0) AS BIGINT)) AS pb
    FROM orders
),
z AS (SELECT cb, pb, {_Z_EXPR_SQL} AS zval FROM dims)
SELECT zval, COUNT(*) AS n_rows,
       MIN(cb) AS cb_min, MAX(cb) AS cb_max,
       MIN(pb) AS pb_min, MAX(pb) AS pb_max
FROM z GROUP BY zval
"""


@register("zorder_layout", ZORDER_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout statistics over two order dimensions:
    interleave 4 quantised bits of customer and price into an 8-bit
    curve position, then report per-position extents. Each zval's
    (cb, pb) extent collapses to a single cell — the property that makes
    range-partitioning by zval + parquet min/max footers prune BOTH
    dimensions at 100 TB (sort/cluster by the curve, skip files by
    either predicate). The bit interleave is plain integer arithmetic
    (shiftleft needs literal amounts — CLAUDE.md gotcha — so // and %
    keep it portable); per-row narrow projection, one aggregation."""
    o = load_table(spark, sf_dir, "orders")
    cb = F.least(F.lit(15), F.floor(F.col("o_custkey") / F.lit(100)))
    pb = F.least(
        F.lit(15), F.floor(F.col("o_totalprice") / F.lit(40000.0)).cast("bigint")
    )
    dims = o.select(cb.alias("cb"), pb.alias("pb"))
    zval = None
    for i in range(ZORDER_BITS):
        bit_c = (F.col("cb") / F.lit(1 << i)).cast("bigint") % 2 * F.lit(1 << (2 * i))
        bit_p = (
            (F.col("pb") / F.lit(1 << i)).cast("bigint") % 2 * F.lit(1 << (2 * i + 1))
        )
        term = bit_c + bit_p
        zval = term if zval is None else zval + term
    return (
        dims.withColumn("zval", zval)
        .groupBy("zval")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cb").alias("cb_min"),
            F.max("cb").alias("cb_max"),
            F.min("pb").alias("pb_min"),
            F.max("pb").alias("pb_max"),
        )
    )


# --- CDC net-effect compaction -----------------------------------------------

# The change-data-feed compaction a lakehouse MERGE pipeline runs: the
# event stream is read as a per-user changelog (signup=INSERT, click/
# view/purchase=UPSERT, error=DELETE, ordered by ts then event_id), and
# compaction reduces each key to its NET effect — present/absent plus
# the surviving value.  Two independent mechanisms compute the survivor
# (keyed ROW_NUMBER window vs no-later-op anti-join) and the output
# counts any disagreement — a self-auditing proof, like
# incremental_agg_maintenance.

CDC_ORACLE = """
WITH log AS (
    SELECT user_id AS k, epoch_us(ts) AS us, event_id,
           CASE WHEN event_type = 'signup' THEN 'insert'
                WHEN event_type = 'error' THEN 'delete'
                ELSE 'upsert' END AS op,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
    FROM events
),
w AS (
    SELECT k, op, cents FROM (
        SELECT k, op, cents,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY us DESC, event_id DESC) AS rk
        FROM log
    ) WHERE rk = 1
),
aj AS (
    SELECT a.k, a.op, a.cents
    FROM log a
    WHERE NOT EXISTS (
        SELECT 1 FROM log b
        WHERE b.k = a.k
          AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
    )
)
SELECT w.op AS final_op,
       (w.op <> 'delete') AS present,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN w.op <> 'delete' THEN w.cents ELSE 0 END)
            AS BIGINT) AS sum_final_cents,
       CAST(SUM(CASE WHEN w.op <> aj.op OR w.cents <> aj.cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_method_mismatch
FROM w JOIN aj ON w.k = aj.k
GROUP BY w.op
ORDER BY final_op
"""


@register("cdc_net_effect_compaction", CDC_ORACLE)
def q_cdc_net_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect compaction of a keyed changelog with a built-in
    two-method survivor proof.

    Both survivor mechanisms are scale-safe: the window is keyed per
    user, and the anti-join is a keyed self-join on the same key (at
    100 TB the window form wins — one shuffle — which is exactly what
    the mismatch column certifies it is allowed to do).  Output is the
    compaction scorecard per surviving op class.
    """
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        F.col("user_id").alias("k"),
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).persist()
    from pyspark.sql import Window

    wk = Window.partitionBy("k").orderBy(F.desc("us"), F.desc("event_id"))
    w = (
        log.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("k", "op", "cents")
    )
    b = log.select(
        F.col("k").alias("bk"),
        F.col("us").alias("bus"),
        F.col("event_id").alias("bid"),
    )
    aj = (
        log.alias("a")
        .join(
            b,
            (F.col("a.k") == F.col("bk"))
            & (
                (F.col("bus") > F.col("a.us"))
                | (
                    (F.col("bus") == F.col("a.us"))
                    & (F.col("bid") > F.col("a.event_id"))
                )
            ),
            "left_anti",
        )
        .select(
            F.col("k").alias("ak"),
            F.col("op").alias("aop"),
            F.col("cents").alias("acents"),
        )
    )
    return (
        w.join(aj, w.k == aj.ak)
        .groupBy(F.col("op").alias("final_op"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(
                F.when(F.col("op") != "delete", F.col("cents")).otherwise(0)
            ).alias("sum_final_cents"),
            F.sum(
                F.when(
                    (F.col("op") != F.col("aop"))
                    | (F.col("cents") != F.col("acents")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_method_mismatch"),
        )
        .select(
            "final_op",
            (F.col("final_op") != "delete").alias("present"),
            "n_keys",
            "sum_final_cents",
            "n_method_mismatch",
        )
        .orderBy("final_op")
    )


# --- learned-index audit: linear CDF models per range shard -----------------

# The RMI-style question for the lakehouse layout: if each range shard
# kept only a LINEAR rank model (two doubles) instead of a B-tree page
# index, how far off would lookups land? Keys are order price cents
# (non-uniform, so errors are real), shards are fixed 2^22-cent ranges,
# rank is the within-shard sort position with an orderkey tie-break.
# OLS comes from exact integer/decimal moments cast to double (the
# welch/brand_discount_ols discipline); the reported error bounds are
# MAX/indicator aggregates — order-independent doubles — never a float
# mean.

_LIX_SHARD = 1 << 22  # 4.2M-cent range shards -> ~14 shards of TPC-H prices

LEARNED_INDEX_ORACLE = f"""
WITH k AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
           o_orderkey AS tid
    FROM orders
),
rk AS (
    SELECT x, x // {_LIX_SHARD} AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY x // {_LIX_SHARD}
                                   ORDER BY x, tid) AS BIGINT) AS r
    FROM k
),
mo AS (
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(r) AS BIGINT) AS sr,
           -- 2^40 hi/lo split: sum(x^2) in cents^2 passes 2^63 at the
           -- sf1 rung (HUGEINT->DOUBLE mis-rounds there); // only after
           -- CAST AS HUGEINT (DECIMAL // is a DOUBLE floor-division)
           CAST(CAST(SUM(CAST(x AS DECIMAL(19,0))
                         * CAST(x AS DECIMAL(19,0))) AS HUGEINT)
                // 1099511627776 AS BIGINT) AS sxx_hi,
           CAST(CAST(SUM(CAST(x AS DECIMAL(19,0))
                         * CAST(x AS DECIMAL(19,0))) AS HUGEINT)
                % 1099511627776 AS BIGINT) AS sxx_lo,
           CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS sxr
    FROM rk GROUP BY shard
),
ab AS (
    SELECT shard, n, sx, sr,
           (CAST(n AS DOUBLE) * CAST(sxr AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sr AS DOUBLE))
           / (CAST(n AS DOUBLE)
              * (CAST(sxx_hi AS DOUBLE) * 1099511627776.0
                 + CAST(sxx_lo AS DOUBLE))
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
    FROM mo WHERE n >= 2
),
ab2 AS (
    SELECT shard, n, slope,
           (CAST(sr AS DOUBLE) - slope * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS icept
    FROM ab
)
SELECT a.shard, a.n, a.slope, a.icept,
       MAX(abs(CAST(rk.r AS DOUBLE) - (a.icept + a.slope
           * CAST(rk.x AS DOUBLE)))) AS max_abs_err,
       CAST(SUM(CASE WHEN abs(CAST(rk.r AS DOUBLE) - (a.icept + a.slope
           * CAST(rk.x AS DOUBLE))) > 64.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_page_misses
FROM ab2 a JOIN rk ON rk.shard = a.shard
GROUP BY a.shard, a.n, a.slope, a.icept
ORDER BY a.shard
"""


@register("learned_index_audit", LEARNED_INDEX_ORACLE)
def q_learned_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-index feasibility audit over the price column: per range
    shard, fit rank ~ a + b*key by least squares and report the max
    rank error and how many lookups would overshoot a 64-row page —
    the "replace the page index with two doubles" readout (RMI/ALEX
    reading of the zone-map family next to zorder/hilbert audits).

    Determinism: ranks are exact (within-shard sort with orderkey
    tie-break), OLS inputs are exact integer/decimal moments, and the
    outputs are MAX / threshold-count aggregates — order-independent,
    unlike a float mean of residuals, which would be shuffle-order
    dependent. Scale: one partitioned window (range shards), one moment
    aggregate, one broadcast-back join; no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    k = orders.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("x"),
        F.col("o_orderkey").alias("tid"),
    ).withColumn("shard", F.expr(f"x div {_LIX_SHARD}"))
    w = Window.partitionBy("shard").orderBy("x", "tid")
    rk = k.select(
        "x", "shard", F.row_number().over(w).cast("long").alias("r")
    ).persist()  # moments + the error join both read it
    sxx = F.sum(
        F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    two40 = F.lit(1_099_511_627_776)
    mo = rk.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("r").cast("long").alias("sr"),
        # 2^40 hi/lo split — see oracle note (sum passes 2^63 at sf1)
        ((sxx - F.pmod(sxx, two40)) / two40).cast("long").alias("sxx_hi"),
        F.pmod(sxx, two40).cast("long").alias("sxx_lo"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("r").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxr"),
    ).filter(F.col("n") >= 2)
    n_d, sx_d, sr_d = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sr").cast("double"),
    )
    sxx_d = (
        F.col("sxx_hi").cast("double") * F.lit(1_099_511_627_776.0)
        + F.col("sxx_lo").cast("double")
    )
    slope = (n_d * F.col("sxr").cast("double") - sx_d * sr_d) / (
        n_d * sxx_d - sx_d * sx_d
    )
    ab = mo.select("shard", "n", "sx", "sr", slope.alias("slope")).select(
        "shard",
        "n",
        "slope",
        (
            (F.col("sr").cast("double") - F.col("slope") * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("icept"),
    )
    err = F.abs(
        F.col("r").cast("double")
        - (F.col("icept") + F.col("slope") * F.col("x").cast("double"))
    )
    return (
        rk.join(F.broadcast(ab), "shard")
        .groupBy("shard", "n", "slope", "icept")
        .agg(
            F.max(err).alias("max_abs_err"),
            F.sum(F.when(err > 64.0, 1).otherwise(0))
            .cast("long")
            .alias("n_page_misses"),
        )
        .orderBy("shard")
    )


# --- dictionary-encoding size planner --------------------------------------------

DICT_ENCODING_ORACLE = """
WITH cols AS (
    SELECT 'o_orderpriority' AS col_name, o_orderpriority AS v FROM orders
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus FROM orders
    UNION ALL
    SELECT 'l_returnflag', l_returnflag FROM lineitem
    UNION ALL
    SELECT 'p_brand', p_brand FROM part
),
stats AS (
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
           CAST(SUM(length(v)) AS BIGINT) AS raw_bytes
    FROM cols GROUP BY col_name
),
dict_bytes AS (
    SELECT col_name, CAST(SUM(len) AS BIGINT) AS db FROM (
        SELECT DISTINCT col_name, v, length(v) AS len FROM cols
    ) GROUP BY col_name
)
SELECT s.col_name, s.n_rows, s.ndv, s.raw_bytes,
       CAST(length(bin(GREATEST(s.ndv - 1, CAST(1 AS BIGINT)))) AS BIGINT)
           AS code_bits,
       CAST((s.n_rows
             * length(bin(GREATEST(s.ndv - 1, CAST(1 AS BIGINT)))) + 7) // 8
            + d.db AS BIGINT) AS encoded_bytes,
       CAST((1000000 * ((s.n_rows
             * length(bin(GREATEST(s.ndv - 1, CAST(1 AS BIGINT)))) + 7) // 8
             + d.db)) // s.raw_bytes AS BIGINT) AS size_ratio_ppm
FROM stats s JOIN dict_bytes d USING (col_name)
ORDER BY s.col_name
"""


@register("dict_encoding_estimate", DICT_ENCODING_ORACLE)
def q_dict_encoding_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding size planner for low-cardinality string
    columns — the decision a columnar writer (parquet/ORC) makes per
    column: code width = ceil(log2 ndv) bits via the libm-free
    length(bin(ndv-1)) (zipf_octave trick), encoded size = packed codes
    + dictionary payload, and the ratio vs raw bytes in ppm. Four
    representative columns audited in one stacked scan.

    Exactness: counts, distinct counts, and byte lengths are integers;
    the ceiling division (x+7) div 8 and the ppm ratio are integer
    divisions. Scale: one union scan -> per-column aggregates (the
    stacked (dim, value) scan pattern, rfm_cell_matrix precedent); no
    row-level state anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cols = (
        orders.select(
            F.lit("o_orderpriority").alias("col_name"),
            F.col("o_orderpriority").alias("v"),
        )
        .unionByName(
            orders.select(
                F.lit("o_orderstatus").alias("col_name"),
                F.col("o_orderstatus").alias("v"),
            )
        )
        .unionByName(
            li.select(
                F.lit("l_returnflag").alias("col_name"),
                F.col("l_returnflag").alias("v"),
            )
        )
        .unionByName(
            part.select(
                F.lit("p_brand").alias("col_name"), F.col("p_brand").alias("v")
            )
        )
        .persist()
    )
    stats = cols.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("v").cast("long").alias("ndv"),
        F.sum(F.length("v")).cast("long").alias("raw_bytes"),
    )
    dict_bytes = (
        cols.select("col_name", "v")
        .distinct()
        .groupBy("col_name")
        .agg(F.sum(F.length("v")).cast("long").alias("db"))
    )
    return (
        stats.join(dict_bytes, "col_name")
        .select(
            "col_name",
            "n_rows",
            "ndv",
            "raw_bytes",
            F.expr(
                "CAST(length(bin(GREATEST(ndv - 1, CAST(1 AS BIGINT))))"
                " AS BIGINT)"
            ).alias("code_bits"),
            F.expr(
                "CAST((n_rows * length(bin(GREATEST(ndv - 1,"
                " CAST(1 AS BIGINT)))) + 7) div 8 + db AS BIGINT)"
            ).alias("encoded_bytes"),
            F.expr(
                "CAST((1000000 * ((n_rows * length(bin(GREATEST(ndv - 1,"
                " CAST(1 AS BIGINT)))) + 7) div 8 + db)) div raw_bytes"
                " AS BIGINT)"
            ).alias("size_ratio_ppm"),
        )
        .orderBy("col_name")
    )
