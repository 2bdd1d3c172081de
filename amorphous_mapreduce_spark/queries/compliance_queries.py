"""Compliance battery: PII redaction audit + right-to-be-forgotten cascade.

Training-data pipelines at 100 TB carry two recurring legal obligations:
(1) scan free text for personally-identifying patterns and prove the
redacted output is what shipped, and (2) when a user exercises deletion
rights, propagate the tombstone through every table that references them
and prove how much survived. Both are narrow-map + keyed-aggregate
shapes — embarrassingly parallel, no driver loops, no UDFs.

Reference tie-in: the scan/transform stage is the reference's file-scan +
per-record map (W1/W3, src/word_count.rs:90-118) with a regex transform in
place of tokenization; the audit rollups are its per-key count (W7).

Cross-engine determinism: regex classes here ([0-9]{4,}) behave
identically under Java regex (Spark) and RE2 (DuckDB); content proofs use
bit_xor of functions.hashing.hex_hash64 values — order-independent,
overflow-free, replayable in DuckDB as the same md5-substring arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

# --- PII redaction audit ----------------------------------------------------

# Digit runs of >= 4 characters: account numbers, phone fragments, the
# customer ordinal in c_name. The pattern list is pluggable; each pattern
# is one more regexp_replace in the same narrow projection (no extra pass).
_PII_RE = "[0-9]{4,}"
_MASK = "<ID>"

_SQL_RED = f"regexp_replace(c_name, '{_PII_RE}', '{_MASK}', 'g')"

PII_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_rows,
       CAST(SUM(len(regexp_extract_all(c_name, '{_PII_RE}'))) AS BIGINT)
           AS ids_found,
       CAST(COUNT(DISTINCT {_SQL_RED}) AS BIGINT) AS n_distinct_redacted,
       bit_xor(CAST('0x' || substr(md5({_SQL_RED}), 1, 15) AS BIGINT))
           AS redacted_xor
FROM customer
GROUP BY c_mktsegment
"""


@register("pii_redaction", PII_ORACLE)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over customer names: per market segment, how
    many identifier tokens were found, how many distinct masked forms
    remain, and an order-independent content proof (bit_xor of 60-bit
    hashes) of the exact redacted bytes — the evidence row a compliance
    reviewer signs off on.

    Scale: regexp_replace/extract_all are JVM-side whole-stage-codegen
    per-row maps; the only shuffle is the final segment rollup (map-side
    combined). At 100 TB the scan cost IS the cost — there is no
    quadratic term and no skew (segments are few, partials are tiny)."""
    red = F.regexp_replace(F.col("c_name"), _PII_RE, _MASK)
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            F.size(F.regexp_extract_all(F.col("c_name"), F.lit(_PII_RE), F.lit(0)))
            .alias("n_ids"),
            hex_hash64(red).alias("h"),
            red.alias("red"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_ids").alias("ids_found"),
            F.countDistinct("red").alias("n_distinct_redacted"),
            F.expr("bit_xor(h)").alias("redacted_xor"),
        )
    )


# --- right-to-be-forgotten cascade ------------------------------------------

# Deterministic 5% tombstone cohort: the same hash both engines compute.
_TOMB_SQL = (
    "CAST('0x' || substr(md5('forget_' || CAST(c_custkey AS VARCHAR)), 1, 15)"
    " AS BIGINT) % 20 = 0"
)

FORGET_ORACLE = f"""
WITH tomb AS (
    SELECT c_custkey FROM customer WHERE {_TOMB_SQL}
),
del_orders AS (
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM tomb)
),
cust AS (
    SELECT 'customer' AS tbl,
           CAST(COUNT(CASE WHEN d THEN 1 END) AS BIGINT) AS n_deleted,
           CAST(COUNT(CASE WHEN NOT d THEN 1 END) AS BIGINT) AS n_surviving,
           CAST(SUM(CASE WHEN NOT d THEN CAST(c_acctbal AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS surviving_value
    FROM (SELECT c_acctbal, {_TOMB_SQL} AS d FROM customer)
),
ords AS (
    SELECT 'orders' AS tbl,
           CAST(COUNT(CASE WHEN d THEN 1 END) AS BIGINT) AS n_deleted,
           CAST(COUNT(CASE WHEN NOT d THEN 1 END) AS BIGINT) AS n_surviving,
           CAST(SUM(CASE WHEN NOT d THEN CAST(o_totalprice AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS surviving_value
    FROM (SELECT o_totalprice,
                 o_custkey IN (SELECT c_custkey FROM tomb) AS d
          FROM orders)
),
li AS (
    SELECT 'lineitem' AS tbl,
           CAST(COUNT(CASE WHEN d THEN 1 END) AS BIGINT) AS n_deleted,
           CAST(COUNT(CASE WHEN NOT d THEN 1 END) AS BIGINT) AS n_surviving,
           CAST(SUM(CASE WHEN NOT d
                    THEN CAST(l_extendedprice AS DECIMAL(12,2))
                    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               AS surviving_value
    FROM (SELECT l_extendedprice,
                 l_orderkey IN (SELECT o_orderkey FROM del_orders) AS d
          FROM lineitem)
)
SELECT * FROM cust UNION ALL SELECT * FROM ords UNION ALL SELECT * FROM li
"""


def _audit_row(df: DataFrame, tbl: str, deleted: Column, value: Column) -> DataFrame:
    """One (tbl, n_deleted, n_surviving, surviving_value) evidence row."""
    zero = F.lit(0).cast("decimal(12,2)")
    agg = df.select(
        deleted.alias("d"), value.cast("decimal(12,2)").alias("v")
    ).agg(
        F.sum(F.when(F.col("d"), 1).otherwise(0)).alias("n_deleted"),
        F.sum(F.when(~F.col("d"), 1).otherwise(0)).alias("n_surviving"),
        F.sum(F.when(~F.col("d"), F.col("v")).otherwise(zero))
        .cast("double")
        .alias("surviving_value"),
    )
    return agg.select(
        F.lit(tbl).alias("tbl"), "n_deleted", "n_surviving", "surviving_value"
    )


@register("forget_audit", FORGET_ORACLE)
def q_forget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic 5% customer
    tombstone cohort propagated customer -> orders -> lineitem, with
    per-table deleted/surviving counts and the exact (decimal) value mass
    that remains — the proof sheet a deletion job emits before the
    physical rewrite (a MERGE the engine leaves to the table format).

    Scale: each table is scanned once; membership is a left join against
    the tombstone key set, which is a fixed small fraction of the dim
    table, so AQE broadcasts it at any realistic SF. The order-key set
    for lineitem is derived, keyed, and uniform — no skew. Counts and
    sums ride one map-side-combined aggregate per table."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    tomb_pred = (
        F.pmod(
            hex_hash64(F.concat(F.lit("forget_"), F.col("c_custkey").cast("string"))),
            F.lit(20),
        )
        == 0
    )
    tomb = cust.filter(tomb_pred).select("c_custkey")

    o_flag = orders.join(
        tomb, orders.o_custkey == tomb.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("c_custkey").isNotNull().alias("d"),
    )
    del_orders = o_flag.filter("d").select(
        F.col("o_orderkey").alias("l_orderkey"), F.lit(1).alias("hit")
    )
    l_flag = li.join(del_orders, "l_orderkey", "left").select(
        "l_extendedprice", F.col("hit").isNotNull().alias("d")
    )

    c_row = _audit_row(cust, "customer", tomb_pred, F.col("c_acctbal"))
    o_row = _audit_row(o_flag, "orders", F.col("d"), F.col("o_totalprice"))
    l_row = _audit_row(l_flag, "lineitem", F.col("d"), F.col("l_extendedprice"))
    return c_row.unionAll(o_row).unionAll(l_row)


# --- k-anonymity audit ------------------------------------------------------

# Quasi-identifier tuple: (nation, market segment, account-balance band).
# The balance band is computed in DECIMAL so band edges can't flip under
# IEEE division (fixture doubles approximate 2-decimal values).
_QI_SQL = (
    "n_nationkey, c_mktsegment, "
    "CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)"
)

KANON_ORACLE = f"""
WITH qi AS (
    SELECT {_QI_SQL.replace('n_nationkey', 'c_nationkey')} AS band,
           c_nationkey, c_mktsegment
    FROM customer
),
grp AS (
    SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS k
    FROM qi GROUP BY 1, 2, 3
)
SELECT k AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(CASE WHEN k < 5 THEN SUM(k) ELSE 0 END AS BIGINT)
           AS n_rows_below_k5
FROM grp GROUP BY k
"""


@register("k_anonymity", KANON_ORACLE)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, balance band): the distribution of
    equivalence-class sizes, plus the row mass sitting in classes smaller
    than k=5 — the number a privacy review asks for before a dataset
    release.

    Scale: two nested keyed aggregates (QI tuple, then class size), both
    map-side combined; the class-size histogram is tiny. Band edges are
    decimal arithmetic so the banding is bit-stable on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(
        F.col("c_acctbal").cast("decimal(12,2)") / F.lit(1000)
    ).cast("long")
    grp = (
        cust.select("c_nationkey", "c_mktsegment", band.alias("band"))
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count("*").alias("k"))
    )
    return grp.groupBy(F.col("k").alias("group_size")).agg(
        F.count("*").alias("n_groups"),
        F.sum("k").alias("n_rows"),
        F.when(F.col("group_size") < 5, F.sum("k"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_rows_below_k5"),
    )


# --- local-DP randomized response -------------------------------------------

# Two independent hash bits per row: bit0 decides truth-vs-random, bit1 is
# the random answer. Reported = bit0 ? truth : bit1 — the classic
# ln(3)-DP randomized response. Unbiased estimate of the true count T from
# the reported count R: E[R] = T/2 + n/4, so (4R - n) / 2 estimates 2T/2…
# exported as the exact integer numerator est_numer = 4R - n with
# denominator 2 (estimate of 2T; divide by 2n for the rate) — no float.
_RR_H = (
    "CAST('0x' || substr(md5('rr_' || CAST(c_custkey AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)

RR_ORACLE = f"""
WITH bits AS (
    SELECT c_nationkey,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS truth,
           {_RR_H} % 2 AS keep,
           ({_RR_H} >> 1) % 2 AS rnd
    FROM customer
),
rep AS (
    SELECT c_nationkey, truth,
           CASE WHEN keep = 1 THEN truth ELSE rnd END AS reported
    FROM bits
)
SELECT c_nationkey,
       COUNT(*) AS n_rows,
       CAST(SUM(truth) AS BIGINT) AS n_true,
       CAST(SUM(reported) AS BIGINT) AS n_reported,
       CAST(4 * SUM(reported) - COUNT(*) AS BIGINT) AS est_numer
FROM rep GROUP BY c_nationkey
"""


@register("dp_randomized_response", RR_ORACLE)
def q_dp_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP counting via randomized response (epsilon = ln 3): each
    customer reports whether they are in the BUILDING segment truthfully
    with probability 1/2, otherwise a random bit — per nation, the noisy
    count, the exact debiased-estimate numerator (4R - n, denominator
    2n for the rate), and the true count for calibration.

    The per-row noise is two MD5-derived bits, so the "randomness" is a
    deterministic function both engines replay bit-for-bit — the
    mechanism is oracle-checkable while still being the real estimator a
    local-DP telemetry pipeline runs. One narrow map + one keyed
    aggregate; nothing here costs more than the scan at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    h = hex_hash64(F.concat(F.lit("rr_"), F.col("c_custkey").cast("string")))
    truth = F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
    keep = F.pmod(h, F.lit(2))
    # bit shift, not division: h is a 60-bit integer and double division
    # (h / 2) loses low bits past the 53-bit mantissa
    rnd = F.pmod(F.shiftright(h, 1), F.lit(2))
    rep = cust.select(
        "c_nationkey",
        truth.alias("truth"),
        F.when(keep == 1, truth).otherwise(rnd).alias("reported"),
    )
    return rep.groupBy("c_nationkey").agg(
        F.count("*").alias("n_rows"),
        F.sum("truth").alias("n_true"),
        F.sum("reported").alias("n_reported"),
        (F.lit(4) * F.sum("reported") - F.count("*")).alias("est_numer"),
    )


# --- data-subject access report (DSAR) --------------------------------------

_DSAR_H = (
    "CAST('0x' || substr(md5('dsar_' || CAST(c_custkey AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)


def _dsar_key_hash(expr: str) -> str:
    return (
        f"CAST('0x' || substr(md5('k_' || CAST({expr} AS VARCHAR)), 1, 15)"
        " AS BIGINT)"
    )


DSAR_ORACLE = f"""
WITH subject AS (
    SELECT c_custkey AS ck FROM customer ORDER BY {_DSAR_H}, c_custkey LIMIT 1
),
c AS (
    SELECT 'customer' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({_dsar_key_hash("c_custkey")}) AS BIGINT) AS key_xor,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer JOIN subject ON c_custkey = ck
),
o AS (
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(bit_xor({_dsar_key_hash("o_orderkey")}) AS BIGINT),
           CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
    FROM orders JOIN subject ON o_custkey = ck
),
l AS (
    SELECT 'lineitem',
           CAST(COUNT(*) AS BIGINT),
           CAST(bit_xor({_dsar_key_hash("l_orderkey * 16 + l_linenumber")})
                AS BIGINT),
           CAST(MIN(l_orderkey) AS BIGINT), CAST(MAX(l_orderkey) AS BIGINT)
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders JOIN subject
                         ON o_custkey = ck)
),
e AS (
    SELECT 'events',
           CAST(COUNT(*) AS BIGINT),
           CAST(bit_xor({_dsar_key_hash("event_id")}) AS BIGINT),
           CAST(MIN(event_id) AS BIGINT), CAST(MAX(event_id) AS BIGINT)
    FROM events JOIN subject ON user_id = ck
)
SELECT * FROM c UNION ALL SELECT * FROM o
UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e
"""


@register("dsar_export", DSAR_ORACLE)
def q_dsar_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-subject access report: every table's rows belonging to one
    (hash-chosen) customer, summarized as row counts plus an
    order-independent XOR content proof over key hashes — the GDPR
    Article 15 export manifest, with the same bit_xor audit trick as
    pii_redaction so the export can be verified without shipping rows.
    Completes the compliance battery (redaction, erasure cascade,
    k-anonymity, DP, now subject access).

    Scale: the subject is a 1-row TakeOrdered broadcast; every
    per-table pull is a broadcast semi-join on its subject key (the
    lineitem pull goes through the subject's order keys); XOR is
    order-independent so the digests are shuffle-safe."""
    cust = load_table(spark, sf_dir, "customer")
    subject = (
        cust.select(
            F.col("c_custkey").alias("ck"),
            hex_hash64(
                F.concat(F.lit("dsar_"), F.col("c_custkey").cast("string"))
            ).alias("_h"),
        )
        .orderBy("_h", "ck")
        .limit(1)
        .drop("_h")
    )

    def kh(col):
        return hex_hash64(F.concat(F.lit("k_"), col.cast("string")))

    c_rows = cust.join(
        F.broadcast(subject), cust["c_custkey"] == subject["ck"]
    )
    c_sum = c_rows.agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(kh(F.col("c_custkey"))).alias("key_xor"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    ).select(F.lit("customer").alias("table_name"), "*")

    orders = load_table(spark, sf_dir, "orders")
    o_rows = orders.join(
        F.broadcast(subject), orders["o_custkey"] == subject["ck"]
    ).persist()
    o_sum = o_rows.agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(kh(F.col("o_orderkey"))).alias("key_xor"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    ).select(F.lit("orders").alias("table_name"), "*")

    li = load_table(spark, sf_dir, "lineitem")
    l_rows = li.join(
        F.broadcast(o_rows.select("o_orderkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    l_sum = l_rows.agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(
            kh(F.col("l_orderkey") * 16 + F.col("l_linenumber"))
        ).alias("key_xor"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    ).select(F.lit("lineitem").alias("table_name"), "*")

    ev = load_table(spark, sf_dir, "events")
    e_rows = ev.join(F.broadcast(subject), ev["user_id"] == subject["ck"])
    e_sum = e_rows.agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(kh(F.col("event_id"))).alias("key_xor"),
        F.min("event_id").alias("min_key"),
        F.max("event_id").alias("max_key"),
    ).select(F.lit("events").alias("table_name"), "*")

    return c_sum.unionByName(o_sum).unionByName(l_sum).unionByName(e_sum)


# --- t-closeness audit (ordered EMD) ------------------------------------------

TCLOSE_TOP = 15

TCLOSE_ORACLE = f"""
WITH rows_b AS (
    SELECT c_nationkey AS nat, c_mktsegment AS seg,
           CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
               AS band
    FROM customer
),
cb AS (
    SELECT nat, seg, band, CAST(COUNT(*) AS BIGINT) AS n
    FROM rows_b GROUP BY nat, seg, band
),
gb AS (SELECT band, CAST(SUM(n) AS BIGINT) AS gn FROM cb GROUP BY band),
bands AS (
    SELECT band, gn,
           CAST(SUM(gn) OVER (ORDER BY band
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum
    FROM gb
),
tot AS (SELECT CAST(SUM(gn) AS BIGINT) AS ng,
               CAST(COUNT(*) AS BIGINT) AS nb FROM bands),
classes AS (SELECT nat, seg, CAST(SUM(n) AS BIGINT) AS nc
            FROM cb GROUP BY nat, seg),
grid AS (
    SELECT c.nat, c.seg, c.nc, b.band, b.gcum, COALESCE(cb.n, 0) AS n
    FROM classes c CROSS JOIN bands b
    LEFT JOIN cb ON cb.nat = c.nat AND cb.seg = c.seg AND cb.band = b.band
),
cum AS (
    SELECT nat, seg, nc, band, gcum,
           CAST(SUM(n) OVER (PARTITION BY nat, seg ORDER BY band
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccum
    FROM grid
),
emd AS (
    SELECT nat, seg, nc,
           CAST(SUM(ABS(ng * ccum - nc * gcum)) AS BIGINT) AS emd_scaled
    FROM cum CROSS JOIN tot
    GROUP BY nat, seg, nc
)
SELECT nat AS nationkey, seg AS mktsegment, nc AS n_rows, emd_scaled,
       CAST(emd_scaled AS DOUBLE)
       / (CAST(nc AS DOUBLE) * CAST(ng AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
           AS t_value
FROM emd CROSS JOIN tot
ORDER BY t_value DESC, nationkey, mktsegment LIMIT {TCLOSE_TOP}
"""


@register("t_closeness_audit", TCLOSE_ORACLE)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the k-anonymity /
    DP release battery: for each quasi-identifier class (nation,
    segment), the Earth Mover's Distance between its ordered
    sensitive-attribute distribution (balance bands) and the global
    one — classes with high t leak balance information even when k is
    large. For ordered 1-D bands, EMD = sum |CDF_class - CDF_global| /
    (B-1).

    Exactness: the CDF difference cross-multiplies to the integer
    |N_g*cum_c - n_c*cum_g| (the label_centroid_drift discipline), so
    emd_scaled is an exact BIGINT; ONE double division normalizes to
    t in [0, 1].

    Scale: band domain is bounded (~12 balance bands), so the grid is
    #classes x #bands; all windows are per-class or over the bounded
    band frame — never over raw rows. At petabyte class counts the
    nc*ng product moves to DECIMAL; int64 holds through bench SFs."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal").cast("decimal(12,2)") / F.lit(1000)).cast(
        "long"
    )
    cb = (
        cust.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            band.alias("band"),
        )
        .groupBy("nat", "seg", "band")
        .agg(F.count("*").alias("n"))
        .persist()  # global bands, class totals AND the grid re-read it
    )
    gb = cb.groupBy("band").agg(F.sum("n").alias("gn"))
    wb = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    bands = gb.select("band", "gn", F.sum("gn").over(wb).alias("gcum"))
    tot = bands.agg(F.sum("gn").alias("ng"), F.count("*").alias("nb"))
    classes = cb.groupBy("nat", "seg").agg(F.sum("n").alias("nc"))
    grid = (
        classes.crossJoin(F.broadcast(bands.select("band", "gcum")))
        .join(cb, ["nat", "seg", "band"], "left")
        .select(
            "nat",
            "seg",
            "nc",
            "band",
            "gcum",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    wc = (
        Window.partitionBy("nat", "seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("ccum", F.sum("n").over(wc))
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "nat",
            "seg",
            "nc",
            F.abs(F.col("ng") * F.col("ccum") - F.col("nc") * F.col("gcum")).alias(
                "d"
            ),
        )
        .groupBy("nat", "seg", "nc")
        .agg(F.sum("d").alias("emd_scaled"))
    )
    return (
        emd.crossJoin(F.broadcast(tot))
        .select(
            F.col("nat").alias("nationkey"),
            F.col("seg").alias("mktsegment"),
            F.col("nc").alias("n_rows"),
            "emd_scaled",
            (
                F.col("emd_scaled").cast("double")
                / (
                    F.col("nc").cast("double")
                    * F.col("ng").cast("double")
                    * (F.col("nb") - 1).cast("double")
                )
            ).alias("t_value"),
        )
        .orderBy(F.desc("t_value"), F.asc("nationkey"), F.asc("mktsegment"))
        .limit(TCLOSE_TOP)
    )


# --- central-DP released counts (two-sided geometric mechanism) -------------

# The central-DP partner of dp_randomized_response (local DP): per cell,
# add two-sided geometric noise P(|k|) ~ 2^-|k| drawn from the cell's MD5
# bits — sign = bit 0, magnitude = leading-zero count of the remaining
# bits (a geometric(1/2) draw, the exact trick the HLL rho register
# uses). Deterministic, replayable, oracle-checkable, and the mechanism a
# real release pipeline would run with a secret seed instead of 'dpg_'.
_DPG_H = (
    "CAST('0x' || substr(md5('dpg_' || CAST(c_nationkey AS VARCHAR)), 1, 15)"
    " AS BIGINT)"
)

DPG_ORACLE = f"""
WITH cells AS (
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           {_DPG_H} AS h
    FROM customer GROUP BY c_nationkey
),
noise AS (
    SELECT c_nationkey, n_true,
           (h % 2) * 2 - 1 AS sign,
           CASE WHEN (h >> 1) = 0 THEN 54
                ELSE 54 - length(bin(h >> 1)) END AS mag
    FROM cells
)
SELECT c_nationkey, n_true,
       CAST(sign * mag AS BIGINT) AS noise,
       CAST(n_true + sign * mag AS BIGINT) AS n_noisy,
       CAST(greatest(n_true + sign * mag, 0) AS BIGINT) AS n_released
FROM noise
"""


@register("dp_geometric_counts", DPG_ORACLE)
def q_dp_geometric_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-DP count release: BUILDING-segment customers per nation
    with two-sided geometric noise (epsilon = ln 2 sign-magnitude
    mechanism), the true count for calibration and the non-negative
    released value. The geometric(1/2) magnitude is the leading-zero
    count of the cell's MD5 bits (the HLL rho trick as a noise
    generator) — shiftright + length(bin(..)), never double division
    (the dp_randomized_response bit-extraction gotcha).

    Scale: one keyed aggregate over customers; noise is a per-cell
    projection on the 25-row result."""
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_nationkey").agg(
        F.sum((F.col("c_mktsegment") == "BUILDING").cast("bigint")).alias(
            "n_true"
        )
    )
    h = hex_hash64(F.concat(F.lit("dpg_"), F.col("c_nationkey").cast("string")))
    w = F.shiftright(h, 1)
    sign = F.pmod(h, F.lit(2)) * 2 - 1
    mag = F.when(w == 0, F.lit(54)).otherwise(F.lit(54) - F.length(F.bin(w)))
    return cells.select(
        "c_nationkey",
        "n_true",
        (sign * mag).cast("long").alias("noise"),
        (F.col("n_true") + sign * mag).cast("long").alias("n_noisy"),
        F.greatest(F.col("n_true") + sign * mag, F.lit(0).cast("long"))
        .cast("long")
        .alias("n_released"),
    )


# --- t-closeness (ordered-attribute EMD per QI class) ------------------------

# Bands of the sensitive attribute (acctbal, floor/1000 like k_anonymity);
# EMD over an ordered attribute = sum_i |CDF_class(i) - CDF_global(i)|
# normalized by (m - 1) band steps. Cross-multiplied exact: per band,
# d_i = c_i * N - g_i * n_c (BIGINT); the class-prefix sum of d equals
# cum_c * N - cum_g * n_c, so t's numerator = sum_i |prefix(d)_i| stays
# integer until ONE double division by n_c * N * (m - 1).
TCLOSE_T = 0.2

TCLOSE_ORACLE = f"""
WITH src AS (
    SELECT c_nationkey AS nation, c_mktsegment AS seg,
           CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) AS BIGINT)
               AS band
    FROM customer
),
cb AS (
    SELECT nation, seg, band, CAST(COUNT(*) AS BIGINT) AS c
    FROM src GROUP BY 1, 2, 3
),
gb AS (
    SELECT band, CAST(COUNT(*) AS BIGINT) AS g FROM src GROUP BY 1
),
nc AS (
    SELECT nation, seg, CAST(COUNT(*) AS BIGINT) AS n_c
    FROM src GROUP BY 1, 2
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT band) AS BIGINT) AS m
    FROM src
),
grid AS (
    SELECT nc.nation, nc.seg, nc.n_c, gb.band, gb.g,
           COALESCE(cb.c, CAST(0 AS BIGINT)) AS c
    FROM nc CROSS JOIN gb
    LEFT JOIN cb ON cb.nation = nc.nation AND cb.seg = nc.seg
               AND cb.band = gb.band
),
pre AS (
    SELECT nation, seg, n_c, band,
           SUM(c * (SELECT n_total FROM tot) - g * n_c)
               OVER (PARTITION BY nation, seg ORDER BY band) AS d
    FROM grid
)
SELECT p.nation, p.seg, MAX(p.n_c) AS class_size,
       CAST(SUM(abs(p.d)) AS BIGINT) AS t_num,
       CAST(SUM(abs(p.d)) AS DOUBLE)
           / (MAX(p.n_c) * t.n_total * (t.m - 1)) AS t_closeness,
       CAST(SUM(abs(p.d)) AS DOUBLE)
           / (MAX(p.n_c) * t.n_total * (t.m - 1)) > {TCLOSE_T} AS breach
FROM pre p CROSS JOIN tot t
GROUP BY p.nation, p.seg, t.n_total, t.m
ORDER BY t_closeness DESC, p.nation, p.seg
"""


@register("t_closeness", TCLOSE_ORACLE)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (the release gate after k-anonymity and
    l-diversity): per QI class (nation, segment), the earth-mover
    distance between the class's sensitive-attribute distribution
    (account-balance band, ordered) and the global one, flagged against
    t = 0.2.

    Determinism: per-band deviations are cross-multiplied BIGINTs
    (c*N - g*n_c); the class prefix sum of those IS cum_c*N - cum_g*n_c,
    so the EMD numerator is exact integer; ONE double division at the
    end. Scale: two keyed aggregates over customer + an 11-band grid
    explode; every window is partitioned by QI class over m rows —
    nothing global, nothing data-length."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    src = cust.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal").cast("decimal(12,2)") / F.lit(1000))
        .cast("long")
        .alias("band"),
    )
    cb = src.groupBy("nation", "seg", "band").agg(
        F.count("*").cast("long").alias("c")
    )
    gb = src.groupBy("band").agg(F.count("*").cast("long").alias("g"))
    nc = src.groupBy("nation", "seg").agg(
        F.count("*").cast("long").alias("n_c")
    )
    tot = src.agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("band").cast("long").alias("m"),
    )
    grid = (
        nc.crossJoin(F.broadcast(gb))
        .join(cb, ["nation", "seg", "band"], "left")
        .select(
            "nation",
            "seg",
            "n_c",
            "band",
            "g",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    w = Window.partitionBy("nation", "seg").orderBy("band")
    pre = grid.crossJoin(F.broadcast(tot)).select(
        "nation",
        "seg",
        "n_c",
        "n_total",
        "m",
        F.sum(F.col("c") * F.col("n_total") - F.col("g") * F.col("n_c"))
        .over(w)
        .alias("d"),
    )
    t_num = F.sum(F.abs(F.col("d"))).cast("long")
    denom = (
        F.max("n_c") * F.max("n_total") * (F.max("m") - F.lit(1))
    ).cast("double")
    return (
        pre.groupBy("nation", "seg")
        .agg(
            F.max("n_c").alias("class_size"),
            t_num.alias("t_num"),
            (t_num.cast("double") / denom).alias("t_closeness"),
            (t_num.cast("double") / denom > F.lit(TCLOSE_T)).alias("breach"),
        )
        .orderBy(F.desc("t_closeness"), "nation", "seg")
    )


# --- user-level contribution capping (DP sensitivity bounding) ----------------

UCAP_K = 8

UCAP_ORACLE = f"""
WITH ranked AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_type, value) AS rk
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS total_events,
       CAST(SUM(CASE WHEN rk <= {UCAP_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS kept_events,
       CAST(SUM(cents) AS BIGINT) AS total_value_cents,
       CAST(SUM(CASE WHEN rk <= {UCAP_K} THEN cents ELSE 0 END) AS BIGINT)
           AS kept_value_cents,
       CAST((1000000 * SUM(CASE WHEN rk > {UCAP_K} THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS dropped_ppm
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


@register("user_contribution_capping", UCAP_ORACLE)
def q_user_contribution_capping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level contribution bounding — the preprocessing step every
    user-level-DP aggregate (and every abuse-robust metric) runs first:
    keep at most K = 8 events per user (earliest-first with a full
    (ts, type, value) tie-break), and report, per event type, how much
    event count and value mass the cap clips. kept_value_cents is the
    bounded-sensitivity aggregate a DP release would add noise to;
    dropped_ppm is the utility cost of the bound.

    Exactness: cents via the decimal cast convention; the rank's
    ordering key is total for aggregate purposes (rows identical in all
    three keys are interchangeable, so the kept MASS is well-defined);
    integer ppm division.

    Scale: one scan -> per-user window (shuffle on user_id) -> one
    per-type aggregate. The cap is exactly the per-key bounded-work
    idea the dedup caps use, applied to privacy sensitivity.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type", "value")
    ranked = ev.select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_events"),
            F.sum(F.when(F.col("rk") <= UCAP_K, 1).otherwise(0))
            .cast("long")
            .alias("kept_events"),
            F.sum("cents").cast("long").alias("total_value_cents"),
            F.sum(F.when(F.col("rk") <= UCAP_K, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("kept_value_cents"),
            F.expr(
                f"CAST((1000000 * SUM(CASE WHEN rk > {UCAP_K} THEN 1 ELSE 0"
                f" END)) div COUNT(*) AS BIGINT)"
            ).alias("dropped_ppm"),
        )
        .orderBy("event_type")
    )
