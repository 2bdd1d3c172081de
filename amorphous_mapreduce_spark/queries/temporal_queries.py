"""Temporal-join queries: as-of (DuckDB ASOF JOIN oracle) and range join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.temporal import asof_join, range_join
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

ASOF_ORACLE = """
WITH purchases AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), signups AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       s.ts AS asof_ts, s.value AS asof_value
FROM purchases p
ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register("asof_purchase_signup", ASOF_ORACLE)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase annotated with the user's most recent
    prior-or-simultaneous signup. Union+window formulation (one shuffle on
    user_id, per-key ordered carry-forward) vs DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join(purchases, signups)


RANGE_ORACLE = """
WITH intervals AS (
    SELECT i.range AS interval_id,
           TIMESTAMP '2024-01-01' + INTERVAL 6 HOUR * i.range AS start,
           TIMESTAMP '2024-01-01' + INTERVAL 6 HOUR * i.range
               + INTERVAL 90 MINUTE AS "end"
    FROM range(120) i
)
SELECT interval_id, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events JOIN intervals
  ON ts >= start AND ts < "end"
GROUP BY interval_id
"""


@register("events_range_join", RANGE_ORACLE)
def q_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events bucketed into 90-minute maintenance windows on a
    6-hour grid; bucketed equi-join turns the inequality predicate into a
    hash join (the inequality form is a nested loop at scale)."""
    ev = load_table(spark, sf_dir, "events")
    intervals = (
        spark.range(120)
        .select(F.col("id").alias("interval_id"))
        .withColumn(
            "start",
            F.lit("2024-01-01").cast("timestamp")
            + F.col("interval_id") * F.expr("INTERVAL 6 HOURS"),
        )
        .withColumn("end", F.col("start") + F.expr("INTERVAL 90 MINUTES"))
    )
    return (
        range_join(ev, intervals, bucket="1 hour")
        .groupBy("interval_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


GAPFILL_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, event_type AS k,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
    FROM events GROUP BY day, k
),
b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
spine AS (
    SELECT t.k, unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS day
    FROM (SELECT DISTINCT k FROM daily) t CROSS JOIN b
)
SELECT s.k AS event_type, s.day,
       COALESCE(d.n_events, 0) AS n_events,
       last_value(d.s IGNORE NULLS) OVER (
           PARTITION BY s.k ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
FROM spine s LEFT JOIN daily d ON s.k = d.k AND s.day = d.day
"""


@register("events_gap_fill", GAPFILL_ORACLE)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily rollup with forward fill (hypertable
    time_bucket_gapfill + locf shape): every (event_type, day) cell of
    the span exists, empty days carry the last observed daily sum."""
    from amorphous_mapreduce_spark.operators.temporal import gap_fill_daily

    return gap_fill_daily(load_table(spark, sf_dir, "events"))


FWD_ASOF_ORACLE = """
WITH views AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), purchases AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), ranked AS (
    SELECT v.event_id, v.user_id, v.ts,
           p.ts AS p_ts, p.value AS p_value,
           ROW_NUMBER() OVER (
               PARTITION BY v.event_id
               ORDER BY p.ts ASC, p.value ASC) AS rnk
    FROM views v JOIN purchases p
      ON p.user_id = v.user_id AND p.ts >= v.ts
)
SELECT v.event_id, v.user_id, v.ts,
       CASE WHEN epoch_us(r.p_ts) - epoch_us(v.ts) <= 86400000000
            THEN r.p_ts END AS asof_ts,
       CASE WHEN epoch_us(r.p_ts) - epoch_us(v.ts) <= 86400000000
            THEN r.p_value END AS asof_value
FROM views v
LEFT JOIN (SELECT * FROM ranked WHERE rnk = 1) r USING (event_id)
"""


@register("asof_view_next_purchase", FWD_ASOF_ORACLE)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance — conversion attribution: each view
    annotated with the user's NEXT purchase, nulled when it is more
    than 24h later. Same union+keyed-carry plan as the backward as-of
    (one shuffle on user_id, no row-pair blowup); the tolerance is a
    post-carry scalar mask, not a second join. Oracle is the explicit
    future-rank formulation (pair + rank + tolerance CASE)."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        views,
        purchases,
        direction="forward",
        tolerance_us=86_400_000_000,
    )


# --- point-in-time feature-store materialization ----------------------------

_PIT_7D_US = 604_800_000_000

PIT_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
    FROM events
),
feat AS (
    SELECT event_id, user_id, event_type, value, us,
           last_value(CASE WHEN event_type = 'view' THEN value END
                      IGNORE NULLS)
               OVER w_rows AS last_view_value,
           last_value(CASE WHEN event_type = 'click' THEN value END
                      IGNORE NULLS)
               OVER w_rows AS last_click_value,
           last_value(CASE WHEN event_type = 'error' THEN us END
                      IGNORE NULLS)
               OVER w_rows AS last_error_us,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END)
               OVER w_range AS n_views_7d
    FROM e
    WINDOW
        w_rows AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_range AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN {_PIT_7D_US} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, us, value AS label_value,
       last_view_value, last_click_value,
       us - last_error_us AS us_since_error,
       CAST(n_views_7d AS BIGINT) AS n_views_7d
FROM feat WHERE event_type = 'purchase'
"""


@register("feature_store_pit", PIT_ORACLE)
def q_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature-store materialization: for every purchase
    (the label row), the features visible STRICTLY BEFORE it — last
    view/click value, microseconds since the last error, and the 7-day
    view count — assembled leakage-free in ONE pass. This is the
    training-set join a feature store must get right: a ROWS frame
    ending at 1 PRECEDING can never see the label row, and all feature
    columns ride the same (user_id) window partition, so the whole
    matrix costs one shuffle regardless of how many features are added.

    Determinism: the carry frame orders by (us, event_id) — a total
    order — and the RANGE count frame is tie-order-insensitive by
    construction. Scale: per-user window sorts spill inside the window
    exec; no self-joins, no per-feature passes."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_PIT_7D_US, -1)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "us",
        F.last(
            F.when(F.col("event_type") == "view", F.col("value")),
            ignorenulls=True,
        )
        .over(w_rows)
        .alias("last_view_value"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("value")),
            ignorenulls=True,
        )
        .over(w_rows)
        .alias("last_click_value"),
        F.last(
            F.when(F.col("event_type") == "error", F.col("us")),
            ignorenulls=True,
        )
        .over(w_rows)
        .alias("last_error_us"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .over(w_range)
        .alias("n_views_7d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "us",
        F.col("value").alias("label_value"),
        "last_view_value",
        "last_click_value",
        (F.col("us") - F.col("last_error_us")).alias("us_since_error"),
        "n_views_7d",
    )


# --- nearest-direction as-of join -------------------------------------------

NEAREST_ORACLE = """
WITH purchases AS (
    SELECT event_id, user_id, epoch_us(ts) AS us, value
    FROM events WHERE event_type = 'purchase'
), errors AS (
    SELECT user_id, epoch_us(ts) AS us, value
    FROM events WHERE event_type = 'error'
), ranked AS (
    SELECT p.event_id, e.us AS e_us, e.value AS e_value,
           ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY ABS(e.us - p.us) ASC,
                        CASE WHEN e.us <= p.us THEN 0 ELSE 1 END ASC,
                        CASE WHEN e.us <= p.us THEN -e.value
                             ELSE e.value END ASC) AS rnk
    FROM purchases p JOIN errors e
      ON e.user_id = p.user_id AND ABS(e.us - p.us) <= 43200000000
)
SELECT p.event_id, p.user_id, p.us, p.value,
       r.e_us AS asof_us, r.e_value AS asof_value
FROM purchases p
LEFT JOIN (SELECT * FROM ranked WHERE rnk = 1) r USING (event_id)
"""


@register("asof_nearest_error", NEAREST_ORACLE)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (merge_asof direction='nearest'): each
    purchase annotated with the CLOSEST error event of the same user
    within ±12 h, preferring the earlier one on exact ties — incident
    correlation where cause may land just before or just after the
    effect. Two ordered carries in one (user_id) window partition plus
    a scalar chooser; the oracle is the explicit |Δ|-rank formulation.
    Completes the as-of family (backward / forward+tolerance /
    nearest)."""
    from amorphous_mapreduce_spark.operators.temporal import asof_nearest_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    return asof_nearest_join(
        purchases,
        errors,
        right_cols=("value",),
        tolerance_us=43_200_000_000,
    )


# --- Allen interval-algebra profile ------------------------------------------

ALLEN_ORACLE = """
WITH iv AS (
    SELECT user_id, event_type AS t,
           epoch_us(ts) // 604800000000 AS wk,
           CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS s,
           CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS e
    FROM events GROUP BY user_id, event_type, wk
),
pairs AS (
    SELECT a.user_id,
           CASE WHEN a.e < b.s THEN 'precedes'
                WHEN a.e = b.s THEN 'meets'
                WHEN a.s = b.s AND a.e = b.e THEN 'equals'
                WHEN a.s = b.s THEN 'starts'
                WHEN a.e = b.e THEN 'finished_by'
                WHEN a.e > b.e THEN 'contains'
                ELSE 'overlaps' END AS rel
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.wk = b.wk
     AND (a.s, a.e, a.t) < (b.s, b.e, b.t)
)
SELECT rel, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM pairs GROUP BY rel ORDER BY rel
"""


@register("allen_interval_profile", ALLEN_ORACLE)
def q_allen_interval_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra relation census over each user's per-type
    WEEKLY activity spans ([first day, last day] per event_type per
    epoch-week, day-resolution endpoints so boundary relations occur):
    every same-week ordered span pair classified into the seven
    canonical relations
    (precedes/meets/overlaps/starts/finished_by/contains/equals) — the
    interval-reasoning primitive under temporal joins, concurrency
    checks and SCD validation, here as a corpus-wide profile.

    Pairs are canonically ordered by the lexicographic (start, end,
    type) triple (struct/ROW comparison — identical semantics both
    engines), making the 7-relation CASE a total, deterministic
    classification in exact epoch-µs integers.

    Scale: intervals are one keyed aggregate over events; the pair join
    is keyed on (user, week) with a CONSTANT bound (|event_types| = 5
    -> <= 10 ordered pairs per key) — never a global inequality
    join."""
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.select(
            "user_id",
            F.col("event_type").alias("t"),
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("wk", F.expr("us div 604800000000"))
        .withColumn("day", F.expr("us div 86400000000"))
        .groupBy("user_id", "t", "wk")
        .agg(F.min("day").alias("s"), F.max("day").alias("e"))
        .persist()
    )
    a, b = iv.alias("a"), iv.alias("b")
    key_a = F.struct(F.col("a.s"), F.col("a.e"), F.col("a.t"))
    key_b = F.struct(F.col("b.s"), F.col("b.e"), F.col("b.t"))
    rel = (
        F.when(F.col("a.e") < F.col("b.s"), "precedes")
        .when(F.col("a.e") == F.col("b.s"), "meets")
        .when(
            (F.col("a.s") == F.col("b.s")) & (F.col("a.e") == F.col("b.e")),
            "equals",
        )
        .when(F.col("a.s") == F.col("b.s"), "starts")
        .when(F.col("a.e") == F.col("b.e"), "finished_by")
        .when(F.col("a.e") > F.col("b.e"), "contains")
        .otherwise("overlaps")
    )
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.wk") == F.col("b.wk"))
        & (key_a < key_b),
    ).select(F.col("a.user_id").alias("user_id"), rel.alias("rel"))
    return (
        pairs.groupBy("rel")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("rel")
    )


# --- trajectory similarity search (LCSS, signature-pruned) ----------------------

_TRAJ_LEN = 16   # sequence cap per user
_TRAJ_PANEL = 16
_TRAJ_CAP = 64   # verified candidates per signature bucket (md5 order)
_TRAJ_TOPM = 3

_TRAJ_QH = "CAST('0x' || substr(md5('traj_' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"
_TRAJ_CH = "CAST('0x' || substr(md5('tcap_' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"


def _traj_diag_cte(d: int) -> str:
    """LCS diagonal i+j = d. Missing predecessors default to 0 (the LCS
    base), so only the d-2 back-reference needs a d=3 special case."""
    ul = (
        f"""
    LEFT JOIN diag{d - 2} ul
           ON ul.qid = p.qid AND ul.cid = p.cid AND ul.i = p.i - 1
          AND ul.j = p.j - 1"""
        if d > 3
        else ""
    )
    ul_cost = f"COALESCE(ul.cost, 0)" if d > 3 else "0"
    return f"""
, diag{d} AS MATERIALIZED (
    SELECT p.qid, p.cid, p.i, p.j,
           CASE WHEN p.eq = 1 THEN {ul_cost} + 1
                ELSE GREATEST(COALESCE(u.cost, 0), COALESCE(l.cost, 0))
           END AS cost
    FROM tcells p
    LEFT JOIN diag{d - 1} u
           ON u.qid = p.qid AND u.cid = p.cid AND u.i = p.i - 1
          AND u.j = p.j
    LEFT JOIN diag{d - 1} l
           ON l.qid = p.qid AND l.cid = p.cid AND l.i = p.i
          AND l.j = p.j - 1{ul}
    WHERE p.i + p.j = {d}
)"""


def _traj_oracle() -> str:
    sql = f"""
WITH seqs AS MATERIALIZED (
    SELECT user_id,
           (list(event_type ORDER BY ts, event_type, value))[1:{_TRAJ_LEN}]
               AS seq
    FROM events GROUP BY user_id
    HAVING COUNT(*) >= 4
),
sigs AS MATERIALIZED (
    SELECT user_id, seq, seq[1] || '|' || seq[2] AS sig, len(seq) AS n
    FROM seqs
),
panel AS MATERIALIZED (
    SELECT user_id AS qid, seq AS qseq, sig, n AS qn
    FROM sigs ORDER BY {_TRAJ_QH}, user_id LIMIT {_TRAJ_PANEL}
),
capped AS MATERIALIZED (
    SELECT user_id AS cid, seq AS cseq, sig, n AS cn FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY sig ORDER BY {_TRAJ_CH}, user_id) AS rk
        FROM sigs
    ) WHERE rk <= {_TRAJ_CAP}
),
prs AS MATERIALIZED (
    SELECT p.qid, p.qseq, p.qn, c.cid, c.cseq, c.cn
    FROM panel p JOIN capped c USING (sig)
    WHERE c.cid <> p.qid
),
tcells AS MATERIALIZED (
    SELECT qid, cid, gi.i, gj.j,
           CASE WHEN qseq[gi.i] = cseq[gj.j] THEN 1 ELSE 0 END AS eq
    FROM prs
    CROSS JOIN (SELECT unnest(generate_series(1, {_TRAJ_LEN})) AS i) gi
    CROSS JOIN (SELECT unnest(generate_series(1, {_TRAJ_LEN})) AS j) gj
    WHERE gi.i <= qn AND gj.j <= cn
),
diag2 AS MATERIALIZED (
    SELECT qid, cid, i, j, eq AS cost FROM tcells WHERE i = 1 AND j = 1
)"""
    for d in range(3, 2 * _TRAJ_LEN + 1):
        sql += _traj_diag_cte(d)
    allcells = " UNION ALL ".join(
        f"SELECT * FROM diag{d}" for d in range(2, 2 * _TRAJ_LEN + 1)
    )
    return (
        sql
        + f""",
finals AS (
    SELECT a.qid, a.cid, a.cost AS lcs_len
    FROM ({allcells}) a
    JOIN prs ON prs.qid = a.qid AND prs.cid = a.cid
    WHERE a.i = prs.qn AND a.j = prs.cn
)
SELECT qid AS query_user, cid AS neighbor_user, lcs_len,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT qid, cid, lcs_len,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY lcs_len DESC, cid) AS rnk
      FROM finals)
WHERE rnk <= {_TRAJ_TOPM}
ORDER BY query_user, rank
"""
    )


@register("trajectory_similarity_topk", _traj_oracle())
def q_trajectory_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar user trajectories per query user (LCSS over
    capped 16-event event-type sequences) — the distributed trajectory
    top-k similarity-search primitive (cf. PAPERS.md REPOSE ICDE-2021),
    with REPOSE's pruning idea re-expressed Spark-first: candidates are
    verified ONLY inside the query's 2-event prefix-signature bucket,
    each bucket capped at the first 64 members in md5 order (the
    simhash_topm/LSH capped-occupancy pattern), so verification work is
    <= panel·cap LCS DPs at ANY corpus size. The 16-user query panel is
    hash-chosen (the quantization_recall panel trick).

    Exactness: sequences are totally ordered by (ts, type, value); LCS
    lengths are integers; ranks tie-break on neighbor id. The oracle
    unrolls the LCS DP by anti-diagonal (30 MATERIALIZED CTEs, missing
    predecessors default to the 0 base — unlike DTW's INF boundary).

    Scale: one events scan -> per-user sequence aggregate (shuffle on
    user), one signature-bucket window, then the constant-size verify
    set through ONE grouped kernel.
    """
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type", "value")
    seqs = (
        ev.select("user_id", "ts", "event_type", "value")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRAJ_LEN)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rk", "event_type"))
            ).alias("pairs"),
            F.count(F.lit(1)).alias("n_capped"),
            F.max("rk").alias("_mx"),
        )
        .join(
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_total")),
            "user_id",
        )
        .filter(F.col("n_total") >= 4)
        .select(
            "user_id",
            F.expr("transform(pairs, p -> p.event_type)").alias("seq"),
            F.col("n_capped").cast("long").alias("n"),
        )
        .withColumn(
            "sig", F.concat(F.expr("seq[0]"), F.lit("|"), F.expr("seq[1]"))
        )
        .persist()
    )
    qh = hex_hash64(F.concat(F.lit("traj_"), F.col("user_id").cast("string")))
    ch = hex_hash64(F.concat(F.lit("tcap_"), F.col("user_id").cast("string")))
    panel = (
        seqs.withColumn("_h", qh)
        .orderBy("_h", "user_id")
        .limit(_TRAJ_PANEL)
        .select(
            F.col("user_id").alias("qid"),
            F.col("seq").alias("qseq"),
            F.col("n").alias("qn"),
            "sig",
        )
    )
    wc = Window.partitionBy("sig").orderBy(ch.asc(), F.col("user_id").asc())
    capped = (
        seqs.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= _TRAJ_CAP)
        .select(
            F.col("user_id").alias("cid"),
            F.col("seq").alias("cseq"),
            F.col("n").alias("cn"),
            "sig",
        )
    )
    prs = (
        F.broadcast(panel)
        .join(capped, "sig")
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "qseq", "qn", "cid", "cseq", "cn")
    )
    topm = _TRAJ_TOPM

    def kernel(pdf):
        import pandas as pd

        rows = []
        for qid, qseq, qn, cid, cseq, cn in zip(
            pdf["qid"], pdf["qseq"], pdf["qn"], pdf["cid"], pdf["cseq"],
            pdf["cn"],
        ):
            a, b = list(qseq), list(cseq)
            prev = [0] * (len(b) + 1)
            for i in range(1, len(a) + 1):
                cur = [0] * (len(b) + 1)
                for j in range(1, len(b) + 1):
                    if a[i - 1] == b[j - 1]:
                        cur[j] = prev[j - 1] + 1
                    else:
                        cur[j] = max(prev[j], cur[j - 1])
                prev = cur
            rows.append((int(qid), int(cid), prev[len(b)]))
        return pd.DataFrame(rows, columns=["qid", "cid", "lcs_len"])

    scored = prs.mapInPandas(
        lambda it: (kernel(pdf) for pdf in it),
        "qid long, cid long, lcs_len long",
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("lcs_len"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= topm)
        .select(
            F.col("qid").alias("query_user"),
            F.col("cid").alias("neighbor_user"),
            "lcs_len",
            "rank",
        )
        .orderBy("query_user", "rank")
    )
