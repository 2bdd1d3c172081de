"""Welch A/B + exact EWMA invariants (stats/timeseries queries)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from amorphous_mapreduce_spark.queries_registry import QUERIES
from amorphous_mapreduce_spark.sources import load_table

q_ab_test_welch = QUERIES["ab_test_welch"]
q_ewma_user_value = QUERIES["ewma_user_value"]


def test_welch_matches_scipy_free_reference(spark, sf_dir):
    r = q_ab_test_welch(spark, sf_dir).collect()[0]
    # recompute from raw data in python (float) — t2 must agree closely
    import collections

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    )
    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    arms = collections.defaultdict(list)
    import hashlib

    for row in rows:
        h = int(hashlib.md5(f"ab_{row.o_custkey}".encode()).hexdigest()[:15], 16)
        arms[h % 2].append(round(row.o_totalprice * 100))
    a, b = arms[0], arms[1]
    assert r.n_a == len(a) and r.n_b == len(b)
    assert r.sum_a_cents == sum(a) and r.sum_b_cents == sum(b)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1) / len(a)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1) / len(b)
    t2 = (ma - mb) ** 2 / (va + vb)
    assert math.isfinite(r.t2) and abs(r.t2 - t2) < 1e-6 * max(1.0, t2)
    assert r.welch_df > min(len(a), len(b)) - 1  # Welch df >= min(n)-1
    assert r.significant_95 == (r.t2 > 3.841458820694124)


def test_ewma_weights_are_geometric(spark, sf_dir):
    rows = q_ewma_user_value(spark, sf_dir).collect()
    assert rows
    n_events = load_table(spark, sf_dir, "events").count()
    n_users = load_table(spark, sf_dir, "events").select(
        "user_id"
    ).distinct().count()
    assert len(rows) == n_users
    for r in rows:
        assert 1 <= r.n_used <= 20
        # denom = 2^20 - 2^(20-n)  (geometric partial sum of weights)
        assert r.denom_scaled == (1 << 20) - (1 << (20 - r.n_used))
        # ewma lies within [min, max] * denom of contributing values:
        # cheap sanity — value range is [0, ~100] dollars in fixtures
        assert 0 <= r.ewma_scaled <= 100000 * 100 * r.denom_scaled
    assert sum(r.n_used for r in rows) <= n_events


def test_rbo_bounds_and_perfect_self_overlap(spark, sf_dir):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["rbo_rankings"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_common <= 20
    assert 0 <= r.rbo_scaled <= r.rbo_denom
    # weight table consistency: perfect agreement would sum the full
    # denominator (sum over d of W(d) == denom)
    from amorphous_mapreduce_spark.queries.eval_queries import (
        _RBO_DENOM,
        _RBO_W,
    )

    assert sum(_RBO_W.values()) == _RBO_DENOM


def test_rolling_correlation_bounds(spark, sf_dir):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["rolling_correlation_14d"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        assert r.n == 14
        assert -1.0 - 1e-12 <= r.corr_14d <= 1.0 + 1e-12


def test_revenue_gini_in_unit_interval(spark, sf_dir):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["revenue_gini"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.gini < 1.0
    assert r.total_cents > 0 and r.n > 0


def test_brand_discount_ols_matches_numpy(spark, sf_dir):
    import numpy as np

    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["brand_discount_ols"](spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obs = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("p_brand", "l_discount", "l_extendedprice")
        .collect()
    )
    by_brand = {}
    for o in obs:
        by_brand.setdefault(o.p_brand, ([], []))
        by_brand[o.p_brand][0].append(round(float(o.l_discount) * 100))
        by_brand[o.p_brand][1].append(round(float(o.l_extendedprice) * 100))
    for r in rows[:5]:
        xs, ys = map(np.array, by_brand[r.brand])
        assert r.n == len(xs)
        if r.slope_cents_per_pt is None:
            assert np.ptp(xs) == 0
            continue
        sl, ic = np.polyfit(xs, ys, 1)
        assert abs(sl - r.slope_cents_per_pt) <= 1e-9 * max(1.0, abs(sl))
        assert abs(ic - r.intercept_cents) <= 1e-9 * max(1.0, abs(ic))


def test_gains_table_invariants(spark):
    from amorphous_mapreduce_spark.queries.eval_queries import (
        q_acctbal_revenue_gains,
    )

    rows = sorted(
        q_acctbal_revenue_gains(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(10))
    # cumulative gain monotone, ends at 1.0; shares sum to 1
    assert abs(rows[-1].cum_gain - 1.0) < 1e-12
    cums = [r.cum_gain for r in rows]
    assert cums == sorted(cums)
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-9
    # deciles are balanced within 1 customer
    sizes = [r.n_customers for r in rows]
    assert max(sizes) - min(sizes) <= 1


def test_power_iteration_matches_exact_integer_replay(spark):
    import numpy as np

    from amorphous_mapreduce_spark.queries.eval_queries import (
        GRAM_QUANT,
        PI_ITERS,
        PI_SCALE,
        q_embedding_power_iteration,
    )
    from amorphous_mapreduce_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = q_embedding_power_iteration(spark, sf).collect()
    got = [r.v_q for r in sorted(rows, key=lambda r: r.dim)]

    emb = np.array(
        [
            r.embedding
            for r in load_table(spark, sf, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=float,
    )
    q = np.round(emb * GRAM_QUANT).astype(object)  # python ints, no overflow
    gram = (q.T @ q).tolist()
    d = len(gram)

    def tdiv(a, b):  # truncate-toward-zero division (Spark div / DuckDB //)
        return abs(a) // abs(b) * (1 if (a >= 0) == (b > 0) else -1)

    v = [PI_SCALE] * d
    for _ in range(PI_ITERS):
        gv = [sum(int(gram[i][j]) * v[j] for j in range(d)) for i in range(d)]
        m = max(1, tdiv(max(abs(x) for x in gv), PI_SCALE))
        v = [tdiv(x, m) for x in gv]
    assert got == v

    # the iterate captures most of the top eigenvalue even on this
    # near-isotropic spectrum (rayleigh quotient bound)
    Gf = np.array([[float(x) for x in row] for row in gram])
    vf = np.array(v, dtype=float)
    rayleigh = vf @ Gf @ vf / (vf @ vf)
    lam_max = np.linalg.eigvalsh(Gf)[-1]
    assert rayleigh >= 0.9 * lam_max


def test_weighted_median_matches_numpy_style(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        q_weighted_median_price,
    )
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        r.nation: (r.total_weight, r.weighted_median_cents)
        for r in q_weighted_median_price(spark, sf).collect()
    }
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("n")
    )
    rows = (
        li.select(
            F.col("l_suppkey").alias("s_suppkey"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("p"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .join(sup, "s_suppkey")
        .join(nat, "s_nationkey")
        .collect()
    )
    import collections

    per = collections.defaultdict(list)
    for r in rows:
        per[r.n].append((r.p, r.w))
    for nation, pw in per.items():
        pw.sort()
        total = sum(w for _, w in pw)
        cum = 0
        med = None
        for p, w in pw:
            cum += w
            if 2 * cum >= total:
                med = p
                break
        assert got[nation] == (total, med), nation


def test_session_entry_exit_bounce_consistency(spark):
    from amorphous_mapreduce_spark.queries.analytics_queries import (
        q_session_entry_exit,
    )

    rows = q_session_entry_exit(spark, "/root/testdata/sf0.001").collect()
    # total entries == total exits (every session has exactly one of each)
    assert sum(r.n_entries for r in rows) == sum(r.n_exits for r in rows)
    for r in rows:
        assert 0 <= r.n_bounces <= min(r.n_entries, r.n_exits)
        if r.n_entries:
            assert abs(r.bounce_rate - r.n_bounces / r.n_entries) < 1e-12


def test_postings_varint_bytes_exact(spark):
    from amorphous_mapreduce_spark.queries.text_queries import (
        q_postings_compression,
    )

    rows = q_postings_compression(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        # each posting costs 1..8 varint bytes
        assert r.df <= r.bytes_varint <= 8 * r.df
        assert r.bytes_fixed == 8 * r.df
        assert abs(r.compression_ratio - r.bytes_varint / r.bytes_fixed) < 1e-12


def test_theil_sen_matches_python(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        q_theil_sen_trend,
    )
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F
    import collections

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r for r in q_theil_sen_trend(spark, sf).collect()}
    ev = (
        load_table(spark, sf, "events")
        .select(
            "event_type",
            (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .count()
        .collect()
    )
    per = collections.defaultdict(dict)
    for r in ev:
        per[r.event_type][r.day] = r["count"]
    for et, dc in per.items():
        days = sorted(dc)
        slopes = []
        for i, d1 in enumerate(days):
            for d2 in days[i + 1 :]:
                slopes.append(((dc[d2] - dc[d1]) / (d2 - d1), d1, d2))
        slopes.sort()
        lower_median = slopes[(len(slopes) + 1) // 2 - 1][0]
        assert got[et].n_days == len(days)
        assert got[et].n_pairs == len(slopes)
        assert got[et].ts_slope == lower_median


def test_neyman_allocation_sums_to_budget(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        NEYMAN_BUDGET,
        q_neyman_allocation,
    )

    rows = q_neyman_allocation(spark, "/root/testdata/sf0.001").collect()
    assert abs(sum(r.alloc_share for r in rows) - 1.0) < 1e-9
    total = sum(r.n_alloc for r in rows)
    # floor rounding can undershoot by at most one per stratum
    assert NEYMAN_BUDGET - len(rows) <= total <= NEYMAN_BUDGET
    for r in rows:
        assert r.n_alloc >= 0


def test_did_cells_partition_events(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        q_diff_in_diff_value,
    )
    from amorphous_mapreduce_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = q_diff_in_diff_value(spark, sf).collect()
    total = sum(r.n_tp + r.n_tr + r.n_cp + r.n_cr for r in rows)
    assert total == load_table(spark, sf, "events").count()


def test_median_ci_brackets_median(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        q_median_order_value_ci,
    )

    for r in q_median_order_value_ci(spark, "/root/testdata/sf0.001").collect():
        assert r.ci_lo_cents <= r.median_cents <= r.ci_hi_cents
        assert r.n_orders >= 1


def test_tukey_quartiles_and_fences(spark):
    from amorphous_mapreduce_spark.queries.stats_queries import (
        q_tukey_price_outliers,
    )

    rows = q_tukey_price_outliers(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.q1_cents <= r.q3_cents
        assert 0 <= r.n_low_outliers + r.n_high_outliers <= r.n


def test_prf_expansion_beats_or_matches_base_recall(spark):
    from amorphous_mapreduce_spark.queries.text_queries import (
        BM25_TERMS,
        q_prf_expanded_retrieval,
    )

    rows = q_prf_expanded_retrieval(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # expanded query has 3 base + 3 expansion terms max
        assert 1 <= r.n_matched_terms <= len(BM25_TERMS) + 3
        assert r.score_scaled > 0


def test_brown_smoothing_level_trend_identities(spark):
    from amorphous_mapreduce_spark.queries.timeseries_queries import (
        q_brown_trend_smoothing,
    )

    rows = q_brown_trend_smoothing(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        s1 = r.s1_scaled / r.d1_scaled
        s2 = r.s2_scaled / r.d2_scaled
        assert abs(r.level_cents - (2 * s1 - s2)) < 1e-9
        assert abs(r.trend_cents - (s1 - s2)) < 1e-9
        assert 1 <= r.n_used <= 20


def test_brown_constant_series_has_zero_trend(spark):
    import datetime

    from pyspark.sql import Row

    from amorphous_mapreduce_spark.queries.timeseries_queries import _BROWN_K

    # constant value series -> s1 == s2 == value, trend == 0
    # (exercise the operator inline on a synthetic frame)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            Row(
                user_id=1,
                event_id=i,
                ts=base + datetime.timedelta(minutes=i),
                value=7.00,
            )
            for i in range(30)
        ]
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc(F.unix_micros(F.col("ts").cast("timestamp"))), F.desc("event_id")
    )
    ranked = df.select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= _BROWN_K)
    w1 = F.expr("shiftleft(CAST(1 AS BIGINT), 22 - rn)")
    w2 = F.expr("rn * shiftleft(CAST(1 AS BIGINT), 21 - rn)")
    r = ranked.groupBy("user_id").agg(
        F.sum(F.col("cents") * w1).alias("s1"),
        F.sum(w1).alias("d1"),
        F.sum(F.col("cents") * w2).alias("s2"),
        F.sum(w2).alias("d2"),
    ).collect()[0]
    assert r.s1 / r.d1 == 700.0
    assert r.s2 / r.d2 == 700.0


def test_threshold_sweep_monotone(spark):
    from amorphous_mapreduce_spark.queries.similarity_queries import (
        q_embedding_threshold_sweep,
    )

    rows = sorted(
        q_embedding_threshold_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.threshold,
    )
    pairs = [r.n_pairs for r in rows]
    cov = [r.n_docs_covered for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert cov == sorted(cov, reverse=True)


def test_haar_energy_parseval_total(spark):
    import numpy as np

    from amorphous_mapreduce_spark.queries.timeseries_queries import (
        q_haar_revenue_energy,
    )
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = {r.level: r for r in q_haar_revenue_energy(spark, sf).collect()}
    # recompute coefficients in python from the daily series
    daily = (
        load_table(spark, sf, "orders")
        .select(
            (
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86_400_000_000)
            )
            .cast("long")
            .alias("day"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
        .collect()
    )
    d0 = min(r.day for r in daily)
    series = {}
    for r in daily:
        off = r.day - d0
        if off < 32:
            series[off] = r.cents
    for level in range(5):
        coeffs = {}
        for off, c in series.items():
            i = off >> (level + 1)
            sign = 1 - 2 * ((off >> level) & 1)
            coeffs[i] = coeffs.get(i, 0) + sign * c
        want = sum(v * v for v in coeffs.values())
        got = rows[level].energy_hi * 1048576 + rows[level].energy_lo
        assert got == want, level
        assert rows[level].n_coeffs == len(coeffs)


def test_segment_migration_rows_shares(spark):
    from amorphous_mapreduce_spark.queries.analytics_queries import (
        q_segment_migration_matrix,
    )
    import collections

    rows = q_segment_migration_matrix(spark, "/root/testdata/sf0.001").collect()
    shares = collections.defaultdict(float)
    for r in rows:
        assert r.from_tercile in (0, 1, 2)
        assert r.to_state in (0, 1, 2, 3)
        shares[r.from_tercile] += r.row_share
    for v in shares.values():
        assert abs(v - 1.0) < 1e-9


def test_decision_stump_matches_brute_force(spark):
    from amorphous_mapreduce_spark.queries.eval_queries import (
        q_decision_stump_dup,
    )
    from amorphous_mapreduce_spark.operators.dedup import normalize_text
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F
    import collections

    sf = "/root/testdata/sf0.001"
    got = q_decision_stump_dup(spark, sf).collect()[0]
    docs = (
        load_table(spark, sf, "documents")
        .select("n_chars", F.md5(normalize_text()).alias("h"))
        .collect()
    )
    counts = collections.Counter(r.h for r in docs)
    pts = [(r.n_chars, 1 if counts[r.h] > 1 else 0) for r in docs]
    hist = collections.defaultdict(lambda: [0, 0])
    for x, y in pts:
        hist[x][0] += 1
        hist[x][1] += y
    n = len(pts)
    npos = sum(y for _, y in pts)
    best = None
    n_l = pos_l = 0
    for x in sorted(hist):
        n_l += hist[x][0]
        pos_l += hist[x][1]
        if n_l >= n:
            continue
        num = float(pos_l * (n - n_l) - (npos - pos_l) * n_l)
        score = num * num / (float(n_l) * float(n - n_l))
        key = (-score, x)
        if best is None or key < best[0]:
            best = (key, x, n_l, pos_l)
    assert got.split_value == best[1]
    assert got.n_left == best[2]
    assert got.pos_left == best[3]


def test_yoy_alignment_is_same_weekday(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["yoy_same_weekday"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows[:50]:
        # day-364 lands on the same weekday by construction
        assert (r.day + 4) % 7 == r.dow
        assert r.delta_cents == r.cents - r.cents_ly


def test_correlation_matrix_matches_numpy(spark):
    import numpy as np

    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    r = QUERIES["lineitem_correlation_matrix"](spark, sf).collect()[0]
    li = (
        load_table(spark, sf, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("q"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("p"),
            (F.col("l_discount").cast("decimal(4,2)") * 100)
            .cast("long")
            .alias("d"),
        )
        .collect()
    )
    q = np.array([x.q for x in li], dtype=float)
    p = np.array([x.p for x in li], dtype=float)
    d = np.array([x.d for x in li], dtype=float)
    assert abs(r.r_qty_price - np.corrcoef(q, p)[0, 1]) < 1e-9
    assert abs(r.r_qty_discount - np.corrcoef(q, d)[0, 1]) < 1e-9
    assert abs(r.r_price_discount - np.corrcoef(p, d)[0, 1]) < 1e-9
    assert r.n == len(li)


def test_cramers_v_in_unit_interval(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["cramers_v_association"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0.0 <= r.cramers_v <= 1.0
    assert r.n_levels_a >= 2 and r.n_levels_b >= 2
    assert r.chi2_scaled >= 0


def test_oof_encoding_excludes_own_fold(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    import collections

    rows = QUERIES["oof_target_encoding"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_brand = collections.defaultdict(list)
    for r in rows:
        by_brand[r.brand].append(r)
    for brand, cells in by_brand.items():
        n_tot = sum(c.n_fold for c in cells)
        pos_tot = sum(c.pos_fold for c in cells)
        for c in cells:
            if n_tot != c.n_fold:
                want = (pos_tot - c.pos_fold) / (n_tot - c.n_fold)
                assert abs(c.oof_encoding - want) < 1e-12


def test_wilson_ci_brackets_rate(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    for r in QUERIES["return_rate_wilson_ci"](
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert 0.0 <= r.wilson_lo <= r.rate <= r.wilson_hi <= 1.0


def test_dispersion_flag_consistent_with_index(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    for r in QUERIES["count_dispersion_index"](
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert (r.dispersion_index > 1.0) == bool(r.overdispersed)


def test_qini_curve_shape(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = sorted(
        QUERIES["qini_uplift_curve"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.bucket,
    )
    assert rows and all(0 <= r.bucket <= 4 for r in rows)
    for r in rows:
        assert r.conv_t <= r.n_t and r.conv_c <= r.n_c


def test_hhi_bounds(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    for r in QUERIES["brand_hhi_by_month"](
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert r.hhi_floor - 1e-12 <= r.hhi <= 1.0 + 1e-12
        assert r.n_brands >= 1


def test_spearman_persistence_in_range(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["part_rank_persistence"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_parts > 1
    assert -1.0 - 1e-12 <= r.spearman_rho <= 1.0 + 1e-12
    # identity: sum_d2 determines rho exactly
    n = r.n_parts
    assert abs(r.spearman_rho - (1 - 6 * r.sum_d2 / (n * (n * n - 1)))) < 1e-12


def test_new_vs_returning_partitions_revenue(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["new_vs_returning_revenue"](spark, sf).collect()
    total = sum(r.new_cents + r.returning_cents for r in rows)
    want = (
        load_table(spark, sf, "orders")
        .select(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("c")
        )
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    assert total == want
    # every customer's first month contributes to exactly one new bucket
    assert sum(r.new_customers for r in rows) == (
        load_table(spark, sf, "orders").select("o_custkey").distinct().count()
    )


def test_cohort_half_life_bounds(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["cohort_half_life"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.cohort_size >= 1
        assert r.max_offset >= 0
        if r.half_life_weeks is not None:
            assert 1 <= r.half_life_weeks <= r.max_offset
