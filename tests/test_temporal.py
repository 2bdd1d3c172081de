from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.temporal import asof_join, range_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01 10:00:05"), 9.0),
            (2, 100, _ts("2024-01-01 10:00:20"), 9.5),
            (3, 200, _ts("2024-01-01 10:00:01"), 5.0),
            (4, 300, _ts("2024-01-01 10:00:10"), 1.0),  # no quote for 300
        ],
        ["event_id", "user_id", "ts", "value"],
    )
    quotes = spark.createDataFrame(
        [
            (100, _ts("2024-01-01 10:00:00"), 1.0),
            (100, _ts("2024-01-01 10:00:10"), 2.0),
            (100, _ts("2024-01-01 10:00:20"), 3.0),  # equal ts as trade 2
            (200, _ts("2024-01-01 10:00:02"), 7.0),  # after trade 3
        ],
        ["user_id", "ts", "value"],
    )
    return trades, quotes


def test_asof_join_semantics(trades_quotes):
    trades, quotes = trades_quotes
    got = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in asof_join(trades, quotes).collect()
    }
    assert got[1] == (_ts("2024-01-01 10:00:00"), 1.0)  # latest <= 10:00:05
    assert got[2] == (_ts("2024-01-01 10:00:20"), 3.0)  # equal ts visible
    assert got[3] == (None, None)  # quote is after the trade
    assert got[4] == (None, None)  # key never quoted
    assert len(got) == 4  # left-outer: every left row exactly once


def test_asof_join_preserves_left_columns(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes)
    assert out.columns == ["event_id", "user_id", "ts", "value", "asof_ts", "asof_value"]


def test_range_join_containment(spark):
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:30:00")),
            (2, _ts("2024-01-01 01:30:00")),  # outside the 90-min window
            (3, _ts("2024-01-01 06:10:00")),
            (4, _ts("2024-01-01 07:30:00")),  # exactly at end -> excluded
        ],
        ["event_id", "ts"],
    )
    intervals = spark.createDataFrame(
        [
            (0, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 01:30:00")),
            (1, _ts("2024-01-01 06:00:00"), _ts("2024-01-01 07:30:00")),
        ],
        ["interval_id", "start", "end"],
    )
    got = {
        (r["event_id"], r["interval_id"])
        for r in range_join(events, intervals, bucket="1 hour").collect()
    }
    assert got == {(1, 0), (3, 1)}


def test_range_join_overlapping_intervals(spark):
    events = spark.createDataFrame([(1, _ts("2024-01-01 00:30:00"))], ["event_id", "ts"])
    intervals = spark.createDataFrame(
        [
            (0, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 01:00:00")),
            (1, _ts("2024-01-01 00:15:00"), _ts("2024-01-01 00:45:00")),
        ],
        ["interval_id", "start", "end"],
    )
    got = {
        r["interval_id"]
        for r in range_join(events, intervals, bucket="15 minutes").collect()
    }
    assert got == {0, 1}  # one event, both containing intervals


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    n_l, n_r = 120, 80
    left = pd.DataFrame(
        {
            "event_id": range(n_l),
            "user_id": rng.integers(0, 5, n_l),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_l), unit="s"),
            "value": rng.normal(size=n_l).round(3),
        }
    ).sort_values("ts", ignore_index=True)
    right = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, n_r),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_r), unit="s"),
            "value": rng.normal(size=n_r).round(3),
        }
    ).sort_values("ts", ignore_index=True)
    # drop duplicate (user, ts) on the right: tie order is undefined there
    right = right.drop_duplicates(["user_id", "ts"], keep="first")

    want = pd.merge_asof(
        left,
        right.rename(columns={"ts": "ts_r", "value": "value_r"}),
        left_on="ts",
        right_on="ts_r",
        by="user_id",
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
        )
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    want = want.sort_values("event_id", ignore_index=True)
    assert (got["asof_ts"].isna() == want["ts_r"].isna()).all()
    mask = ~want["ts_r"].isna()
    assert (got.loc[mask, "asof_ts"].values == want.loc[mask, "ts_r"].values).all()
    assert (got.loc[mask, "asof_value"].values == want.loc[mask, "value_r"].values).all()


def test_range_join_matches_bruteforce(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(13)
    events = pd.DataFrame(
        {
            "event_id": range(200),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 100_000, 200), unit="s"),
        }
    )
    starts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 90_000, 30), unit="s"
    )
    intervals = pd.DataFrame(
        {
            "interval_id": range(30),
            "start": starts,
            "end": starts + pd.to_timedelta(rng.integers(600, 20_000, 30), unit="s"),
        }
    )
    want = {
        (int(e.event_id), int(i.interval_id))
        for e in events.itertuples()
        for i in intervals.itertuples()
        if i.start <= e.ts < i.end
    }
    got = {
        (r["event_id"], r["interval_id"])
        for r in range_join(
            spark.createDataFrame(events),
            spark.createDataFrame(intervals),
            bucket="1 hour",
        ).collect()
    }
    assert got == want


def test_asof_duplicate_right_timestamps_deterministic(spark):
    from amorphous_mapreduce_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(100, 1, 5.0)], ["event_id", "user_id", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # two right rows at the SAME (user_id, ts): carried payload must be
    # the greatest payload tuple, every run.
    right = spark.createDataFrame(
        [(1, 3.0, 10.0), (1, 3.0, 99.0), (1, 3.0, 42.0)],
        ["user_id", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    vals = [
        asof_join(left, right)
        .collect()[0]["asof_value"]
        for _ in range(3)
    ]
    assert vals == [99.0, 99.0, 99.0]


def test_gap_fill_daily_fills_missing_days(spark):
    import datetime as dt

    from amorphous_mapreduce_spark.operators.temporal import gap_fill_daily

    rows = [
        # type "a": events on day 1 and day 4 -> days 2,3 filled
        ("a", dt.datetime(2024, 3, 1, 10), 1.5),
        ("a", dt.datetime(2024, 3, 1, 11), 2.5),
        ("a", dt.datetime(2024, 3, 4, 9), 7.0),
        # type "b": only day 2 -> leading day 1 NULL, trailing filled
        ("b", dt.datetime(2024, 3, 2, 8), 3.0),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        (r.event_type, r.day.day): (r.n_events, r.filled_sum)
        for r in gap_fill_daily(ev).collect()
    }
    # full 4-day span for BOTH keys
    assert set(out) == {(t, d) for t in "ab" for d in (1, 2, 3, 4)}
    assert out[("a", 1)] == (2, 4.0)
    assert out[("a", 2)] == (0, 4.0)  # gap: carries day 1's sum
    assert out[("a", 3)] == (0, 4.0)
    assert out[("a", 4)] == (1, 7.0)
    assert out[("b", 1)] == (0, None)  # before first observation
    assert out[("b", 2)] == (1, 3.0)
    assert out[("b", 4)] == (0, 3.0)


def test_asof_forward_with_tolerance_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from amorphous_mapreduce_spark.operators.temporal import asof_join

    rng = np.random.default_rng(13)
    n_l, n_r = 100, 70
    left = pd.DataFrame(
        {
            "event_id": range(n_l),
            "user_id": rng.integers(0, 5, n_l),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_l), unit="s"),
        }
    ).sort_values("ts", ignore_index=True)
    right = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, n_r),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10_000, n_r), unit="s"),
            "value": rng.normal(size=n_r).round(3),
        }
    ).sort_values("ts", ignore_index=True)
    right = right.drop_duplicates(["user_id", "ts"], keep="first")

    tol_s = 1800
    want = pd.merge_asof(
        left,
        right.rename(columns={"ts": "ts_r", "value": "value_r"}),
        left_on="ts",
        right_on="ts_r",
        by="user_id",
        direction="forward",
        tolerance=pd.Timedelta(seconds=tol_s),
    ).sort_values("event_id", ignore_index=True)
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            direction="forward",
            tolerance_us=tol_s * 1_000_000,
        )
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    assert (got["asof_ts"].isna() == want["ts_r"].isna()).all()
    mask = ~want["ts_r"].isna()
    assert (got.loc[mask, "asof_ts"].values == want.loc[mask, "ts_r"].values).all()
    assert (
        got.loc[mask, "asof_value"].values == want.loc[mask, "value_r"].values
    ).all()


def test_feature_store_pit_no_leakage(spark, sf_dir):
    """Every PIT feature must derive only from events strictly before
    the label row in the (us, event_id) total order."""
    from amorphous_mapreduce_spark.queries_registry import QUERIES
    from amorphous_mapreduce_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = QUERIES["feature_store_pit"](spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .collect()
    )
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    for u in by_user:
        by_user[u].sort(key=lambda e: (e.us, e.event_id))
    checked = 0
    for r in rows[:200]:
        hist = [
            e
            for e in by_user[r.user_id]
            if (e.us, e.event_id) < (r.us, r.event_id)
        ]
        views = [e for e in hist if e.event_type == "view"]
        clicks = [e for e in hist if e.event_type == "click"]
        errors = [e for e in hist if e.event_type == "error"]
        assert r.last_view_value == (views[-1].value if views else None)
        assert r.last_click_value == (clicks[-1].value if clicks else None)
        expect_err = r.us - errors[-1].us if errors else None
        assert r.us_since_error == expect_err
        n7 = sum(
            1
            for e in by_user[r.user_id]
            if e.event_type == "view" and r.us - 604_800_000_000 <= e.us <= r.us - 1
        )
        assert r.n_views_7d == n7
        checked += 1
    assert checked > 0


def test_asof_nearest_tie_and_tolerance(spark):
    """Nearest as-of: min |delta| wins, exact ties prefer backward,
    tolerance nulls far matches, duplicate right timestamps resolve to
    the greatest payload on the backward side."""
    from pyspark.sql import Row

    from amorphous_mapreduce_spark.operators.temporal import asof_nearest_join

    left = spark.createDataFrame(
        [
            Row(id=1, user_id=1, us=100),   # tie: right at 90 and 110
            Row(id=2, user_id=1, us=205),   # nearer forward (210 vs 90/110)
            Row(id=3, user_id=1, us=500),   # nothing within tolerance
            Row(id=4, user_id=2, us=50),    # duplicate right ts payloads
        ]
    )
    right = spark.createDataFrame(
        [
            Row(user_id=1, us=90, v=1.0),
            Row(user_id=1, us=110, v=2.0),
            Row(user_id=1, us=210, v=3.0),
            Row(user_id=2, us=40, v=7.0),
            Row(user_id=2, us=40, v=9.0),
        ]
    )
    out = {
        r.id: r
        for r in asof_nearest_join(
            left, right, right_cols=("v",),
            tolerance_us=100,
        ).collect()
    }
    assert (out[1].asof_us, out[1].asof_v) == (90, 1.0)   # tie -> backward
    assert (out[2].asof_us, out[2].asof_v) == (210, 3.0)  # nearest forward
    assert out[3].asof_us is None and out[3].asof_v is None
    assert (out[4].asof_us, out[4].asof_v) == (40, 9.0)   # greatest payload


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """Seeded random parity with pandas merge_asof(direction='nearest')
    on tie-free data (distinct distances per probe)."""
    import numpy as np
    import pandas as pd

    from amorphous_mapreduce_spark.operators.temporal import asof_nearest_join

    rng = np.random.RandomState(7)
    # odd left timestamps, even right timestamps -> |delta| never ties
    left_pd = pd.DataFrame(
        {
            "id": np.arange(300),
            "user_id": rng.randint(0, 12, 300),
            "us": rng.choice(np.arange(1, 100001, 2), 300, replace=False),
        }
    )
    right_pd = pd.DataFrame(
        {
            "user_id": rng.randint(0, 12, 200),
            "us": rng.choice(np.arange(0, 100000, 2), 200, replace=False),
            "v": rng.rand(200),
        }
    )
    got = (
        asof_nearest_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            right_cols=("v",),
            tolerance_us=5000,
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        left_pd.sort_values("us"),
        right_pd.sort_values("us"),
        on="us",
        by="user_id",
        direction="nearest",
        tolerance=5000,
    ).sort_values("id").reset_index(drop=True)
    assert (got["asof_v"].isna() == want["v"].isna()).all()
    mask = want["v"].notna()
    assert np.allclose(got.loc[mask, "asof_v"], want.loc[mask, "v"])
