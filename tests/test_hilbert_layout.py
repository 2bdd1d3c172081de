"""Hilbert curve builder: exhaustive properties + layout-audit ordering."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_SMOKE


def test_hilbert_curve_bijection_and_unit_steps():
    """The generated DuckDB chain maps the full 256x256 grid to a
    permutation of [0, 65536) in which consecutive indices are grid
    neighbours — the defining property of a Hilbert curve."""
    from amorphous_mapreduce_spark.functions.hilbert import hilbert_cte_chain

    chain, last = hilbert_cte_chain(8, "x8, y8")
    sql = f"""
WITH cells AS (
    SELECT x8, y8
    FROM (SELECT unnest(generate_series(0, 255)) AS x8),
         (SELECT unnest(generate_series(0, 255)) AS y8)
),
pts AS (SELECT x8, y8, x8 AS hx, y8 AS hy, 0 AS hd FROM cells){chain},
seq AS (
    SELECT hd, x8, y8,
           lag(x8) OVER (ORDER BY hd) AS px,
           lag(y8) OVER (ORDER BY hd) AS py
    FROM {last}
)
SELECT COUNT(*) AS n,
       COUNT(DISTINCT hd) AS n_distinct,
       MIN(hd) AS lo, MAX(hd) AS hi,
       SUM(CASE WHEN px IS NULL THEN 0
                WHEN abs(x8 - px) + abs(y8 - py) = 1 THEN 0
                ELSE 1 END) AS bad_steps
FROM seq
"""
    n, n_distinct, lo, hi, bad = duckdb.connect().execute(sql).fetchone()
    assert (n, n_distinct, lo, hi, bad) == (65536, 65536, 0, 65535, 0)


def test_hilbert_beats_zorder_beats_linear(spark):
    """On the correlated price x quantity grid, tighter curves give
    smaller average shard bounding boxes."""
    from amorphous_mapreduce_spark import queries_registry as qr

    rows = qr.QUERIES["hilbert_layout_audit"](spark, SF_SMOKE).collect()
    area = {r["layout"]: r["avg_bbox_area"] for r in rows}
    assert set(area) == {"hilbert", "zorder", "linear"}
    assert area["hilbert"] <= area["zorder"] <= area["linear"]
    for r in rows:
        assert 0 <= r["n_skipped"] <= r["n_shards"]
        # zone-map pruning is sound: rows surviving the skip cover all matches
        assert r["rows_total"] - r["rows_skipped"] >= r["n_matches"]
