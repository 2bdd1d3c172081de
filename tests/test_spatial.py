"""Tests for the spatial grid operators (operators/spatial.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.spatial import (
    GRID_EXTENT,
    cell_histogram,
    grid_halo_join,
    grid_nearest_neighbor,
    hashed_points,
    with_cells,
)


def _pts(spark, coords):
    return spark.createDataFrame(
        [Row(id=i, x=x, y=y) for i, (x, y) in enumerate(coords)]
    ).select("id", F.col("x").cast("long"), F.col("y").cast("long"))


def test_grid_nn_matches_brute_force(spark):
    # deterministic pseudo-random point cloud, incl. cross-cell neighbors
    coords = [((i * 7919) % 1000, (i * 104729) % 1000) for i in range(60)]
    pts = _pts(spark, coords)
    radius = 120
    got = {
        r.qid: (r.nid, r.d2)
        for r in grid_nearest_neighbor(pts, pts, radius).collect()
    }
    # brute force in python
    want = {}
    for i, (xi, yi) in enumerate(coords):
        best = None
        for j, (xj, yj) in enumerate(coords):
            if i == j:
                continue
            d2 = (xi - xj) ** 2 + (yi - yj) ** 2
            if d2 <= radius * radius and (best is None or (d2, j) < best):
                best = (d2, j)
        if best is not None:
            want[i] = (best[1], best[0])
    assert got == want


def test_grid_halo_join_matches_brute_force(spark):
    """The shared halo join returns exactly the all-pairs filter at the
    density-adaptive cell, and joins as a shuffled hash join (a broadcast
    of the 9-way exploded probe is what it exists to avoid)."""
    n = 200
    coords = [
        ((i * 7919) % GRID_EXTENT, (i * 104729 * 37) % GRID_EXTENT)
        for i in range(n)
    ]
    cells, pairs = grid_halo_join(_pts(spark, coords))
    got = {(r.qid, r.nid, r.d2) for r in pairs.collect()}
    cell = GRID_EXTENT // max(1, int(n**0.5 / 2))
    want = {
        (i, j, (xi - xj) ** 2 + (yi - yj) ** 2)
        for i, (xi, yi) in enumerate(coords)
        for j, (xj, yj) in enumerate(coords)
        if i != j and (xi - xj) ** 2 + (yi - yj) ** 2 <= cell * cell
    }
    assert want and got == want
    assert {r.cell for r in cells.select("cell").distinct().collect()} == {cell}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_grid_nn_excludes_out_of_radius(spark):
    pts = _pts(spark, [(0, 0), (500, 0)])
    assert grid_nearest_neighbor(pts, pts, 100).count() == 0
    rows = grid_nearest_neighbor(pts, pts, 500).collect()
    assert {(r.qid, r.nid, r.d2) for r in rows} == {
        (0, 1, 250000),
        (1, 0, 250000),
    }


def test_hashed_points_in_extent_and_deterministic(spark):
    df = spark.createDataFrame([Row(c_custkey=k) for k in (1, 2, 3)])
    a = {r.id: (r.x, r.y) for r in hashed_points(df, "c_custkey").collect()}
    b = {r.id: (r.x, r.y) for r in hashed_points(df, "c_custkey").collect()}
    assert a == b
    for x, y in a.values():
        assert 0 <= x < 1_000_000 and 0 <= y < 1_000_000


def test_cell_histogram_counts(spark):
    pts = _pts(spark, [(5, 5), (7, 9), (25, 5), (26, 7), (27, 9)])
    rows = cell_histogram(pts, cell=10, k=5).collect()
    got = {(r.cx, r.cy): r.n_points for r in rows}
    assert got == {(0, 0): 2, (2, 0): 3}
    # ordering: densest first
    assert rows[0].n_points == 3


def test_density_anomaly_ratio_identity(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["spatial_density_anomaly"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    ratios = [r.density_ratio for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    for r in rows:
        assert 1 <= r.nbr_cells <= 8
        assert abs(
            r.density_ratio - r.n * r.nbr_cells / r.nbr_sum
        ) < 1e-12
