"""Spatial grid operators: cell-blocked radius / nearest-neighbor joins.

The geospatial sibling of the banded dedup joins (operators/dedup.py):
points are bucketed into fixed-size grid cells, and a radius-R query
touches only the 3x3 cell neighborhood — an equi-join on cell ids with
a bounded 9-way fanout, never an all-pairs distance join. This is the
standard scale pattern for spatial joins (geohash / S2-cell bucketing)
expressed with plain DataFrame ops; distances are EXACT integer
squared-Euclidean so any engine reproduces them bit-for-bit.

Coordinates here are derived deterministically from MD5
(functions.hashing.hex_hash64) because the TPC-H-ish fixtures carry no
geography — the *plumbing* (cell assignment, neighborhood explode,
keyed join, per-query top-1) is the real operator and is
coordinate-source agnostic.

Reference tie-in: cell bucketing is the reference's hash-partition
placement (W6, src/word_count.rs:117-120) applied to 2-D keys; the
9-cell neighborhood is the tiling/grid capability (G3,
src/outer_product.rs:146-169) with a fixed halo of 1.

Scale: |cells| ~ area / C² is corpus-independent; per-cell occupancy is
density-bounded, so the candidate fanout per query point is O(9 * rho)
with rho = points per cell. The nearest-neighbor pick is a window keyed
by query id. Skewed cells (urban hotspots) are the usual AQE skew-join
territory; cell size C is the knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.functions.hashing import hex_hash64

GRID_EXTENT = 1_000_000  # synthetic planar world: [0, 1e6) x [0, 1e6)


def hashed_points(df: DataFrame, key_col: str) -> DataFrame:
    """[id, x, y]: deterministic planar coordinates for each key —
    MD5-derived so DuckDB replays them exactly."""
    k = F.col(key_col)
    return df.select(
        k.alias("id"),
        F.pmod(
            hex_hash64(F.concat(F.lit("gx_"), k.cast("string"))),
            F.lit(GRID_EXTENT),
        ).alias("x"),
        F.pmod(
            hex_hash64(F.concat(F.lit("gy_"), k.cast("string"))),
            F.lit(GRID_EXTENT),
        ).alias("y"),
    )


def with_cells(points: DataFrame, cell: int) -> DataFrame:
    """Attach grid-cell coordinates (integer division by cell size) and
    the cell size itself: [*, cx, cy, cell]."""
    return points.select(
        "*",
        (F.col("x") / F.lit(cell)).cast("long").alias("cx"),
        (F.col("y") / F.lit(cell)).cast("long").alias("cy"),
        F.lit(cell).cast("long").alias("cell"),
    )


def halo_pairs(queries: DataFrame, points: DataFrame) -> DataFrame:
    """Every (query, OTHER point) pair within one cell size (L2):
    [qid, nid, d2], d2 the exact integer squared distance.

    Both inputs are [id, x, y, cx, cy, cell] frames on the same grid.
    Cell size = search radius guarantees every point within it lies in
    the query's 3x3 cell neighbourhood (lossless blocking, same argument
    as the q-gram length bands in operators/fuzzy.py). The neighbourhood
    is a 9-row explode on the QUERY side (bounded), followed by one
    equi-join on (cx, cy) and the exact ``d2 <= cell²`` filter.
    """
    probe = (
        queries.select(
            F.col("id").alias("qid"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            "cell",
            "cx",
            "cy",
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "qid",
            "qx",
            "qy",
            "cell",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    # shuffled-hash on the grid key (round 9, guide §3.1): Catalyst's
    # size estimate after the 9-way halo explode undercounts the probe
    # side, so the planner BROADCAST the 1.35M-row exploded frame
    # (~160 MB hashed relation built on the driver) against the 150k-row
    # cells cache in lof_outliers at sf0.1 — measured 8.6 s for the
    # query. Forcing a shuffled hash join with the points side as build
    # ran the same query in 3.6 s and is the 100 TB shape: both sides
    # are corpus-sized, the grid key of hashed coordinates is uniform,
    # and neither side can be assumed broadcastable.
    return (
        probe.join(
            points.select(
                F.col("id").alias("nid"), "x", "y", "cx", "cy"
            ).hint("shuffle_hash"),
            ["cx", "cy"],
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", d2.alias("d2"), "cell")
        .filter(F.col("d2") <= F.col("cell") * F.col("cell"))
        .select("qid", "nid", "d2")
    )


def grid_halo_join(points: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Density-adaptive grid self-join over [id, x, y] points:
    (cells [id, x, y, cx, cy, cell], pairs [qid, nid, d2]).

    The cell adapts to density: cell = 1e6 div max(1, floor(sqrt(n)/2)),
    so expected occupancy is ~4 and halo candidates stay ~36 per point
    at any corpus size. ``pairs`` is :func:`halo_pairs` of the cells
    frame with itself — every ordered pair of distinct points within one
    cell size. ``cells`` is persisted: the probe and candidate sides of
    the join both read it.
    """
    scal = points.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.sqrt(F.count("*").cast("double")) / 2.0).cast("long"),
        ).alias("axis")
    )
    cells = points.crossJoin(F.broadcast(scal)).select(
        "id",
        "x",
        "y",
        F.expr(f"x div ({GRID_EXTENT} div axis)").alias("cx"),
        F.expr(f"y div ({GRID_EXTENT} div axis)").alias("cy"),
        F.expr(f"{GRID_EXTENT} div axis").alias("cell"),
    ).persist()
    return cells, halo_pairs(cells, cells)


def grid_nearest_neighbor(
    points: DataFrame,
    queries: DataFrame,
    radius: int,
) -> DataFrame:
    """For each query point, the nearest OTHER point within ``radius``
    (L2), found via 3x3 grid-cell blocking with cell size = radius
    (:func:`halo_pairs`): [qid, nid, d2] — d2 the exact integer squared
    distance, nearest chosen by (d2, nid) total order with a per-query
    keyed top-1 window.
    """
    within = halo_pairs(with_cells(queries, radius), with_cells(points, radius))
    w = Window.partitionBy("qid").orderBy("d2", "nid")
    return (
        within.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", "nid", "d2")
    )


def cell_histogram(points: DataFrame, cell: int, k: int = 20) -> DataFrame:
    """Top-k densest grid cells: [cx, cy, n_points] — the hotspot scan
    (one hash aggregate on cell ids + TakeOrderedAndProject)."""
    return (
        with_cells(points, cell)
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_points"))
        .orderBy(F.desc("n_points"), "cx", "cy")
        .limit(k)
    )
