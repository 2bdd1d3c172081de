"""Spatial grid-join queries (operators/spatial.py).

Geospatial battery over MD5-derived planar coordinates: grid-cell
blocked nearest-neighbor (the lossless 3x3 halo join) and hotspot cell
density — the two shapes every geo pipeline runs (delivery matching,
store-catchment density). Coordinates are synthetic (the fixtures have
no geography) but the operator plumbing — cell bucketing, halo explode,
keyed equi-join, per-query top-1 — is exactly what runs on real
lat/lon after a fixed-point projection.

Reference tie-in: 2-D hash placement (W6, src/word_count.rs:117-120) +
grid tiling with halo 1 (G3, src/outer_product.rs:146-169).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.spatial import (
    cell_histogram,
    grid_halo_join,
    grid_nearest_neighbor,
    hashed_points,
)
from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table

NN_RADIUS = 50_000
HOT_CELL = 20_000
HOT_K = 20


def _coord(axis: str) -> str:
    return (
        f"CAST('0x' || substr(md5('g{axis}_' || CAST(c_custkey AS VARCHAR)),"
        " 1, 15) AS BIGINT) % 1000000"
    )


_PTS_CTE = f"""
pts AS (
    SELECT c_custkey AS id, {_coord('x')} AS x, {_coord('y')} AS y
    FROM customer
)
"""

NN_ORACLE = (
    "WITH "
    + _PTS_CTE
    + f"""
, cells AS (
    SELECT id, x, y, x // {NN_RADIUS} AS cx, y // {NN_RADIUS} AS cy FROM pts
),
q AS (
    SELECT id AS qid, x AS qx, y AS qy, cx, cy
    FROM cells WHERE id % 20 = 0
),
probe AS (
    SELECT qid, qx, qy, q.cx + dx.o AS cx, q.cy + dy.o AS cy
    FROM q
    CROSS JOIN (VALUES (-1), (0), (1)) AS dx(o)
    CROSS JOIN (VALUES (-1), (0), (1)) AS dy(o)
),
cand AS (
    SELECT p.qid, c.id AS nid,
           (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy) AS d2
    FROM probe p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy
    WHERE c.id <> p.qid
)
SELECT qid, nid, d2 FROM (
    SELECT qid, nid, d2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
    FROM cand WHERE d2 <= {NN_RADIUS * NN_RADIUS}
) WHERE rn = 1
"""
)


@register("spatial_nearest_neighbor", NN_ORACLE)
def q_spatial_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest other customer within 50k planar units for every 20th
    customer — grid-cell blocked (cell = radius, lossless 3x3 halo),
    exact integer squared distances, (d2, id) total-order pick.

    Scale: ONE equi-join on cell ids with a 9-row query-side halo
    explode; candidate volume is 9 x cell occupancy per query, never
    all-pairs. The top-1 window is keyed per query point."""
    cust = load_table(spark, sf_dir, "customer")
    points = hashed_points(cust, "c_custkey")
    queries = points.filter(F.col("id") % 20 == 0)
    return grid_nearest_neighbor(points, queries, NN_RADIUS)


HOT_ORACLE = (
    "WITH "
    + _PTS_CTE
    + f"""
SELECT x // {HOT_CELL} AS cx, y // {HOT_CELL} AS cy,
       CAST(COUNT(*) AS BIGINT) AS n_points
FROM pts
GROUP BY cx, cy
ORDER BY n_points DESC, cx, cy
LIMIT {HOT_K}
"""
)


@register("spatial_hotspots", HOT_ORACLE)
def q_spatial_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 densest 20k-unit grid cells — the hotspot density scan
    (one hash aggregate on cell ids, TakeOrderedAndProject top-k).
    The cell grid is area-bounded (50x50 here), corpus-independent."""
    cust = load_table(spark, sf_dir, "customer")
    return cell_histogram(hashed_points(cust, "c_custkey"), HOT_CELL, HOT_K)


# --- grid-density (DBSCAN-style) clustering ---------------------------------

DB_CELL = 100_000
DB_MINPTS = 18

_CELL_ID = "cx * 1024 + cy"

DBSCAN_ORACLE = (
    "WITH RECURSIVE "
    + _PTS_CTE.strip()
    + f"""
, cells AS (
    SELECT x // {DB_CELL} AS cx, y // {DB_CELL} AS cy,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM pts GROUP BY 1, 2
),
cores AS (
    SELECT cx, cy, n_points, {_CELL_ID} AS cell_id
    FROM cells WHERE n_points >= {DB_MINPTS}
),
nbr AS (
    SELECT a.cell_id AS ida, b.cell_id AS idb
    FROM cores a JOIN cores b
      ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
     AND a.cell_id != b.cell_id
),
reach(src, dst) AS (
    SELECT cell_id, cell_id FROM cores
    UNION
    SELECT r.src, n.idb FROM reach r JOIN nbr n ON r.dst = n.ida
),
labels AS (
    SELECT src AS cell_id, MIN(dst) AS cluster FROM reach GROUP BY src
)
SELECT l.cluster,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.n_points) AS BIGINT) AS n_points,
       CAST(MIN(c.cx) AS BIGINT) AS min_cx,
       CAST(MAX(c.cx) AS BIGINT) AS max_cx,
       CAST(MIN(c.cy) AS BIGINT) AS min_cy,
       CAST(MAX(c.cy) AS BIGINT) AS max_cy
FROM labels l JOIN cores c ON l.cell_id = c.cell_id
GROUP BY l.cluster
"""
)


@register("spatial_density_clusters", DBSCAN_ORACLE)
def q_spatial_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (the scalable DBSCAN skeleton): cells
    with >= 18 points are CORE; adjacent core cells (8-neighborhood)
    merge into clusters via connected components — per cluster, its
    cell/point mass and bounding box. This is how density clustering
    actually runs at 100 TB: per-cell counting first (one aggregate),
    graph work only over the corpus-independent core-cell set.

    Scale: the only data-sized stage is the cell count; core cells are
    area-bounded; adjacency is a 9-offset bounded explode equi-join;
    components use the bounded-round min-label propagation
    (operators/graph.py). Oracle: recursive closure over cell edges."""
    from amorphous_mapreduce_spark.operators.graph import connected_components

    cust = load_table(spark, sf_dir, "customer")
    pts = hashed_points(cust, "c_custkey")
    cells = (
        pts.select(
            (F.col("x") / F.lit(DB_CELL)).cast("long").alias("cx"),
            (F.col("y") / F.lit(DB_CELL)).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_points"))
    )
    cores = cells.filter(F.col("n_points") >= DB_MINPTS).select(
        "cx", "cy", "n_points", (F.col("cx") * 1024 + F.col("cy")).alias("cell_id")
    ).persist()
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    probe = cores.select(
        F.col("cell_id").alias("qid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("cx"),
                        (F.col("cy") + F.lit(dy)).alias("cy"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("nb"),
    ).select("qid", F.col("nb.cx").alias("cx"), F.col("nb.cy").alias("cy"))
    edges = probe.join(
        cores.select("cx", "cy", F.col("cell_id").alias("nid")), ["cx", "cy"]
    ).select("qid", "nid")
    comp = connected_components(
        edges, nodes=cores.select(F.col("cell_id").alias("id"))
    )
    return (
        comp.select(F.col("id").alias("cell_id"), F.col("component").alias("cluster"))
        .join(cores, "cell_id")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n_points").alias("n_points"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
    )


# --- neighborhood density anomaly (grid LOF) --------------------------------

LOF_CELL = 50_000
LOF_TOP = 20

LOF_ORACLE = (
    "WITH "
    + _PTS_CTE.strip()
    + f"""
, cells AS (
    SELECT x // {LOF_CELL} AS cx, y // {LOF_CELL} AS cy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pts GROUP BY 1, 2
),
nbr AS (
    SELECT c.cx, c.cy, c.n,
           CAST(SUM(o.n) AS BIGINT) AS nbr_sum,
           CAST(COUNT(*) AS BIGINT) AS nbr_cells
    FROM cells c
    JOIN cells o ON abs(c.cx - o.cx) <= 1 AND abs(c.cy - o.cy) <= 1
                AND NOT (c.cx = o.cx AND c.cy = o.cy)
    GROUP BY c.cx, c.cy, c.n
)
SELECT cx, cy, n, nbr_sum, nbr_cells,
       CAST(n * nbr_cells AS DOUBLE) / CAST(nbr_sum AS DOUBLE)
           AS density_ratio
FROM nbr
WHERE nbr_sum > 0
ORDER BY CAST(n * nbr_cells AS DOUBLE) / CAST(nbr_sum AS DOUBLE) DESC,
         cx, cy
LIMIT {LOF_TOP}
"""
)


@register("spatial_density_anomaly", LOF_ORACLE)
def q_spatial_density_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid local-outlier scan: each cell's density relative to its
    8-neighborhood mean (the LOF idea at cell granularity) — the
    top-20 relative SPIKES, i.e. cells several times denser than their
    surroundings (fraud rings, sensor glitches, bot farms in geo
    data). The ratio n*nbr_cells/nbr_sum keeps the comparison exact
    (integer numerator, one division).

    Scale: one cell-count aggregate; the neighborhood sum is the same
    bounded 3x3 adjacency join as the density clusters (expressed as
    a |dx|<=1 band join over the area-bounded cell frame); top-k is a
    TakeOrderedAndProject. Completes the spatial family: NN, hotspots,
    clustering, anomaly."""
    cust = load_table(spark, sf_dir, "customer")
    pts = hashed_points(cust, "c_custkey")
    cells = (
        pts.select(
            (F.col("x") / F.lit(LOF_CELL)).cast("long").alias("cx"),
            (F.col("y") / F.lit(LOF_CELL)).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    offsets = [
        (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    ]
    probe = cells.select(
        F.col("cx").alias("ocx"),
        F.col("cy").alias("ocy"),
        F.col("n").alias("n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("cx"),
                        (F.col("cy") + F.lit(dy)).alias("cy"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("nb"),
    ).select("ocx", "ocy", "n", F.col("nb.cx").alias("cx"), F.col("nb.cy").alias("cy"))
    nbr = (
        probe.join(
            cells.select("cx", "cy", F.col("n").alias("on")), ["cx", "cy"]
        )
        .groupBy(
            F.col("ocx").alias("cx"), F.col("ocy").alias("cy"), F.col("n")
        )
        .agg(F.sum("on").alias("nbr_sum"), F.count("*").alias("nbr_cells"))
    )
    ratio = (F.col("n") * F.col("nbr_cells")).cast("double") / F.col(
        "nbr_sum"
    ).cast("double")
    return (
        nbr.filter(F.col("nbr_sum") > 0)
        .select("cx", "cy", "n", "nbr_sum", "nbr_cells", ratio.alias("density_ratio"))
        .orderBy(F.desc("density_ratio"), F.asc("cx"), F.asc("cy"))
        .limit(LOF_TOP)
    )


# --- Local Outlier Factor (k=3) ---------------------------------------------

# Density-RATIO outliers: spatial_density_anomaly flags sparse CELLS;
# LOF scores each point by how much sparser its neighborhood is than
# its neighbors' neighborhoods — the classic local-density detector.
# k = 3. The grid is DENSITY-ADAPTIVE: cell = 1e6 div max(1,
# floor(sqrt(n)/2)) keeps expected cell occupancy ~4 at every SF, so
# the 3x3-halo candidate volume stays ~36 per point whether n is 1.5k
# or 150k (a fixed cell would go quadratic at 100x). Exactness: LOF's
# lrd ratios collapse to integer ratios — lrd(o)/lrd(p) =
# sumreach(p)/sumreach(o) with sumreach = sum of max(kdist(o), d2) —
# so LOF*k quantizes to sum((sumreach_p * 2^20) div sumreach_o) and
# one double division lands the score. floor(sqrt(n)) on an exact
# integer is engine-identical (correctly-rounded sqrt both sides).

_LOF_K = 3
_LOF_TOP = 20

_LOF_PTS = """
pts AS (
    SELECT o_orderkey AS id,
           CAST('0x' || substr(md5('gx_' || CAST(o_orderkey AS VARCHAR)),
                1, 15) AS BIGINT) % 1000000 AS x,
           CAST('0x' || substr(md5('gy_' || CAST(o_orderkey AS VARCHAR)),
                1, 15) AS BIGINT) % 1000000 AS y
    FROM orders
),
scal AS (
    SELECT GREATEST(CAST(1 AS BIGINT),
                    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) / 2.0)
                         AS BIGINT)) AS axis
    FROM pts
),
cells AS (
    SELECT id, x, y,
           x // (1000000 // axis) AS cx, y // (1000000 // axis) AS cy,
           (1000000 // axis) AS cell
    FROM pts CROSS JOIN scal
)
"""

LOF_ORACLE = (
    "WITH "
    + _LOF_PTS
    + f""",
probe AS (
    SELECT id AS qid, x AS qx, y AS qy, cell,
           cx + dx.o AS cx, cy + dy.o AS cy
    FROM cells
    CROSS JOIN (VALUES (-1), (0), (1)) AS dx(o)
    CROSS JOIN (VALUES (-1), (0), (1)) AS dy(o)
),
cand AS (
    SELECT p.qid, c.id AS nid,
           (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy) AS d2
    FROM probe p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy
    WHERE c.id <> p.qid
      AND (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy)
          <= p.cell * p.cell
),
knn AS (
    SELECT qid, nid, d2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
    FROM cand
),
k3 AS (SELECT qid, nid, d2 FROM knn WHERE rn <= {_LOF_K}),
full3 AS (
    SELECT qid FROM k3 GROUP BY qid HAVING COUNT(*) = {_LOF_K}
),
kdist AS (
    SELECT knn.qid, knn.d2 AS kd
    FROM knn JOIN full3 f ON f.qid = knn.qid
    WHERE rn = {_LOF_K}
),
reach AS (
    SELECT k3.qid,
           CAST(SUM(GREATEST(kd.kd, k3.d2)) AS BIGINT) AS sumreach
    FROM k3
    JOIN full3 f ON f.qid = k3.qid
    JOIN kdist kd ON kd.qid = k3.nid
    GROUP BY k3.qid
    HAVING COUNT(*) = {_LOF_K}
),
lof AS (
    SELECT k3.qid,
           CAST(SUM((rp.sumreach * 1048576) // ro.sumreach) AS BIGINT)
               AS lof_q
    FROM k3
    JOIN reach rp ON rp.qid = k3.qid
    JOIN reach ro ON ro.qid = k3.nid
    GROUP BY k3.qid
    HAVING COUNT(*) = {_LOF_K}
)
SELECT qid AS id, lof_q,
       CAST(lof_q AS DOUBLE) / ({_LOF_K}.0 * 1048576.0) AS lof
FROM lof
ORDER BY lof_q DESC, id
LIMIT {_LOF_TOP}
"""
)


@register("lof_outliers", LOF_ORACLE)
def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 Local Outlier Factor (k=3) points over the hashed order
    plane: each point's neighborhood density against its neighbors' —
    the local-ratio detector that catches outliers a global density
    threshold misses.

    Scale: the grid cell adapts to density (cell = 1e6 div
    floor(sqrt(n)/2), expected occupancy ~4), so halo candidates stay
    ~36/point at ANY SF; all joins are (cx, cy) or id equi-joins and
    windows are per-point. Determinism: squared distances, k-distances
    and reach sums are exact integers; lrd ratios cross-multiply to
    (sumreach_p * 2^20) div sumreach_o; one double division at the end.
    Points whose 3-NN set (or a neighbor's) is incomplete within one
    cell radius are excluded on both engines alike."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    _, cand = grid_halo_join(hashed_points(orders, "o_orderkey"))
    w = Window.partitionBy("qid").orderBy("d2", "nid")
    # rank, then CUT to rn <= k BEFORE persisting: only the top-k rows
    # are ever read again (k3 / kdist / completeness), and the full
    # candidate frame is ~5x larger — persisting it cost ~3x wall-clock
    # at sf0.1
    knn = (
        cand.select("qid", "nid", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _LOF_K)
        .persist()
    )
    k3 = knn.select("qid", "nid", "d2")
    full3 = (
        k3.groupBy("qid").agg(F.count("*").alias("c"))
        .filter(F.col("c") == _LOF_K)
        .select("qid")
    )
    kdist = (
        knn.filter(F.col("rn") == _LOF_K)
        .join(full3, "qid")
        .select(F.col("qid").alias("kid"), F.col("d2").alias("kd"))
    )
    reach = (
        k3.join(full3, "qid")
        .join(kdist, k3["nid"] == kdist["kid"])
        .groupBy("qid")
        .agg(
            F.sum(F.greatest(F.col("kd"), F.col("d2")))
            .cast("long")
            .alias("sumreach"),
            F.count("*").alias("nc"),
        )
        .filter(F.col("nc") == _LOF_K)
        .select("qid", "sumreach")
        .persist()  # both sides of the ratio join read it
    )
    rp = reach.select(F.col("qid").alias("pid"), F.col("sumreach").alias("sp"))
    ro = reach.select(F.col("qid").alias("oid"), F.col("sumreach").alias("so"))
    lof = (
        k3.join(rp, k3["qid"] == rp["pid"])
        .join(ro, k3["nid"] == ro["oid"])
        .groupBy("qid")
        .agg(
            F.sum(F.expr("(sp * 1048576) div so")).cast("long").alias("lof_q"),
            F.count("*").alias("nc"),
        )
        .filter(F.col("nc") == _LOF_K)
    )
    return (
        lof.select(
            F.col("qid").alias("id"),
            "lof_q",
            (
                F.col("lof_q").cast("double")
                / (float(_LOF_K) * 1048576.0)
            ).alias("lof"),
        )
        .orderBy(F.desc("lof_q"), "id")
        .limit(_LOF_TOP)
    )


# --- DBSCAN point classification --------------------------------------------

# The point-level DBSCAN taxonomy on the hashed order plane:
# core (>= MINPTS neighbors within eps), border (not core but adjacent
# to one), noise (neither) — spatial_density_clusters already builds
# the cluster graph over core CELLS; this is the per-point
# classification that feeds it, with eps = the density-adaptive cell
# (the lof_outliers grid) so the halo join stays O(1) per point.

_DB_MINPTS = 4

_DB_CELLS = """
pts AS (
    SELECT o_orderkey AS id,
           CAST('0x' || substr(md5('gx_' || CAST(o_orderkey AS VARCHAR)),
                1, 15) AS BIGINT) % 1000000 AS x,
           CAST('0x' || substr(md5('gy_' || CAST(o_orderkey AS VARCHAR)),
                1, 15) AS BIGINT) % 1000000 AS y
    FROM orders
),
scal AS (
    SELECT GREATEST(CAST(1 AS BIGINT),
                    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) / 2.0)
                         AS BIGINT)) AS axis
    FROM pts
),
cells AS (
    SELECT id, x, y,
           x // (1000000 // axis) AS cx, y // (1000000 // axis) AS cy,
           (1000000 // axis) AS cell
    FROM pts CROSS JOIN scal
),
probe AS (
    SELECT id AS qid, x AS qx, y AS qy, cell,
           cx + dx.o AS cx, cy + dy.o AS cy
    FROM cells
    CROSS JOIN (VALUES (-1), (0), (1)) AS dx(o)
    CROSS JOIN (VALUES (-1), (0), (1)) AS dy(o)
),
nbr AS (
    SELECT p.qid, c.id AS nid
    FROM probe p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy
    WHERE c.id <> p.qid
      AND (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy)
          <= p.cell * p.cell
)
"""

DBSCAN_ORACLE = (
    "WITH "
    + _DB_CELLS
    + f""",
deg AS (
    SELECT c.id, CAST(COALESCE(n.dg, 0) AS BIGINT) AS dg
    FROM cells c
    LEFT JOIN (SELECT qid, COUNT(*) AS dg FROM nbr GROUP BY qid) n
        ON n.qid = c.id
),
core AS (SELECT id FROM deg WHERE dg >= {_DB_MINPTS}),
border AS (
    SELECT DISTINCT nbr.qid AS id
    FROM nbr JOIN core ON core.id = nbr.nid
    WHERE nbr.qid NOT IN (SELECT id FROM core)
),
cls AS (
    SELECT deg.id, deg.dg,
           CASE WHEN deg.id IN (SELECT id FROM core) THEN 'core'
                WHEN deg.id IN (SELECT id FROM border) THEN 'border'
                ELSE 'noise' END AS label
    FROM deg
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(dg) AS BIGINT) AS sum_degree,
       CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
FROM cls GROUP BY label
ORDER BY label
"""
)


@register("dbscan_point_classes", DBSCAN_ORACLE)
def q_dbscan_point_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's core/border/noise taxonomy over the hashed order plane
    (minPts = 4, eps = the density-adaptive grid cell): the point-level
    classification under spatial_density_clusters' cell-graph view —
    how much of the plane is dense mass vs fringe vs noise.

    Determinism: neighbor counts are exact integers from the lossless
    3x3-halo join; class rules are pure set logic. Scale: the adaptive
    cell keeps halo candidates O(1) per point; core/border resolve with
    one aggregate and one semi/anti join pair."""
    orders = load_table(spark, sf_dir, "orders")
    cells, pairs = grid_halo_join(hashed_points(orders, "o_orderkey"))
    # degree count + the border join both read it
    nbr = pairs.select("qid", "nid").persist()
    deg = (
        cells.select("id")
        .join(
            nbr.groupBy("qid").agg(F.count("*").alias("dg")),
            cells["id"] == F.col("qid"),
            "left",
        )
        .select("id", F.coalesce("dg", F.lit(0)).cast("long").alias("dg"))
    )
    core = deg.filter(F.col("dg") >= _DB_MINPTS).select("id").persist()
    # core builds a shuffled hash join (halo_pairs' hint); unhinted, the
    # planner broadcast the 1.9M-row nbr frame (66 MB at sf0.1).
    border = (
        nbr.join(
            core.select(F.col("id").alias("nid")).hint("shuffle_hash"), "nid"
        )
        .select(F.col("qid").alias("id"))
        .distinct()
        .join(core, "id", "left_anti")
    )
    cls = (
        deg.join(core.select("id", F.lit(True).alias("is_core")), "id", "left")
        .join(
            border.select("id", F.lit(True).alias("is_border")), "id", "left"
        )
        .select(
            "id",
            "dg",
            F.when(F.col("is_core"), "core")
            .when(F.col("is_border"), "border")
            .otherwise("noise")
            .alias("label"),
        )
    )
    return (
        cls.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("dg").cast("long").alias("sum_degree"),
            F.min("id").cast("long").alias("min_id"),
            F.max("id").cast("long").alias("max_id"),
        )
        .orderBy("label")
    )


# --- k-distance knee (DBSCAN eps selection) ----------------------------------

# How you PICK eps: sort every point's k-th-NN squared distance
# descending and find the knee — the point of maximum deviation below
# the first-to-last chord. With integer distances and exact global
# ranks, the chord deviation is one integer cross product,
# score(r, d) = (n-1)*(d1 - d) - (r-1)*(d1 - dn), and the knee is a
# total-order argmax — no geometry libm anywhere.

KNEE_ORACLE = (
    "WITH "
    + _DB_CELLS
    + f""",
knn AS (
    SELECT p.qid, 
           (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy) AS d2,
           ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY (c.x - p.qx) * (c.x - p.qx)
                      + (c.y - p.qy) * (c.y - p.qy), c.id) AS rn
    FROM probe p JOIN cells c ON p.cx = c.cx AND p.cy = c.cy
    WHERE c.id <> p.qid
      AND (c.x - p.qx) * (c.x - p.qx) + (c.y - p.qy) * (c.y - p.qy)
          <= p.cell * p.cell
),
kd AS (
    SELECT qid, d2 AS kdist FROM knn WHERE rn = {_LOF_K}
),
curve AS (
    SELECT qid, kdist,
           CAST(ROW_NUMBER() OVER (ORDER BY kdist DESC, qid) AS BIGINT) AS r
    FROM kd
),
ends AS (
    -- the curve is sorted by kdist DESC, so its endpoints are simply
    -- the extrema: d1 = MAX(kdist), dn = MIN(kdist)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(kdist) AS BIGINT) AS d1,
           CAST(MIN(kdist) AS BIGINT) AS dn
    FROM kd
),
scored AS (
    SELECT c.r, c.qid, c.kdist, e.n,
           (e.n - 1) * (e.d1 - c.kdist) - (c.r - 1) * (e.d1 - e.dn)
               AS score
    FROM curve c CROSS JOIN ends e
)
SELECT n, r AS knee_rank, qid AS knee_id, kdist AS knee_kd2, score,
       sqrt(CAST(kdist AS DOUBLE)) AS eps_suggest
FROM scored
ORDER BY score DESC, r LIMIT 1
"""
)


@register("kdist_knee_eps", KNEE_ORACLE)
def q_kdist_knee_eps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DBSCAN eps selector: the knee of the descending 3rd-NN
    squared-distance curve as the maximum integer chord deviation
    (n-1)*(d1-d) - (r-1)*(d1-dn) — pairs with dbscan_point_classes,
    which consumes the radius this query recommends.

    Scale: k-th distances ride the adaptive-grid halo join; the global
    descending rank rides the two-phase distributed prefix scan (no
    single-partition window over points); the knee is a TakeOrdered
    top-1. Determinism: all-integer geometry, (score, rank) total
    order, sqrt only on the final suggested eps."""
    from amorphous_mapreduce_spark.operators.corpus_stats import (
        distributed_prefix_sum,
    )
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    _, pairs = grid_halo_join(hashed_points(orders, "o_orderkey"))
    w = Window.partitionBy("qid").orderBy("d2", "nid")
    kd = (
        pairs.select("qid", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == _LOF_K)
        .select("qid", F.col("d2").alias("kdist"), F.lit(1).alias("one"))
    )
    curve = distributed_prefix_sum(
        kd, "one", [F.col("kdist").desc(), F.col("qid")], cum_col="_c",
        rank_col="r",
    ).select("qid", "kdist", "r").persist()  # ends + scoring both read it
    # curve endpoints are the kdist extrema (sorted desc)
    ends = curve.agg(
        F.count("*").cast("long").alias("n"),
        F.max("kdist").cast("long").alias("d1"),
        F.min("kdist").cast("long").alias("dn"),
    )
    scored = curve.crossJoin(F.broadcast(ends)).select(
        "r",
        "qid",
        "kdist",
        "n",
        (
            (F.col("n") - 1) * (F.col("d1") - F.col("kdist"))
            - (F.col("r") - 1) * (F.col("d1") - F.col("dn"))
        ).alias("score"),
    )
    return (
        scored.select(
            "n",
            F.col("r").alias("knee_rank"),
            F.col("qid").alias("knee_id"),
            F.col("kdist").alias("knee_kd2"),
            "score",
            F.sqrt(F.col("kdist").cast("double")).alias("eps_suggest"),
        )
        .orderBy(F.desc("score"), "knee_rank")
        .limit(1)
    )


# --- diversified top-k region search ----------------------------------------------

_DTR_K = 5
_DTR_SEP = 2  # picked cells must differ by > SEP in cx or cy (Chebyshev)


def _dtr_round_ctes(r: int, prev: str) -> str:
    return f"""
, pick{r} AS MATERIALIZED (
    SELECT {r} AS rank, cx, cy, n_points
    FROM {prev}
    ORDER BY n_points DESC, cx, cy LIMIT 1
), rem{r} AS MATERIALIZED (
    SELECT d.* FROM {prev} d CROSS JOIN pick{r} p
    WHERE abs(d.cx - p.cx) > {_DTR_SEP} OR abs(d.cy - p.cy) > {_DTR_SEP}
)"""


def _dtr_oracle() -> str:
    sql = (
        "WITH "
        + _PTS_CTE
        + f"""
, cells0 AS MATERIALIZED (
    SELECT x // {HOT_CELL} AS cx, y // {HOT_CELL} AS cy,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM pts GROUP BY 1, 2
)"""
    )
    prev = "cells0"
    for r in range(1, _DTR_K + 1):
        sql += _dtr_round_ctes(r, prev)
        prev = f"rem{r}"
    picks = " UNION ALL ".join(
        f"SELECT * FROM pick{r}" for r in range(1, _DTR_K + 1)
    )
    return (
        sql
        + f"""
SELECT CAST(rank AS BIGINT) AS rank, cx, cy, n_points
FROM ({picks}) ORDER BY rank
"""
    )


@register("diversified_top_regions", _dtr_oracle())
def q_diversified_top_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k best-region search (cf. PAPERS.md EDBT-2020):
    greedily pick the 5 densest 20k-unit grid cells such that no two
    picks are within Chebyshev distance 2 of each other in cell space —
    the "show me distinct hotspots, not five tiles of one blob" query.
    The spatial twin of mmr_diverse_retrieval's relevance-vs-diversity
    greedy, with exact integer scores (no quantization needed).

    Scale: one distributed point scan -> the AREA-bounded cell
    histogram (50x50 at any corpus size); the 5 greedy rounds run on
    that constant frame with localCheckpoint per round (the
    seasonal_esd iterative-argmax template, plus a spatial-exclusion
    filter instead of row removal). Oracle: 5 unrolled MATERIALIZED
    pick/remainder rounds.
    """
    from amorphous_mapreduce_spark.operators.spatial import with_cells

    cust = load_table(spark, sf_dir, "customer")
    cells = (
        with_cells(hashed_points(cust, "c_custkey"), HOT_CELL)
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .localCheckpoint()
    )
    rem = cells
    picks = []
    for r in range(1, _DTR_K + 1):
        pick = (
            rem.select(F.lit(r).alias("rank"), "cx", "cy", "n_points")
            .orderBy(F.desc("n_points"), F.asc("cx"), F.asc("cy"))
            .limit(1)
            .localCheckpoint()
        )
        picks.append(pick)
        p = pick.select(
            F.col("cx").alias("pcx"), F.col("cy").alias("pcy")
        )
        rem = (
            rem.crossJoin(F.broadcast(p))
            .filter(
                (F.abs(F.col("cx") - F.col("pcx")) > _DTR_SEP)
                | (F.abs(F.col("cy") - F.col("pcy")) > _DTR_SEP)
            )
            .drop("pcx", "pcy")
            .localCheckpoint()
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("rank").cast("long").alias("rank"), "cx", "cy", "n_points"
    ).orderBy("rank")
