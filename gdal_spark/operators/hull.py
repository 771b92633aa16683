"""Convex hull — OGRGeometry::ConvexHull semantics
(ogr/ogrgeometry.cpp, GEOS-delegated in the reference; exercised by
autotest/ogr/ogr_geom.py ConvexHull cases), applied the way a
planetary pipeline uses it: the hull of the image-point cloud per
spatial cell (footprint outline per region).

Numeric contract: coordinates are floor-scaled to 1e6 integers first,
so every cross product is an exact int64 (|coord| <= 1.8e8, cross <=
1.3e17 < 2^63) and the hull decision is identical in any engine. The
hull is STRICT (collinear boundary points dropped); degenerate cells
(all points collinear) resolve to hull_n = 2 (the two extreme
points), matching on both sides by construction.

Spark side: monotone chain (Andrew 1979) per cell inside
applyInPandas — O(n log n) per cell, cells are independent. At 100 TB
the convexity algebra makes this two-level: hull(union) =
hull(union of per-partition hulls), so a mapPartitions partial-hull
pass bounds the shuffle to O(hull vertices) per partition; at the
sandbox's cell sizes the single-level groupBy is the measured-faster
plan.

DuckDB oracle: the maximal-directed-edge characterization — (a, b)
is a hull edge iff every other point is strictly left of ab, or
collinear AND strictly between a and b (so collinear runs yield only
the single maximal edge, i.e. the strict hull). O(n^3) per cell —
exact, and tractable because the driver query samples i % STRIDE = 0.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import synth
from . import cells

SCALE = 1_000_000
HULL_ZOOM = 3  # 8x8 global cells -> tens to hundreds of points each
STRIDE = 17    # driver-query sampling so the O(n^3) oracle stays fast;
# MUST be coprime with 4: synth's hot-cell images are i % 4 == 0, so a
# stride divisible by 4 samples ONLY the hot cell (one z3 tile) and the
# query degenerates to a single row


def _hull_indices(pts: np.ndarray) -> list[int]:
    """Strict monotone chain over unique points sorted by (x, y);
    returns hull vertex indices in CCW order starting at the
    lexicographic minimum. pts is (n, 2) int64, already deduplicated
    and sorted."""
    n = len(pts)
    if n <= 2:
        return list(range(n))

    def cross(o, a, b):
        return int(
            (pts[a, 0] - pts[o, 0]) * (pts[b, 1] - pts[o, 1])
            - (pts[a, 1] - pts[o, 1]) * (pts[b, 0] - pts[o, 0])
        )

    lower: list[int] = []
    for i in range(n):
        while len(lower) >= 2 and cross(lower[-2], lower[-1], i) <= 0:
            lower.pop()
        lower.append(i)
    upper: list[int] = []
    for i in range(n - 1, -1, -1):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], i) <= 0:
            upper.pop()
        upper.append(i)
    return lower[:-1] + upper[:-1]


def cell_hulls(images: DataFrame, zoom: int = HULL_ZOOM,
               stride: int = STRIDE) -> DataFrame:
    """(cell_id, n_pts, hull_n, area2, vx_sum, vy_sum): strict convex
    hull of the (sampled) image points in each mercator cell.
    area2 = twice the hull area (exact integer shoelace); vx/vy_sum =
    sums of hull vertex coords (value-checks the vertex SET, not just
    its measure)."""
    pts = (
        images.filter(f"i % {stride} = 0")
        .selectExpr(
            "lon", "lat",
            f"cast(floor(lon * {SCALE}.0E0) as bigint) AS sx",
            f"cast(floor(lat * {SCALE}.0E0) as bigint) AS sy",
        )
    )
    pts = cells.assign_cells(pts, zoom, "mercator")

    def run(key, pdf):
        upts = np.unique(
            pdf[["sx", "sy"]].to_numpy(dtype=np.int64), axis=0
        )  # sorted by (x, y)
        idx = _hull_indices(upts)
        hv = upts[idx]
        area2 = 0
        for a in range(len(idx)):
            b = (a + 1) % len(idx)
            area2 += int(hv[a, 0]) * int(hv[b, 1]) - int(hv[b, 0]) * int(hv[a, 1])
        if len(idx) < 3:
            area2 = 0
        return pd.DataFrame(
            {
                "cell_id": [int(key[0])],
                "n_pts": [len(upts)],
                "hull_n": [len(idx)],
                "area2": [area2],
                "vx_sum": [int(hv[:, 0].sum()) if len(idx) else 0],
                "vy_sum": [int(hv[:, 1].sum()) if len(idx) else 0],
            }
        )

    return (
        pts.groupBy("cell_id")
        .applyInPandas(
            run,
            schema="cell_id bigint, n_pts bigint, hull_n bigint, "
            "area2 bigint, vx_sum bigint, vy_sum bigint",
        )
    )


def oracle_cell_hulls(n: int, zoom: int = HULL_ZOOM,
                      stride: int = STRIDE) -> str:
    """Maximal-edge characterization over the same integer points.
    Hull EDGES: all-others strictly left, collinear only if strictly
    between. Vertices = edge starts; for hull_n < 3 (no qualifying
    edge pair... see below) fall back to the extreme-point formula:
    degenerate (collinear/2-point/1-point) cells have area2 = 0 and
    hull vertices = the lexicographic min and max points."""
    tx = cells.merc_tile_sql("lon", "lat", zoom, "x")
    ty = cells.merc_tile_sql("lon", "lat", zoom, "y")
    cross = (
        "(b.sx - a.sx) * (c.sy - a.sy) - (b.sy - a.sy) * (c.sx - a.sx)"
    )
    between = (
        "((c.sx > least(a.sx, b.sx) OR (a.sx = b.sx AND c.sy > least(a.sy, b.sy))) "
        "AND (c.sx < greatest(a.sx, b.sx) OR (a.sx = b.sx AND c.sy < greatest(a.sy, b.sy))))"
    )
    return (
        f"WITH src AS MATERIALIZED (SELECT lon, lat, "
        f"cast(floor(lon * {SCALE}.0E0) as bigint) AS sx, "
        f"cast(floor(lat * {SCALE}.0E0) as bigint) AS sy "
        f"FROM ({synth.images_cte(n, 'duckdb')}) WHERE i % {stride} = 0), "
        f"pts AS MATERIALIZED (SELECT DISTINCT "
        f"{cells.cell_id_sql(tx, ty, zoom)} AS cell_id, sx, sy FROM src), "
        # directed hull edges per cell
        f"edges AS MATERIALIZED (SELECT a.cell_id, a.sx AS ax, a.sy AS ay, "
        f"b.sx AS bx, b.sy AS by FROM pts a JOIN pts b "
        f"ON a.cell_id = b.cell_id AND (a.sx <> b.sx OR a.sy <> b.sy) "
        f"AND NOT EXISTS (SELECT 1 FROM pts c WHERE c.cell_id = a.cell_id "
        f"AND (c.sx <> a.sx OR c.sy <> a.sy) AND (c.sx <> b.sx OR c.sy <> b.sy) "
        f"AND NOT (({cross}) > 0 OR (({cross}) = 0 AND {between})))), "
        f"agg AS MATERIALIZED (SELECT cell_id, "
        f"cast(count(*) as bigint) AS hull_n, "
        f"cast(sum(ax * by - bx * ay) as bigint) AS area2, "
        f"cast(sum(ax) as bigint) AS vx_sum, "
        f"cast(sum(ay) as bigint) AS vy_sum FROM edges GROUP BY cell_id), "
        f"npts AS (SELECT cell_id, cast(count(*) as bigint) AS n_pts, "
        f"cast(sum(sx) as bigint) AS ex, cast(sum(sy) as bigint) AS ey "
        f"FROM pts GROUP BY cell_id) "
        # alignment with the chain, case by case: non-degenerate cells
        # admit exactly the CCW hull edges (one per hull vertex, as its
        # outgoing edge) -> counts/sums match 1:1. All-collinear cells
        # admit only the two maximal directed edges min<->max -> hull_n
        # = 2, area2 = 0, vertex sums = the two extremes — exactly the
        # chain's degenerate [min, max] result. 1-point cells admit no
        # edge -> coalesce to the point itself.
        f"SELECT n.cell_id, n.n_pts, "
        f"cast(coalesce(a.hull_n, n.n_pts) as bigint) AS hull_n, "
        f"cast(coalesce(a.area2, 0) as bigint) AS area2, "
        f"cast(coalesce(a.vx_sum, n.ex) as bigint) AS vx_sum, "
        f"cast(coalesce(a.vy_sum, n.ey) as bigint) AS vy_sum "
        f"FROM npts n LEFT JOIN agg a ON a.cell_id = n.cell_id"
    )
