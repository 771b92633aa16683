"""Rasterize: burn vector geometries into a distributed tile grid.

The Spark shape of GDALRasterizeLayers (alg/gdalrasterize.cpp:1375):

    tiles (one row per output tile of the global raster)
      x polygons (broadcast; envelope-overlap prefilter as the join
        condition — the bbox pushdown of gv_rasterize_one_shape's
        chunking)
      -> groupBy(tile).applyInPandas(burn)   # scanline fill per tile
      -> per-tile arrays + row aggregates

Semantics per alg/llrasterize.cpp via gdal_spark.scanline (golden:
test_rasterize_1 checksum 6452, autotest/alg/rasterize.py:87 —
including GDAL's reversed linestring traversal order,
gdalrasterize.cpp GDALCollectRingsFromGeometry wkbLineString branch).
MERGE_ALG=ADD accumulates within the tile group (and a second-stage
groupBy sum would combine multi-layer burns).

At 10^12 scale the polygon side stops being broadcastable — then the
covering-cells explode + equi-join of operators/spatial_join.py
replaces the broadcast; tiles stay the partitioning unit either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import scanline, wkb
from .rowstage import envelopes


class GridDef:
    """A north-up global raster grid: origin (x0, y_top), square
    ``res``, ``width`` x ``height`` pixels, split into
    ``tile_px`` x ``tile_px`` tiles."""

    def __init__(self, x0, y_top, res, width, height, tile_px=64):
        self.x0, self.y_top, self.res = float(x0), float(y_top), float(res)
        self.width, self.height, self.tile_px = width, height, tile_px
        self.ntx = (width + tile_px - 1) // tile_px
        self.nty = (height + tile_px - 1) // tile_px

    def geo_to_px(self, gx, gy):
        return (gx - self.x0) / self.res, (self.y_top - gy) / self.res


def rasterize(
    spark,
    polys: DataFrame,
    grid_def: GridDef,
    burn_expr: str = "cast(j + 1 as double)",
    merge: str = "add",
) -> DataFrame:
    """Burn polygons (geom_wkb + envelope columns via WKB) into the
    grid. Returns per-scanline aggregates (y, nnz, sum_v) over burned
    pixels — the compact, oracle-checkable surface of the raster."""
    g = grid_def
    tiles = spark.range(g.ntx * g.nty).selectExpr(
        f"cast(id % {g.ntx} as int) AS tx", f"cast(id div {g.ntx} as int) AS ty"
    )

    env = envelopes(
        polys.select("geom_wkb", F.expr(burn_expr).alias("burn")), "geom_wkb"
    )

    t = g.tile_px * g.res
    cond = (
        (F.col("minx") < g.x0 + (F.col("tx") + 1) * t)
        & (F.col("maxx") > g.x0 + F.col("tx") * t)
        & (F.col("miny") < g.y_top - F.col("ty") * t)
        & (F.col("maxy") > g.y_top - (F.col("ty") + 1) * t)
    )
    joined = tiles.join(F.broadcast(env), cond)

    cfg = {
        "x0": g.x0, "y_top": g.y_top, "res": g.res,
        "width": g.width, "height": g.height, "tile_px": g.tile_px,
        "merge": merge,
    }

    def burn_tile(key, pdf):
        tx, ty = key
        px0, py0 = tx * cfg["tile_px"], ty * cfg["tile_px"]
        w = min(cfg["tile_px"], cfg["width"] - px0)
        h = min(cfg["tile_px"], cfg["height"] - py0)
        arr = np.zeros((h, w), dtype=np.float64)
        for geom, burn in zip(pdf["geom_wkb"], pdf["burn"]):
            rings = []
            for ring in wkb.polygon_rings(bytes(geom)):
                r = np.asarray(ring, dtype=np.float64).copy()
                # geo -> global pixel -> tile-local pixel
                r[:, 0] = (r[:, 0] - cfg["x0"]) / cfg["res"] - px0
                r[:, 1] = (cfg["y_top"] - r[:, 1]) / cfg["res"] - py0
                rings.append(r)
            scanline.fill_polygon(arr, rings, float(burn), cfg["merge"])
        ys, xs = np.nonzero(arr)
        if len(ys) == 0:
            return pd.DataFrame({"y": [], "nnz": [], "sum_v": []}).astype(
                {"y": "int64", "nnz": "int64", "sum_v": "double"}
            )
        gy = ys + py0
        out = pd.DataFrame({"y": gy, "v": arr[ys, xs]})
        agg = out.groupby("y").agg(nnz=("v", "size"), sum_v=("v", "sum"))
        return agg.reset_index().astype({"y": "int64", "nnz": "int64"})

    part = joined.groupby("tx", "ty").applyInPandas(
        burn_tile, schema="y bigint, nnz bigint, sum_v double"
    )
    # tiles on the same scanline combine (partial per-tile -> final)
    return part.groupBy("y").agg(
        F.sum("nnz").alias("nnz"), F.sum("sum_v").alias("sum_v")
    )


def rasterize_inverse(
    spark, polys: DataFrame, grid_def: GridDef, burn_val: float = 255.0
) -> DataFrame:
    """gdal_rasterize -i (apps/gdal_rasterize_lib.cpp, bInvertRaster):
    burn ``burn_val`` into every pixel NOT covered by any geometry.
    Distributed as coverage-union burn (REPLACE of 1.0 — overlap-safe)
    then a per-scanline complement against the grid width; every
    scanline of the raster appears, including fully-covered ones
    (nnz = 0)."""
    g = grid_def
    cov = rasterize(
        spark, polys, g, burn_expr="cast(1.0E0 as double)", merge="replace"
    )
    ys = spark.range(g.height).selectExpr("id AS y")
    return (
        ys.join(cov.select("y", F.col("nnz").alias("ncov")), "y", "left")
        .selectExpr(
            "y",
            f"cast({g.width} - coalesce(ncov, 0) as bigint) AS nnz",
            f"cast(({g.width} - coalesce(ncov, 0)) * {float(burn_val)}E0 "
            f"as double) AS sum_v",
        )
    )


def oracle_rasterize_inverse(
    m: int, grid_def: GridDef, burn_val: float = 255.0
) -> str:
    from .. import synth

    g = grid_def
    px = f"({synth.flit(g.x0)} + (x + 0.5E0) * {synth.flit(g.res)})"
    py = f"({synth.flit(g.y_top)} - (y + 0.5E0) * {synth.flit(g.res)})"
    pip = f"""
        p.kind IN ('box', 'hot_box', 'triangle')
        AND {px} >= p.cx - p.hw AND {px} <= p.cx + p.hw
        AND {py} >= p.cy - p.hh AND {py} <= p.cy + p.hh
        AND (
          p.kind <> 'triangle' OR (
            ((p.cx + p.hw) - (p.cx - p.hw)) * ({py} - (p.cy - p.hh)) >= 0
            AND (p.cx - (p.cx + p.hw)) * ({py} - (p.cy - p.hh))
                - ((p.cy + p.hh) - (p.cy - p.hh)) * ({px} - (p.cx + p.hw)) >= 0
            AND ((p.cx - p.hw) - p.cx) * ({py} - (p.cy + p.hh))
                - ((p.cy - p.hh) - (p.cy + p.hh)) * ({px} - p.cx) >= 0
          )
        )
    """
    return (
        f"WITH polys AS ({synth.polygons_sql_cte(m, 'duckdb')}), "
        f"cov AS (SELECT DISTINCT y, x "
        f"FROM range(0, {g.width}) tx(x), range(0, {g.height}) ty(y), polys p "
        f"WHERE {pip}), "
        f"c AS (SELECT y, cast(count(*) as bigint) AS ncov FROM cov GROUP BY y) "
        f"SELECT t.y AS y, "
        f"cast({g.width} - coalesce(ncov, 0) as bigint) AS nnz, "
        f"cast(({g.width} - coalesce(ncov, 0)) * {synth.flit(burn_val)} "
        f"as double) AS sum_v "
        f"FROM range(0, {g.height}) t(y) LEFT JOIN c ON t.y = c.y"
    )


# ---------------------------------------------------------------------------
# oracle: pixel-center PIP in SQL over the synth box/triangle subset
# (scanline fill == center-inside for non-degenerate geometry; the
# synthetic coords are irrational so half-integer ties cannot occur)


def oracle_rasterize_rows(m: int, grid_def: GridDef) -> str:
    from .. import synth

    g = grid_def
    px = f"({synth.flit(g.x0)} + (x + 0.5E0) * {synth.flit(g.res)})"
    py = f"({synth.flit(g.y_top)} - (y + 0.5E0) * {synth.flit(g.res)})"
    pip = f"""
        p.kind IN ('box', 'hot_box', 'triangle')
        AND {px} >= p.cx - p.hw AND {px} <= p.cx + p.hw
        AND {py} >= p.cy - p.hh AND {py} <= p.cy + p.hh
        AND (
          p.kind <> 'triangle' OR (
            ((p.cx + p.hw) - (p.cx - p.hw)) * ({py} - (p.cy - p.hh)) >= 0
            AND (p.cx - (p.cx + p.hw)) * ({py} - (p.cy - p.hh))
                - ((p.cy + p.hh) - (p.cy - p.hh)) * ({px} - (p.cx + p.hw)) >= 0
            AND ((p.cx - p.hw) - p.cx) * ({py} - (p.cy + p.hh))
                - ((p.cy - p.hh) - (p.cy + p.hh)) * ({px} - p.cx) >= 0
          )
        )
    """
    return (
        f"WITH polys AS ({synth.polygons_sql_cte(m, 'duckdb')}), "
        f"hits AS (SELECT y, x, cast(p.j + 1 as double) AS v "
        f"FROM range(0, {g.width}) tx(x), range(0, {g.height}) ty(y), polys p "
        f"WHERE {pip}), "
        f"px AS (SELECT y, x, sum(v) AS v FROM hits GROUP BY 1, 2) "
        f"SELECT y, count(*) AS nnz, sum(v) AS sum_v FROM px GROUP BY y"
    )


# ---------------------------------------------------------------------------
# zonal statistics: per-polygon aggregates of the raster values under
# its footprint — the gdal_rasterize + band-stats composition every
# GDAL pipeline runs (burn zone ids, then aggregate pixels per id).
# The coverage convention is the same pixel-center scanline fill the
# rasterize gate already proves equal to the oracle's PIP.

# deterministic integer "terrain" over the global grid (dialect-neutral)
ZONAL_VAL_SQL = "((x * 131 + y * 241) % 1009)"


def zonal_stats(spark, polys: DataFrame, grid_def: GridDef) -> DataFrame:
    """(poly_id, n_px, sum_v, min_v, max_v) over the zone's covered
    pixels. Tiles x zones envelope-join (broadcast zones), per-tile
    mask + partial aggregate, final merge per zone — two narrow
    shuffles, never a pixel-level join."""
    g = grid_def
    tiles = spark.range(g.ntx * g.nty).selectExpr(
        f"cast(id % {g.ntx} as int) AS tx", f"cast(id div {g.ntx} as int) AS ty"
    )
    env = envelopes(polys.select("poly_id", "geom_wkb"), "geom_wkb")
    t = g.tile_px * g.res
    cond = (
        (F.col("minx") < g.x0 + (F.col("tx") + 1) * t)
        & (F.col("maxx") > g.x0 + F.col("tx") * t)
        & (F.col("miny") < g.y_top - F.col("ty") * t)
        & (F.col("maxy") > g.y_top - (F.col("ty") + 1) * t)
    )
    joined = tiles.join(F.broadcast(env), cond)
    cfg = {
        "x0": g.x0, "y_top": g.y_top, "res": g.res,
        "width": g.width, "height": g.height, "tile_px": g.tile_px,
    }

    def tile_stats(key, pdf):
        tx, ty = key
        px0, py0 = tx * cfg["tile_px"], ty * cfg["tile_px"]
        w = min(cfg["tile_px"], cfg["width"] - px0)
        h = min(cfg["tile_px"], cfg["height"] - py0)
        gy, gx = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        val = (gx * 131 + gy * 241) % 1009
        out = []
        for pid, geom in zip(pdf["poly_id"], pdf["geom_wkb"]):
            arr = np.zeros((h, w), dtype=np.float64)
            rings = []
            for ring in wkb.polygon_rings(bytes(geom)):
                r = np.asarray(ring, dtype=np.float64).copy()
                r[:, 0] = (r[:, 0] - cfg["x0"]) / cfg["res"] - px0
                r[:, 1] = (cfg["y_top"] - r[:, 1]) / cfg["res"] - py0
                rings.append(r)
            scanline.fill_polygon(arr, rings, 1.0, "replace")
            m = arr > 0
            if m.any():
                v = val[m]
                out.append(
                    (pid, int(v.size), int(v.sum()), int(v.min()), int(v.max()))
                )
        return pd.DataFrame(
            out, columns=["poly_id", "n_px", "sum_v", "min_v", "max_v"]
        )

    part = joined.groupby("tx", "ty").applyInPandas(
        tile_stats,
        schema="poly_id string, n_px bigint, sum_v bigint, "
        "min_v bigint, max_v bigint",
    )
    return part.groupBy("poly_id").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def oracle_zonal_stats(m: int, grid_def: GridDef) -> str:
    from .. import synth

    g = grid_def
    px = f"({synth.flit(g.x0)} + (x + 0.5E0) * {synth.flit(g.res)})"
    py = f"({synth.flit(g.y_top)} - (y + 0.5E0) * {synth.flit(g.res)})"
    pip = f"""
        p.kind IN ('box', 'hot_box', 'triangle')
        AND {px} >= p.cx - p.hw AND {px} <= p.cx + p.hw
        AND {py} >= p.cy - p.hh AND {py} <= p.cy + p.hh
        AND (
          p.kind <> 'triangle' OR (
            ((p.cx + p.hw) - (p.cx - p.hw)) * ({py} - (p.cy - p.hh)) >= 0
            AND (p.cx - (p.cx + p.hw)) * ({py} - (p.cy - p.hh))
                - ((p.cy + p.hh) - (p.cy - p.hh)) * ({px} - (p.cx + p.hw)) >= 0
            AND ((p.cx - p.hw) - p.cx) * ({py} - (p.cy + p.hh))
                - ((p.cy - p.hh) - (p.cy + p.hh)) * ({px} - p.cx) >= 0
          )
        )
    """
    return (
        f"WITH polys AS ({synth.polygons_sql_cte(m, 'duckdb')}), "
        f"hits AS (SELECT p.j, y, x, {ZONAL_VAL_SQL} AS v "
        f"FROM range(0, {g.width}) tx(x), range(0, {g.height}) ty(y), polys p "
        f"WHERE {pip}) "
        f"SELECT concat('poly', lpad(cast(j as varchar), 4, '0')) AS poly_id, "
        f"cast(count(*) as bigint) AS n_px, cast(sum(v) as bigint) AS sum_v, "
        f"cast(min(v) as bigint) AS min_v, cast(max(v) as bigint) AS max_v "
        f"FROM hits GROUP BY j"
    )
