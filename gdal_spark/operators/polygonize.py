"""Polygonize: connected components of equal-valued pixels, distributed.

GDALPolygonize semantics (alg/polygonize.cpp:980; two-row enumerator
alg/gdalrasterpolygonenumerator.cpp): group connected (4- or
8-connectivity) pixels of equal value into components. The reference
runs single-process over the whole raster; the Spark shape is:

  1. per-tile union-find labeling (``label_tile`` over
     ``graphsql.union_find``, inside applyInPandas) -> (tile, local
     component) with a globally unique label = min global pixel index
     in the tile,
  2. tile boundary strips -> equivalence edges between labels of
     adjacent tiles where values match, diagonal neighbours included
     under 8-connectivity (the cross-tile analog of the enumerator's
     row-to-row label merging),
  3. ``graphsql.label_components`` over the edge list (min-label
     propagation + pointer jumping, O(log diameter) rounds of joins),
  4. final groupBy(root) -> component id (min global pixel index),
     value, pixel count.

The canonical component id = min linearized pixel index makes the
output deterministic and oracle-comparable regardless of tile layout
or execution order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..graphsql import label_components, pj_components_cte, union_find


def label_tile(vals: np.ndarray, connect8: bool = False) -> np.ndarray:
    """Connected-component labels of a 2-D value array through
    graphsql.union_find: int64 labels = linearized local index of the
    component's first (row-major) pixel."""
    h, w = vals.shape
    idx = np.arange(h * w, dtype=np.int64).reshape(h, w)
    flat = vals.ravel()
    a, b = [], []
    for dy, dx in [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if connect8 else []):
        p = idx[dy:, max(dx, 0): w + min(dx, 0)].ravel()
        q = idx[: h - dy, max(-dx, 0): w - max(dx, 0)].ravel()
        same = flat[p] == flat[q]
        a.append(p[same])
        b.append(q[same])
    return union_find(h * w, np.concatenate(a), np.concatenate(b)).reshape(h, w)


def polygonize_grid(
    spark,
    value_sql: str,
    width: int,
    height: int,
    tile_px: int = 32,
    connect8: bool = False,
    with_bbox: bool = False,
) -> DataFrame:
    """Polygonize a deterministic raster defined by ``value_sql`` (a
    Spark SQL expression over global pixel columns gx, gy -> bigint).
    Returns (comp_id, val, n_pixels): component id = min global
    linearized pixel index. With ``with_bbox`` the per-component pixel
    envelope (minx, miny, maxx, maxy) is carried through the same
    partial-aggregate path (used by the gdal_footprint analog).

    The raster is generated per tile executor-side (no driver data
    movement); a real raster table would substitute a tiles DataFrame
    with pixel payloads.
    """
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px
    tiles = spark.range(ntx * nty).selectExpr(
        f"cast(id % {ntx} as int) AS tx", f"cast(id div {ntx} as int) AS ty"
    )

    cfg = {"width": width, "height": height, "tile_px": tile_px,
           "connect8": connect8, "value_sql": value_sql}

    def tile_labels(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * cfg["tile_px"], ty * cfg["tile_px"]
        w = min(cfg["tile_px"], cfg["width"] - px0)
        h = min(cfg["tile_px"], cfg["height"] - py0)
        gy, gx = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        vals = _eval_value(cfg["value_sql"], gx, gy)
        local = label_tile(vals, cfg["connect8"])
        # globalize: label -> min global pixel index in this tile
        # (labels are row-major-first local indices, so min lin per
        # label is the label's own pixel: lin of the label index)
        lin = gy.astype(np.int64) * cfg["width"] + gx.astype(np.int64)
        glob = lin.ravel()[local.ravel()].reshape(local.shape)
        flat = pd.DataFrame(
            {
                "label": glob.ravel(),
                "val": vals.ravel().astype(np.int64),
                "pgx": gx.ravel().astype(np.int64),
                "pgy": gy.ravel().astype(np.int64),
            }
        )
        comp = (
            flat.groupby("label")
            .agg(
                val=("val", "first"), n=("val", "size"),
                minx=("pgx", "min"), maxx=("pgx", "max"),
                miny=("pgy", "min"), maxy=("pgy", "max"),
            )
            .reset_index()
        )

        # boundary strips: (side, pos, val, label) for edge matching
        edges = {"gx": [], "gy": [], "val": [], "label": [], "side": []}
        if px0 + w < cfg["width"]:
            edges["gx"] += [px0 + w - 1] * h
            edges["gy"] += list(range(py0, py0 + h))
            edges["val"] += list(vals[:, -1].astype(int))
            edges["label"] += list(glob[:, -1])
            edges["side"] += ["R"] * h
        if px0 > 0:
            edges["gx"] += [px0] * h
            edges["gy"] += list(range(py0, py0 + h))
            edges["val"] += list(vals[:, 0].astype(int))
            edges["label"] += list(glob[:, 0])
            edges["side"] += ["L"] * h
        if py0 + h < cfg["height"]:
            edges["gx"] += list(range(px0, px0 + w))
            edges["gy"] += [py0 + h - 1] * w
            edges["val"] += list(vals[-1, :].astype(int))
            edges["label"] += list(glob[-1, :])
            edges["side"] += ["B"] * w
        if py0 > 0:
            edges["gx"] += list(range(px0, px0 + w))
            edges["gy"] += [py0] * w
            edges["val"] += list(vals[0, :].astype(int))
            edges["label"] += list(glob[0, :])
            edges["side"] += ["T"] * w
        edf = pd.DataFrame(edges)
        comp["kind"] = "comp"
        edf["kind"] = "edge"
        cols = ["kind", "label", "val", "n", "minx", "maxx", "miny", "maxy"]
        return pd.concat(
            [
                comp[cols].assign(gx=-1, gy=-1, side=""),
                edf.assign(n=0, minx=0, maxx=0, miny=0, maxy=0)[
                    cols + ["gx", "gy", "side"]
                ],
            ],
            ignore_index=True,
        )

    raw = tiles.groupby("tx", "ty").applyInPandas(
        tile_labels,
        schema="kind string, label bigint, val bigint, n bigint, "
        "minx bigint, maxx bigint, miny bigint, maxy bigint, "
        "gx bigint, gy bigint, side string",
    ).cache()

    comps = raw.filter("kind = 'comp'").select(
        "label", "val", "n", "minx", "maxx", "miny", "maxy"
    )
    edges = raw.filter("kind = 'edge'")

    # adjacency: right-edge pixel (gx, gy) touches left-edge pixel
    # (gx+1, gy), bottom touches top (gy+1), and with connect8 also
    # the diagonal neighbours one row or column either side; equal
    # values merge
    near = f"explode(sequence(-{int(connect8)}, {int(connect8)})) AS d"
    right = edges.filter("side = 'R'").selectExpr("gx", "gy", "val", "label AS a")
    left = edges.filter("side = 'L'").selectExpr(
        "gx - 1 AS gx", "gy", "val", "label AS b", near
    ).selectExpr("gx", "gy + d AS gy", "val", "b")
    bottom = edges.filter("side = 'B'").selectExpr("gx", "gy", "val", "label AS a")
    top = edges.filter("side = 'T'").selectExpr(
        "gx", "gy - 1 AS gy", "val", "label AS b", near
    ).selectExpr("gx + d AS gx", "gy", "val", "b")
    pairs = (
        right.join(left, ["gx", "gy", "val"])
        .select("a", "b")
        .union(bottom.join(top, ["gx", "gy", "val"]).select("a", "b"))
        .distinct()
    )
    roots = label_components(comps.selectExpr("label AS node"), pairs)

    aggs = [F.min("val").alias("val"), F.sum("n").alias("n_pixels")]
    cols = ["root AS comp_id", "val", "n_pixels"]
    if with_bbox:
        aggs += [
            F.min("minx").alias("minx"), F.max("maxx").alias("maxx"),
            F.min("miny").alias("miny"), F.max("maxy").alias("maxy"),
        ]
        cols += ["minx", "maxx", "miny", "maxy"]
    return (
        comps.join(roots.withColumnRenamed("node", "label"), "label")
        .groupBy("root").agg(*aggs).selectExpr(*cols)
    )


def _eval_value(value_sql: str, gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Evaluate the deterministic raster function. Supported grammar:
    'block:<bs>:<mod>' -> ((gx//bs + gy//bs) % mod);
    'demband:<l1>:<l2>:...' -> iso-band index of the global DEM
    (number of levels <= value), the gdal_contour -p banding."""
    if value_sql.startswith("block:"):
        _, bs, mod = value_sql.split(":")
        bs, mod = int(bs), int(mod)
        return ((gx // bs + gy // bs) % mod).astype(np.int64)
    if value_sql.startswith("demvalid:"):
        from .dem import _dem_value

        thresh = int(value_sql.split(":")[1])
        return (_dem_value(gx, gy) >= thresh).astype(np.int64)
    if value_sql.startswith("demband:"):
        from .dem import _dem_value

        levels = [int(v) for v in value_sql.split(":")[1:]]
        vals = _dem_value(gx, gy)
        band = np.zeros_like(vals)
        for lv in levels:
            band += (vals >= lv).astype(np.int64)
        return band
    raise ValueError(f"unknown raster spec {value_sql!r}")


def oracle_polygonize_blocks(width: int, height: int, bs: int, mod: int) -> str:
    """Closed-form oracle for the block raster: with 4-connectivity
    every bs x bs block is its own component (neighbors differ mod
    ``mod``); comp id = linearized index of the block's top-left
    pixel."""
    nbx, nby = width // bs, height // bs
    return (
        f"SELECT (by * {bs}) * {width} + bx * {bs} AS comp_id, "
        f"cast((bx + by) % {mod} as bigint) AS val, "
        f"cast({bs} * {bs} as bigint) AS n_pixels "
        f"FROM range(0, {nbx}) t(bx), range(0, {nby}) u(by)"
    )


def oracle_polygonize_pj(
    band_sql: str, width: int, height: int, connect8: bool = False,
    final_select: str | None = None,
) -> str:
    """General connected-components oracle for ANY deterministic
    raster expressed as a DuckDB expression over (gx, gy): the
    graphsql pointer-jump chain over the pixel adjacency graph, comp
    id = min linearized pixel index — the same label convention as
    the Spark polygonize. 4- or 8-connectivity. ``final_select``
    replaces the trailing projection (it may reference the converged
    roots relation as ``{final}`` and the pixel table ``px``)."""
    chain, final = pj_components_cte()
    steps = [(1, 0), (0, 1)] + ([(1, 1), (-1, 1)] if connect8 else [])
    adj = "\n  UNION ALL\n  ".join(
        f"SELECT a.node AS a, b.node AS b FROM px a JOIN px b "
        f"ON b.gx = a.gx + {dx} AND b.gy = a.gy + {dy} AND b.val = a.val"
        for dx, dy in steps
    )
    if final_select is None:
        final_select = (
            f"SELECT r.root AS comp_id, min(px.val) AS val,\n"
            f"       count(*) AS n_pixels\n"
            f"FROM {final} r JOIN px ON px.node = r.node\n"
            f"GROUP BY 1"
        )
    else:
        final_select = final_select.format(final=final)
    return f"""
WITH
px AS MATERIALIZED (
  SELECT gx, gy, gy * {width} + gx AS node, ({band_sql}) AS val
  FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
adj AS MATERIALIZED (
  {adj}),
links AS MATERIALIZED (SELECT a, b FROM adj UNION ALL SELECT b, a FROM adj),
nodes AS (SELECT node FROM px),
{chain}
{final_select}
"""


def dem_band_sql(levels) -> str:
    """DuckDB band expression matching the 'demband:' numpy spec."""
    from .dem import DEM_VALUE_SQL

    terms = " + ".join(
        f"(CASE WHEN ({DEM_VALUE_SQL}) >= {lv} THEN 1 ELSE 0 END)"
        for lv in levels
    )
    return f"({terms})"
