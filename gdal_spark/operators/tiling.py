"""Tile pyramid — the flagship layout operator (gdal2tiles semantics).

Pipeline shape (SURVEY 3.2):

  base zoom:  images -> covering-tiles explode (bbox of the footprint
              on the mercator grid, GlobalMercator.MetersToTile) ->
              groupBy(tile).applyInPandas(render): last-wins nearest
              mosaic of every contributing image onto the tile's
              EPSG:3857 grid (generate_base_tiles + geo_query +
              scale_query_to_tile, osgeo_utils/gdal2tiles.py:2669,865)
  overviews:  z -> z-1: groupBy(parent).applyInPandas: compose <=4
              children into a 2x square, 2x box-average downsample
              with GDAL's round-half-up ((sum+2)//4)
              (create_overview_tile, gdal2tiles.py:1438) — a tree
              reduce, one shuffle per zoom level
  resume:     anti-join against the committed-tile log
              (gdal2tiles --resume, :2720) — see checkpoint helpers

One tile renderer: every tiling stage is a ``_tile_stage`` (one
TILE_SCHEMA row per rendered tile); the base, retile and feather
renders sample their sources through the one kernel ``_samples``, and
both overview reducers place children with ``_compose``.

Every coordinate op in the renderer is written as an explicit, fixed
sequence of IEEE double ops so the DuckDB oracle can replicate the
render *pixel-exactly* in SQL (the same discipline as synth.py).

Scale: the covering explode keys the one shuffle; tile groups are
independent; skewed tiles (hot cell) rely on AQE skew splitting plus
the coarse-to-fine cell-splitting option of the spatial join. The
per-zoom reduce touches only the previous zoom's output (4:1 fan-in).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs, grid, resample, synth
from ..synth import flit
from .stats import checksum_sql, gdal_checksum

TILE_PX = 64
TILE_SCHEMA = (
    "tx bigint, ty bigint, bytes binary, n_painted bigint, "
    "cks_0 bigint, cks_1 bigint, cks_2 bigint"
)


def _tile_stage(df: DataFrame, keys, render) -> DataFrame:
    """``df.groupby(*keys).applyInPandas``: ``render(tx, ty, pdf)``
    returns the tile's (h, w, 3) pixels and its painted count, or None
    for a group that renders no tile. One TILE_SCHEMA row per tile:
    the PNG bytes and the per-channel GDAL checksums."""

    def run(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        out = render(tx, ty, pdf)
        if out is None:
            return pd.DataFrame()
        buf, n = out
        return pd.DataFrame({
            "tx": [tx], "ty": [ty],
            "bytes": [codecs.encode_image(buf, "png")],
            "n_painted": [n],
            **{f"cks_{c}": [gdal_checksum(buf[:, :, c])] for c in range(3)},
        })

    return df.groupby(*keys).applyInPandas(run, schema=TILE_SCHEMA)


# ---------------------------------------------------------------------------
# covering tiles


def covering_tiles(images: DataFrame, zoom: int) -> DataFrame:
    """Explode each image to the mercator tiles its footprint overlaps
    at ``zoom``. Pure Catalyst: corner tile indices via the shared
    mercator SQL fragment, fan-out via JVM sequence()+explode — no
    Python anywhere in the flagship render's fan-out stage (mercator
    is axis-separable, so tile_x depends only on lon, tile_y on lat)."""
    from .cells import merc_tile_sql

    minlat = "(lat - 0.1E0 * cast(h as double) / cast(w as double))"
    return (
        images.withColumn(
            "tx0", F.expr(merc_tile_sql("lon", "lat", zoom, "x"))
        )
        .withColumn(
            "tx1", F.expr(merc_tile_sql("(lon + 0.1E0)", "lat", zoom, "x"))
        )
        .withColumn("ty0", F.expr(merc_tile_sql("lon", minlat, zoom, "y")))
        .withColumn("ty1", F.expr(merc_tile_sql("lon", "lat", zoom, "y")))
        .withColumn("tx", F.explode(F.expr("sequence(tx0, tx1)")))
        .withColumn("ty", F.explode(F.expr("sequence(ty0, ty1)")))
        .drop("tx0", "tx1", "ty0", "ty1")
    )


# ---------------------------------------------------------------------------
# base-zoom render


def _tile_lonlat_grids(tx: int, ty: int, zoom: int, tile_px: int):
    """Per-axis lon/lat of tile pixel centers — explicit op sequence
    (mirrored literally by the SQL oracle)."""
    res = grid.INITIAL_RESOLUTION / (2.0**zoom)
    span = 256.0 * res
    tres = span / tile_px
    minx = tx * span - grid.ORIGIN_SHIFT
    maxy = (ty + 1) * span - grid.ORIGIN_SHIFT
    x = np.arange(tile_px, dtype=np.float64)
    y = np.arange(tile_px, dtype=np.float64)
    mx = minx + (x + 0.5) * tres
    my = maxy - (y + 0.5) * tres
    lon = mx / grid.ORIGIN_SHIFT * 180.0
    latd = my / grid.ORIGIN_SHIFT * 180.0
    lat = 180.0 / np.pi * (2.0 * np.arctan(np.exp(latd * np.pi / 180.0)) - np.pi / 2.0)
    return lon, lat


def _samples(pdf: pd.DataFrame, xs: np.ndarray, ys: np.ndarray):
    """The sampling kernel of every tile renderer. For each source
    image of ``pdf`` (i, bytes, lon, lat, w, h), in ``i`` order, that
    covers any of a tile's pixel centres (x per column ``xs``, y per
    row ``ys``), yield (arr, yy, xx, sy, sx): the decoded image, the
    tile pixels it paints and the source pixel each one samples —
    nearest, floor((centre - corner) / res + 1e-10), inside the
    raster."""
    for row in pdf.sort_values("i").itertuples(index=False):
        r = 0.1 / row.w
        ix = np.floor((xs - row.lon) / r + 1e-10).astype(np.int64)
        iy = np.floor((row.lat - ys) / r + 1e-10).astype(np.int64)
        okx = (ix >= 0) & (ix < row.w)
        oky = (iy >= 0) & (iy < row.h)
        m = oky[:, None] & okx[None, :]
        if m.any():
            yy, xx = np.nonzero(m)
            yield codecs.decode_image(bytes(row.bytes)), yy, xx, iy[yy], ix[xx]


def _last_wins(pdf: pd.DataFrame, xs: np.ndarray, ys: np.ndarray):
    """Last-wins nearest mosaic of ``pdf``'s images on one tile:
    (pixels, painted count), or None when no pixel is painted."""
    buf = np.zeros((len(ys), len(xs), 3), dtype=np.uint8)
    painted = np.zeros((len(ys), len(xs)), dtype=bool)
    for arr, yy, xx, sy, sx in _samples(pdf, xs, ys):
        buf[yy, xx, :] = arr[sy, sx, :]
        painted[yy, xx] = True
    n = int(painted.sum())
    return (buf, n) if n else None


def render_base_tiles(images: DataFrame, zoom: int) -> DataFrame:
    """Render the base-zoom tile mosaic. Input needs (i, image_id,
    bytes, lon, lat, w, h). Output: one row per painted tile:
    (tx, ty, bytes, n_painted) + per-channel checksums cks_0..2.

    An image overlapping k tiles is decoded once per tile group. With
    this repo's codec that is a zero-copy frombuffer (decode is
    cheaper than shipping decoded pixels through the shuffle, which
    is why we deliberately explode the ENCODED payload); with a real
    PNG/JPEG codec, insert a pre-decode mapInPandas before
    covering_tiles and explode the raw array instead."""
    cov = covering_tiles(
        images.select("i", "image_id", "bytes", "lon", "lat", "w", "h"), zoom
    )
    return _tile_stage(cov, ("tx", "ty"), lambda tx, ty, pdf: _last_wins(
        pdf, *_tile_lonlat_grids(tx, ty, zoom, TILE_PX)
    ))


# ---------------------------------------------------------------------------
# overview reduce (z -> z-1)


def _compose(pdf: pd.DataFrame, ptx: int, pty: int, n: int) -> np.ndarray:
    """Parent (ptx, pty)'s children (tx, ty, bytes) on an (n, n, 3)
    int64 canvas, n = 2t, or 2t + 1 with GAUSS's halo row and column;
    a missing child is 0. TMS y-up: child tx = 2*ptx + qx,
    ty = 2*pty + 1 - qy sits at columns qx*t, rows qy*t, clipped to
    the canvas (qx = 2 / qy = 2 is the halo)."""
    t = n // 2
    comp = np.zeros((n, n, 3), dtype=np.int64)
    for tx, ty, b in zip(pdf["tx"], pdf["ty"], pdf["bytes"]):
        x, y = (int(tx) - 2 * ptx) * t, (2 * pty + 1 - int(ty)) * t
        comp[y : y + t, x : x + t, :] = codecs.decode_image(bytes(b))[
            : n - y, : n - x, :
        ]
    return comp


def overview_tiles(tiles: DataFrame, resampling: str = "average") -> DataFrame:
    """One pyramid level up: each parent composes its <=4 children on
    the doubled grid (missing children = 0) and downsamples 2x with
    ``resampling`` — any golden-verified kernel from
    gdal_spark.resample (near/bilinear/cubic/.../max/min/med/mode),
    matching the reference's 9 overview resamplers
    (gcore/overview.cpp:150, gdal2tiles.py:914). 'average' keeps the
    exact-integer (sum+2)//4 path (bit-equal to the area kernel for
    integer inputs; it is floor(mean + 0.5))."""

    def reduce_parent(ptx, pty, pdf):
        comp = _compose(pdf, ptx, pty, 2 * TILE_PX)
        if resampling == "average":
            s = (
                comp[0::2, 0::2]
                + comp[1::2, 0::2]
                + comp[0::2, 1::2]
                + comp[1::2, 1::2]
            )
            buf = ((s + 2) // 4).astype(np.uint8)
        else:
            gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
            gt_half = (0.0, 2.0, 0.0, 0.0, 0.0, -2.0)
            buf = resample.warp_image(
                comp.astype(np.uint8), gt, gt_half,
                (TILE_PX, TILE_PX), resampling,
            )
        return buf, int(pdf["n_painted"].sum())

    parented = tiles.withColumn("ptx", F.expr("tx div 2")).withColumn(
        "pty", F.expr("ty div 2")
    )
    return _tile_stage(parented, ("ptx", "pty"), reduce_parent)


GAUSS_K3 = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.int64)


def overview_gauss(
    tiles: DataFrame, extent: tuple[int, int, int, int]
) -> DataFrame:
    """GDAL GAUSS overview kernel, one pyramid level up
    (gcore/overview.cpp:1827 GDALResampleChunk32R_Gauss): for a 2x
    overview the 3x3 binomial kernel [1,2,1;2,4,2;1,2,1] is anchored
    at source (2x, 2y) (the reference's window [2x, 2x+3)), truncated
    at the raster edge, and the output pixel is
    float32(total/weight) rounded to byte via GDALCopyWord's
    trunc(v + 0.5). With byte inputs and weight <= 16 the float32
    rounding can never move the value across a .5 boundary
    (|v - X.5| is either 0 or >= 1/(2*16), far above float32 eps at
    255), so the byte equals the pure-integer
    (2*total + weight) div (2*weight) — exact and SQL-replicable.

    Unlike the aligned 2x2 kernels, the 3x3 window crosses parent
    boundaries, so even-tx children also feed the parent to their
    LEFT and odd-ty children the parent ABOVE them (TMS y-up) as a
    one-pixel halo — the tiled-halo pattern of dem.py, a small
    explode before the same one-shuffle tree reduce. ``extent`` is
    the raster's child-tile range (tx0, tx1, ty0, ty1); positions
    outside it truncate the kernel window exactly like the
    reference's raster edge."""
    tx0, tx1, ty0, ty1 = extent
    t = TILE_PX

    parented = tiles.selectExpr(
        "tx", "ty", "bytes", "n_painted",
        "explode(filter(array("
        "named_struct('ptx', tx div 2, 'pty', ty div 2, 'm', true), "
        "IF(tx % 2 = 0, named_struct('ptx', tx div 2 - 1, "
        "'pty', ty div 2, 'm', false), null), "
        "IF(ty % 2 = 1, named_struct('ptx', tx div 2, "
        "'pty', ty div 2 + 1, 'm', false), null), "
        "IF(tx % 2 = 0 AND ty % 2 = 1, named_struct('ptx', "
        "tx div 2 - 1, 'pty', ty div 2 + 1, 'm', false), null)"
        "), x -> x IS NOT NULL)) AS p",
    ).selectExpr(
        "p.ptx AS ptx", "p.pty AS pty", "p.m AS is_main",
        "tx", "ty", "bytes", "n_painted",
    )

    def reduce_parent(ptx, pty, pdf):
        if not pdf["is_main"].any():
            return None  # halo-only group: not a rendered parent
        comp = _compose(pdf, ptx, pty, 2 * t + 1)
        # validity: within the raster extent (truncates the window at
        # the mosaic edge, matching the reference's chunk bounds)
        rr = np.arange(2 * t + 1)
        ctx = 2 * ptx + rr // t
        cty = 2 * pty + 1 - rr // t
        col_ok = (ctx >= tx0) & (ctx <= tx1)
        row_ok = (cty >= ty0) & (cty <= ty1)
        valid = row_ok[:, None] & col_ok[None, :]
        total = np.zeros((t, t, 3), dtype=np.int64)
        wsum = np.zeros((t, t, 1), dtype=np.int64)
        for j in range(3):
            for i in range(3):
                w = int(GAUSS_K3[j, i])
                sub = comp[j : j + 2 * t : 2, i : i + 2 * t : 2, :]
                v = valid[j : j + 2 * t : 2, i : i + 2 * t : 2]
                total += w * sub * v[:, :, None]
                wsum[:, :, 0] += w * v
        # parent pixels wholly outside the raster extent (a parent
        # tile half past the mosaic edge) have no source window at
        # all: emit 0, matching the zero-filled composition
        # convention (and contributing 0 to the checksum, exactly
        # like the oracle's absent rows)
        safe = np.maximum(wsum, 1)
        buf = np.where(
            wsum > 0, (2 * total + safe) // (2 * safe), 0
        ).astype(np.uint8)
        return buf, int(pdf.loc[pdf["is_main"], "n_painted"].sum())

    return _tile_stage(parented, ("ptx", "pty"), reduce_parent)


# ---------------------------------------------------------------------------
# SQL oracle — literal mirror of the render arithmetic


def _merc_px_cte(zoom: int, tx0, tx1, ty0, ty1) -> str:
    """CTE 'px': (tx, ty, x, y, lon, lat) for every pixel center of
    the tile range."""
    res = grid.INITIAL_RESOLUTION / (2.0**zoom)
    span = 256.0 * res
    tres = span / TILE_PX
    shift = flit(grid.ORIGIN_SHIFT)
    mx = f"(tx * {flit(span)} - {shift} + (x + 0.5E0) * {flit(tres)})"
    my = f"((ty + 1) * {flit(span)} - {shift} - (y + 0.5E0) * {flit(tres)})"
    lon = f"({mx} / {shift} * 180.0E0)"
    latd = f"({my} / {shift} * 180.0E0)"
    lat = f"(180.0E0 / pi() * (2.0E0 * atan(exp({latd} * pi() / 180.0E0)) - pi() / 2.0E0))"
    return (
        f"SELECT tx, ty, x, y, {lon} AS plon, {lat} AS plat "
        f"FROM range({tx0}, {tx1 + 1}) a(tx), range({ty0}, {ty1 + 1}) b(ty), "
        f"range(0, {TILE_PX}) c(x), range(0, {TILE_PX}) d(y)"
    )


def _hit_ctes(n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1) -> str:
    """CTEs img, px and hit (each followed by ', '): every (tile pixel,
    image) pair that passes the loose bbox prefilter, with its
    floor(+1e-10) source sample (sx, sy) — the SQL ``_samples``."""
    eps = "0.0000000001E0"
    return (
        f"img AS (SELECT * FROM ({synth.images_cte(n, 'duckdb')}) "
        f"WHERE i % 4 = 0 AND i < {max_i}), "
        f"px AS ({_merc_px_cte(zoom, tx0, tx1, ty0, ty1)}), "
        f"hit AS (SELECT px.tx, px.ty, px.x AS ox, px.y AS oy, img.i, img.w, "
        f"img.h, img.fmt, "
        f"cast(floor((px.plon - img.lon) / (0.1E0 / img.w) + {eps}) as bigint) AS sx, "
        f"cast(floor((img.lat - px.plat) / (0.1E0 / img.w) + {eps}) as bigint) AS sy "
        f"FROM px JOIN img ON px.plon >= img.lon - 0.001E0 "
        f"AND px.plon < img.lon + 0.101E0 "
        f"AND px.plat <= img.lat + 0.001E0 "
        f"AND px.plat > img.lat - 0.101E0 * img.h / img.w - 0.001E0), "
    )


def _render_ctes(n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1) -> str:
    # winner = max i among images whose sample lands inside their raster
    return _hit_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1) + (
        f"win AS (SELECT * FROM hit WHERE sx >= 0 AND sx < w AND sy >= 0 "
        f"AND sy < h "
        f"QUALIFY row_number() OVER (PARTITION BY tx, ty, ox, oy "
        f"ORDER BY i DESC) = 1), "
        f"vals AS (SELECT tx, ty, ox, oy, ch, {synth.pixel_val_sql()} AS val "
        f"FROM (SELECT win.tx, win.ty, win.ox, win.oy, win.i, win.w, win.fmt, "
        f"win.sx AS x, win.sy AS y, ch FROM win, range(0, 3) tc(ch)))"
    )


def oracle_tile_render(n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1) -> str:
    """Per-(tile, channel) checksum + painted count of the base-zoom
    render, recomputed from pure SQL arithmetic: same pixel-center
    mercator math, same nearest floor(+1e-10) sampling, last-wins by
    max image index."""
    cks_sql = checksum_sql("val", f"oy * {TILE_PX} + ox")
    return (
        f"WITH {_render_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)} "
        f"SELECT tx, ty, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks, "
        f"count(*) AS n_painted FROM vals GROUP BY 1, 2, 3"
    )


OVERVIEW_ORACLE_ALGS = ("near", "max", "min")

# the child pixel a parent lattice row (ctx, cty, cx, cy) reads
_CHILD_JOIN = (
    "LEFT JOIN vals v ON v.tx = q.ctx AND v.ty = q.cty "
    "AND v.ox = q.cx AND v.oy = q.cy AND v.ch = q.ch"
)


def _overview_ctes(n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1) -> str:
    """'WITH' + the base render CTEs + 'parents': every parent tile of
    a rendered child (followed by ', ')."""
    return (
        f"WITH {_render_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)}, "
        f"parents AS (SELECT DISTINCT tx // 2 AS ptx, ty // 2 AS pty FROM vals), "
    )


def _child_lattice(k: int) -> str:
    """Select-list tail and FROM of the parent-pixel lattice: for each
    parent pixel (x, y), channel and tap (dx, dy) in [0, k)^2, the child
    tile (ctx, cty) and child pixel (cx, cy) at (2x + dx, 2y + dy),
    TMS y-up."""
    t = TILE_PX
    return (
        f"2 * ptx + ((2 * x + dx) // {t}) AS ctx, "
        f"2 * pty + (1 - ((2 * y + dy) // {t})) AS cty, "
        f"(2 * x + dx) % {t} AS cx, (2 * y + dy) % {t} AS cy "
        f"FROM parents, range(0, {t}) a(x), range(0, {t}) b(y), "
        f"range(0, 3) c(ch), range(0, {k}) d(dx), range(0, {k}) e(dy)"
    )


def oracle_overview_resamplers(
    n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1
) -> str:
    """Overview reduce replay for the non-average resamplers with
    SQL-exact 2x semantics: near picks the (2x+1, 2y+1) child pixel
    (dst center (x+0.5)*2 floored), max/min fold the 2x2 block
    (missing children = 0, matching the zero-filled composition)."""
    cks_sql = checksum_sql("val", f"y * {TILE_PX} + x")
    per_alg = {
        "near": "sum(CASE WHEN dx = 1 AND dy = 1 "
                "THEN coalesce(val, 0) ELSE 0 END)",
        "max": "max(coalesce(val, 0))",
        "min": "min(coalesce(val, 0))",
    }
    alg_rows = " UNION ALL ".join(
        f"SELECT ptx, pty, x, y, ch, '{alg}' AS alg, {expr} AS val "
        f"FROM quad2 GROUP BY ptx, pty, x, y, ch"
        for alg, expr in per_alg.items()
    )
    return (
        f"{_overview_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)}"
        f"quad2 AS (SELECT q.ptx, q.pty, q.x, q.y, q.ch, q.dx, q.dy, v.val "
        f"FROM (SELECT ptx, pty, x, y, ch, dx, dy, {_child_lattice(2)}) q "
        f"{_CHILD_JOIN}), "
        f"reduced AS ({alg_rows}) "
        f"SELECT ptx AS tx, pty AS ty, alg, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM reduced GROUP BY 1, 2, 3, 4"
    )


def oracle_overview_gauss(
    n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1
) -> str:
    """GAUSS overview replay: 3x3 binomial window anchored at
    (2x, 2y), truncated at the raster (tile-extent) edge, exact
    integer round-half-up (2*total + wsum) // (2*wsum) — see
    overview_gauss for why the float32 path collapses to this."""
    cks_sql = checksum_sql("val", f"y * {TILE_PX} + x")
    wx = "(CASE dx WHEN 1 THEN 2 ELSE 1 END)"
    wy = "(CASE dy WHEN 1 THEN 2 ELSE 1 END)"
    return (
        f"{_overview_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)}"
        f"quad3 AS (SELECT q.ptx, q.pty, q.x, q.y, q.ch, q.wgt, v.val "
        f"FROM (SELECT ptx, pty, x, y, ch, {wx} * {wy} AS wgt, "
        f"{_child_lattice(3)}) q "
        f"{_CHILD_JOIN} "
        f"WHERE q.ctx BETWEEN {tx0} AND {tx1} "
        f"AND q.cty BETWEEN {ty0} AND {ty1}), "
        f"reduced AS (SELECT ptx, pty, x, y, ch, "
        f"(2 * sum(wgt * coalesce(val, 0)) + sum(wgt)) // (2 * sum(wgt)) "
        f"AS val FROM quad3 GROUP BY ptx, pty, x, y, ch) "
        f"SELECT ptx AS tx, pty AS ty, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM reduced GROUP BY 1, 2, 3"
    )


def oracle_tile_overview(
    n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1
) -> str:
    """z-1 overview oracle: recompute the base render in SQL, compose
    the 2x2 children (TMS y-up: cy-high half is the image top), box
    average with (sum+2)//4, checksum per parent tile/channel."""
    cks_sql = checksum_sql("v.val", f"y * {TILE_PX} + x")
    return (
        f"{_overview_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)}"
        f"quad AS (SELECT ptx, pty, x, y, ch, {_child_lattice(2)}), "
        f"summed AS (SELECT q.ptx, q.pty, q.x, q.y, q.ch, "
        f"sum(coalesce(v.val, 0)) AS s FROM quad q {_CHILD_JOIN} "
        f"GROUP BY 1, 2, 3, 4, 5), "
        f"val9 AS (SELECT ptx, pty, x, y, ch, (s + 2) // 4 AS val FROM summed), "
        f"npaint AS (SELECT tx // 2 AS ptx, ty // 2 AS pty, ch, "
        f"count(*) AS np FROM vals GROUP BY 1, 2, 3) "
        f"SELECT v.ptx AS tx, v.pty AS ty, cast(v.ch as bigint) AS channel, "
        f"{cks_sql} AS cks, "
        f"min(npaint.np) AS n_painted "
        f"FROM val9 v JOIN npaint ON npaint.ptx = v.ptx AND npaint.pty = v.pty "
        f"AND npaint.ch = v.ch GROUP BY 1, 2, 3"
    )


# ---------------------------------------------------------------------------
# gdal_retile: re-chop a mosaic onto an ALIGNED AFFINE pixel grid
# (osgeo_utils/gdal_retile.py:102 tile-grid construction — fixed
# tile_px tiles at a fixed resolution from a fixed origin, y down),
# unlike the mercator pyramid's projected grid. Last-wins nearest
# gather per tile, same shuffle shape as the base render.


def _retile_cover(
    images: DataFrame, x0: float, y0: float, res: float, tile_px: int,
    nx: int, ny: int,
) -> DataFrame:
    """Each image that overlaps the grid, exploded to the grid tiles
    (tx, ty) its footprint covers, clamped into [0, nx) x [0, ny).
    Pure Catalyst (affine index arithmetic + sequence)."""
    span = flit(res * tile_px)
    fx0, fy0 = flit(x0), flit(y0)
    minlat = "(lat - 0.1E0 * cast(h as double) / cast(w as double))"
    gx1 = flit(x0 + res * tile_px * nx)
    gy1 = flit(y0 - res * tile_px * ny)
    return (
        images
        # footprint-vs-grid-extent prefilter: without it the index
        # clamp lands fully-outside images on edge tiles and ships
        # their payloads through the shuffle to paint nothing
        .where(
            f"lon < {gx1} AND lon + 0.1E0 > {fx0} "
            f"AND lat > {gy1} AND {minlat} < {fy0}"
        )
        .selectExpr(
            "i", "image_id", "bytes", "lon", "lat", "w", "h",
            f"greatest(0, least({nx - 1}, "
            f"cast(floor((lon - {fx0}) / {span}) as bigint))) AS tx0",
            f"greatest(0, least({nx - 1}, "
            f"cast(floor((lon + 0.1E0 - {fx0}) / {span}) as bigint))) AS tx1",
            f"greatest(0, least({ny - 1}, "
            f"cast(floor(({fy0} - lat) / {span}) as bigint))) AS ty0",
            f"greatest(0, least({ny - 1}, "
            f"cast(floor(({fy0} - ({minlat})) / {span}) as bigint))) AS ty1",
        )
        .withColumn("tx", F.explode(F.expr("sequence(tx0, tx1)")))
        .withColumn("ty", F.explode(F.expr("sequence(ty0, ty1)")))
        .drop("tx0", "tx1", "ty0", "ty1")
    )


def retile(
    images: DataFrame,
    x0: float,
    y0: float,
    res: float,
    tile_px: int,
    nx: int,
    ny: int,
) -> DataFrame:
    """(tx, ty, n_painted, cks_0..2) per affine grid tile: the
    last-wins render of ``_retile_cover``'s groups at the tile's
    pixel centres."""

    def render(tx, ty, pdf):
        xs = x0 + (tx * tile_px + np.arange(tile_px) + 0.5) * res
        ys = y0 - (ty * tile_px + np.arange(tile_px) + 0.5) * res
        return _last_wins(pdf, xs, ys)

    cov = _retile_cover(images, x0, y0, res, tile_px, nx, ny)
    return _tile_stage(cov, ("tx", "ty"), render).drop("bytes")


def oracle_retile(
    n: int, max_i: int, x0: float, y0: float, res: float,
    tile_px: int, nx: int, ny: int,
) -> str:
    """Affine replay: per tile pixel center, winner = max-i image
    whose footprint contains it, value from the synthetic pixel
    function; tiles with zero painted pixels are absent."""
    t = tile_px
    fx0, fy0, fr = flit(x0), flit(y0), flit(res)
    cks_sql = checksum_sql("a.v", f"y2 * {t} + x2")
    return f"""
WITH img AS MATERIALIZED (SELECT i, lon, lat, w, h, fmt, 0.1E0 / w AS r
      FROM ({synth.images_cte(n, 'duckdb')})
      WHERE i % 4 = 0 AND i < {max_i}),
px AS MATERIALIZED (SELECT tx, ty, x2, y2,
      {fx0} + (tx * {t} + x2 + 0.5E0) * {fr} AS lx,
      {fy0} - (ty * {t} + y2 + 0.5E0) * {fr} AS ly
      FROM range(0, {nx}) a(tx), range(0, {ny}) b(ty),
           range(0, {t}) c(x2), range(0, {t}) d(y2)),
hit AS (SELECT px.tx, px.ty, px.x2, px.y2, img.i, img.w, img.h, img.fmt,
        cast(floor((lx - img.lon) / img.r + 1.0E-10) as bigint) AS x,
        cast(floor((img.lat - ly) / img.r + 1.0E-10) as bigint) AS y
        FROM px JOIN img
        ON lx >= img.lon AND ly <= img.lat
        AND floor((lx - img.lon) / img.r + 1.0E-10) BETWEEN 0 AND img.w - 1
        AND floor((img.lat - ly) / img.r + 1.0E-10) BETWEEN 0 AND img.h - 1),
win AS (SELECT * FROM (SELECT hit.*,
        row_number() OVER (PARTITION BY tx, ty, x2, y2 ORDER BY i DESC) AS rk
        FROM hit) WHERE rk = 1),
vals AS (SELECT tx, ty, x2, y2, ch, i, w, h, fmt, x, y,
         {synth.pixel_val_sql()} AS v FROM win, range(0, 3) e(ch)),
np AS (SELECT tx, ty, count(*) AS n_painted FROM win GROUP BY 1, 2),
pxc AS (SELECT p.tx, p.ty, p.x2, p.y2, f.ch
        FROM px p, range(0, 3) f(ch)),
allpx AS (SELECT pxc.tx, pxc.ty, pxc.x2, pxc.y2, pxc.ch,
          coalesce(v.v, 0) AS v
          FROM pxc LEFT JOIN vals v ON v.tx = pxc.tx AND v.ty = pxc.ty
          AND v.x2 = pxc.x2 AND v.y2 = pxc.y2 AND v.ch = pxc.ch)
SELECT a.tx, a.ty, min(np.n_painted) AS n_painted,
       cast(a.ch as bigint) AS channel,
       {cks_sql} AS cks
FROM allpx a JOIN np ON np.tx = a.tx AND np.ty = a.ty
GROUP BY 1, 2, 4
"""


# ---------------------------------------------------------------------------
# feathered mosaic — the blend counterpart of the last-wins render
# (gdalwarp's cutline blend / BlendMaskGenerator feathering applied
# at the mosaic seam: overlapping sources are weighted by their
# distance to their own image edge, so seams fade instead of cut;
# cf. alg/gdalwarper.cpp GDALWarpDstAlphaMasker + the -cblend ramp).
# The weight is the INTEGER city-block distance to the source edge
# plus one — every accumulation is exact int64 and the final blend is
# one floor division, so the SQL oracle replays the mosaic
# bit-for-bit. Same partitioning as render_base_tiles: one task per
# tile, sources gathered by the covering-tiles explode.


def render_feather_tiles(images: DataFrame, zoom: int) -> DataFrame:
    """(tx, ty, n_painted, cks_0..2): edge-distance-weighted blend of
    all covering images per tile pixel."""
    cov = covering_tiles(
        images.select("i", "image_id", "bytes", "lon", "lat", "w", "h"), zoom
    )

    def render(tx, ty, pdf):
        num = np.zeros((TILE_PX, TILE_PX, 3), dtype=np.int64)
        den = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
        xs, ys = _tile_lonlat_grids(tx, ty, zoom, TILE_PX)
        for arr, yy, xx, sy, sx in _samples(pdf, xs, ys):
            h, w = arr.shape[:2]
            wd = np.minimum(
                np.minimum(sx, w - 1 - sx), np.minimum(sy, h - 1 - sy)
            ) + 1
            num[yy, xx, :] += wd[:, None] * arr[sy, sx, :].astype(np.int64)
            den[yy, xx] += wd
        painted = den > 0
        if not painted.any():
            return None
        out = np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8)
        out[painted] = num[painted] // den[painted][:, None]
        return out, int(painted.sum())

    return _tile_stage(cov, ("tx", "ty"), render).drop("bytes")


def oracle_feather_render(
    n: int, max_i: int, zoom: int, tx0, tx1, ty0, ty1
) -> str:
    """All-hits weighted replay of the feather blend (the last-wins
    QUALIFY of oracle_tile_render replaced by the wd-weighted sum +
    one floor division)."""
    cks_sql = checksum_sql("v", f"oy * {TILE_PX} + ox")
    return (
        f"WITH {_hit_ctes(n, max_i, zoom, tx0, tx1, ty0, ty1)}"
        f"v AS (SELECT tx, ty, ox, oy, ch, "
        f"least(sx, w - 1 - sx, sy, h - 1 - sy) + 1 AS wd, "
        f"{synth.pixel_val_sql()} AS val "
        f"FROM (SELECT hit.*, hit.sx AS x, hit.sy AS y, ch "
        f"FROM hit, range(0, 3) tc(ch)) "
        f"WHERE sx >= 0 AND sx < w AND sy >= 0 AND sy < h), "
        f"o AS (SELECT tx, ty, ox, oy, ch, "
        f"cast(sum(wd * val) as bigint) // cast(sum(wd) as bigint) AS v "
        f"FROM v GROUP BY 1, 2, 3, 4, 5) "
        f"SELECT tx, ty, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks, "
        f"count(*) AS n_painted FROM o GROUP BY 1, 2, 3"
    )
