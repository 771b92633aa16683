"""gdaldem focal (3x3 neighborhood) operators — slope, aspect, TRI,
TPI, roughness, hillshade.

Semantics from apps/gdaldem_lib.cpp (formulas transcribed, not code):
- Horn gradient (Gradient<T,HORN>::calc :705): dx = ((w0+2w3+w6) -
  (w2+2w5+w8)) * inv_ewres; dy = ((w6+2w7+w8)-(w0+2w1+w2)) * inv_nsres
- slope (GDALSlopeHornAlg): atan(sqrt(dx^2+dy^2)/(8*scale)) in degrees
- aspect (GDALAspectAlg): atan2(dy, -dx) degrees, azimuth transform,
  flat -> -9999
- TRI Wilson (:GDALTRIAlgWilson): mean |w_k - center| over 8 neighbors
- TPI (GDALTPIAlg): center - mean of 8 neighbors
- roughness (GDALRoughnessAlg): max - min over the window
- hillshade (GDALHillshadeAlg + GDALCreateHillshadeData :1114):
  z_scaled = z/(8*scale); cang254 = (254 sin(alt) - (y*254 cos(az)
  cos(alt) z_s - x*254 sin(az) cos(alt) z_s)) / sqrt(1 + z_s^2
  (x^2+y^2)); shade = 1 + cang254 if positive else 1
Defaults z=1, scale=1, az=315, alt=45; computed in float64 (GDAL
uses float32 working precision; formulas identical).

Edge pixels are not computed (GDAL default without -compute_edges).

Window indexing: afWin[0..8] row-major, 0=(x-1,y-1) ... 4=center.

Two execution shapes:
- ``focal_stats``      — per-image (independent rasters, no shuffle)
- ``focal_tiled``      — ONE global raster split into tiles with a
  1-px halo exchange: every tile emits its edge strips, strips are
  joined to the 8 neighbors, and each tile computes its own pixels
  with the assembled halo (the SURVEY 2.5 neighbor-strip join). This
  is the pattern that scales to a 10^12-pixel mosaic.

All neighbor sums are integer-exact (uint8 inputs, +/-1/2 weights) so
order of accumulation cannot perturb results; the only fp ops are the
final atan/sqrt/atan2 — single correctly-rounded calls, identical in
numpy and the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs, synth
from ..synth import flit
from .stats import channel_checksums, checksum_sql, per_image

# hillshade constants (defaults az=315, alt=45, z=1, scale=1) — python
# floats embedded as SQL literals so both engines share them exactly
DEG = np.pi / 180.0
Z_SCALED = 1.0 / 8.0
SIN_ALT_254 = 254.0 * np.sin(45.0 * DEG)
COS_AZ_COS_ALT_Z_254 = 254.0 * (np.cos(315.0 * DEG) * (np.cos(45.0 * DEG) * Z_SCALED))
SIN_AZ_COS_ALT_Z_254 = 254.0 * (np.sin(315.0 * DEG) * (np.cos(45.0 * DEG) * Z_SCALED))
SQUARE_Z = Z_SCALED * Z_SCALED

SCALE_KEY = 10_000.0


def _window(d: np.ndarray) -> dict:
    """The 3x3 neighbourhood of a 2-D array's interior: (dx, dy) ->
    the (h-2, w-2) view shifted by (dx, dy); (0, 0) is the center."""
    return {
        (dx, dy): d[1 + dy : d.shape[0] - 1 + dy, 1 + dx : d.shape[1] - 1 + dx]
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    }


def window_features(dem: np.ndarray):
    """All six focal outputs for the interior of a 2-D int array.
    Returns dict of float64 arrays of shape (h-2, w-2)."""
    w = _window(dem.astype(np.float64))
    c = w[(0, 0)]
    # Horn sums (exact integers in float64)
    hx = (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)]) - (
        w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)]
    )
    hy = (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)]) - (
        w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)]
    )
    # pixel units: ewres = 1, nsres = -1 (north-up geotransform)
    gx = hx * 1.0
    gy = hy * -1.0
    slope = np.arctan(np.sqrt(hx * hx + hy * hy) / 8.0) / DEG
    # aspect: dx has the opposite sign convention in GDALAspectAlg
    adx = -hx
    ady = hy
    aspect = np.arctan2(ady, -adx) / DEG
    az = np.where(aspect > 90.0, 450.0 - aspect, 90.0 - aspect)
    az = np.where(az == 360.0, 0.0, az)
    aspect = np.where((adx == 0) & (ady == 0), -9999.0, az)
    nbrsum = sum(v for k, v in w.items() if k != (0, 0))
    tri = (
        sum(np.abs(v - c) for k, v in w.items() if k != (0, 0))
    ) * 0.125
    tpi = c - nbrsum * 0.125
    allv = np.stack(list(w.values()))
    rough = allv.max(axis=0) - allv.min(axis=0)
    c254 = (
        SIN_ALT_254 - (gy * COS_AZ_COS_ALT_Z_254 - gx * SIN_AZ_COS_ALT_Z_254)
    ) / np.sqrt(1.0 + SQUARE_Z * (gx * gx + gy * gy))
    shade = np.where(c254 <= 0.0, 1.0, 1.0 + c254)
    return {
        "slope": slope, "aspect": aspect, "tri": tri, "tpi": tpi,
        "rough": rough, "shade": shade,
    }


def _scanline_sums(images: DataFrame, kernel, names) -> DataFrame:
    """Per-image (channel 0 = DEM) focal keys summed per interior
    scanline: ``kernel`` maps the float64 DEM to a dict of (h-2, w-2)
    arrays; each row is (image_id, y, n, <name>_sum for ``names``) over
    floor(value * SCALE_KEY). Edge pixels are not computed, so rasters
    under 3x3 give no rows."""

    def fn(arr):
        dem = arr[:, :, 0]
        if dem.shape[0] < 3 or dem.shape[1] < 3:
            return
        feats = kernel(dem.astype(np.float64))
        sums = [
            np.floor(feats[k] * SCALE_KEY).astype(np.int64).sum(axis=1)
            for k in names
        ]
        h, n = feats[names[0]].shape
        for y in range(h):
            yield (y + 1, n, *(int(v[y]) for v in sums))

    cols = ", ".join(f"{k}_sum bigint" for k in names)
    return per_image(
        images, fn, f"image_id string, y bigint, n bigint, {cols}"
    )


def focal_stats(images: DataFrame) -> DataFrame:
    """Per-image (channel 0 = DEM) focal features, aggregated per
    interior scanline: (image_id, y, n, <op>_sum x6)."""
    return _scanline_sums(
        images, window_features,
        ("slope", "aspect", "tri", "tpi", "rough", "shade"),
    )


# ---------------------------------------------------------------------------
# color-relief (gdaldem color-relief, GDALColorReliefGetRGBA
# apps/gdaldem_lib.cpp:1562: linear ramp interpolation, channel =
# trunc(0.45 + c0 + ratio * (c1 - c0)) clamped; exact entry wins)

COLOR_RAMP = (
    (0, (0, 0, 128)),
    (64, (0, 128, 0)),
    (128, (240, 230, 140)),
    (192, (139, 69, 19)),
    (255, (255, 255, 255)),
)


def color_relief_band(dem: np.ndarray, ramp=COLOR_RAMP) -> np.ndarray:
    """(h, w) values -> (h, w, 3) uint8 via interpolated color ramp."""
    v = dem.astype(np.float64)
    out = np.zeros((*dem.shape, 3), dtype=np.uint8)
    first_v, first_c = ramp[0]
    for c in range(3):
        out[v <= first_v, c] = first_c[c]
    for (v0, c0), (v1, c1) in zip(ramp, ramp[1:]):
        m = (v > v0) & (v <= v1)
        if not m.any():
            continue
        ratio = (v[m] - v0) / (v1 - v0)
        for c in range(3):
            val = np.trunc(0.45 + c0[c] + ratio * (c1[c] - c0[c]))
            out[m, c] = np.clip(val, 0, 255).astype(np.uint8)
    last_v, last_c = ramp[-1]
    for c in range(3):
        out[v > last_v, c] = last_c[c]
    return out


def _relief_checksums(images: DataFrame, band_fn, ramp) -> DataFrame:
    """Per-output-channel GDAL checksums of ``band_fn(channel 0, ramp)``."""
    return channel_checksums(
        images, ["bytes"],
        lambda b: band_fn(codecs.decode_image(bytes(b))[:, :, 0], ramp),
    )


def color_relief(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    """Per-image color relief of channel 0; per-output-channel GDAL
    checksums."""
    return _relief_checksums(images, color_relief_band, ramp)


def oracle_color_relief(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    """Piecewise CASE ladder mirroring the interpolation arithmetic."""
    def chan(c):
        first_v, first_c = ramp[0]
        cases = [f"WHEN val <= {first_v} THEN {first_c[c]}"]
        for (v0, c0), (v1, c1) in zip(ramp, ramp[1:]):
            interp = (
                f"cast(trunc(0.45E0 + {c0[c]} + "
                f"(cast(val as double) - {flit(float(v0))}) / {flit(float(v1 - v0))} "
                f"* {c1[c] - c0[c]}) as bigint)"
            )
            cases.append(
                f"WHEN val <= {v1} THEN least(greatest({interp}, 0), 255)"
            )
        last_c = ramp[-1][1]
        return f"(CASE {' '.join(cases)} ELSE {last_c[c]} END)"

    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, w, x, y, val FROM "
        f"({synth.pixels_cte(n, max_i, 'duckdb')}) WHERE ch = 0), "
        f"o AS (SELECT image_id, w, x, y, c AS channel, "
        f"CASE c WHEN 0 THEN {chan(0)} WHEN 1 THEN {chan(1)} "
        f"ELSE {chan(2)} END AS oval FROM px, range(0, 3) t(c)) "
        f"SELECT image_id, cast(channel as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM o GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# tiled global raster with 1-px halo exchange


def _dem_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic global DEM (SQL-mirrorable integer arithmetic)."""
    return ((gx * 3 + gy * 5 + ((gx * 7 + gy * 11) % 13) * 17) % 256).astype(
        np.int64
    )


DEM_VALUE_SQL = "((gx * 3 + gy * 5 + ((gx * 7 + gy * 11) % 13) * 17) % 256)"


def focal_tiled(spark, width: int, height: int, tile_px: int = 32) -> DataFrame:
    """Focal ops over ONE global raster split into tiles. Each tile
    generates its payload, every tile emits 1-px edge strips, strips
    join to neighbor tiles (the halo exchange), and the focal window
    runs on the haloed array. Output: per global interior scanline
    (y, n, <op>_sum x6) — tile-boundary-free by construction."""
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px
    tiles = spark.range(ntx * nty).selectExpr(
        f"cast(id % {ntx} as int) AS tx", f"cast(id div {ntx} as int) AS ty"
    )

    # strips: every tile re-emits its border pixels once per neighbor
    # that needs them, keyed by the RECEIVING tile (ntx_, nty_)
    def strips(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * tile_px, ty * tile_px
        w = min(tile_px, width - px0)
        h = min(tile_px, height - py0)
        gy, gx = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        vals = _dem_value(gx, gy)
        out = []
        for dtx in (-1, 0, 1):
            for dty in (-1, 0, 1):
                rx, ry = tx + dtx, ty + dty
                if rx < 0 or ry < 0 or rx >= ntx or ry >= nty:
                    continue
                if dtx == 0 and dty == 0:
                    m = np.ones_like(vals, dtype=bool)
                else:
                    # the receiver right of me needs my RIGHT edge, etc.
                    m = np.zeros_like(vals, dtype=bool)
                    sl_x = {-1: slice(0, 1), 0: slice(None), 1: slice(w - 1, w)}[dtx]
                    sl_y = {-1: slice(0, 1), 0: slice(None), 1: slice(h - 1, h)}[dty]
                    m[sl_y, sl_x] = True
                yy, xx = np.nonzero(m)
                out.append(
                    pd.DataFrame(
                        {
                            "rtx": rx, "rty": ry,
                            "gx": gx[yy, xx], "gy": gy[yy, xx],
                            "val": vals[yy, xx],
                        }
                    )
                )
        return pd.concat(out)

    halo = tiles.groupby("tx", "ty").applyInPandas(
        strips, schema="rtx int, rty int, gx bigint, gy bigint, val bigint"
    )

    # per receiving tile: assemble haloed array, compute interior
    def compute(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * tile_px, ty * tile_px
        w = min(tile_px, width - px0)
        h = min(tile_px, height - py0)
        x0, y0 = px0 - 1, py0 - 1
        arr = np.full((h + 2, w + 2), -1, dtype=np.int64)
        arr[pdf["gy"].values - y0, pdf["gx"].values - x0] = pdf["val"].values
        feats = window_features(arr)
        # valid outputs: global interior pixels owned by this tile
        # (haloed cells outside the raster stay -1 -> mask them off)
        oy, ox = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        owned = (ox >= 1) & (ox < width - 1) & (oy >= 1) & (oy < height - 1)
        rows = []
        for yy in range(h):
            m = owned[yy]
            if not m.any():
                continue
            rows.append(
                {
                    "y": int(py0 + yy),
                    "n": int(m.sum()),
                    **{
                        f"{k}_sum": int(
                            np.floor(feats[k][yy][m[:]] * SCALE_KEY).astype(np.int64).sum()
                        )
                        for k in ("slope", "aspect", "tri", "tpi", "rough", "shade")
                    },
                }
            )
        return pd.DataFrame(rows) if rows else pd.DataFrame(
            columns=["y", "n", "slope_sum", "aspect_sum", "tri_sum",
                     "tpi_sum", "rough_sum", "shade_sum"]
        )

    part = halo.groupby("rtx", "rty").applyInPandas(
        compute,
        schema="y bigint, n bigint, slope_sum bigint, aspect_sum bigint, "
        "tri_sum bigint, tpi_sum bigint, rough_sum bigint, shade_sum bigint",
    )
    agg = [F.sum(c).alias(c) for c in (
        "n", "slope_sum", "aspect_sum", "tri_sum", "tpi_sum",
        "rough_sum", "shade_sum")]
    return part.groupBy("y").agg(*agg)


# ---------------------------------------------------------------------------
# oracle SQL


def shade_sql() -> str:
    """Hillshade (1..255 float) expression given Horn sums dxh, dyh in
    scope — shared by the focal oracle and the hsv_merge composition."""
    gx, gy = "(dxh * 1.0E0)", "(dyh * -1.0E0)"
    c254 = (
        f"(({flit(SIN_ALT_254)} - ({gy} * {flit(COS_AZ_COS_ALT_Z_254)} "
        f"- {gx} * {flit(SIN_AZ_COS_ALT_Z_254)})) "
        f"/ sqrt(1.0E0 + {flit(SQUARE_Z)} * ({gx} * {gx} + {gy} * {gy})))"
    )
    return f"(CASE WHEN {c254} <= 0.0E0 THEN 1.0E0 ELSE 1.0E0 + {c254} END)"


def _feat_select(center: str = "c") -> str:
    """Feature key expressions given per-pixel aggregates dxh, dyh
    (Horn sums), center c, sum8, absdiff8, vmax, vmin in scope."""
    slope = f"(atan(sqrt(dxh * dxh + dyh * dyh) / 8.0E0) / {flit(DEG)})"
    adx, ady = "(-dxh)", "dyh"
    raw_aspect = f"(atan2({ady}, -{adx}) / {flit(DEG)})"
    az = (
        f"(CASE WHEN {raw_aspect} > 90.0E0 THEN 450.0E0 - {raw_aspect} "
        f"ELSE 90.0E0 - {raw_aspect} END)"
    )
    az0 = f"(CASE WHEN {az} = 360.0E0 THEN 0.0E0 ELSE {az} END)"
    aspect = f"(CASE WHEN {adx} = 0 AND {ady} = 0 THEN -9999.0E0 ELSE {az0} END)"
    shade = shade_sql()
    k = flit(SCALE_KEY)

    def key(e):
        return f"cast(floor({e} * {k}) as bigint)"

    return (
        f"{key(slope)} AS slope_key, {key(aspect)} AS aspect_key, "
        f"{key('(absdiff8 * 0.125E0)')} AS tri_key, "
        f"{key(f'({center} - sum8 * 0.125E0)')} AS tpi_key, "
        f"{key('(vmax - vmin)')} AS rough_key, {key(shade)} AS shade_key"
    )


_NBR = (
    "range(-1, 2) dd(ddx), range(-1, 2) ee(ddy)"
)

_WX = "(CASE ddx WHEN -1 THEN 1 WHEN 1 THEN -1 ELSE 0 END) * (CASE ddy WHEN 0 THEN 2 ELSE 1 END)"
_WY = "(CASE ddy WHEN 1 THEN 1 WHEN -1 THEN -1 ELSE 0 END) * (CASE ddx WHEN 0 THEN 2 ELSE 1 END)"


def interior_grid(n: int, max_i: int) -> str:
    """One row per interior pixel (x0, y0) of each synthetic image
    below ``max_i``, carrying the image columns the pixel function
    needs: the grid every focal-window oracle runs over."""
    return (
        f"SELECT image_id, i.i AS i, w, h, fmt, x0, y0 "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(1, 255) a(x0), range(1, 255) b(y0) "
        f"WHERE i.i < {max_i} AND x0 < i.w - 1 AND y0 < i.h - 1"
    )


def _at(dx: int, dy: int) -> str:
    """Scalar subquery: channel-0 value of the neighbour (dx, dy) of
    the grid pixel in scope as ``g``."""
    return (
        f"(SELECT {synth.pixel_val_sql()} FROM (SELECT g.i AS i, g.w AS w, "
        f"g.fmt AS fmt, g.x0 + {dx} AS x, g.y0 + {dy} AS y, 0 AS ch))"
    )


# the 9 channel-0 window values (ddx, ddy, v) of every grid pixel
_NB_SQL = (
    f"nb AS (SELECT image_id, x0, y0, ddx, ddy, {synth.pixel_val_sql()} AS v "
    f"FROM (SELECT g.*, ddx, ddy, x0 + ddx AS x, y0 + ddy AS y, 0 AS ch "
    f"FROM g, {_NBR}))"
)


def oracle_dem_images(n: int, max_i: int) -> str:
    """Per-image per-scanline sums of the six focal keys, from the
    synthetic pixel function (channel 0)."""
    nbr_val = synth.pixel_val_sql()
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"{_NB_SQL}, "
        f"ctr AS (SELECT image_id, x0, y0, {nbr_val} AS c "
        f"FROM (SELECT g.*, x0 AS x, y0 AS y, 0 AS ch FROM g)), "
        f"agg AS (SELECT nb.image_id, nb.x0, nb.y0, "
        f"sum(v * {_WX}) AS dxh, sum(v * {_WY}) AS dyh, min(ctr.c) AS c, "
        f"sum(CASE WHEN ddx = 0 AND ddy = 0 THEN 0 ELSE v END) AS sum8, "
        f"sum(CASE WHEN ddx = 0 AND ddy = 0 THEN 0 ELSE abs(v - ctr.c) END) "
        f"AS absdiff8, max(v) AS vmax, min(v) AS vmin "
        f"FROM nb JOIN ctr ON ctr.image_id = nb.image_id "
        f"AND ctr.x0 = nb.x0 AND ctr.y0 = nb.y0 "
        f"GROUP BY 1, 2, 3), "
        f"keys AS (SELECT image_id, x0, y0, {_feat_select('c')} FROM agg) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(slope_key) as bigint) AS slope_sum, "
        f"cast(sum(aspect_key) as bigint) AS aspect_sum, "
        f"cast(sum(tri_key) as bigint) AS tri_sum, "
        f"cast(sum(tpi_key) as bigint) AS tpi_sum, "
        f"cast(sum(rough_key) as bigint) AS rough_sum, "
        f"cast(sum(shade_key) as bigint) AS shade_sum "
        f"FROM keys GROUP BY 1, 2"
    )


def oracle_dem_tiled(width: int, height: int) -> str:
    """Global-raster focal oracle (tile-layout-free)."""
    val = DEM_VALUE_SQL
    return (
        f"WITH g AS (SELECT x0, y0 FROM range(1, {width - 1}) a(x0), "
        f"range(1, {height - 1}) b(y0)), "
        f"nb AS (SELECT x0, y0, ddx, ddy, "
        f"{val.replace('gx', '(x0 + ddx)').replace('gy', '(y0 + ddy)')} AS v "
        f"FROM g, {_NBR}), "
        f"ctr AS (SELECT x0, y0, "
        f"{val.replace('gx', 'x0').replace('gy', 'y0')} AS c FROM g), "
        f"agg AS (SELECT nb.x0, nb.y0, "
        f"sum(v * {_WX}) AS dxh, sum(v * {_WY}) AS dyh, min(ctr.c) AS c, "
        f"sum(CASE WHEN ddx = 0 AND ddy = 0 THEN 0 ELSE v END) AS sum8, "
        f"sum(CASE WHEN ddx = 0 AND ddy = 0 THEN 0 ELSE abs(v - ctr.c) END) "
        f"AS absdiff8, max(v) AS vmax, min(v) AS vmin "
        f"FROM nb JOIN ctr ON ctr.x0 = nb.x0 AND ctr.y0 = nb.y0 "
        f"GROUP BY 1, 2), "
        f"keys AS (SELECT x0, y0, {_feat_select('c')} FROM agg) "
        f"SELECT y0 AS y, count(*) AS n, "
        f"cast(sum(slope_key) as bigint) AS slope_sum, "
        f"cast(sum(aspect_key) as bigint) AS aspect_sum, "
        f"cast(sum(tri_key) as bigint) AS tri_sum, "
        f"cast(sum(tpi_key) as bigint) AS tpi_sum, "
        f"cast(sum(rough_key) as bigint) AS rough_sum, "
        f"cast(sum(shade_key) as bigint) AS shade_sum "
        f"FROM keys GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# hillshade variants (gdaldem hillshade -multidirectional / -combined /
# -igor; apps/gdaldem_lib.cpp GDALHillshadeMultiDirectionalAlg:1171,
# GDALHillshadeCombinedAlg:1086, GDALHillshadeIgorAlg:851). Formulas
# transcribed for the pixel-unit north-up case (ewres=1, nsres=-1,
# z=1, scale=1, az=315, alt=45); GDAL's ApproxADivByInvSqrtB is an
# a/sqrt(b) fast path — computed exactly here (as GDAL does without
# SSE), identically in numpy and the SQL twin.

SIN_ALT = np.sin(45.0 * DEG)
SIN_ALT_127 = 127.0 * SIN_ALT
COS_ALT_Z = np.cos(45.0 * DEG) * Z_SCALED
COS_ALT_Z_127 = 127.0 * COS_ALT_Z
COS225_COS_ALT_Z_127 = 127.0 * np.cos(225.0 * DEG) * COS_ALT_Z
COS_AZ_COS_ALT_Z = np.cos(315.0 * DEG) * COS_ALT_Z
SIN_AZ_COS_ALT_Z = np.sin(315.0 * DEG) * COS_ALT_Z
INV_SQUARE_OF_HALF_PI = 1.0 / ((np.pi * np.pi) / 4.0)
IGOR_TARGET = np.pi * 3.0 / 2.0 - 315.0 * DEG  # = -pi/4
TWO_PI = 2.0 * np.pi


def hillshade_variant_features(dem: np.ndarray) -> dict:
    """multidirectional / combined / igor shade for the interior of a
    2-D int array, float64, shape (h-2, w-2) each."""
    w = _window(dem.astype(np.float64))
    hx = (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)]) - (
        w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)]
    )
    hy = (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)]) - (
        w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)]
    )
    # Gradient<HORN>::calc with inv_ewres=1, inv_nsres=-1
    x = hx * 1.0
    y = hy * -1.0
    xx = x * x
    yy = y * y
    s = xx + yy

    # --- multidirectional (USGS OF 92-422 weights)
    val225 = np.maximum(0.0, SIN_ALT_127 + (x - y) * COS225_COS_ALT_Z_127)
    val270 = np.maximum(0.0, SIN_ALT_127 - x * COS_ALT_Z_127)
    val315 = np.maximum(0.0, SIN_ALT_127 + (x + y) * COS225_COS_ALT_Z_127)
    val360 = np.maximum(0.0, SIN_ALT_127 - y * COS_ALT_Z_127)
    w225 = 0.5 * s - x * y
    w270 = xx
    w315 = s - w225
    w360 = yy
    with np.errstate(invalid="ignore", divide="ignore"):
        multi = 1.0 + (
            (w225 * val225 + w270 * val270 + w315 * val315 + w360 * val360)
            / np.where(s == 0.0, 1.0, s)
        ) / np.sqrt(1.0 + SQUARE_Z * s)
    multi = np.where(s == 0.0, 1.0 + 254.0 * SIN_ALT, multi)

    # --- combined (shade * slope attenuation)
    slope_t = s * SQUARE_Z
    cang0 = np.arccos(
        (SIN_ALT - (y * COS_AZ_COS_ALT_Z - x * SIN_AZ_COS_ALT_Z))
        / np.sqrt(1.0 + slope_t)
    )
    cang1 = 1.0 - cang0 * np.arctan(np.sqrt(slope_t)) * INV_SQUARE_OF_HALF_PI
    comb = np.where(cang1 <= 0.0, 1.0, 1.0 + 254.0 * cang1)

    # --- igor (shadowness from slope strength x aspect proximity to
    # the anti-lit direction; az-only, alt ignored)
    slope_deg = np.arctan(np.sqrt(hx * hx + hy * hy) * Z_SCALED) / DEG
    aspect = np.arctan2(hy, hx)  # atan2(dy2, -dx) with dx=-hx, dy2=hy
    a_norm = np.where(aspect < 0.0, TWO_PI + aspect, aspect)
    t_norm = IGOR_TARGET if IGOR_TARGET >= 0 else TWO_PI + IGOR_TARGET
    diff = np.abs(a_norm - t_norm)
    diff = np.where(diff > np.pi, TWO_PI - diff, diff)
    igor = 255.0 * (1.0 - (slope_deg / 90.0) * (1.0 - diff / np.pi))

    return {"multi": multi, "comb": comb, "igor": igor}


def hillshade_variants(images: DataFrame) -> DataFrame:
    """Per-image (channel 0 = DEM) variant shades, integer-keyed and
    aggregated per interior scanline."""
    return _scanline_sums(
        images, hillshade_variant_features, ("multi", "comb", "igor")
    )


def tri_riley(images: DataFrame) -> DataFrame:
    """gdaldem TRI with the default algorithm (Riley et al. 1999;
    apps/gdaldem_lib.cpp GDALTRIAlgRiley:2619, eTRIAlg default :176):
    sqrt of the sum of squared differences to the center over the 8
    neighbors. Wilson (mean |diff|) is the ``tri`` column of
    focal_stats; this is the terrestrial default the CLI ships.

    Sum-of-squares is an exact integer on uint8 inputs, so the single
    sqrt is correctly rounded and bit-identical between numpy and the
    DuckDB twin — floor-scaled keys need no epsilon."""

    def riley(d):
        w = _window(d)
        c = w[(0, 0)]
        ssq = sum((v - c) * (v - c) for k, v in w.items() if k != (0, 0))
        return {"riley": np.sqrt(ssq)}

    return _scanline_sums(images, riley, ("riley",))


def oracle_tri_riley(n: int, max_i: int) -> str:
    """SQL twin: the center term of (v - c)^2 is identically zero, so
    the sum runs over all 9 window cells."""
    k = flit(SCALE_KEY)
    nbr_val = synth.pixel_val_sql()
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"{_NB_SQL}, "
        f"ctr AS (SELECT image_id, x0, y0, {nbr_val} AS c "
        f"FROM (SELECT g.*, x0 AS x, y0 AS y, 0 AS ch FROM g)), "
        f"agg AS (SELECT nb.image_id, nb.x0, nb.y0, "
        f"sum((v - ctr.c) * (v - ctr.c)) AS ssq "
        f"FROM nb JOIN ctr ON ctr.image_id = nb.image_id "
        f"AND ctr.x0 = nb.x0 AND ctr.y0 = nb.y0 "
        f"GROUP BY 1, 2, 3), "
        f"keys AS (SELECT image_id, x0, y0, "
        f"cast(floor(sqrt(cast(ssq as double)) * {k}) as bigint) AS rk "
        f"FROM agg) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(rk) as bigint) AS riley_sum "
        f"FROM keys GROUP BY 1, 2"
    )


def oracle_hillshade_variants(n: int, max_i: int) -> str:
    """SQL twin of the three variant shades over the synthetic pixel
    function — Horn sums are exact integers, then one transcendental
    chain per variant shared verbatim with the numpy kernel."""
    k = flit(SCALE_KEY)
    # per-pixel Horn aggregates (dxh = hx, dyh = hy)
    x, y = "(dxh * 1.0E0)", "(dyh * -1.0E0)"
    s = f"({x} * {x} + {y} * {y})"
    v225 = f"greatest(0.0E0, {flit(SIN_ALT_127)} + ({x} - {y}) * {flit(COS225_COS_ALT_Z_127)})"
    v270 = f"greatest(0.0E0, {flit(SIN_ALT_127)} - {x} * {flit(COS_ALT_Z_127)})"
    v315 = f"greatest(0.0E0, {flit(SIN_ALT_127)} + ({x} + {y}) * {flit(COS225_COS_ALT_Z_127)})"
    v360 = f"greatest(0.0E0, {flit(SIN_ALT_127)} - {y} * {flit(COS_ALT_Z_127)})"
    w225 = f"(0.5E0 * {s} - {x} * {y})"
    w315 = f"({s} - {w225})"
    multi = (
        f"(CASE WHEN {s} = 0.0E0 THEN {flit(1.0 + 254.0 * SIN_ALT)} "
        f"ELSE 1.0E0 + (({w225} * {v225} + ({x} * {x}) * {v270} "
        f"+ {w315} * {v315} + ({y} * {y}) * {v360}) / {s}) "
        f"/ sqrt(1.0E0 + {flit(SQUARE_Z)} * {s}) END)"
    )
    slope_t = f"({s} * {flit(SQUARE_Z)})"
    cang0 = (
        f"acos(({flit(SIN_ALT)} - ({y} * {flit(COS_AZ_COS_ALT_Z)} "
        f"- {x} * {flit(SIN_AZ_COS_ALT_Z)})) / sqrt(1.0E0 + {slope_t}))"
    )
    cang1 = f"(1.0E0 - {cang0} * atan(sqrt({slope_t})) * {flit(INV_SQUARE_OF_HALF_PI)})"
    comb = f"(CASE WHEN {cang1} <= 0.0E0 THEN 1.0E0 ELSE 1.0E0 + 254.0E0 * {cang1} END)"
    slope_deg = f"(atan(sqrt(dxh * dxh + dyh * dyh) * {flit(Z_SCALED)}) / {flit(DEG)})"
    aspect = "atan2(cast(dyh as double), cast(dxh as double))"
    a_norm = f"(CASE WHEN {aspect} < 0.0E0 THEN {flit(TWO_PI)} + {aspect} ELSE {aspect} END)"
    t_norm = flit(IGOR_TARGET if IGOR_TARGET >= 0 else TWO_PI + IGOR_TARGET)
    diff0 = f"abs({a_norm} - {t_norm})"
    diff = f"(CASE WHEN {diff0} > {flit(np.pi)} THEN {flit(TWO_PI)} - {diff0} ELSE {diff0} END)"
    igor = (
        f"(255.0E0 * (1.0E0 - ({slope_deg} / 90.0E0) "
        f"* (1.0E0 - {diff} / {flit(np.pi)})))"
    )
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"{_NB_SQL}, "
        f"agg AS (SELECT image_id, x0, y0, "
        f"sum(v * {_WX}) AS dxh, sum(v * {_WY}) AS dyh "
        f"FROM nb GROUP BY 1, 2, 3), "
        f"keys AS (SELECT image_id, x0, y0, "
        f"cast(floor({multi} * {k}) as bigint) AS multi_key, "
        f"cast(floor({comb} * {k}) as bigint) AS comb_key, "
        f"cast(floor({igor} * {k}) as bigint) AS igor_key FROM agg) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(multi_key) as bigint) AS multi_sum, "
        f"cast(sum(comb_key) as bigint) AS comb_sum, "
        f"cast(sum(igor_key) as bigint) AS igor_sum "
        f"FROM keys GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdaldem color-relief -nearest_color_entry
# (apps/gdaldem_lib.cpp:1663 COLOR_SELECTION_NEAREST_ENTRY: strictly
# between two entries pick the closer one, ties to the upper entry;
# exact matches take their entry; outside the ramp clamps)


def color_relief_nearest_band(dem: np.ndarray, ramp=COLOR_RAMP) -> np.ndarray:
    """(h, w) values -> (h, w, 3) uint8 via nearest ramp entry."""
    v = dem.astype(np.int64)
    vals = np.array([e[0] for e in ramp], dtype=np.int64)
    cols = np.array([e[1] for e in ramp], dtype=np.int64)
    # bracket: first entry >= v (like the reference's upper_bound walk)
    hi = np.searchsorted(vals, v, side="left")
    hi = np.clip(hi, 0, len(vals) - 1)
    lo = np.clip(hi - 1, 0, len(vals) - 1)
    exact = vals[hi] == v
    below = v <= vals[0]
    pick_lo = (v - vals[lo]) < (vals[hi] - v)
    idx = np.where(below | exact, hi, np.where(pick_lo, lo, hi))
    return cols[idx].astype(np.uint8)


def color_relief_nearest(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    """Per-image nearest-entry color relief of channel 0; per-output-
    channel GDAL checksums (all-integer, bit-exact oracle)."""
    return _relief_checksums(images, color_relief_nearest_band, ramp)


def oracle_color_relief_nearest(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    def chan(c):
        first_v, first_c = ramp[0]
        cases = [f"WHEN val <= {first_v} THEN {first_c[c]}"]
        for (v0, c0), (v1, c1) in zip(ramp, ramp[1:]):
            cases.append(
                f"WHEN val = {v1} THEN {c1[c]} "
                f"WHEN val < {v1} THEN "
                f"(CASE WHEN 2 * val < {v0 + v1} THEN {c0[c]} "
                f"ELSE {c1[c]} END)"
            )
        last_c = ramp[-1][1]
        return f"(CASE {' '.join(cases)} ELSE {last_c[c]} END)"

    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, w, x, y, val FROM "
        f"({synth.pixels_cte(n, max_i, 'duckdb')}) WHERE ch = 0), "
        f"o AS (SELECT image_id, w, x, y, c AS channel, "
        f"CASE c WHEN 0 THEN {chan(0)} WHEN 1 THEN {chan(1)} "
        f"ELSE {chan(2)} END AS oval FROM px, range(0, 3) t(c)) "
        f"SELECT image_id, cast(channel as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM o GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdaldem slope -p (apps/gdaldem_lib.cpp GDALSlopeHornAlg with
# psData->slopeFormat == 0: percent slope = 100 * sqrt(dx^2+dy^2) /
# (8*scale) — the same Horn sums WITHOUT the atan, so the key needs
# only sqrt, which bit-matches libm on this platform: the floor keys
# are exact, no coarse quantization required).


def slope_percent_rows(images: DataFrame) -> DataFrame:
    """(image_id, y, n, pct_sum) — per-interior-scanline sums of
    floor(percent_slope * 1e4). Map-only (per-image focal window)."""

    def pct(d):
        w = _window(d)
        hx = (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)]) - (
            w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)]
        )
        hy = (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)]) - (
            w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)]
        )
        return {"pct": np.sqrt(hx * hx + hy * hy) * 12.5}  # 100/8

    return _scanline_sums(images, pct, ("pct",))


def oracle_slope_percent(n: int, max_i: int) -> str:
    k = flit(SCALE_KEY)
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"{_NB_SQL}, "
        f"agg AS (SELECT image_id, x0, y0, "
        f"sum(v * {_WX}) AS dxh, sum(v * {_WY}) AS dyh "
        f"FROM nb GROUP BY 1, 2, 3) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(cast(floor(sqrt(dxh * dxh + dyh * dyh) * 12.5E0 "
        f"* {k}) as bigint)) as bigint) AS pct_sum "
        f"FROM agg GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdaldem -alg ZevenbergenThorne (apps/gdaldem_lib.cpp
# GDALSlopeZevenbergenThorneAlg: 2-point central differences
# dx = west - east, dy = south - north over 2*res — vs Horn's 6-point
# weighted sums over 8*res). Gated in percent mode so the key needs
# only sqrt (bit-exact): pct = 100 * sqrt(dx^2+dy^2) / 2.


def slope_zt_percent_rows(images: DataFrame) -> DataFrame:
    """(image_id, y, n, pct_sum) — per-interior-scanline sums of
    floor(ZT percent slope * 1e4)."""

    def pct(d):
        dx = d[1:-1, :-2] - d[1:-1, 2:]      # west - east
        dy = d[2:, 1:-1] - d[:-2, 1:-1]      # south - north
        return {"pct": np.sqrt(dx * dx + dy * dy) * 50.0}  # 100/2

    return _scanline_sums(images, pct, ("pct",))


def oracle_slope_zt_percent(n: int, max_i: int) -> str:
    k = flit(SCALE_KEY)

    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"d AS (SELECT image_id, x0, y0, "
        f"cast({_at(-1, 0)} - {_at(1, 0)} as double) AS dx, "
        f"cast({_at(0, 1)} - {_at(0, -1)} as double) AS dy FROM g) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(cast(floor(sqrt(dx * dx + dy * dy) * 50.0E0 * {k}) "
        f"as bigint)) as bigint) AS pct_sum "
        f"FROM d GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdaldem hillshade -alg ZevenbergenThorne (apps/gdaldem_lib.cpp
# Gradient<ZEVENBERGEN_THORNE>::calc :720 — x = west - east,
# y = (south - north) * inv_nsres — and GDALCreateHillshadeData :1126:
# z_scaled = z / (2 * scale) for ZT vs z / (8 * scale) for Horn. The
# shade chain itself is the standard GDALHillshadeAlg 254-scaled
# cosine-of-incidence: only one product per term, one sqrt and one
# division — all correctly rounded IEEE ops, so floor keys are exact
# (same argument as the Horn `shade` column of focal_stats).

ZT_Z_SCALED = 1.0 / 2.0
ZT_SQUARE_Z = ZT_Z_SCALED * ZT_Z_SCALED
ZT_COS_AZ_COS_ALT_Z_254 = 254.0 * (
    np.cos(315.0 * DEG) * (np.cos(45.0 * DEG) * ZT_Z_SCALED)
)
ZT_SIN_AZ_COS_ALT_Z_254 = 254.0 * (
    np.sin(315.0 * DEG) * (np.cos(45.0 * DEG) * ZT_Z_SCALED)
)


def hillshade_zt_rows(images: DataFrame) -> DataFrame:
    """(image_id, y, n, shade_sum) — per-interior-scanline sums of
    floor(ZT hillshade * 1e4)."""

    def shade(d):
        gx = d[1:-1, :-2] - d[1:-1, 2:]          # west - east
        gy = -(d[2:, 1:-1] - d[:-2, 1:-1])       # (s - n) * -1
        c254 = (
            SIN_ALT_254
            - (gy * ZT_COS_AZ_COS_ALT_Z_254 - gx * ZT_SIN_AZ_COS_ALT_Z_254)
        ) / np.sqrt(1.0 + ZT_SQUARE_Z * (gx * gx + gy * gy))
        return {"shade": np.where(c254 <= 0.0, 1.0, 1.0 + c254)}

    return _scanline_sums(images, shade, ("shade",))


def oracle_hillshade_zt(n: int, max_i: int) -> str:
    k = flit(SCALE_KEY)

    c254 = (
        f"(({flit(SIN_ALT_254)} - (gy * {flit(ZT_COS_AZ_COS_ALT_Z_254)} "
        f"- gx * {flit(ZT_SIN_AZ_COS_ALT_Z_254)})) "
        f"/ sqrt(1.0E0 + {flit(ZT_SQUARE_Z)} * (gx * gx + gy * gy)))"
    )
    shade = f"(CASE WHEN {c254} <= 0.0E0 THEN 1.0E0 ELSE 1.0E0 + {c254} END)"
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"d AS (SELECT image_id, x0, y0, "
        f"cast({_at(-1, 0)} - {_at(1, 0)} as double) AS gx, "
        f"-cast({_at(0, 1)} - {_at(0, -1)} as double) AS gy FROM g) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(cast(floor({shade} * {k}) as bigint)) as bigint) "
        f"AS shade_sum FROM d GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdaldem aspect -alg ZevenbergenThorne, plus the -trigonometric and
# -zero_for_flat output conventions (apps/gdaldem_lib.cpp
# GDALAspectZevenbergenThorneAlg: dx = east - west, dy = south -
# north, aspect = atan2(dy, -dx) in degrees; bAngleAsAzimuth default
# true -> the 450/90 azimuth fold; -trigonometric keeps the math
# angle with negatives wrapped +360; -zero_for_flat emits 0 instead
# of the -9999 nodata on dx = dy = 0). Emitted as two key columns so
# one query gates all three flags. atan2 floor keys follow the same
# integer-gradient argument as the (green) Horn aspect gate.


def aspect_zt_rows(images: DataFrame) -> DataFrame:
    """(image_id, y, n, az_sum, trig_sum) — per-interior-scanline sums
    of floor(aspect * 1e4) under both output conventions."""

    def aspects(d):
        dx = d[1:-1, 2:] - d[1:-1, :-2]      # east - west
        dy = d[2:, 1:-1] - d[:-2, 1:-1]      # south - north
        raw = np.arctan2(dy, -dx) / DEG
        flat = (dx == 0) & (dy == 0)
        az = np.where(raw > 90.0, 450.0 - raw, 90.0 - raw)
        az = np.where(az == 360.0, 0.0, az)
        tr = np.where(raw < 0.0, raw + 360.0, raw)
        tr = np.where(tr == 360.0, 0.0, tr)
        return {
            "az": np.where(flat, -9999.0, az),
            "trig": np.where(flat, 0.0, tr),
        }

    return _scanline_sums(images, aspects, ("az", "trig"))


def oracle_aspect_zt(n: int, max_i: int) -> str:
    k = flit(SCALE_KEY)

    raw = f"(atan2(cast(dy as double), -cast(dx as double)) / {flit(DEG)})"
    az1 = (
        f"(CASE WHEN {raw} > 90.0E0 THEN 450.0E0 - {raw} "
        f"ELSE 90.0E0 - {raw} END)"
    )
    az2 = f"(CASE WHEN {az1} = 360.0E0 THEN 0.0E0 ELSE {az1} END)"
    az = f"(CASE WHEN dx = 0 AND dy = 0 THEN -9999.0E0 ELSE {az2} END)"
    tr1 = f"(CASE WHEN {raw} < 0.0E0 THEN {raw} + 360.0E0 ELSE {raw} END)"
    tr2 = f"(CASE WHEN {tr1} = 360.0E0 THEN 0.0E0 ELSE {tr1} END)"
    tr = f"(CASE WHEN dx = 0 AND dy = 0 THEN 0.0E0 ELSE {tr2} END)"
    return (
        f"WITH g AS ({interior_grid(n, max_i)}), "
        f"d AS (SELECT image_id, x0, y0, "
        f"{_at(1, 0)} - {_at(-1, 0)} AS dx, "
        f"{_at(0, 1)} - {_at(0, -1)} AS dy FROM g) "
        f"SELECT image_id, y0 AS y, count(*) AS n, "
        f"cast(sum(cast(floor({az} * {k}) as bigint)) as bigint) "
        f"AS az_sum, "
        f"cast(sum(cast(floor({tr} * {k}) as bigint)) as bigint) "
        f"AS trig_sum "
        f"FROM d GROUP BY 1, 2"
    )


def hillshade_params(
    dem: np.ndarray,
    z: float = 1.0,
    scale: float = 1.0,
    az: float = 315.0,
    alt: float = 45.0,
    ewres: float = 1.0,
    nsres: float = -1.0,
) -> np.ndarray:
    """Parameterized GDALHillshadeAlg (Horn) for the raster interior —
    the full -z/-s/-az/-alt surface of gdaldem hillshade
    (apps/gdaldem_lib.cpp GDALHillshadeAlg + GDALCreateHillshadeData:
    x,y gradients divided by ewres/nsres, z_scaled = z/(8*scale)).
    The fixed-parameter module constants above are this function at
    the defaults; pinned against the reference's pyramid_shaded_ref
    golden (autotest/utilities/test_gdaldem.py
    test_gdaldem_hillshade_azimuth) in tests."""
    w = _window(dem.astype(np.float64))
    x = (
        (w[(-1, -1)] + 2 * w[(-1, 0)] + w[(-1, 1)])
        - (w[(1, -1)] + 2 * w[(1, 0)] + w[(1, 1)])
    ) / ewres
    y = (
        (w[(-1, 1)] + 2 * w[(0, 1)] + w[(1, 1)])
        - (w[(-1, -1)] + 2 * w[(0, -1)] + w[(1, -1)])
    ) / nsres
    zs = z / (8.0 * scale)
    sin_alt = np.sin(alt * DEG)
    cos_alt_z = np.cos(alt * DEG) * zs
    cos_az_cos_alt_z = np.cos(az * DEG) * cos_alt_z
    sin_az_cos_alt_z = np.sin(az * DEG) * cos_alt_z
    cang254 = (
        254.0 * sin_alt
        - (y * 254.0 * cos_az_cos_alt_z - x * 254.0 * sin_az_cos_alt_z)
    ) / np.sqrt(1.0 + zs * zs * (x * x + y * y))
    return np.where(cang254 <= 0.0, 1.0, 1.0 + cang254)


def color_relief_exact_band(dem: np.ndarray, ramp=COLOR_RAMP) -> np.ndarray:
    """(h, w) values -> (h, w, 3) uint8: EXACT ramp entries only,
    everything else black — gdaldem color-relief -exact_color_entry
    (apps/gdaldem_lib.cpp COLOR_SELECTION_EXACT_ENTRY)."""
    v = dem.astype(np.int64)
    out = np.zeros((*dem.shape, 3), dtype=np.uint8)
    for rv, rc in ramp:
        m = v == rv
        for c in range(3):
            out[m, c] = rc[c]
    return out


def color_relief_exact(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    """Per-image exact-entry color relief of channel 0; per-output-
    channel GDAL checksums (all-integer, bit-exact oracle). Completes
    the reference's three color-selection modes (interpolate /
    nearest / exact)."""
    return _relief_checksums(images, color_relief_exact_band, ramp)


def oracle_color_relief_exact(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    def chan(c):
        cases = " ".join(
            f"WHEN val = {rv} THEN {rc[c]}" for rv, rc in ramp
        )
        return f"(CASE {cases} ELSE 0 END)"

    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, w, x, y, val FROM "
        f"({synth.pixels_cte(n, max_i, 'duckdb')}) WHERE ch = 0), "
        f"o AS (SELECT image_id, w, x, y, c AS channel, "
        f"CASE c WHEN 0 THEN {chan(0)} WHEN 1 THEN {chan(1)} "
        f"ELSE {chan(2)} END AS oval FROM px, range(0, 3) t(c)) "
        f"SELECT image_id, cast(channel as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM o GROUP BY 1, 2"
    )
