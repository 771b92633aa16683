"""gdaldem focal (3x3 neighborhood) operators — slope, aspect, TRI,
TPI, roughness, hillshade and color relief.

Semantics from apps/gdaldem_lib.cpp (formulas transcribed, not code).
GDAL writes the gradient once (``Gradient<HORN | ZEVENBERGEN_THORNE>
::calc`` :705/:720) and builds every slope, aspect and hillshade mode
on it; so does this module:

- ``HORN`` / ``ZT`` are the two gradient algorithms, each one weight
  table ``{(dx, dy): (wx, wy)}`` over the 3x3 window plus its z-scale
  divisor (8 or 2). ``gradient`` reads a table in numpy; the focal
  oracle reads the same table as ``sum(v * wx) AS dxh, sum(v * wy) AS
  dyh``. hx is west minus east, hy south minus north (pixel units);
  x = hx * inv_ewres and y = hy * inv_nsres with the north-up
  inv_nsres = -1.
- ``slope`` (degrees, or -p percent), ``aspect`` (azimuth with -9999 on
  flat windows, or -trigonometric -zero_for_flat), ``shade``
  (GDALHillshadeAlg + GDALCreateHillshadeData :1114) and the
  ``multi`` / ``comb`` / ``igor`` hillshade variants are one numpy
  kernel of (hx, hy, div) each, with one SQL twin of ``div`` over dxh,
  dyh (``KERNELS``). Hillshade constants fold in GDAL's order
  (``_hillshade``).
- TRI Wilson (GDALTRIAlgWilson): mean |w_k - center| over 8 neighbors;
  TRI Riley (GDALTRIAlgRiley :2619): sqrt of their sum of squares;
  TPI (GDALTPIAlg): center - mean of 8 neighbors; roughness
  (GDALRoughnessAlg): max - min over the window.

Defaults z=1, scale=1, az=315, alt=45, computed in float64 (GDAL uses
float32 working precision; formulas identical). Edge pixels are not
computed (GDAL default without -compute_edges).

Two execution shapes:
- ``focal_stats`` and the other per-image queries (independent
  rasters, no shuffle);
- ``focal_tiled`` — ONE global raster split into tiles with a 1-px
  halo exchange: every tile emits its edge strips, strips are joined
  to the 8 neighbors, and each tile computes its own pixels with the
  assembled halo (the SURVEY 2.5 neighbor-strip join). This is the
  pattern that scales to a 10^12-pixel mosaic.

Both reduce to per-scanline sums of floor(value * SCALE_KEY)
(``_key_rows``), and every oracle is one ``_focal_oracle`` over a
window source. All gradient sums are integer-exact (uint8 inputs,
integer weights) so order of accumulation cannot perturb results;
``tests/test_dem.py::test_focal_sql_twin_matches_numpy`` pins each SQL
twin's floor keys to its numpy kernel.
"""

from __future__ import annotations

from functools import partial
from types import SimpleNamespace
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs, synth
from ..synth import flit
from .stats import channel_checksums, checksum_sql, per_image

DEG = np.pi / 180.0
SCALE_KEY = 10_000.0


class Gradient(NamedTuple):
    """A gdaldem gradient algorithm: the (wx, wy) weight of each 3x3
    window cell (dx east, dy south) it reads, and its z-scale divisor
    (z_scaled = z / (div * scale))."""

    weights: dict
    div: float


# Gradient<HORN>::calc: 1-2-1 weighted columns and rows. The table
# lists all 9 cells so the TRI/TPI/roughness aggregates see the window.
HORN = Gradient({
    (-1, -1): (1, -1), (0, -1): (0, -2), (1, -1): (-1, -1),
    (-1, 0): (2, 0), (0, 0): (0, 0), (1, 0): (-2, 0),
    (-1, 1): (1, 1), (0, 1): (0, 2), (1, 1): (-1, 1),
}, 8.0)
# Gradient<ZEVENBERGEN_THORNE>::calc: 2-point central differences
ZT = Gradient({(-1, 0): (1, 0), (1, 0): (-1, 0),
               (0, -1): (0, -1), (0, 1): (0, 1)}, 2.0)


def _window(d: np.ndarray) -> dict:
    """The 3x3 neighbourhood of the interior of the last two axes, in
    float64: (dx, dy) -> the view shifted by (dx, dy); (0, 0) is the
    center."""
    d = d.astype(np.float64)
    h, w = d.shape[-2:]
    return {
        (dx, dy): d[..., 1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    }


def gradient(d: np.ndarray, alg: Gradient):
    """(hx, hy, div) of ``alg`` over the interior of ``d``: exact
    integers in float64."""
    w = _window(d)
    hx = sum(w[k] * wx for k, (wx, _) in alg.weights.items() if wx)
    hy = sum(w[k] * wy for k, (_, wy) in alg.weights.items() if wy)
    return hx, hy, alg.div


def _hillshade(div, z=1.0, scale=1.0, az=315.0, alt=45.0):
    """GDALCreateHillshadeData's constants, folded in its order."""
    zs = z / (div * scale)
    sin_alt = np.sin(alt * DEG)
    cos_alt_z = np.cos(alt * DEG) * zs
    caz = np.cos(az * DEG) * cos_alt_z
    saz = np.sin(az * DEG) * cos_alt_z
    target = np.pi * 3.0 / 2.0 - az * DEG
    return SimpleNamespace(
        sin_alt=sin_alt, square_z=zs * zs, caz=caz, saz=saz,
        sin254=254.0 * sin_alt, caz254=254.0 * caz, saz254=254.0 * saz,
        sin127=127.0 * sin_alt, cos_alt_z127=127.0 * cos_alt_z,
        cos225_127=127.0 * np.cos(225.0 * DEG) * cos_alt_z,
        igor_target=target if target >= 0 else 2.0 * np.pi + target,
    )


# x, y in SQL: dxh * inv_ewres, dyh * inv_nsres (north-up pixel units)
_X, _Y = "(dxh * 1.0E0)", "(dyh * -1.0E0)"


def slope(hx, hy, div, percent=False):
    """GDALSlopeHornAlg / GDALSlopeZevenbergenThorneAlg at scale 1:
    degrees, or with ``percent`` (-p) 100 * tan(slope)."""
    r = np.sqrt(hx * hx + hy * hy)
    return r * (100.0 / div) if percent else np.arctan(r / div) / DEG


def slope_sql(div, percent=False) -> str:
    r = "sqrt(dxh * dxh + dyh * dyh)"
    if percent:
        return f"({r} * {flit(100.0 / div)})"
    return f"(atan({r} / {flit(div)}) / {flit(DEG)})"


def aspect(hx, hy, div=None, trig=False):
    """GDALAspectAlg (scale-free, ``div`` unused): the downslope
    direction as a compass azimuth, -9999 on flat windows, or with
    ``trig`` as the trigonometric angle, 0 on flat windows
    (-trigonometric -zero_for_flat)."""
    raw = np.arctan2(hy, hx) / DEG
    if trig:
        a, flat = np.where(raw < 0.0, raw + 360.0, raw), 0.0
    else:
        a, flat = np.where(raw > 90.0, 450.0 - raw, 90.0 - raw), -9999.0
    return np.where((hx == 0) & (hy == 0), flat, np.where(a == 360.0, 0.0, a))


def aspect_sql(div=None, trig=False) -> str:
    raw = f"(atan2(dyh, dxh) / {flit(DEG)})"
    if trig:
        a = f"(CASE WHEN {raw} < 0.0E0 THEN {raw} + 360.0E0 ELSE {raw} END)"
        flat = "0.0E0"
    else:
        a = (f"(CASE WHEN {raw} > 90.0E0 THEN 450.0E0 - {raw} "
             f"ELSE 90.0E0 - {raw} END)")
        flat = "-9999.0E0"
    return (f"(CASE WHEN dxh = 0 AND dyh = 0 THEN {flat} "
            f"WHEN {a} = 360.0E0 THEN 0.0E0 ELSE {a} END)")


def shade(hx, hy, div, z=1.0, scale=1.0, az=315.0, alt=45.0,
          ewres=1.0, nsres=-1.0):
    """GDALHillshadeAlg: 1 + 254 * cos(incidence), 1 where unlit."""
    k = _hillshade(div, z, scale, az, alt)
    x, y = hx * (1.0 / ewres), hy * (1.0 / nsres)
    c254 = (k.sin254 - (y * k.caz254 - x * k.saz254)) / np.sqrt(
        1.0 + k.square_z * (x * x + y * y))
    return np.where(c254 <= 0.0, 1.0, 1.0 + c254)


def shade_sql(div) -> str:
    k = _hillshade(div)
    c254 = (
        f"(({flit(k.sin254)} - ({_Y} * {flit(k.caz254)} "
        f"- {_X} * {flit(k.saz254)})) "
        f"/ sqrt(1.0E0 + {flit(k.square_z)} * ({_X} * {_X} + {_Y} * {_Y})))"
    )
    return f"(CASE WHEN {c254} <= 0.0E0 THEN 1.0E0 ELSE 1.0E0 + {c254} END)"


# hillshade variants (gdaldem hillshade -multidirectional / -combined /
# -igor; GDALHillshadeMultiDirectionalAlg:1171, GDALHillshadeCombinedAlg
# :1086, GDALHillshadeIgorAlg:851). GDAL's ApproxADivByInvSqrtB is an
# a/sqrt(b) fast path — computed exactly here (as GDAL does without
# SSE), identically in numpy and the SQL twin.


def multi(hx, hy, div):
    """Multidirectional shade: the 225/270/315/360 azimuth shades
    weighted by the USGS OF 92-422 aspect weights."""
    k = _hillshade(div)
    x, y = hx * 1.0, hy * -1.0
    xx, yy = x * x, y * y
    s = xx + yy
    w225 = 0.5 * s - x * y
    lit = (
        w225 * np.maximum(0.0, k.sin127 + (x - y) * k.cos225_127)
        + xx * np.maximum(0.0, k.sin127 - x * k.cos_alt_z127)
        + (s - w225) * np.maximum(0.0, k.sin127 + (x + y) * k.cos225_127)
        + yy * np.maximum(0.0, k.sin127 - y * k.cos_alt_z127)
    )
    out = 1.0 + (lit / np.where(s == 0.0, 1.0, s)) / np.sqrt(
        1.0 + k.square_z * s)
    return np.where(s == 0.0, 1.0 + 254.0 * k.sin_alt, out)


def multi_sql(div) -> str:
    k = _hillshade(div)
    x, y = _X, _Y
    s = f"({x} * {x} + {y} * {y})"
    w225 = f"(0.5E0 * {s} - {x} * {y})"
    sin, c225, c270 = flit(k.sin127), flit(k.cos225_127), flit(k.cos_alt_z127)
    lit = (
        f"{w225} * greatest(0.0E0, {sin} + ({x} - {y}) * {c225}) "
        f"+ ({x} * {x}) * greatest(0.0E0, {sin} - {x} * {c270}) "
        f"+ ({s} - {w225}) * greatest(0.0E0, {sin} + ({x} + {y}) * {c225}) "
        f"+ ({y} * {y}) * greatest(0.0E0, {sin} - {y} * {c270})"
    )
    return (
        f"(CASE WHEN {s} = 0.0E0 THEN {flit(1.0 + 254.0 * k.sin_alt)} "
        f"ELSE 1.0E0 + (({lit}) / {s}) "
        f"/ sqrt(1.0E0 + {flit(k.square_z)} * {s}) END)"
    )


_INV_SQ_HALF_PI = 1.0 / ((np.pi * np.pi) / 4.0)


def comb(hx, hy, div):
    """Combined shade: the cosine of incidence attenuated by slope."""
    k = _hillshade(div)
    x, y = hx * 1.0, hy * -1.0
    slope_t = (x * x + y * y) * k.square_z
    cang0 = np.arccos((k.sin_alt - (y * k.caz - x * k.saz))
                      / np.sqrt(1.0 + slope_t))
    cang1 = 1.0 - cang0 * np.arctan(np.sqrt(slope_t)) * _INV_SQ_HALF_PI
    return np.where(cang1 <= 0.0, 1.0, 1.0 + 254.0 * cang1)


def comb_sql(div) -> str:
    k = _hillshade(div)
    x, y = _X, _Y
    slope_t = f"(({x} * {x} + {y} * {y}) * {flit(k.square_z)})"
    cang0 = (
        f"acos(({flit(k.sin_alt)} - ({y} * {flit(k.caz)} "
        f"- {x} * {flit(k.saz)})) / sqrt(1.0E0 + {slope_t}))"
    )
    cang1 = (f"(1.0E0 - {cang0} * atan(sqrt({slope_t})) "
             f"* {flit(_INV_SQ_HALF_PI)})")
    return (f"(CASE WHEN {cang1} <= 0.0E0 THEN 1.0E0 "
            f"ELSE 1.0E0 + 254.0E0 * {cang1} END)")


def igor(hx, hy, div):
    """Igor shade: shadowness from slope strength times the aspect's
    proximity to the anti-lit direction (az only, alt ignored)."""
    a = np.arctan2(hy, hx)
    diff = np.abs(np.where(a < 0.0, 2.0 * np.pi + a, a)
                  - _hillshade(div).igor_target)
    diff = np.where(diff > np.pi, 2.0 * np.pi - diff, diff)
    return 255.0 * (1.0 - (slope(hx, hy, div) / 90.0) * (1.0 - diff / np.pi))


def igor_sql(div) -> str:
    a = "atan2(dyh, dxh)"
    two_pi = flit(2.0 * np.pi)
    d0 = (f"abs((CASE WHEN {a} < 0.0E0 THEN {two_pi} + {a} ELSE {a} END) "
          f"- {flit(_hillshade(div).igor_target)})")
    diff = (f"(CASE WHEN {d0} > {flit(np.pi)} THEN {two_pi} - {d0} "
            f"ELSE {d0} END)")
    return (f"(255.0E0 * (1.0E0 - ({slope_sql(div)} / 90.0E0) "
            f"* (1.0E0 - {diff} / {flit(np.pi)})))")


# feature -> (numpy kernel of (hx, hy, div), its SQL twin of div over
# the gradient sums dxh, dyh)
KERNELS = {
    "slope": (slope, slope_sql),
    "pct": (partial(slope, percent=True), partial(slope_sql, percent=True)),
    "az": (aspect, aspect_sql),
    "trig": (partial(aspect, trig=True), partial(aspect_sql, trig=True)),
    "shade": (shade, shade_sql),
    "multi": (multi, multi_sql),
    "comb": (comb, comb_sql),
    "igor": (igor, igor_sql),
}
FOCAL = ("slope", "aspect", "tri", "tpi", "rough", "shade")
VARIANTS = ("multi", "comb", "igor")


def window_features(dem: np.ndarray) -> dict:
    """The six ``FOCAL`` outputs (Horn) for the interior of a 2-D int
    array, float64 arrays of shape (h-2, w-2)."""
    g = gradient(dem, HORN)
    w = _window(dem)
    c = w[(0, 0)]
    nb = [v for k, v in w.items() if k != (0, 0)]
    allv = np.stack(list(w.values()))
    return {
        "slope": slope(*g), "aspect": aspect(*g), "shade": shade(*g),
        "tri": sum(np.abs(v - c) for v in nb) * 0.125,
        "tpi": c - sum(nb) * 0.125,
        "rough": allv.max(axis=0) - allv.min(axis=0),
    }


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
    the full -z/-s/-az/-alt surface of gdaldem hillshade: the one
    ``shade`` kernel with x, y gradients times 1/ewres, 1/nsres and
    z_scaled = z/(8*scale). At the defaults it is the gated shade;
    pinned against the reference's pyramid_shaded_ref golden
    (autotest/utilities/test_gdaldem.py test_gdaldem_hillshade_azimuth)
    in tests."""
    return shade(*gradient(dem, HORN), z, scale, az, alt, ewres, nsres)


# ---------------------------------------------------------------------------
# scanline reduction: the one numpy shape every focal query emits


def _sums_schema(names) -> str:
    return ", ".join(f"{k}_sum bigint" for k in names)


def _key_rows(feats: dict, names, y0: int = 1, owned=None) -> list:
    """(y, n, <name>_sum for ``names``) per scanline of ``feats``
    (2-D arrays whose row 0 is raster row ``y0``) that owns a pixel:
    sums of floor(value * SCALE_KEY) over the ``owned`` mask (every
    pixel by default)."""
    if owned is None:
        owned = np.ones(feats[names[0]].shape, dtype=bool)
    n = owned.sum(axis=1)
    sums = [
        np.where(owned, np.floor(feats[k] * SCALE_KEY), 0)
        .astype(np.int64).sum(axis=1)
        for k in names
    ]
    return [(y0 + int(y), int(n[y]), *(int(s[y]) for s in sums))
            for y in np.flatnonzero(n)]


def _scanline_sums(images: DataFrame, kernel, names) -> DataFrame:
    """Per-image (channel 0 = DEM) focal keys summed per interior
    scanline: ``kernel`` maps the DEM to a dict of (h-2, w-2) arrays;
    rows are (image_id, y, n, <name>_sum for ``names``). Rasters under
    3x3 give no rows."""

    def fn(arr):
        dem = arr[:, :, 0]
        return () if min(dem.shape) < 3 else _key_rows(kernel(dem), names)

    return per_image(
        images, fn, f"image_id string, y bigint, n bigint, {_sums_schema(names)}"
    )


def _gradient_rows(images: DataFrame, alg: Gradient, names) -> DataFrame:
    """``_scanline_sums`` of the ``KERNELS`` ``names`` over ``alg``."""

    def kernel(d):
        g = gradient(d, alg)
        return {k: KERNELS[k][0](*g) for k in names}

    return _scanline_sums(images, kernel, names)


def focal_stats(images: DataFrame) -> DataFrame:
    """Per-image (channel 0 = DEM) focal features, aggregated per
    interior scanline: (image_id, y, n, <op>_sum x6)."""
    return _scanline_sums(images, window_features, FOCAL)


def hillshade_variants(images: DataFrame) -> DataFrame:
    """Per-image multidirectional / combined / igor shades."""
    return _gradient_rows(images, HORN, VARIANTS)


def tri_riley(images: DataFrame) -> DataFrame:
    """gdaldem TRI with the default algorithm (Riley et al. 1999;
    apps/gdaldem_lib.cpp GDALTRIAlgRiley:2619, eTRIAlg default :176):
    sqrt of the sum of squared differences to the center over the 8
    neighbors (the center's own term is zero). Wilson (mean |diff|) is
    the ``tri`` column of focal_stats. Sum-of-squares is an exact
    integer on uint8 inputs, so the single sqrt is correctly rounded
    and bit-identical between numpy and the DuckDB twin."""

    def riley(d):
        w = _window(d)
        c = w[(0, 0)]
        return {"riley": np.sqrt(sum((v - c) * (v - c) for v in w.values()))}

    return _scanline_sums(images, riley, ("riley",))


# gdaldem slope -p (GDALSlopeHornAlg slopeFormat == 0): no atan, so the
# key needs only sqrt, which bit-matches libm — the floor keys are exact.
def slope_percent_rows(images: DataFrame) -> DataFrame:
    return _gradient_rows(images, HORN, ("pct",))


# gdaldem -alg ZevenbergenThorne, gated in percent mode (sqrt only).
def slope_zt_percent_rows(images: DataFrame) -> DataFrame:
    return _gradient_rows(images, ZT, ("pct",))


# gdaldem hillshade -alg ZevenbergenThorne: z_scaled = z / (2 * scale)
# (GDALCreateHillshadeData :1126); one sqrt and one division — floor
# keys exact, as for the Horn shade.
def hillshade_zt_rows(images: DataFrame) -> DataFrame:
    return _gradient_rows(images, ZT, ("shade",))


# gdaldem aspect -alg ZevenbergenThorne under the azimuth default and
# -trigonometric -zero_for_flat: one query gates all three flags.
def aspect_zt_rows(images: DataFrame) -> DataFrame:
    return _gradient_rows(images, ZT, ("az", "trig"))


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
    cols = ["y", "n", *(f"{k}_sum" for k in FOCAL)]

    # per receiving tile: assemble haloed array, compute interior
    def compute(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * tile_px, ty * tile_px
        w = min(tile_px, width - px0)
        h = min(tile_px, height - py0)
        arr = np.full((h + 2, w + 2), -1, dtype=np.int64)
        arr[pdf["gy"].values - py0 + 1, pdf["gx"].values - px0 + 1] = pdf["val"].values
        # valid outputs: global interior pixels owned by this tile
        # (haloed cells outside the raster stay -1 -> mask them off)
        oy, ox = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        owned = (ox >= 1) & (ox < width - 1) & (oy >= 1) & (oy < height - 1)
        return pd.DataFrame(
            _key_rows(window_features(arr), FOCAL, py0, owned), columns=cols
        )

    part = halo.groupby("rtx", "rty").applyInPandas(
        compute, schema=f"y bigint, n bigint, {_sums_schema(FOCAL)}"
    )
    return part.groupBy("y").agg(*[F.sum(c).alias(c) for c in cols[1:]])


# ---------------------------------------------------------------------------
# oracle SQL: one focal-oracle builder over a window source
# (ids, grid, val): ``ids`` prefixes the key columns, ``grid`` has one
# row per interior pixel (x0, y0), ``val(xe, ye)`` is the channel-0
# value at a cell, in SQL over the grid row's columns.


def interior_grid(n: int, max_i: int) -> str:
    """One row per interior pixel (x0, y0) of each synthetic image
    below ``max_i``, carrying the image columns the pixel function
    needs (channel 0)."""
    return (
        f"SELECT image_id, i.i AS i, w, h, fmt, x0, y0, 0 AS ch "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(1, 255) a(x0), range(1, 255) b(y0) "
        f"WHERE i.i < {max_i} AND x0 < i.w - 1 AND y0 < i.h - 1"
    )


def images_window(n: int, max_i: int):
    """Window source: the synthetic images' interiors."""
    return "image_id, ", interior_grid(n, max_i), synth.pixel_val_sql


def raster_window(width: int, height: int):
    """Window source: the interior of the global ``DEM_VALUE_SQL``
    raster."""
    grid = (f"SELECT x0, y0 FROM range(1, {width - 1}) a(x0), "
            f"range(1, {height - 1}) b(y0)")
    return "", grid, lambda xe, ye: (
        DEM_VALUE_SQL.replace("gx", f"({xe})").replace("gy", f"({ye})"))


def _focal_ctes(src, alg: Gradient, aggs: str = "") -> str:
    """CTEs ``g`` (the grid with its center value ``c``), ``nb`` (one
    row per cell of ``alg``'s table: value ``v``, weights wx, wy) and
    ``agg`` (per pixel: dxh, dyh and the extra ``aggs``)."""
    ids, grid, val = src
    cells = ", ".join(
        f"({dx}, {dy}, {wx}, {wy})"
        for (dx, dy), (wx, wy) in alg.weights.items()
    )
    return (
        f"g AS (SELECT *, {val('x0', 'y0')} AS c FROM ({grid})), "
        f"nb AS (SELECT g.*, wx, wy, {val('x0 + ddx', 'y0 + ddy')} AS v "
        f"FROM g, (VALUES {cells}) k(ddx, ddy, wx, wy)), "
        f"agg AS (SELECT {ids}x0, y0, sum(v * wx) AS dxh, "
        f"sum(v * wy) AS dyh{aggs} FROM nb GROUP BY ALL)"
    )


def _focal_oracle(src, alg: Gradient, keys: dict, aggs: str = "") -> str:
    """Per interior scanline (<ids>, y, n, <name>_sum): sums of
    floor(expr * SCALE_KEY) for each ``{name: expr}`` of ``keys`` over
    the ``agg`` columns of ``_focal_ctes``."""
    k = flit(SCALE_KEY)
    sums = "".join(
        f", cast(sum(cast(floor({e} * {k}) as bigint)) as bigint) AS {name}_sum"
        for name, e in keys.items()
    )
    return (f"WITH {_focal_ctes(src, alg, aggs)} "
            f"SELECT {src[0]}y0 AS y, count(*) AS n{sums} FROM agg GROUP BY ALL")


# the window aggregates of the Wilson TRI, TPI and roughness
_CENTER_AGGS = (
    ", min(c) AS c, sum(v) - min(c) AS sum8, sum(abs(v - c)) AS absdiff8, "
    "max(v) AS vmax, min(v) AS vmin"
)


_FOCAL_KEYS = {
    "slope": slope_sql(HORN.div), "aspect": aspect_sql(),
    "tri": "(absdiff8 * 0.125E0)", "tpi": "(c - sum8 * 0.125E0)",
    "rough": "(vmax - vmin)", "shade": shade_sql(HORN.div),
}


def oracle_dem_images(n: int, max_i: int) -> str:
    return _focal_oracle(images_window(n, max_i), HORN, _FOCAL_KEYS,
                         _CENTER_AGGS)


def oracle_dem_tiled(width: int, height: int) -> str:
    """Global-raster focal oracle (tile-layout-free)."""
    return _focal_oracle(raster_window(width, height), HORN, _FOCAL_KEYS,
                         _CENTER_AGGS)


def oracle_tri_riley(n: int, max_i: int) -> str:
    return _focal_oracle(
        images_window(n, max_i), HORN, {"riley": "sqrt(cast(ssq as double))"},
        ", sum((v - c) * (v - c)) AS ssq",
    )


def _gradient_oracle(n: int, max_i: int, alg: Gradient, names) -> str:
    """SQL twin of ``_gradient_rows``."""
    return _focal_oracle(images_window(n, max_i), alg,
                         {k: KERNELS[k][1](alg.div) for k in names})


def oracle_hillshade_variants(n: int, max_i: int) -> str:
    return _gradient_oracle(n, max_i, HORN, VARIANTS)


def oracle_slope_percent(n: int, max_i: int) -> str:
    return _gradient_oracle(n, max_i, HORN, ("pct",))


def oracle_slope_zt_percent(n: int, max_i: int) -> str:
    return _gradient_oracle(n, max_i, ZT, ("pct",))


def oracle_hillshade_zt(n: int, max_i: int) -> str:
    return _gradient_oracle(n, max_i, ZT, ("shade",))


def oracle_aspect_zt(n: int, max_i: int) -> str:
    return _gradient_oracle(n, max_i, ZT, ("az", "trig"))


# ---------------------------------------------------------------------------
# color-relief, its three color-selection modes
# (apps/gdaldem_lib.cpp GDALColorReliefGetRGBA:1562):
# - interpolate (default): linear ramp, channel = trunc(0.45 + c0 +
#   ratio * (c1 - c0)) clamped; exact entry wins;
# - -nearest_color_entry (:1663): strictly between two entries pick the
#   closer one, ties to the upper entry; exact matches take their entry;
#   outside the ramp clamps;
# - -exact_color_entry: exact entries only, everything else black.

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


def color_relief_exact_band(dem: np.ndarray, ramp=COLOR_RAMP) -> np.ndarray:
    """(h, w) values -> (h, w, 3) uint8: exact ramp entries only,
    everything else black."""
    v = dem.astype(np.int64)
    out = np.zeros((*dem.shape, 3), dtype=np.uint8)
    for rv, rc in ramp:
        m = v == rv
        for c in range(3):
            out[m, c] = rc[c]
    return out


def _relief_checksums(images: DataFrame, band_fn, ramp) -> DataFrame:
    """Per-output-channel GDAL checksums of ``band_fn(channel 0, ramp)``."""
    return channel_checksums(
        images, ["bytes"],
        lambda b: band_fn(codecs.decode_image(bytes(b))[:, :, 0], ramp),
    )


def color_relief(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    return _relief_checksums(images, color_relief_band, ramp)


def color_relief_nearest(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    return _relief_checksums(images, color_relief_nearest_band, ramp)


def color_relief_exact(images: DataFrame, ramp=COLOR_RAMP) -> DataFrame:
    return _relief_checksums(images, color_relief_exact_band, ramp)


def ramp_sql(c: int, ramp=COLOR_RAMP, val: str = "val") -> str:
    """SQL twin of ``color_relief_band``'s channel ``c`` over the
    integer column ``val``: the interpolating CASE ladder."""
    first_v, first_c = ramp[0]
    cases = [f"WHEN {val} <= {first_v} THEN {first_c[c]}"]
    for (v0, c0), (v1, c1) in zip(ramp, ramp[1:]):
        interp = (
            f"cast(trunc(0.45E0 + {c0[c]} + "
            f"(cast({val} as double) - {flit(float(v0))}) / "
            f"{flit(float(v1 - v0))} * {c1[c] - c0[c]}) as bigint)"
        )
        cases.append(
            f"WHEN {val} <= {v1} THEN least(greatest({interp}, 0), 255)"
        )
    return f"(CASE {' '.join(cases)} ELSE {ramp[-1][1][c]} END)"


def _relief_oracle(n: int, max_i: int, chan) -> str:
    """Per-output-channel GDAL checksums of ``chan(c)``, the SQL of
    output channel ``c`` over channel 0's ``val``."""
    return (
        f"WITH px AS (SELECT image_id, w, x, y, val FROM "
        f"({synth.pixels_cte(n, max_i, 'duckdb')}) WHERE ch = 0), "
        f"o AS (SELECT image_id, w, x, y, c AS channel, "
        f"CASE c WHEN 0 THEN {chan(0)} WHEN 1 THEN {chan(1)} "
        f"ELSE {chan(2)} END AS oval FROM px, range(0, 3) t(c)) "
        f"SELECT image_id, cast(channel as bigint) AS channel, "
        f"{checksum_sql('oval', 'y * w + x')} AS cks "
        f"FROM o GROUP BY 1, 2"
    )


def oracle_color_relief(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    return _relief_oracle(n, max_i, lambda c: ramp_sql(c, ramp))


def oracle_color_relief_nearest(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    def chan(c):
        cases = [f"WHEN val <= {ramp[0][0]} THEN {ramp[0][1][c]}"]
        for (v0, c0), (v1, c1) in zip(ramp, ramp[1:]):
            cases.append(
                f"WHEN val = {v1} THEN {c1[c]} "
                f"WHEN val < {v1} THEN "
                f"(CASE WHEN 2 * val < {v0 + v1} THEN {c0[c]} "
                f"ELSE {c1[c]} END)"
            )
        return f"(CASE {' '.join(cases)} ELSE {ramp[-1][1][c]} END)"

    return _relief_oracle(n, max_i, chan)


def oracle_color_relief_exact(n: int, max_i: int, ramp=COLOR_RAMP) -> str:
    def chan(c):
        cases = " ".join(f"WHEN val = {rv} THEN {rc[c]}" for rv, rc in ramp)
        return f"(CASE {cases} ELSE 0 END)"

    return _relief_oracle(n, max_i, chan)
