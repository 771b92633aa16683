"""Warp / reproject as a DataFrame stage (the gdalwarp of the engine).

Each image row is an independent georeferenced raster (north-up affine
gt = (lon, res, 0, lat, 0, -res)), so warping a 10^12-row table is
embarrassingly parallel: one ``mapInPandas`` stage, zero shuffle, and
the resampling math is the golden-verified numpy engine in
``gdal_spark.resample`` (parity with autotest/alg/warp.py fixtures).

The multi-source mosaic warp (output tile gathers several inputs) is
the tiling pyramid operator; this stage covers gdalwarp's per-dataset
loop (apps/gdalwarp_lib.cpp:2475) + GDALReprojectImage
(alg/gdalwarper.cpp:98).

Reprojection 4326<->3857 is closed-form spherical mercator
(gdal_spark.grid), applied to whole coordinate grids inside the UDF —
the pyproj-free equivalent of the transformer chain
(alg/gdaltransformer.cpp:1756).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import codecs, grid, resample
from .rowstage import per_row
from .stats import checksum_sql, per_image


def _scaled(images: DataFrame, factor: float, alg: str, nodata=None,
            box=None) -> DataFrame:
    """Rescale every image by ``factor`` on a same-origin unit grid
    (the lon/lat origin is irrelevant to the pixel math); with ``box``
    (fractions of the image extent) dst pixels whose center falls
    outside it are zeroed. (image_id, bytes, w, h), lossless."""
    src_gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    dst_gt = (0.0, 1.0 / factor, 0.0, 0.0, 0.0, -1.0 / factor)

    def run(arr):
        sh, sw = arr.shape[:2]
        dw, dh = int(round(sw * factor)), int(round(sh * factor))
        warped = resample.warp_image(
            arr, src_gt, dst_gt, (dh, dw), alg, nodata=nodata
        )
        if box is not None:
            # cutline box in source pixel units -> dst pixel centers
            fx0, fy0, fx1, fy1 = box
            xs = (np.arange(dw) + 0.5) / factor
            ys = (np.arange(dh) + 0.5) / factor
            inx = (xs >= fx0 * sw) & (xs <= fx1 * sw)
            iny = (ys >= fy0 * sh) & (ys <= fy1 * sh)
            mask = iny[:, None] & inx[None, :]
            warped = np.where(mask[:, :, None], warped, 0).astype(np.uint8)
        yield codecs.encode_image(warped, "png"), dw, dh

    return per_image(
        images, run, "image_id string, bytes binary, w int, h int"
    )


def warp_scale(
    images: DataFrame, factor: float, alg: str = "near", nodata=None
) -> DataFrame:
    """Rescale every image by ``factor`` with the given resampler;
    output is lossless-encoded. (image_id, bytes, w, h). ``nodata``
    activates the source-nodata mask (taps skipped + renormalized)."""
    return _scaled(images, factor, alg, nodata)


def oracle_warp_nodata_avg_down2(n: int, max_i: int, nodata: int = 0) -> str:
    """Average 2x downsample with source nodata: the 2x2 block mean
    excludes nodata taps and renormalizes (floor(sum/count + 0.5));
    all-nodata blocks emit nodata. Exact-integer replay."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    inner = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"(2 * xd + c % 2) AS x, (2 * yd + c // 2) AS y "
        f"FROM ({img}) i, range(0, 128) tx(xd), range(0, 128) ty(yd), "
        f"range(0, 3) tc(ch), range(0, 4) tcr(c) "
        f"WHERE i.i < {max_i} AND xd < i.w // 2 AND yd < i.h // 2"
    )
    mid = (
        f"SELECT image_id, ch, xd, yd, w, "
        f"sum(CASE WHEN v <> {nodata} THEN v ELSE 0 END) AS s, "
        f"sum(CASE WHEN v <> {nodata} THEN 1 ELSE 0 END) AS cnt "
        f"FROM (SELECT image_id, ch, xd, yd, w, {synth.pixel_val_sql()} AS v "
        f"FROM ({inner})) GROUP BY 1, 2, 3, 4, 5"
    )
    val = (
        f"(CASE WHEN cnt > 0 THEN cast(floor(cast(s as double) / cnt + 0.5E0) "
        f"as bigint) ELSE {nodata} END)"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(val, 'yd * (w // 2) + xd')} "
        f"AS cks FROM ({mid}) GROUP BY 1, 2"
    )


CUTLINE_BOX = (0.2, 0.15, 0.8, 0.7)


def warp_cutline(
    images: DataFrame, factor: float = 2.0, alg: str = "near",
    box: tuple = CUTLINE_BOX,
) -> DataFrame:
    """Warp restricted to a cutline (gdalwarp -cutline): pixels whose
    center falls outside the cutline polygon (a geo-space box here,
    the SQL-oracle subset) are zeroed — GDALWarpCutlineMasker
    semantics (alg/gdalwarper.h:140) with blend distance 0."""
    return _scaled(images, factor, alg, box=box)


def oracle_warp_cutline(
    n: int, max_i: int, box: tuple = CUTLINE_BOX
) -> str:
    from .. import synth

    fx0, fy0, fx1, fy1 = box
    fl = synth.flit
    inside = (
        f"((xd + 0.5E0) / 2.0E0 >= {fl(fx0)} * w AND "
        f"(xd + 0.5E0) / 2.0E0 <= {fl(fx1)} * w AND "
        f"(yd + 0.5E0) / 2.0E0 >= {fl(fy0)} * h AND "
        f"(yd + 0.5E0) / 2.0E0 <= {fl(fy1)} * h)"
    )
    inner = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"(xd // 2) AS x, (yd // 2) AS y, {inside} AS inside "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 512) tx(xd), range(0, 512) ty(yd), range(0, 3) tc(ch) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h"
    )
    val = f"(CASE WHEN inside THEN {synth.pixel_val_sql()} ELSE 0 END)"
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(val, 'yd * (2 * w) + xd')} "
        f"AS cks FROM ({inner}) GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL for the driver's correctness gate: the warp output
# is value-checked via the SQL-expressible synthetic pixel function
# (synth.pixel_val_sql) + GDAL checksum arithmetic, with the inverse
# mapping done in integer SQL (near up-2x: src = dst // 2; average
# down-2x: round-half-up mean of the 2x2 block = (sum + 2) // 4).


# the accumulated kernel value clamped and rounded to a Byte pixel
_ACC_CLAMP_ROUND = (
    "cast(floor(least(greatest(acc / accw, 0.0E0), 255.0E0) + 0.5E0) "
    "as bigint)"
)


def oracle_warp_near_up2(n: int, max_i: int) -> str:
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    inner = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"(xd // 2) AS x, (yd // 2) AS y "
        f"FROM ({img}) i, range(0, 512) tx(xd), range(0, 512) ty(yd), "
        f"range(0, 3) tc(ch) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql('val', 'yd * (2 * w) + xd')} "
        f"AS cks FROM (SELECT image_id, ch, xd, yd, w, "
        f"{synth.pixel_val_sql()} AS val FROM ({inner})) GROUP BY 1, 2"
    )


def oracle_warp_avg_down2(n: int, max_i: int) -> str:
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    inner = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"(2 * xd + c % 2) AS x, (2 * yd + c // 2) AS y "
        f"FROM ({img}) i, range(0, 128) tx(xd), range(0, 128) ty(yd), "
        f"range(0, 3) tc(ch), range(0, 4) tcr(c) "
        f"WHERE i.i < {max_i} AND xd < i.w // 2 AND yd < i.h // 2"
    )
    mid = (
        f"SELECT image_id, ch, xd, yd, w, "
        f"(sum({synth.pixel_val_sql()}) + 2) // 4 AS val "
        f"FROM ({inner}) GROUP BY 1, 2, 3, 4, 5"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql('val', 'yd * (w // 2) + xd')} "
        f"AS cks FROM ({mid}) GROUP BY 1, 2"
    )


def reproject_to_mercator(
    images: DataFrame, alg: str = "bilinear", dst_size: int = 64
) -> DataFrame:
    """Reproject every image EPSG:4326 -> EPSG:3857 onto a per-image
    suggested output grid (the GDALSuggestedWarpOutput step,
    alg/gdaltransformer.cpp:407, done per image).
    (image_id, bytes, w, h, gt0, gt1, gt3, gt5)."""

    def run(image_id, payload, lon, lat, w, h):
        arr = codecs.decode_image(bytes(payload))
        res = 0.1 / int(w)
        src_gt = (float(lon), res, 0.0, float(lat), 0.0, -res)
        # suggested output: project the 4 corners, take the bbox
        cx = np.array([lon, lon + w * res, lon, lon + w * res])
        cy = np.array([lat, lat, lat - h * res, lat - h * res])
        mx, my = grid.lonlat_to_meters(
            cx, np.clip(cy, -grid.MERC_MAX_LAT, grid.MERC_MAX_LAT)
        )
        dst_res = (mx.max() - mx.min()) / dst_size
        dst_h = max(1, int(round((my.max() - my.min()) / dst_res)))
        dst_gt = (float(mx.min()), dst_res, 0.0, float(my.max()), 0.0, -dst_res)
        # dst georef (3857 meters) -> src georef (4326 degrees)
        warped = resample.warp_image(
            arr, src_gt, dst_gt, (dst_h, dst_size), alg,
            grid.meters_to_lonlat,
        )
        yield (image_id, codecs.encode_image(warped, "png"), dst_size, dst_h,
               dst_gt[0], dst_gt[1], dst_gt[3], dst_gt[5])

    return per_row(
        images, ["image_id", "bytes", "lon", "lat", "w", "h"], run,
        "image_id string, bytes binary, w int, h int, "
        "gt0 double, gt1 double, gt3 double, gt5 double",
    )


def oracle_warp_bilinear_up2(n: int, max_i: int) -> str:
    """Bilinear 2x upsample replay (GWKBilinear weights with the
    xscale >= 1 tap rule of _warp_conv_band): taps (-1..1)^2 around
    isx = (xd - 1) // 2 with dx in {0.25, 0.75} — every weight and
    product is an exact dyadic rational, so acc/accw are bit-exact in
    any summation order and the checksum replay is drift-free.
    Out-of-bounds taps drop and the weight sum renormalizes (the
    boundary semantics of the numpy kernel)."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    dx = "((xd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((xd - 0.5E0) / 2.0E0) as bigint))"
    dy = "((yd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((yd - 0.5E0) / 2.0E0) as bigint))"
    wx = f"greatest(0.0E0, 1.0E0 - abs(ti - {dx}))"
    wy = f"greatest(0.0E0, 1.0E0 - abs(tj - {dy}))"
    taps = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti AS x, cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj AS y, "
        f"({wx}) * ({wy}) AS wgt "
        f"FROM ({img}) i, range(0, 512) tx(xd), range(0, 512) ty(yd), "
        f"range(0, 3) tc(ch), range(-1, 2) si(ti), range(-1, 2) sj(tj) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h "
        f"AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti >= 0 AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti < i.w "
        f"AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj >= 0 AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj < i.h"
    )
    acc = (
        f"SELECT image_id, ch, xd, yd, any_value(w) AS w, "
        f"sum(cast(({synth.pixel_val_sql()}) as double) * wgt) AS acc, "
        f"sum(wgt) AS accw "
        f"FROM ({taps}) GROUP BY 1, 2, 3, 4"
    )
    rounded = "cast(floor(acc / accw + 0.5E0) as bigint)"
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(rounded, 'yd * (2 * w) + xd')} AS cks "
        f"FROM ({acc}) GROUP BY 1, 2"
    )


def oracle_warp_cubic_up2(n: int, max_i: int) -> str:
    """Cubic (Catmull-Rom, GWKCubic) 2x upsample replay — 4x4 taps
    (-1..2), same dyadic-exactness argument as bilinear. Pixels whose
    4x4 window is not fully inside the source fall back to BILINEAR
    weights (GDAL's 4-sample formula path, gdalwarpkernel.cpp:1166 —
    mirrored from resample._warp_conv_band's edge branch)."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    dx = "((xd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((xd - 0.5E0) / 2.0E0) as bigint))"
    dy = "((yd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((yd - 0.5E0) / 2.0E0) as bigint))"
    edge = (
        "(cast(floor((xd - 0.5E0) / 2.0E0) as bigint) - 1 < 0 OR cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + 2 >= w "
        "OR cast(floor((yd - 0.5E0) / 2.0E0) as bigint) - 1 < 0 OR cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + 2 >= h)"
    )

    def cw(t):
        ax = f"abs({t})"
        return (
            f"(CASE WHEN {ax} <= 1.0E0 "
            f"THEN ({t}) * ({t}) * (1.5E0 * {ax} - 2.5E0) + 1.0E0 "
            f"WHEN {ax} <= 2.0E0 "
            f"THEN ({t}) * ({t}) * (-0.5E0 * {ax} + 2.5E0) "
            f"- 4.0E0 * {ax} + 2.0E0 ELSE 0.0E0 END)"
        )

    def bw(t):
        return f"greatest(0.0E0, 1.0E0 - abs({t}))"

    wgt = (
        f"(CASE WHEN {edge} "
        f"THEN ({bw(f'ti - {dx}')}) * ({bw(f'tj - {dy}')}) "
        f"ELSE ({cw(f'ti - {dx}')}) * ({cw(f'tj - {dy}')}) END)"
    )
    taps = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti AS x, cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj AS y, "
        f"{wgt} AS wgt "
        f"FROM ({img}) i, range(0, 512) tx(xd), range(0, 512) ty(yd), "
        f"range(0, 3) tc(ch), range(-1, 3) si(ti), range(-1, 3) sj(tj) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h "
        f"AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti >= 0 AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti < i.w "
        f"AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj >= 0 AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj < i.h"
    )
    acc = (
        f"SELECT image_id, ch, xd, yd, any_value(w) AS w, "
        f"sum(cast(({synth.pixel_val_sql()}) as double) * wgt) AS acc, "
        f"sum(wgt) AS accw "
        f"FROM ({taps}) GROUP BY 1, 2, 3, 4"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(_ACC_CLAMP_ROUND, 'yd * (2 * w) + xd')} AS cks "
        f"FROM ({acc}) GROUP BY 1, 2"
    )


def oracle_warp_cubicspline_up2(n: int, max_i: int) -> str:
    """B-spline (GWKCubicSpline) 2x upsample replay — unnormalized
    B-spline weights (the 1/6 cancels in the accw normalization, as
    in the numpy kernel); all weights are exact dyadics at the 2x
    dx values, so the replay is bit-exact. No edge fallback (that
    rule is cubic-specific)."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    dx = "((xd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((xd - 0.5E0) / 2.0E0) as bigint))"
    dy = "((yd + 0.5E0) / 2.0E0 - 0.5E0 - cast(floor((yd - 0.5E0) / 2.0E0) as bigint))"

    def c3(u):
        return f"(({u}) * ({u}) * ({u}))"

    def bs(t):
        return (
            f"((CASE WHEN ({t}) + 2.0E0 > 0.0E0 THEN {c3(f'({t}) + 2.0E0')} "
            f"ELSE 0.0E0 END) "
            f"+ (CASE WHEN ({t}) + 1.0E0 > 0.0E0 "
            f"THEN -4.0E0 * {c3(f'({t}) + 1.0E0')} ELSE 0.0E0 END) "
            f"+ (CASE WHEN ({t}) > 0.0E0 THEN 6.0E0 * {c3(t)} "
            f"ELSE 0.0E0 END) "
            f"+ (CASE WHEN ({t}) - 1.0E0 > 0.0E0 "
            f"THEN -4.0E0 * {c3(f'({t}) - 1.0E0')} ELSE 0.0E0 END))"
        )

    taps = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti AS x, cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj AS y, "
        f"({bs(f'ti - {dx}')}) * ({bs(f'tj - {dy}')}) AS wgt "
        f"FROM ({img}) i, range(0, 512) tx(xd), range(0, 512) ty(yd), "
        f"range(0, 3) tc(ch), range(-1, 3) si(ti), range(-1, 3) sj(tj) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h "
        f"AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti >= 0 AND cast(floor((xd - 0.5E0) / 2.0E0) as bigint) + ti < i.w "
        f"AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj >= 0 AND cast(floor((yd - 0.5E0) / 2.0E0) as bigint) + tj < i.h"
    )
    acc = (
        f"SELECT image_id, ch, xd, yd, any_value(w) AS w, "
        f"sum(cast(({synth.pixel_val_sql()}) as double) * wgt) AS acc, "
        f"sum(wgt) AS accw "
        f"FROM ({taps}) GROUP BY 1, 2, 3, 4"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(_ACC_CLAMP_ROUND, 'yd * (2 * w) + xd')} AS cks "
        f"FROM ({acc}) GROUP BY 1, 2"
    )


def oracle_warp_lanczos_up2(n: int, max_i: int) -> str:
    """Lanczos (GWKLanczosSinc, radius 3) 2x upsample replay — 7x7
    taps. Weights use sin(), which is bit-identical numpy/DuckDB on
    this platform (synth.py:168), with the numpy kernel's exact op
    order mirrored (pix = pi*t once, (pix*pix)/3 denominator); the
    only cross-engine difference is accumulation order, ~1e-16
    relative against the 0.5 rounding boundary."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    fx = "cast(floor((xd - 0.5E0) / 2.0E0) as bigint)"
    fy = "cast(floor((yd - 0.5E0) / 2.0E0) as bigint)"
    dx = f"((xd + 0.5E0) / 2.0E0 - 0.5E0 - {fx})"
    dy = f"((yd + 0.5E0) / 2.0E0 - 0.5E0 - {fy})"

    def lw(t):
        pix = f"(pi() * ({t}))"
        return (
            f"(CASE WHEN abs({t}) <= 3.0E0 "
            f"THEN (sin({pix}) * sin({pix} / 3.0E0)) "
            f"/ ({pix} * {pix} / 3.0E0) ELSE 0.0E0 END)"
        )

    taps = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, "
        f"{fx} + ti AS x, {fy} + tj AS y, "
        f"({lw(f'ti - {dx}')}) * ({lw(f'tj - {dy}')}) AS wgt "
        f"FROM ({img}) i, range(0, 512) tx(xd), range(0, 512) ty(yd), "
        f"range(0, 3) tc(ch), range(-3, 4) si(ti), range(-3, 4) sj(tj) "
        f"WHERE i.i < {max_i} AND xd < 2 * i.w AND yd < 2 * i.h "
        f"AND {fx} + ti >= 0 AND {fx} + ti < i.w "
        f"AND {fy} + tj >= 0 AND {fy} + tj < i.h"
    )
    acc = (
        f"SELECT image_id, ch, xd, yd, any_value(w) AS w, "
        f"sum(cast(({synth.pixel_val_sql()}) as double) * wgt) AS acc, "
        f"sum(wgt) AS accw "
        f"FROM ({taps}) GROUP BY 1, 2, 3, 4"
    )
    return (
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql(_ACC_CLAMP_ROUND, 'yd * (2 * w) + xd')} AS cks "
        f"FROM ({acc}) GROUP BY 1, 2"
    )


AREA_FAMILY_DOWN2 = ("med", "q1", "q3", "mode", "sum", "rms")


def warp_area_family_down2(images: DataFrame) -> DataFrame:
    """(image_id, alg, channel, cks) for the remaining area kernels
    at a clean 2x downsample — each dst pixel reduces an exact 2x2
    block, so every reduction is discrete/integer (plus one
    bit-matching sqrt for rms)."""
    from . import stats as statsmod

    parts = []
    for alg in AREA_FAMILY_DOWN2:
        cks = statsmod.checksums(warp_scale(images, 0.5, alg))
        parts.append(
            cks.selectExpr("image_id", f"'{alg}' AS alg", "channel", "cks")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def oracle_warp_area_family_down2(n: int, max_i: int) -> str:
    """2x2-block replay of med/q1/q3 (sorted index ceil(q*4 - 1) =
    ranks 1/2/3), mode (max count, earliest last-occurrence
    tie-break == 'first to reach max count in scan order'), sum
    (clamped), rms (sqrt of mean square)."""
    from .. import synth

    img = synth.images_cte(n, "duckdb")
    inner = (
        f"SELECT image_id, i.i AS i, w, h, fmt, xd, yd, ch, c, "
        f"(2 * xd + c % 2) AS x, (2 * yd + c // 2) AS y "
        f"FROM ({img}) i, range(0, 128) tx(xd), range(0, 128) ty(yd), "
        f"range(0, 3) tc(ch), range(0, 4) tcr(c) "
        f"WHERE i.i < {max_i} AND xd < i.w // 2 AND yd < i.h // 2"
    )
    vals = (
        f"SELECT image_id, ch, xd, yd, c, w, "
        f"cast(({synth.pixel_val_sql()}) as bigint) AS v, "
        f"row_number() OVER (PARTITION BY image_id, ch, xd, yd "
        f"ORDER BY ({synth.pixel_val_sql()}), c) AS rk "
        f"FROM ({inner})"
    )
    ranked = (
        "SELECT image_id, ch, xd, yd, any_value(w) AS w, "
        "max(CASE WHEN rk = 1 THEN v END) AS q1v, "
        "max(CASE WHEN rk = 2 THEN v END) AS medv, "
        "max(CASE WHEN rk = 3 THEN v END) AS q3v, "
        "cast(sum(v) as bigint) AS sumv, "
        "cast(sum(v * v) as bigint) AS sq "
        "FROM vals GROUP BY 1, 2, 3, 4"
    )
    modev = (
        "SELECT image_id, ch, xd, yd, v AS mv FROM ("
        "SELECT image_id, ch, xd, yd, v, "
        "row_number() OVER (PARTITION BY image_id, ch, xd, yd "
        "ORDER BY cnt DESC, last_pos ASC) AS mrk FROM ("
        "SELECT image_id, ch, xd, yd, v, count(*) AS cnt, max(c) AS last_pos "
        "FROM vals GROUP BY 1, 2, 3, 4, 5)) WHERE mrk = 1"
    )
    px = (
        "SELECT r.image_id, r.ch, r.xd, r.yd, r.w, alg, "
        "CASE alg WHEN 'med' THEN medv WHEN 'q1' THEN q1v "
        "WHEN 'q3' THEN q3v WHEN 'mode' THEN m.mv "
        "WHEN 'sum' THEN least(sumv, 255) "
        "ELSE cast(floor(sqrt(cast(sq as double) / 4.0E0) + 0.5E0) as bigint) "
        "END AS val "
        "FROM ranked r JOIN modev m ON m.image_id = r.image_id "
        "AND m.ch = r.ch AND m.xd = r.xd AND m.yd = r.yd, "
        "(SELECT unnest(['med','q1','q3','mode','sum','rms']) AS alg) a"
    )
    return (
        f"WITH vals AS MATERIALIZED ({vals}), "
        f"ranked AS MATERIALIZED ({ranked}), "
        f"modev AS MATERIALIZED ({modev}), "
        f"px AS ({px}) "
        f"SELECT image_id, alg, cast(ch as bigint) AS channel, "
        f"{checksum_sql('val', 'yd * (w // 2) + xd')} "
        f"AS cks FROM px GROUP BY 1, 2, 3"
    )


# ---------------------------------------------------------------------------
# cutline blend distance (gdalwarp -cblend; alg/gdalwarper.cpp
# GDALWarpCutlineMasker with CUTLINE_BLEND_DIST): instead of the hard
# 0/1 cutline mask, pixel density ramps linearly across the cutline
# edge over ±blend pixels — density 1 deeper than blend inside, 0
# deeper than blend outside, 0.5 on the edge. For the box cutline the
# signed edge distance is closed-form (min over the four edges), so
# the whole ramp is value-checked exactly: density is quantized to
# integer thousandths with the SAME IEEE double arithmetic in numpy
# and both SQL dialects, and the gate key is sum(val * dens_m).

CBLEND_PX = 2.0


def cutline_blend_keys(
    images: DataFrame, box: tuple = CUTLINE_BOX, blend: float = CBLEND_PX
) -> DataFrame:
    """(image_id, channel, blend_key) — blend_key = sum over pixels of
    val * dens_m, dens_m = clamp(floor(500 + 500*d/blend), 0, 1000),
    d = signed pixel-center distance to the cutline box edge.

    Scale: embarrassingly parallel map-only pass (each image's mask is
    local); zero shuffles beyond the final per-image agg."""
    fx0, fy0, fx1, fy1 = box

    def run(arr):
        arr = arr.astype(np.int64)
        h, w = arr.shape[:2]
        xs = np.arange(w, dtype=np.float64) + 0.5
        ys = np.arange(h, dtype=np.float64) + 0.5
        dx = np.minimum(xs - fx0 * w, fx1 * w - xs)
        dy = np.minimum(ys - fy0 * h, fy1 * h - ys)
        d = np.minimum(dx[None, :], dy[:, None])
        dens = np.floor(500.0 + 500.0 * d / blend)
        dens = np.clip(dens, 0.0, 1000.0).astype(np.int64)
        for c in range(arr.shape[2]):
            yield c, int((arr[:, :, c] * dens).sum())

    return per_image(
        images, run, "image_id string, channel bigint, blend_key bigint"
    )


def oracle_cutline_blend(
    n: int, max_i: int, box: tuple = CUTLINE_BOX, blend: float = CBLEND_PX
) -> str:
    from .. import synth

    fl = synth.flit
    fx0, fy0, fx1, fy1 = box
    d = (
        f"least(cast(x as double) + 0.5E0 - {fl(fx0)} * w, "
        f"{fl(fx1)} * w - (cast(x as double) + 0.5E0), "
        f"cast(y as double) + 0.5E0 - {fl(fy0)} * h, "
        f"{fl(fy1)} * h - (cast(y as double) + 0.5E0))"
    )
    dens = (
        f"cast(greatest(0.0E0, least(1000.0E0, "
        f"floor(500.0E0 + 500.0E0 * {d} / {fl(blend)}))) as bigint)"
    )
    return (
        f"WITH px AS (SELECT image_id, w, h, x, y, ch, val FROM "
        f"({synth.pixels_cte(n, max_i, 'duckdb')})) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"cast(sum(val * {dens}) as bigint) AS blend_key "
        f"FROM px GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# rotated-geotransform warp — gdalwarp accepts sources whose
# geotransform carries rotation/shear terms (gt[2], gt[4] != 0; the
# GDALGenImgProjTransformer inverts the full 2x2, not just the
# diagonal — gcore/gdal.h:1103, alg/gdaltransformer.cpp
# GDALInvGeoTransform), a case most north-up-only tools (gdal2tiles
# included) refuse. Nearest warp onto a north-up output grid; the
# rotation is the 3-4-5 triangle (cos 0.8 / sin 0.6) so the whole
# chain is affine arithmetic — no trig, and numpy/Spark/DuckDB agree
# bit-for-bit on every inverse-mapped coordinate. Map-only at 10^12
# rows: one decode + one gather per image, zero shuffle before the
# per-row aggregation.

ROT_C, ROT_S = 0.8, 0.6  # exact-parity rotation (3-4-5)


def _rot_dims(w: int, h: int) -> tuple[int, int]:
    """North-up output grid (OW, OH) covering the rotated footprint
    (integer formula shared verbatim with the SQL)."""
    return (8 * w + 6 * h) // 10 + 2, (6 * w + 8 * h) // 10 + 2


def warp_rotated_rows(images: DataFrame) -> DataFrame:
    """(image_id, oy, n_valid, row_sum): per-output-scanline count +
    channel-0 sum of the nearest-warped rotated source (unit ground
    res; src gt = (0, .8, .6, .6w, .6, -.8))."""

    def run(image_id, payload, w, h):
        arr = codecs.decode_image(bytes(payload))
        w, h = int(w), int(h)
        ow, oh = _rot_dims(w, h)
        xc = np.arange(ow, dtype=np.float64) + 0.5
        yc = 0.6 * w - (np.arange(oh, dtype=np.float64) + 0.5)
        # inverse of [[.8, .6], [.6, -.8]] (det = -1)
        px = 0.8 * xc[None, :] + 0.6 * yc[:, None]
        py = 0.6 * xc[None, :] - 0.8 * yc[:, None]
        ix = np.floor(px).astype(np.int64)
        iy = np.floor(py).astype(np.int64)
        ok = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
        v = np.zeros((oh, ow), dtype=np.int64)
        v[ok] = arr[iy[ok], ix[ok], 0].astype(np.int64)
        for r in range(oh):
            yield image_id, r, int(ok[r].sum()), int(v[r].sum())

    return per_row(
        images, ["image_id", "bytes", "w", "h"], run,
        "image_id string, oy int, n_valid bigint, row_sum bigint",
    )


def oracle_warp_rotated(n: int, max_i: int) -> str:
    """Kernel-instantiated replay: the pixel formula evaluated at the
    inverse-mapped (ix, iy) — identical IEEE sequence."""
    from .. import synth

    xc = "(cast(ox as double) + 0.5E0)"
    yc = "(0.6E0 * w - (cast(oy as double) + 0.5E0))"
    px = f"(0.8E0 * {xc} + 0.6E0 * {yc})"
    py = f"(0.6E0 * {xc} - 0.8E0 * {yc})"
    ix, iy = f"cast(floor({px}) as bigint)", f"cast(floor({py}) as bigint)"
    val = synth.pixel_val_sql(xe=ix, ye=iy)
    return (
        f"WITH img AS (SELECT *, (8 * w + 6 * h) // 10 + 2 AS ow, "
        f"(6 * w + 8 * h) // 10 + 2 AS oh "
        f"FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}), "
        f"g AS (SELECT img.*, x.range AS ox, y.range AS oy, 0 AS ch "
        f"FROM img, range(0, 256) x, range(0, 256) y "
        f"WHERE x.range < ow AND y.range < oh), "
        f"px AS (SELECT image_id, oy, "
        f"CASE WHEN {ix} >= 0 AND {ix} < w AND {iy} >= 0 AND {iy} < h "
        f"THEN 1 ELSE 0 END AS ok, "
        f"CASE WHEN {ix} >= 0 AND {ix} < w AND {iy} >= 0 AND {iy} < h "
        f"THEN {val} ELSE 0 END AS v FROM g) "
        f"SELECT image_id, cast(oy as int) AS oy, "
        f"cast(sum(ok) as bigint) AS n_valid, "
        f"cast(sum(v) as bigint) AS row_sum "
        f"FROM px GROUP BY 1, 2"
    )
