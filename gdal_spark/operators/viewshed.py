"""Viewshed — visibility of every pixel from one observer.

Reference: alg/viewshed.cpp (GDALViewshedGenerate): a target cell is
visible when the line of sight from the observer's eye clears the
terrain everywhere along the ray. The reference sweeps cells with
reference planes; this implementation uses the equivalent explicit
line-of-sight test with a FIXED sampling rule so the SQL oracle can
replay it bit-for-bit:

  K = max(|tx-ox|, |ty-oy|)  (dominant-axis steps)
  for k in 1..K-1:  p_k = o + (k/K) * (t - o)
  terrain(p_k) = bilinear interpolation of the 4 surrounding pixels
  los(p_k)     = eye_z + (k/K) * (terrain(t) - eye_z)
  visible  <=>  los(p_k) > terrain(p_k) for every k

Distributed shape: the output raster is split into row bands; the
terrain is the deterministic analytic DEM, so each band regenerates
the full (small) surface locally — the stand-in for broadcasting the
DEM tile pyramid. At real scale the rays partition by angular sector
instead (each sector's rays touch a contiguous wedge of tiles).

Every operation is a fixed sequence of IEEE double ops on integer
inputs -> deterministic and identical in numpy and DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .dem import DEM_VALUE_SQL, _dem_value

OBS_HEIGHT = 20.0


def los_visible(dem: np.ndarray, ox: int, oy: int, tx: int, ty: int) -> bool:
    """Line-of-sight test for one target (python mirror of the
    vectorized band kernel; used by tests)."""
    h, w = dem.shape
    K = max(abs(tx - ox), abs(ty - oy))
    if K == 0:
        return True
    eye = dem[oy, ox] + OBS_HEIGHT
    tz = float(dem[ty, tx])
    for k in range(1, K):
        f = k / K
        px = ox + f * (tx - ox)
        py = oy + f * (ty - oy)
        x0, y0 = int(np.floor(px)), int(np.floor(py))
        fx, fy = px - x0, py - y0
        x1, y1 = min(x0 + 1, w - 1), min(y0 + 1, h - 1)
        terr = (1.0 - fy) * (
            (1.0 - fx) * dem[y0, x0] + fx * dem[y0, x1]
        ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
        los = eye + f * (tz - eye)
        if not (los > terr):
            return False
    return True


def viewshed_rows(
    spark, width: int, height: int, ox: int, oy: int, band_px: int = 16
) -> DataFrame:
    """(y, n, n_visible) per scanline for the analytic DEM and an
    observer at (ox, oy, terrain + OBS_HEIGHT)."""
    nb = (height + band_px - 1) // band_px
    bands = spark.range(nb).selectExpr("cast(id as int) AS band")

    def run(key, pdf):
        band = int(key[0])
        y0 = band * band_px
        h = min(band_px, height - y0)
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        out = []
        eye = dem[oy, ox] + OBS_HEIGHT
        for ty in range(y0, y0 + h):
            nvis = 0
            for tx in range(width):
                K = max(abs(tx - ox), abs(ty - oy))
                if K == 0:
                    nvis += 1
                    continue
                ks = np.arange(1, K, dtype=np.float64)
                f = ks / K
                px = ox + f * (tx - ox)
                py = oy + f * (ty - oy)
                x0 = np.floor(px).astype(np.int64)
                y0i = np.floor(py).astype(np.int64)
                fx = px - x0
                fy = py - y0i
                x1 = np.minimum(x0 + 1, width - 1)
                y1 = np.minimum(y0i + 1, height - 1)
                terr = (1.0 - fy) * (
                    (1.0 - fx) * dem[y0i, x0] + fx * dem[y0i, x1]
                ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
                los = eye + f * (dem[ty, tx] - eye)
                if (los > terr).all():
                    nvis += 1
            out.append((ty, width, nvis))
        return pd.DataFrame(out, columns=["y", "n", "n_visible"])

    return bands.groupby("band").applyInPandas(
        run, schema="y bigint, n bigint, n_visible bigint"
    )


def oracle_viewshed(width: int, height: int, ox: int, oy: int) -> str:
    val = DEM_VALUE_SQL

    def dem_at(x, y):
        return f"cast({val.replace('gx', f'({x})').replace('gy', f'({y})')} as double)"

    eye = f"({dem_at(str(ox), str(oy))} + {OBS_HEIGHT}E0)"
    steps = (
        f"SELECT t.tx, t.ty, k, greatest(abs(t.tx - {ox}), abs(t.ty - {oy})) AS kk "
        f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy)) t, range(1, {max(width, height)}) s(k) "
        f"WHERE k < greatest(abs(t.tx - {ox}), abs(t.ty - {oy}))"
    )
    terr = (
        "((1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        "+ fy * ((1.0E0 - fx) * v01 + fx * v11))"
    )
    los = f"({eye} + f * ({dem_at('tx', 'ty')} - {eye}))"
    return (
        f"WITH s AS ({steps}), "
        f"pos AS (SELECT tx, ty, "
        f"(cast(k as double) / cast(kk as double)) AS f, "
        f"({ox} + (cast(k as double) / cast(kk as double)) * (tx - {ox})) AS px, "
        f"({oy} + (cast(k as double) / cast(kk as double)) * (ty - {oy})) AS py "
        f"FROM s), "
        f"cells AS (SELECT tx, ty, f, "
        f"cast(floor(px) as bigint) AS x0, cast(floor(py) as bigint) AS y0, "
        f"(px - cast(floor(px) as bigint)) AS fx, "
        f"(py - cast(floor(py) as bigint)) AS fy FROM pos), "
        f"vals AS (SELECT tx, ty, f, fx, fy, "
        f"{dem_at('x0', 'y0')} AS v00, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', 'y0')} AS v10, "
        f"{dem_at('x0', f'least(y0 + 1, {height - 1})')} AS v01, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', f'least(y0 + 1, {height - 1})')} "
        f"AS v11 FROM cells), "
        f"blocked AS (SELECT DISTINCT tx, ty FROM vals "
        f"WHERE NOT ({los} > {terr})) "
        f"SELECT t.gy AS y, count(*) AS n, "
        f"count(*) - count(b.tx) AS n_visible "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN blocked b ON b.tx = t.gx AND b.ty = t.gy "
        f"GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# -om GROUND output mode (gdal_viewshed height modes, alg/viewshed.cpp
# oOpts.outputMode OUTPUT_MODE_GROUND): instead of the 0/1 visibility
# raster, emit how much HIGHER the target would need to be to become
# visible. With the explicit-LOS formulation: los at step f with
# target height z is eye + f*(z - eye) >= terr  <=>
# z >= eye + (terr - eye)/f, so the required height is the max of
# that bound over the ray and ground = max(0, z_req - terrain).
# Already-visible cells get 0 (matching the reference).


def viewshed_ground_rows(
    spark, width: int, height: int, ox: int, oy: int, band_px: int = 16
) -> DataFrame:
    """(y, n, ground_mkey_sum): per-scanline sum of the 1e-3-floored
    GROUND-mode raster — every per-target max and every division is
    the same fixed IEEE sequence in numpy and the SQL replay."""
    nb = (height + band_px - 1) // band_px
    bands = spark.range(nb).selectExpr("cast(id as int) AS band")

    def run(key, pdf):
        band = int(key[0])
        y0 = band * band_px
        h = min(band_px, height - y0)
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        out = []
        eye = dem[oy, ox] + OBS_HEIGHT
        for ty in range(y0, y0 + h):
            msum = 0
            for tx in range(width):
                K = max(abs(tx - ox), abs(ty - oy))
                if K <= 1:
                    continue  # ground 0
                ks = np.arange(1, K, dtype=np.float64)
                f = ks / K
                px = ox + f * (tx - ox)
                py = oy + f * (ty - oy)
                x0 = np.floor(px).astype(np.int64)
                y0i = np.floor(py).astype(np.int64)
                fx = px - x0
                fy = py - y0i
                x1 = np.minimum(x0 + 1, width - 1)
                y1 = np.minimum(y0i + 1, height - 1)
                terr = (1.0 - fy) * (
                    (1.0 - fx) * dem[y0i, x0] + fx * dem[y0i, x1]
                ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
                zreq = (eye + (terr - eye) / f).max()
                ground = max(0.0, zreq - dem[ty, tx])
                msum += int(np.floor(ground * 1000.0 + 1.0e-9))
            out.append((ty, width, msum))
        return pd.DataFrame(out, columns=["y", "n", "ground_mkey_sum"])

    return bands.groupby("band").applyInPandas(
        run, schema="y bigint, n bigint, ground_mkey_sum bigint"
    )


def oracle_viewshed_ground(width: int, height: int, ox: int, oy: int) -> str:
    val = DEM_VALUE_SQL

    def dem_at(x, y):
        return f"cast({val.replace('gx', f'({x})').replace('gy', f'({y})')} as double)"

    eye = f"({dem_at(str(ox), str(oy))} + {OBS_HEIGHT}E0)"
    steps = (
        f"SELECT t.tx, t.ty, k, greatest(abs(t.tx - {ox}), abs(t.ty - {oy})) AS kk "
        f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy)) t, range(1, {max(width, height)}) s(k) "
        f"WHERE k < greatest(abs(t.tx - {ox}), abs(t.ty - {oy}))"
    )
    terr = (
        "((1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        "+ fy * ((1.0E0 - fx) * v01 + fx * v11))"
    )
    return (
        f"WITH s AS MATERIALIZED ({steps}), "
        f"pos AS MATERIALIZED (SELECT tx, ty, "
        f"(cast(k as double) / cast(kk as double)) AS f, "
        f"({ox} + (cast(k as double) / cast(kk as double)) * (tx - {ox})) AS px, "
        f"({oy} + (cast(k as double) / cast(kk as double)) * (ty - {oy})) AS py "
        f"FROM s), "
        f"cells AS MATERIALIZED (SELECT tx, ty, f, "
        f"cast(floor(px) as bigint) AS x0, cast(floor(py) as bigint) AS y0, "
        f"(px - cast(floor(px) as bigint)) AS fx, "
        f"(py - cast(floor(py) as bigint)) AS fy FROM pos), "
        f"vals AS MATERIALIZED (SELECT tx, ty, f, fx, fy, "
        f"{dem_at('x0', 'y0')} AS v00, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', 'y0')} AS v10, "
        f"{dem_at('x0', f'least(y0 + 1, {height - 1})')} AS v01, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', f'least(y0 + 1, {height - 1})')} "
        f"AS v11 FROM cells), "
        f"req AS (SELECT tx, ty, "
        f"max({eye} + ({terr} - {eye}) / f) AS zreq FROM vals GROUP BY 1, 2), "
        f"ground AS (SELECT t.gx AS tx, t.gy AS ty, "
        f"cast(floor(greatest(0.0E0, coalesce(r.zreq - "
        f"{dem_at('t.gx', 't.gy')}, 0.0E0)) * 1000.0E0 + 0.000000001E0) "
        f"as bigint) AS mkey "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN req r ON r.tx = t.gx AND r.ty = t.gy) "
        f"SELECT ty AS y, cast(count(*) as bigint) AS n, "
        f"cast(sum(mkey) as bigint) AS ground_mkey_sum "
        f"FROM ground GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# cumulative viewshed: how many of K observers see each cell (the
# multi-observer composition of GDALViewshedGenerate — the reference
# runs alg/viewshed.cpp once per observer and sums the 0/1 rasters;
# newer GDAL ships this loop as gdal_viewshed's cumulative mode)

CUM_OBSERVERS = ((31, 29), (8, 8), (55, 50))


def viewshed_cumulative_rows(
    spark, width: int, height: int,
    observers: tuple = CUM_OBSERVERS, band_px: int = 16,
) -> DataFrame:
    """(y, n, vis_total) per scanline, vis_total = sum over the row's
    cells of the number of observers that see the cell. Same banded
    applyInPandas shape as the single-observer op — each band runs the
    K observer sweeps locally, so the fan-out is K map tasks' worth of
    compute with zero extra shuffles."""
    nb = (height + band_px - 1) // band_px
    bands = spark.range(nb).selectExpr("cast(id as int) AS band")
    obs = tuple(observers)

    def run(key, pdf):
        band = int(key[0])
        y0 = band * band_px
        hh = min(band_px, height - y0)
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        out = []
        for ty in range(y0, y0 + hh):
            total = 0
            for ox, oy in obs:
                eye = dem[oy, ox] + OBS_HEIGHT
                for tx in range(width):
                    K = max(abs(tx - ox), abs(ty - oy))
                    if K == 0:
                        total += 1
                        continue
                    ks = np.arange(1, K, dtype=np.float64)
                    f = ks / K
                    px = ox + f * (tx - ox)
                    py = oy + f * (ty - oy)
                    x0 = np.floor(px).astype(np.int64)
                    y0i = np.floor(py).astype(np.int64)
                    fx = px - x0
                    fy = py - y0i
                    x1 = np.minimum(x0 + 1, width - 1)
                    y1 = np.minimum(y0i + 1, height - 1)
                    terr = (1.0 - fy) * (
                        (1.0 - fx) * dem[y0i, x0] + fx * dem[y0i, x1]
                    ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
                    los = eye + f * (dem[ty, tx] - eye)
                    if (los > terr).all():
                        total += 1
            out.append((ty, width, total))
        return pd.DataFrame(out, columns=["y", "n", "vis_total"])

    return bands.groupby("band").applyInPandas(
        run, schema="y bigint, n bigint, vis_total bigint"
    )


def oracle_viewshed_cumulative(
    width: int, height: int, observers: tuple = CUM_OBSERVERS
) -> str:
    val = DEM_VALUE_SQL

    def dem_at(x, y):
        return (
            f"cast({val.replace('gx', f'({x})').replace('gy', f'({y})')} "
            f"as double)"
        )

    terr = (
        "((1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        "+ fy * ((1.0E0 - fx) * v01 + fx * v11))"
    )
    ctes, unions = [], []
    for i, (ox, oy) in enumerate(observers):
        eye = f"({dem_at(str(ox), str(oy))} + {OBS_HEIGHT}E0)"
        los = f"({eye} + f * ({dem_at('tx', 'ty')} - {eye}))"
        ctes.append(
            f"s{i} AS (SELECT t.tx, t.ty, k, "
            f"greatest(abs(t.tx - {ox}), abs(t.ty - {oy})) AS kk "
            f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
            f"range(0, {height}) b(gy)) t, range(1, {max(width, height)}) s(k) "
            f"WHERE k < greatest(abs(t.tx - {ox}), abs(t.ty - {oy})))"
        )
        ctes.append(
            f"pos{i} AS (SELECT tx, ty, "
            f"(cast(k as double) / cast(kk as double)) AS f, "
            f"({ox} + (cast(k as double) / cast(kk as double)) * (tx - {ox})) "
            f"AS px, "
            f"({oy} + (cast(k as double) / cast(kk as double)) * (ty - {oy})) "
            f"AS py FROM s{i})"
        )
        ctes.append(
            f"cells{i} AS (SELECT tx, ty, f, "
            f"cast(floor(px) as bigint) AS x0, "
            f"cast(floor(py) as bigint) AS y0, "
            f"(px - cast(floor(px) as bigint)) AS fx, "
            f"(py - cast(floor(py) as bigint)) AS fy FROM pos{i})"
        )
        ctes.append(
            f"vals{i} AS (SELECT tx, ty, f, fx, fy, "
            f"{dem_at('x0', 'y0')} AS v00, "
            f"{dem_at(f'least(x0 + 1, {width - 1})', 'y0')} AS v10, "
            f"{dem_at('x0', f'least(y0 + 1, {height - 1})')} AS v01, "
            f"{dem_at(f'least(x0 + 1, {width - 1})', f'least(y0 + 1, {height - 1})')} "
            f"AS v11 FROM cells{i})"
        )
        unions.append(
            f"SELECT DISTINCT tx, ty, {i} AS obs FROM vals{i} "
            f"WHERE NOT ({los} > {terr})"
        )
    k = len(observers)
    return (
        "WITH " + ", ".join(ctes) + ", "
        f"blocked AS ({' UNION ALL '.join(unions)}), "
        f"bn AS (SELECT tx, ty, count(*) AS n_blocked FROM blocked "
        f"GROUP BY tx, ty) "
        f"SELECT t.gy AS y, count(*) AS n, "
        f"cast(sum({k} - coalesce(bn.n_blocked, 0)) as bigint) AS vis_total "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN bn ON bn.tx = t.gx AND bn.ty = t.gy "
        f"GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# -cc curvature coefficient (gdal_viewshed; alg/viewshed.cpp
# CalcHeightAdjFactor: m_dfHeightAdjFactor = (1 - dfCurvCoeff) /
# dfEarthDiameter, every height lowered by adj * dist² before the LOS
# test — the earth-curvature + atmospheric-refraction correction;
# default coefficient 0.85714 ≈ 6/7). The synthetic DEM is a stylized
# EXTREME-relief surface (std 74 height units over a 64-px tile), so a
# realistic earth diameter cannot flip a single cell; the pixel-unit
# diameter default is deliberately small so the correction is actually
# exercised and the gate discriminates the mode (cc=1 reproduces the
# uncorrected viewshed bit-for-bit — pytest-asserted). The arithmetic
# is the reference's, applied to intermediate samples AND the target.

CURV_CC = 0.0
CURV_DIAMETER = 1.0  # stylized pixel-unit earth diameter (see above)


def viewshed_curved_rows(
    spark, width: int, height: int, ox: int, oy: int,
    cc: float = CURV_CC, diameter: float = CURV_DIAMETER,
    band_px: int = 16,
) -> DataFrame:
    """(y, n, n_visible) per scanline with the curvature-corrected
    heights z' = z - (1-cc)/diameter * d² (d = pixel distance from the
    observer)."""
    adj = (1.0 - cc) / diameter
    nb = (height + band_px - 1) // band_px
    bands = spark.range(nb).selectExpr("cast(id as int) AS band")

    def run(key, pdf):
        band = int(key[0])
        y0 = band * band_px
        h = min(band_px, height - y0)
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        out = []
        eye = dem[oy, ox] + OBS_HEIGHT
        for ty in range(y0, y0 + h):
            nvis = 0
            for tx in range(width):
                K = max(abs(tx - ox), abs(ty - oy))
                if K == 0:
                    nvis += 1
                    continue
                ks = np.arange(1, K, dtype=np.float64)
                f = ks / K
                px = ox + f * (tx - ox)
                py = oy + f * (ty - oy)
                x0 = np.floor(px).astype(np.int64)
                y0i = np.floor(py).astype(np.int64)
                fx = px - x0
                fy = py - y0i
                x1 = np.minimum(x0 + 1, width - 1)
                y1 = np.minimum(y0i + 1, height - 1)
                terr = (1.0 - fy) * (
                    (1.0 - fx) * dem[y0i, x0] + fx * dem[y0i, x1]
                ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
                terr = terr - adj * (
                    (px - ox) * (px - ox) + (py - oy) * (py - oy)
                )
                tz = dem[ty, tx] - adj * (
                    float((tx - ox) * (tx - ox) + (ty - oy) * (ty - oy))
                )
                los = eye + f * (tz - eye)
                if (los > terr).all():
                    nvis += 1
            out.append((ty, width, nvis))
        return pd.DataFrame(out, columns=["y", "n", "n_visible"])

    return bands.groupby("band").applyInPandas(
        run, schema="y bigint, n bigint, n_visible bigint"
    )


def oracle_viewshed_curved(
    width: int, height: int, ox: int, oy: int,
    cc: float = CURV_CC, diameter: float = CURV_DIAMETER,
) -> str:
    from .. import synth

    adj = synth.flit((1.0 - cc) / diameter)
    val = DEM_VALUE_SQL

    def dem_at(x, y):
        return (
            f"cast({val.replace('gx', f'({x})').replace('gy', f'({y})')} "
            f"as double)"
        )

    eye = f"({dem_at(str(ox), str(oy))} + {OBS_HEIGHT}E0)"
    steps = (
        f"SELECT t.tx, t.ty, k, "
        f"greatest(abs(t.tx - {ox}), abs(t.ty - {oy})) AS kk "
        f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy)) t, range(1, {max(width, height)}) s(k) "
        f"WHERE k < greatest(abs(t.tx - {ox}), abs(t.ty - {oy}))"
    )
    terr = (
        "((1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        "+ fy * ((1.0E0 - fx) * v01 + fx * v11) "
        f"- {adj} * ((px - {ox}) * (px - {ox}) + (py - {oy}) * (py - {oy})))"
    )
    tz = (
        f"({dem_at('tx', 'ty')} - {adj} * cast((tx - {ox}) * (tx - {ox}) "
        f"+ (ty - {oy}) * (ty - {oy}) as double))"
    )
    los = f"({eye} + f * ({tz} - {eye}))"
    return (
        f"WITH s AS ({steps}), "
        f"pos AS (SELECT tx, ty, "
        f"(cast(k as double) / cast(kk as double)) AS f, "
        f"({ox} + (cast(k as double) / cast(kk as double)) * (tx - {ox})) AS px, "
        f"({oy} + (cast(k as double) / cast(kk as double)) * (ty - {oy})) AS py "
        f"FROM s), "
        f"cells AS (SELECT tx, ty, f, px, py, "
        f"cast(floor(px) as bigint) AS x0, cast(floor(py) as bigint) AS y0, "
        f"(px - cast(floor(px) as bigint)) AS fx, "
        f"(py - cast(floor(py) as bigint)) AS fy FROM pos), "
        f"vals AS (SELECT tx, ty, f, px, py, fx, fy, "
        f"{dem_at('x0', 'y0')} AS v00, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', 'y0')} AS v10, "
        f"{dem_at('x0', f'least(y0 + 1, {height - 1})')} AS v01, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', f'least(y0 + 1, {height - 1})')} "
        f"AS v11 FROM cells), "
        f"blocked AS (SELECT DISTINCT tx, ty FROM vals "
        f"WHERE NOT ({los} > {terr})) "
        f"SELECT t.gy AS y, count(*) AS n, "
        f"count(*) - count(b.tx) AS n_visible "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN blocked b ON b.tx = t.gx AND b.ty = t.gy "
        f"GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# gdal_viewshed -md (maximum observable distance, alg/viewshed.cpp
# oOpts.maxDistance): targets farther than ``md`` from the observer
# (Euclidean, georeferenced units = pixels here) are OUT OF RANGE and
# take the out-of-range value instead of being tested; in-range cells
# run the normal LOS test. The gate emits per scanline the in-range
# count alongside the visible count so the -md circle itself is
# value-checked (integer dx^2+dy^2 <= md^2 — exact).


def viewshed_maxdist_rows(
    spark, width: int, height: int, ox: int, oy: int, md: int,
    band_px: int = 16,
) -> DataFrame:
    """(y, n, n_inrange, n_visible) per scanline."""
    nb = (height + band_px - 1) // band_px
    bands = spark.range(nb).selectExpr("cast(id as int) AS band")
    md2 = md * md

    def run(key, pdf):
        band = int(key[0])
        y0 = band * band_px
        h = min(band_px, height - y0)
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        out = []
        eye = dem[oy, ox] + OBS_HEIGHT
        for ty in range(y0, y0 + h):
            nvis = ninr = 0
            for tx in range(width):
                if (tx - ox) ** 2 + (ty - oy) ** 2 > md2:
                    continue
                ninr += 1
                K = max(abs(tx - ox), abs(ty - oy))
                if K == 0:
                    nvis += 1
                    continue
                ks = np.arange(1, K, dtype=np.float64)
                f = ks / K
                px = ox + f * (tx - ox)
                py = oy + f * (ty - oy)
                x0 = np.floor(px).astype(np.int64)
                y0i = np.floor(py).astype(np.int64)
                fx = px - x0
                fy = py - y0i
                x1 = np.minimum(x0 + 1, width - 1)
                y1 = np.minimum(y0i + 1, height - 1)
                terr = (1.0 - fy) * (
                    (1.0 - fx) * dem[y0i, x0] + fx * dem[y0i, x1]
                ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
                los = eye + f * (dem[ty, tx] - eye)
                if (los > terr).all():
                    nvis += 1
            out.append((ty, width, ninr, nvis))
        return pd.DataFrame(
            out, columns=["y", "n", "n_inrange", "n_visible"]
        )

    return bands.groupby("band").applyInPandas(
        run, schema="y bigint, n bigint, n_inrange bigint, n_visible bigint"
    )


def oracle_viewshed_maxdist(
    width: int, height: int, ox: int, oy: int, md: int
) -> str:
    val = DEM_VALUE_SQL
    md2 = md * md

    def dem_at(x, y):
        return f"cast({val.replace('gx', f'({x})').replace('gy', f'({y})')} as double)"

    eye = f"({dem_at(str(ox), str(oy))} + {OBS_HEIGHT}E0)"
    inr = f"((tx - {ox}) * (tx - {ox}) + (ty - {oy}) * (ty - {oy}) <= {md2})"
    steps = (
        f"SELECT t.tx, t.ty, k, greatest(abs(t.tx - {ox}), abs(t.ty - {oy})) AS kk "
        f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy) "
        f"WHERE (gx - {ox}) * (gx - {ox}) + (gy - {oy}) * (gy - {oy}) <= {md2}) t, "
        f"range(1, {max(width, height)}) s(k) "
        f"WHERE k < greatest(abs(t.tx - {ox}), abs(t.ty - {oy}))"
    )
    terr = (
        "((1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        "+ fy * ((1.0E0 - fx) * v01 + fx * v11))"
    )
    los = f"({eye} + f * ({dem_at('tx', 'ty')} - {eye}))"
    return (
        f"WITH s AS ({steps}), "
        f"pos AS (SELECT tx, ty, "
        f"(cast(k as double) / cast(kk as double)) AS f, "
        f"({ox} + (cast(k as double) / cast(kk as double)) * (tx - {ox})) AS px, "
        f"({oy} + (cast(k as double) / cast(kk as double)) * (ty - {oy})) AS py "
        f"FROM s), "
        f"cells AS (SELECT tx, ty, f, "
        f"cast(floor(px) as bigint) AS x0, cast(floor(py) as bigint) AS y0, "
        f"(px - cast(floor(px) as bigint)) AS fx, "
        f"(py - cast(floor(py) as bigint)) AS fy FROM pos), "
        f"vals AS (SELECT tx, ty, f, fx, fy, "
        f"{dem_at('x0', 'y0')} AS v00, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', 'y0')} AS v10, "
        f"{dem_at('x0', f'least(y0 + 1, {height - 1})')} AS v01, "
        f"{dem_at(f'least(x0 + 1, {width - 1})', f'least(y0 + 1, {height - 1})')} "
        f"AS v11 FROM cells), "
        f"blocked AS (SELECT DISTINCT tx, ty FROM vals "
        f"WHERE NOT ({los} > {terr})) "
        f"SELECT t.gy AS y, count(*) AS n, "
        f"cast(sum(CASE WHEN {inr.replace('tx', 't.gx').replace('ty', 't.gy')} "
        f"THEN 1 ELSE 0 END) as bigint) AS n_inrange, "
        f"cast(sum(CASE WHEN {inr.replace('tx', 't.gx').replace('ty', 't.gy')} "
        f"AND b.tx IS NULL THEN 1 ELSE 0 END) as bigint) AS n_visible "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN blocked b ON b.tx = t.gx AND b.ty = t.gy "
        f"GROUP BY 1"
    )
