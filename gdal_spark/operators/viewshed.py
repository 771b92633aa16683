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

Every variant below runs the one ray kernel ``_ray`` (numpy) and its
one SQL replay ``_ray_ctes`` (DuckDB oracle), and reduces per target
on top of it: all-visible, GROUND mode, cumulative over observers,
curvature-corrected, in-range mask.

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
from pyspark.sql import DataFrame

from .. import synth
from .dem import DEM_VALUE_SQL, _dem_value
from .rowstage import bands

OBS_HEIGHT = 20.0
BAND_PX = 16  # scanlines per band


def los_visible(dem: np.ndarray, ox: int, oy: int, tx: int, ty: int) -> bool:
    """Line-of-sight test for one target: the scalar reference that
    tests compare the vectorized ray kernel against."""
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


def _ray(dem: np.ndarray, ox: int, oy: int, tx: int, ty: int, adj: float = 0.0):
    """(f, terr, tz) of the ray from the observer at (ox, oy) to the
    target (tx, ty): the sample fractions f = k/K (k = 1..K-1), the
    bilinear terrain under each sample and the target's terrain, every
    height lowered by ``adj`` * (squared distance from the observer).
    adj = 0.0 leaves the heights bit-identical (x - 0.0 == x)."""
    h, w = dem.shape
    K = max(abs(tx - ox), abs(ty - oy))
    f = np.arange(1, K, dtype=np.float64) / K
    px = ox + f * (tx - ox)
    py = oy + f * (ty - oy)
    x0 = np.floor(px).astype(np.int64)
    y0 = np.floor(py).astype(np.int64)
    fx = px - x0
    fy = py - y0
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    terr = (1.0 - fy) * (
        (1.0 - fx) * dem[y0, x0] + fx * dem[y0, x1]
    ) + fy * ((1.0 - fx) * dem[y1, x0] + fx * dem[y1, x1])
    terr = terr - adj * ((px - ox) * (px - ox) + (py - oy) * (py - oy))
    tz = dem[ty, tx] - adj * float((tx - ox) * (tx - ox) + (ty - oy) * (ty - oy))
    return f, terr, tz


def _visible(dem, ox, oy, tx, ty, adj=0.0) -> bool:
    f, terr, tz = _ray(dem, ox, oy, tx, ty, adj)
    eye = dem[oy, ox] + OBS_HEIGHT
    return bool((eye + f * (tz - eye) > terr).all())


def _stage(spark, width: int, height: int, cols: str, per_line) -> DataFrame:
    """The banded viewshed stage: every band regenerates the DEM and
    ``per_line(dem, ty)`` returns scanline ``ty``'s values after
    (y, n), typed by ``cols``."""

    def run(y0, h):
        gy, gx = np.mgrid[0:height, 0:width]
        dem = _dem_value(gx, gy).astype(np.float64)
        lines = [per_line(dem, ty) for ty in range(y0, y0 + h)]
        return [np.full(h, width), *zip(*lines)]

    return bands(spark, height, BAND_PX, run, f"y bigint, n bigint, {cols}")


def _count_visible(observers, adj: float = 0.0):
    """per_line: the scanline's visible (observer, target) pairs."""
    return lambda dem, ty: (
        sum(
            _visible(dem, ox, oy, tx, ty, adj)
            for ox, oy in observers
            for tx in range(dem.shape[1])
        ),
    )


def dem_at(x, y) -> str:
    """The analytic DEM at the SQL integer expressions ``x``, ``y``."""
    val = DEM_VALUE_SQL.replace("gx", f"({x})").replace("gy", f"({y})")
    return f"cast({val} as double)"


def _ray_ctes(
    width: int, height: int, ox: int, oy: int, adj: float = 0.0, i: int = 0
) -> str:
    """The SQL replay of ``_ray``: CTEs rays{i} -> cells{i} -> vals{i}
    -> ray{i}, one ray{i} row (tx, ty, f, eye, terr, tz) per sample of
    every target's ray, the same IEEE op sequence as the numpy kernel."""
    kk = f"greatest(abs(t.tx - {ox}), abs(t.ty - {oy}))"
    x1, y1 = f"least(x0 + 1, {width - 1})", f"least(y0 + 1, {height - 1})"
    a = synth.flit(adj)
    return (
        f"rays{i} AS MATERIALIZED (SELECT tx, ty, f, "
        f"({ox} + f * (tx - {ox})) AS px, ({oy} + f * (ty - {oy})) AS py "
        f"FROM (SELECT t.tx, t.ty, cast(k as double) / cast({kk} as double) AS f "
        f"FROM (SELECT gx AS tx, gy AS ty FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy)) t, range(1, {max(width, height)}) s(k) "
        f"WHERE k < {kk})), "
        f"cells{i} AS MATERIALIZED (SELECT tx, ty, f, px, py, "
        f"cast(floor(px) as bigint) AS x0, cast(floor(py) as bigint) AS y0 "
        f"FROM rays{i}), "
        f"vals{i} AS MATERIALIZED (SELECT tx, ty, f, px, py, "
        f"(px - x0) AS fx, (py - y0) AS fy, "
        f"{dem_at('x0', 'y0')} AS v00, {dem_at(x1, 'y0')} AS v10, "
        f"{dem_at('x0', y1)} AS v01, {dem_at(x1, y1)} AS v11 FROM cells{i}), "
        f"ray{i} AS MATERIALIZED (SELECT tx, ty, f, "
        f"({dem_at(ox, oy)} + {OBS_HEIGHT}E0) AS eye, "
        f"(1.0E0 - fy) * ((1.0E0 - fx) * v00 + fx * v10) "
        f"+ fy * ((1.0E0 - fx) * v01 + fx * v11) "
        f"- {a} * ((px - {ox}) * (px - {ox}) + (py - {oy}) * (py - {oy})) AS terr, "
        f"{dem_at('tx', 'ty')} - {a} * cast((tx - {ox}) * (tx - {ox}) "
        f"+ (ty - {oy}) * (ty - {oy}) as double) AS tz FROM vals{i})"
    )


def _blocked_sql(width: int, height: int, observers, adj: float = 0.0) -> str:
    """WITH every observer's ray CTEs and blocked(tx, ty, n_blocked):
    how many observers' lines of sight to (tx, ty) the terrain cuts."""
    rays = ", ".join(
        _ray_ctes(width, height, ox, oy, adj, i) for i, (ox, oy) in enumerate(observers)
    )
    cut = " UNION ALL ".join(
        f"SELECT DISTINCT tx, ty FROM ray{i} WHERE NOT (eye + f * (tz - eye) > terr)"
        for i in range(len(observers))
    )
    return (
        f"WITH {rays}, blocked AS (SELECT tx, ty, count(*) AS n_blocked "
        f"FROM ({cut}) GROUP BY tx, ty) "
    )


def _per_scanline(width: int, height: int, cte: str, cols: str) -> str:
    """(y, n, cols) over every target, LEFT JOINed to ``cte`` as b."""
    return (
        f"SELECT t.gy AS y, count(*) AS n, {cols} "
        f"FROM (SELECT gx, gy FROM range(0, {width}) a(gx), "
        f"range(0, {height}) c(gy)) t "
        f"LEFT JOIN {cte} b ON b.tx = t.gx AND b.ty = t.gy GROUP BY 1"
    )


def _visible_sql(width: int, height: int, observers, adj: float, col: str) -> str:
    return _blocked_sql(width, height, observers, adj) + _per_scanline(
        width, height, "blocked",
        f"cast(sum({len(observers)} - coalesce(b.n_blocked, 0)) as bigint) AS {col}",
    )


def viewshed_rows(spark, width: int, height: int, ox: int, oy: int) -> DataFrame:
    """(y, n, n_visible) per scanline for the analytic DEM and an
    observer at (ox, oy, terrain + OBS_HEIGHT)."""
    return _stage(spark, width, height, "n_visible bigint", _count_visible([(ox, oy)]))


def oracle_viewshed(width: int, height: int, ox: int, oy: int) -> str:
    return _visible_sql(width, height, [(ox, oy)], 0.0, "n_visible")


# ---------------------------------------------------------------------------
# -om GROUND output mode (gdal_viewshed height modes, alg/viewshed.cpp
# oOpts.outputMode OUTPUT_MODE_GROUND): instead of the 0/1 visibility
# raster, emit how much HIGHER the target would need to be to become
# visible. With the explicit-LOS formulation: los at step f with
# target height z is eye + f*(z - eye) >= terr  <=>
# z >= eye + (terr - eye)/f, so the required height is the max of
# that bound over the ray and ground = max(0, z_req - terrain).
# Already-visible cells get 0 (matching the reference).


def viewshed_ground_rows(spark, width: int, height: int, ox: int, oy: int) -> DataFrame:
    """(y, n, ground_mkey_sum): per-scanline sum of the 1e-3-floored
    GROUND-mode raster — every per-target max and every division is
    the same fixed IEEE sequence in numpy and the SQL replay."""

    def mkey(dem, tx, ty):
        f, terr, tz = _ray(dem, ox, oy, tx, ty)
        if not f.size:
            return 0  # ground 0
        eye = dem[oy, ox] + OBS_HEIGHT
        ground = max(0.0, (eye + (terr - eye) / f).max() - tz)
        return int(np.floor(ground * 1000.0 + 1.0e-9))

    return _stage(
        spark, width, height, "ground_mkey_sum bigint",
        lambda dem, ty: (sum(mkey(dem, tx, ty) for tx in range(width)),),
    )


def oracle_viewshed_ground(width: int, height: int, ox: int, oy: int) -> str:
    return (
        f"WITH {_ray_ctes(width, height, ox, oy)}, "
        f"req AS (SELECT tx, ty, max(eye + (terr - eye) / f) AS zreq "
        f"FROM ray0 GROUP BY 1, 2) "
    ) + _per_scanline(
        width, height, "req",
        f"cast(sum(cast(floor(greatest(0.0E0, coalesce(b.zreq - "
        f"{dem_at('t.gx', 't.gy')}, 0.0E0)) * 1000.0E0 + 0.000000001E0) "
        f"as bigint)) as bigint) AS ground_mkey_sum",
    )


# ---------------------------------------------------------------------------
# cumulative viewshed: how many of K observers see each cell (the
# multi-observer composition of GDALViewshedGenerate — the reference
# runs alg/viewshed.cpp once per observer and sums the 0/1 rasters;
# newer GDAL ships this loop as gdal_viewshed's cumulative mode)

CUM_OBSERVERS = ((31, 29), (8, 8), (55, 50))


def viewshed_cumulative_rows(
    spark, width: int, height: int, observers: tuple = CUM_OBSERVERS
) -> DataFrame:
    """(y, n, vis_total) per scanline, vis_total = sum over the row's
    cells of the number of observers that see the cell. Same banded
    shape as the single-observer op — each band runs the K observer
    sweeps locally, so the fan-out is K map tasks' worth of compute
    with zero extra shuffles."""
    return _stage(
        spark, width, height, "vis_total bigint", _count_visible(tuple(observers))
    )


def oracle_viewshed_cumulative(
    width: int, height: int, observers: tuple = CUM_OBSERVERS
) -> str:
    return _visible_sql(width, height, observers, 0.0, "vis_total")


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
) -> DataFrame:
    """(y, n, n_visible) per scanline with the curvature-corrected
    heights z' = z - (1-cc)/diameter * d² (d = pixel distance from the
    observer)."""
    adj = (1.0 - cc) / diameter
    return _stage(
        spark, width, height, "n_visible bigint", _count_visible([(ox, oy)], adj)
    )


def oracle_viewshed_curved(
    width: int, height: int, ox: int, oy: int,
    cc: float = CURV_CC, diameter: float = CURV_DIAMETER,
) -> str:
    return _visible_sql(width, height, [(ox, oy)], (1.0 - cc) / diameter, "n_visible")


# ---------------------------------------------------------------------------
# gdal_viewshed -md (maximum observable distance, alg/viewshed.cpp
# oOpts.maxDistance): targets farther than ``md`` from the observer
# (Euclidean, georeferenced units = pixels here) are OUT OF RANGE and
# take the out-of-range value instead of being tested; in-range cells
# run the normal LOS test. The gate emits per scanline the in-range
# count alongside the visible count so the -md circle itself is
# value-checked (integer dx^2+dy^2 <= md^2 — exact).


def viewshed_maxdist_rows(
    spark, width: int, height: int, ox: int, oy: int, md: int
) -> DataFrame:
    """(y, n, n_inrange, n_visible) per scanline."""

    def per_line(dem, ty):
        inr = [tx for tx in range(width) if (tx - ox) ** 2 + (ty - oy) ** 2 <= md * md]
        return len(inr), sum(_visible(dem, ox, oy, tx, ty) for tx in inr)

    return _stage(spark, width, height, "n_inrange bigint, n_visible bigint", per_line)


def oracle_viewshed_maxdist(
    width: int, height: int, ox: int, oy: int, md: int
) -> str:
    inr = f"(t.gx - {ox}) * (t.gx - {ox}) + (t.gy - {oy}) * (t.gy - {oy}) <= {md * md}"
    return _blocked_sql(width, height, [(ox, oy)]) + _per_scanline(
        width, height, "blocked",
        f"cast(sum(CASE WHEN {inr} THEN 1 ELSE 0 END) as bigint) AS n_inrange, "
        f"cast(sum(CASE WHEN {inr} AND b.tx IS NULL THEN 1 ELSE 0 END) as bigint) "
        f"AS n_visible",
    )
