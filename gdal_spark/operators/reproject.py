"""General SRS reprojection operators (gdalwarp -t_srs).

The engine's transformer chain for every projection family in
gdal_spark.srs (Krueger-series UTM, LCC, Albers, polar stereographic,
sinusoidal, Mollweide, Equal Earth, datum-shifted TM). Each reprojection
decision is written once here and every family is a thin call onto it;
only the projection math in srs.py is per family:

- ``CORNERS`` — the four footprint corners (tl, tr, bl, br).
- Wide corners (``_wide_corners`` / ``_oracle_wide_corners``): one
  ``e_{suffix}_dm``/``n_{suffix}_dm`` column pair per point, each point
  a (suffix, lon_sql, lat_sql, forward_sql). UTM is the wide shape over
  one zone/lon0/fn base, with the staged Krueger forward on the Spark
  side (``_tm_forward_staged``: the single-expression TM costs seconds
  of Catalyst analysis).
- Staged-long corners (``_staged_corners`` / ``_oracle_staged_corners``):
  one (image_id, corner) row per corner, then a stage list of named
  columns (Spark projections inside whole-stage codegen, DuckDB
  MATERIALIZED CTEs).
- ``_suggest_grid`` — the bounded-size GDALSuggestedWarpOutput
  (alg/gdaltransformer.cpp:407): project the corners with a numpy
  forward, take the bbox, one common resolution so the longer edge is
  ``dst_w`` pixels.
- The pixel warp (``_reproject``: suggested grid -> inverse per dst
  pixel centre -> resample -> GDAL checksum) and its DuckDB replay
  (``_oracle_warp``: corners -> bbox -> grid -> unrolled inverse CTE ->
  nearest src pixel -> synthetic pixel value -> checksum).

Every corner query is pure Catalyst (map-only JVM stage, zero Python);
outputs are quantized to decimeters so the few-ulp libm drift between
engines cannot flip a floor boundary in practice.

Reference semantics: apps/gdalwarp_lib.cpp:2475 (per-dataset warp
loop), alg/gdaltransformer.cpp:1756 (GenImgProj chain),
ogr/ogrct.cpp:1590 (CRS<->CRS leg).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from .. import codecs, resample, srs, synth
from .rowstage import per_row
from .stats import channel_checksums, checksum_sql, gdal_checksum


# shared dual-dialect SQL fragments (parse identically in Spark SQL
# and DuckDB) -------------------------------------------------------------

ZONE_SQL = (
    "greatest(1, least(60, cast(floor((lon + 180.0E0) / 6.0E0) as bigint) + 1))"
)
LON0_SQL = "(cast(zone as double) * 6.0E0 - 183.0E0)"
FN_SQL = "(CASE WHEN lat < 0.0E0 THEN 10000000.0E0 ELSE 0.0E0 END)"
# image footprint: res = 0.1/w deg, so lon span is 0.1 deg and lat
# span 0.1*h/w deg (synth geotransform convention)
LON2_SQL = "(lon + 0.1E0)"
LAT2_SQL = "(lat - 0.1E0 * cast(h as double) / cast(w as double))"
# (suffix, lon_sql, lat_sql) of the 4 footprint corners
CORNERS = (
    ("tl", "lon", "lat"),
    ("tr", LON2_SQL, "lat"),
    ("bl", "lon", LAT2_SQL),
    ("br", LON2_SQL, LAT2_SQL),
)
# projected bbox over the e_{suffix}/n_{suffix} corner columns
MINX, MAXX, MINY, MAXY = (
    f"{agg}({', '.join(f'{axis}_{sfx}' for sfx, _, _ in CORNERS)})"
    for agg, axis in (
        ("least", "e"), ("greatest", "e"), ("least", "n"), ("greatest", "n")
    )
)

DST_W = 32  # suggested-output long edge in pixels (kept small: the
# oracle replays every dst pixel through the unrolled inverse)


def _dm(expr: str) -> str:
    return f"cast(floor({expr} * 10.0E0) as bigint)"


# ---------------------------------------------------------------------------
# wide corners: one column pair per point


def _corner_points(forward) -> list[tuple]:
    """CORNERS as (suffix, lon_sql, lat_sql, forward_sql) points;
    ``forward(lon_sql, lat_sql)`` -> (easting_sql, northing_sql)."""
    return [(sfx, lon, lat, forward) for sfx, lon, lat in CORNERS]


def _point_cols(sfx, lon, lat, forward) -> list[str]:
    e, n = forward(lon, lat)
    return [f"{e} AS e_{sfx}", f"{n} AS n_{sfx}"]


def _dm_cols(suffixes) -> list[str]:
    return [
        f"{_dm(f'{axis}_{sfx}')} AS {axis}_{sfx}_dm"
        for sfx in suffixes for axis in ("e", "n")
    ]


def _wide_corners(images: DataFrame, points) -> DataFrame:
    """(image_id, e_{suffix}_dm, n_{suffix}_dm per point). Map-only JVM
    stage, zero Python."""
    df = images.selectExpr("image_id", "lon", "lat", "w", "h")
    for pt in points:
        df = df.selectExpr("*", *_point_cols(*pt))
    return df.selectExpr("image_id", *_dm_cols(pt[0] for pt in points))


def _oracle_wide_corners(src: str, keys: list[str], points) -> str:
    parts = []
    for sfx, lon, lat, forward in points:
        e, n = forward(lon, lat)
        parts += [f"{_dm(e)} AS e_{sfx}_dm", f"{_dm(n)} AS n_{sfx}_dm"]
    return f"SELECT {', '.join(keys + parts)} FROM {src}"


def _tm_forward_staged(base: DataFrame, corners) -> DataFrame:
    """Krueger forward for several corners as STAGED Catalyst columns
    (named intermediates + native hyperbolics) — the single-expression
    SQL twin repeats each subterm textually and costs seconds of
    analysis; this keeps the tree linear in the series order. Expects
    lon0/fn columns; corners = [(suffix, lon_expr, lat_expr)]."""
    e = synth.flit(srs.E)
    ka = synth.flit(srs.K0 * srs.A_CAP)
    fe = synth.flit(srs.FE)
    df = base
    for sfx, lon_e, lat_e in corners:
        df = df.selectExpr(
            "*",
            f"radians(({lon_e}) - lon0) AS lam_{sfx}",
            f"sin(radians({lat_e})) AS s_{sfx}",
        ).selectExpr(
            "*",
            f"sinh(atanh(s_{sfx}) - {e} * atanh({e} * s_{sfx})) AS t_{sfx}",
            f"cos(lam_{sfx}) AS cl_{sfx}",
        ).selectExpr(
            "*",
            f"atan2(t_{sfx}, cl_{sfx}) AS xip_{sfx}",
            f"asinh(sin(lam_{sfx}) / sqrt(t_{sfx} * t_{sfx} "
            f"+ cl_{sfx} * cl_{sfx})) AS etap_{sfx}",
        )
        xi_terms = [f"xip_{sfx}"]
        eta_terms = [f"etap_{sfx}"]
        for j, a in enumerate(srs.ALPHA, start=1):
            aj = synth.flit(a)
            xi_terms.append(
                f"{aj} * sin({2 * j}.0E0 * xip_{sfx}) "
                f"* cosh({2 * j}.0E0 * etap_{sfx})"
            )
            eta_terms.append(
                f"{aj} * cos({2 * j}.0E0 * xip_{sfx}) "
                f"* sinh({2 * j}.0E0 * etap_{sfx})"
            )
        df = df.selectExpr(
            "*",
            f"{fe} + {ka} * ({' + '.join(eta_terms)}) AS e_{sfx}",
            f"{ka} * ({' + '.join(xi_terms)}) + fn AS n_{sfx}",
        ).drop(
            f"lam_{sfx}", f"s_{sfx}", f"t_{sfx}", f"cl_{sfx}",
            f"xip_{sfx}", f"etap_{sfx}",
        )
    return df


# UTM: one zone/lon0/fn base (Spark columns, DuckDB CTEs over a relation
# ``img`` with lon/lat) under the wide corner shape


def _utm_corner_frame(images: DataFrame) -> DataFrame:
    """zone, lon0, fn and the e_/n_ columns of the 4 corners."""
    base = images.selectExpr(
        "image_id", "lon", "lat", "w", "h", f"{ZONE_SQL} AS zone"
    ).selectExpr("*", f"{LON0_SQL} AS lon0", f"{FN_SQL} AS fn")
    return _tm_forward_staged(base, CORNERS)


_UTM_CTES = (
    f"z AS (SELECT *, {ZONE_SQL} AS zone FROM img), "
    f"g AS (SELECT *, {LON0_SQL} AS lon0, {FN_SQL} AS fn FROM z)"
)


def _utm_forward_sql(lon: str, lat: str) -> tuple[str, str]:
    """The single-expression TM forward in the zone, fn added."""
    e, n = srs.tm_forward_sql(lon, lat, "lon0")
    return e, f"({n} + fn)"


def utm_corners(images: DataFrame) -> DataFrame:
    """Transformer-chain query: UTM zone + dm-quantized corner
    coordinates of every image footprint. No UDFs — the whole Krueger
    forward series runs as Catalyst expressions (JVM codegen), staged
    through named intermediate columns."""
    return _utm_corner_frame(images).selectExpr(
        "image_id", "zone", *_dm_cols(sfx for sfx, _, _ in CORNERS)
    )


def oracle_utm_corners(n: int) -> str:
    return f"WITH img AS ({synth.images_cte(n, 'duckdb')}), {_UTM_CTES} " + (
        _oracle_wide_corners(
            "g", ["image_id", "zone"], _corner_points(_utm_forward_sql)
        )
    )


# Lambert Conformal Conic (EPSG method 9802), Albers Equal Area (9822),
# polar stereographic (9829) and sinusoidal corners: the wide shape,
# the oracle running the SAME dual-dialect forward fragment.


def _lcc_points(epsg):
    return _corner_points(partial(srs.lcc_forward_sql, p=srs.LCC_REGISTRY[epsg]))


def _aea_points(epsg):
    return _corner_points(partial(srs.aea_forward_sql, p=srs.AEA_REGISTRY[epsg]))


def _ps_points(epsg):
    return _corner_points(partial(srs.ps_forward_sql, p=srs.PS_REGISTRY[epsg]))


_SINU_POINTS = [
    *_corner_points(partial(srs.sinu_forward_sql, p=srs.SINU_REGISTRY[54008])),
    ("modis", "lon", "lat",
     partial(srs.sinu_forward_sql, p=srs.SINU_REGISTRY[6974])),
]


def lcc_corners(images: DataFrame, epsg: int = 2154) -> DataFrame:
    """Footprint corners of every image in an LCC CRS (default
    RGF93 / Lambert-93). Map-only JVM stage, zero Python."""
    return _wide_corners(images, _lcc_points(epsg))


def oracle_lcc_corners(n: int, epsg: int = 2154) -> str:
    return _oracle_wide_corners(
        f"({synth.images_cte(n, 'duckdb')})", ["image_id"], _lcc_points(epsg)
    )


def aea_corners(images: DataFrame, epsg: int = 5070) -> DataFrame:
    """Footprint corners of every image in an Albers CRS (default
    NAD83 / Conus Albers). Map-only JVM stage, zero Python."""
    return _wide_corners(images, _aea_points(epsg))


def oracle_aea_corners(n: int, epsg: int = 5070) -> str:
    return _oracle_wide_corners(
        f"({synth.images_cte(n, 'duckdb')})", ["image_id"], _aea_points(epsg)
    )


def ps_corners(images: DataFrame, epsg: int = 3031) -> DataFrame:
    """Footprint corners of every image in a polar-stereographic CRS
    (default WGS84 / Antarctic Polar Stereographic; defined for every
    synth latitude). Map-only JVM stage, zero Python."""
    return _wide_corners(images, _ps_points(epsg))


def oracle_ps_corners(n: int, epsg: int = 3031) -> str:
    return _oracle_wide_corners(
        f"({synth.images_cte(n, 'duckdb')})", ["image_id"], _ps_points(epsg)
    )


def sinu_corners(images: DataFrame) -> DataFrame:
    """Footprint corners in TWO sinusoidal CRSes at once: ESRI:54008
    (WGS84 ellipsoidal, Snyder eq. 30-8/30-9, the 4 corners) and the
    MODIS production grid (SR-ORG:6974 authalic sphere, the top-left
    corner as ``modis``). Map-only JVM stage, zero Python."""
    return _wide_corners(images, _SINU_POINTS)


def oracle_sinu_corners(n: int) -> str:
    return _oracle_wide_corners(
        f"({synth.images_cte(n, 'duckdb')})", ["image_id"], _SINU_POINTS
    )


# ---------------------------------------------------------------------------
# pixel-level reprojection: one suggested grid, one warp stage, one
# DuckDB replay of the whole chain


def _suggest_grid(lon, lat, w, h, forward, dst_w):
    """Suggested output grid: project the 4 footprint corners with
    ``forward(lon, lat)`` (numpy), take the bbox, one common resolution
    so the longer edge is ``dst_w`` pixels (bounded-size variant of
    GDALSuggestedWarpOutput). Returns (dst_gt, dst_h, dst_w_eff)."""
    res = 0.1 / w
    cx = np.array([lon, lon + w * res, lon, lon + w * res])
    cy = np.array([lat, lat, lat - h * res, lat - h * res])
    ex, ny = forward(cx, cy)
    minx, maxx = ex.min(), ex.max()
    miny, maxy = ny.min(), ny.max()
    dres = max(maxx - minx, maxy - miny) / dst_w
    w_eff = max(1, int(np.floor((maxx - minx) / dres + 0.5)))
    h_eff = max(1, int(np.floor((maxy - miny) / dres + 0.5)))
    return (minx, dres, 0.0, maxy, 0.0, -dres), h_eff, w_eff


_WARP_COLS = ["bytes", "lon", "lat", "w", "h"]


def _warp(payload, lon, lat, w, h, alg, forward, inverse, dst_w):
    """Decode one image and warp it from its 4326 grid onto its
    suggested grid; ``inverse(gx, gy)`` maps destination coordinates
    back to lon/lat."""
    lon, lat, w, h = float(lon), float(lat), int(w), int(h)
    res = 0.1 / w
    dst_gt, dst_h, dst_w_eff = _suggest_grid(lon, lat, w, h, forward, dst_w)
    return resample.warp_image(
        codecs.decode_image(bytes(payload)), (lon, res, 0.0, lat, 0.0, -res),
        dst_gt, (dst_h, dst_w_eff), alg, inverse,
    )


def _reproject(images: DataFrame, forward, inverse, dst_w, alg) -> DataFrame:
    """Per-channel GDAL checksums of every image warped onto its
    suggested grid. One mapInPandas stage, zero shuffle."""
    return channel_checksums(
        images, _WARP_COLS,
        lambda *row: _warp(*row, alg, forward, inverse, dst_w),
    )


def _oracle_warp(n, where, base, keys, forward, inverse, dst_w) -> str:
    """DuckDB replay of the pixel warp over the images passing
    ``where``: corners (``forward`` SQL) -> bbox -> grid -> per-pixel
    inverse -> nearest src pixel -> synthetic pixel value -> GDAL
    checksum. ``base`` = (CTEs over ``img``, the relation the corners
    read); ``keys`` are extra output columns carried through the
    inverse; ``inverse`` = (cte(base, keep), its output relation)."""
    ctes, src = base
    inv_cte, inv_rel = inverse
    k = "".join(f"{c}, " for c in keys)
    keep = f"i, image_id, ilon, ilat, w, h, fmt, {k}xd, yd, dw, dh"
    corners = [c for pt in _corner_points(forward) for c in _point_cols(*pt)]
    return f"""
WITH img AS (SELECT i, image_id, lon AS ilon, lat AS ilat, lon, lat, w, h, fmt
             FROM ({synth.images_cte(n, 'duckdb')}) WHERE {where}),
{ctes}
crn AS (SELECT *, {', '.join(corners)} FROM {src}),
bbox AS (SELECT *, {MINX} AS minx, {MAXX} AS maxx,
         {MINY} AS miny, {MAXY} AS maxy FROM crn),
grd AS (SELECT bbox.*,
        greatest(maxx - minx, maxy - miny) / {dst_w}.0E0 AS dres FROM bbox),
grd2 AS (SELECT grd.*,
         greatest(1, cast(floor((maxx - minx) / dres + 0.5E0) as bigint)) AS dw,
         greatest(1, cast(floor((maxy - miny) / dres + 0.5E0) as bigint)) AS dh
         FROM grd),
px2 AS (SELECT grd2.*, xd, yd,
        minx + (xd + 0.5E0) * dres AS ec,
        maxy - (yd + 0.5E0) * dres AS nc
        FROM grd2, range(0, {dst_w}) a(xd), range(0, {dst_w}) b(yd)
        WHERE xd < dw AND yd < dh),
{inv_cte("px2", keep)},
sxy AS (SELECT i, image_id, w, h, fmt, {k}xd, yd, dw,
        cast(floor((lon - ilon) / (0.1E0 / w) + 1.0E-10) as bigint) AS x,
        cast(floor((ilat - lat) / (0.1E0 / w) + 1.0E-10) as bigint) AS y
        FROM {inv_rel}),
vals AS (SELECT image_id, {k}xd, yd, dw, ch,
         (CASE WHEN x >= 0 AND x < w AND y >= 0 AND y < h
               THEN {synth.pixel_val_sql()} ELSE 0 END) AS v
         FROM sxy, range(0, 3) c(ch))
SELECT image_id, {k}ch AS channel,
       {checksum_sql("v", "yd * dw + xd")} AS cks
FROM vals GROUP BY image_id, {k}ch
"""


def hot_cells_sql(max_i: int) -> str:
    """The hot-cell images (i % 4 = 0) among the first ``max_i``: the
    subset inside the LCC CRS's service area, which the LCC, PS and
    sinusoidal pixel paths warp."""
    return f"i % 4 = 0 AND i < {max_i}"


def reproject_utm(
    images: DataFrame, dst_w: int = DST_W, alg: str = "near"
) -> DataFrame:
    """Warp every image from its 4326 grid onto a suggested UTM grid in
    its own zone; per-channel GDAL checksums of the result. One
    mapInPandas stage, zero shuffle — embarrassingly parallel at any
    table size."""

    def run(image_id, payload, lon, lat, w, h):
        zone = int(srs.utm_zone(np.array([lon]), np.array([lat]))[0])
        lon0 = zone * 6.0 - 183.0
        fn = srs.FN_SOUTH if lat < 0.0 else 0.0

        def forward(x, y):
            ex, ny = srs.tm_forward(x, y, lon0)
            return ex, ny + fn

        warped = _warp(
            payload, lon, lat, w, h, alg, forward,
            lambda gx, gy: srs.tm_inverse(gx, np.asarray(gy) - fn, lon0),
            dst_w,
        )
        for c in range(warped.shape[2]):
            yield image_id, zone, c, gdal_checksum(warped[:, :, c])

    return per_row(
        images, ["image_id", *_WARP_COLS], run,
        "image_id string, zone bigint, channel bigint, cks bigint",
    )


def oracle_reproject_utm(n: int, max_i: int, dst_w: int = DST_W) -> str:
    """The warp replay in each image's UTM zone (Newton-unrolled
    inverse TM, srs.tm_inverse_sql_cte), over the first max_i images."""
    return _oracle_warp(
        n, f"i < {max_i}", (f"{_UTM_CTES},", "g"), ["zone"], _utm_forward_sql,
        (partial(srs.tm_inverse_sql_cte, "ec", "nc - fn", "lon0"), "tminv"),
        dst_w,
    )


def reproject_lcc(
    images: DataFrame, epsg: int = 2154, dst_w: int = DST_W,
    alg: str = "near",
) -> DataFrame:
    """Warp images onto a suggested Lambert-Conformal-Conic grid
    (gdalwarp -t_srs EPSG:2154); per-channel GDAL checksums."""
    p = srs.LCC_REGISTRY[epsg]
    return _reproject(
        images, partial(srs.lcc_forward, p=p), partial(srs.lcc_inverse, p=p),
        dst_w, alg,
    )


def oracle_reproject_lcc(
    n: int, max_i: int, epsg: int = 2154, dst_w: int = DST_W
) -> str:
    """The warp replay with the LCC inverse (fixed-point unrolled) over
    the hot-cell images."""
    p = srs.LCC_REGISTRY[epsg]
    return _oracle_warp(
        n, hot_cells_sql(max_i), ("", "img"), [],
        partial(srs.lcc_forward_sql, p=p),
        (partial(srs.lcc_inverse_sql_cte, "ec", "nc", p), "lccinv"), dst_w,
    )


def reproject_ps(
    images: DataFrame, epsg: int = 3031, dst_w: int = DST_W,
    alg: str = "near",
) -> DataFrame:
    """Warp images onto a suggested polar-stereographic grid;
    per-channel GDAL checksums."""
    p = srs.PS_REGISTRY[epsg]
    return _reproject(
        images, partial(srs.ps_forward, p=p), partial(srs.ps_inverse, p=p),
        dst_w, alg,
    )


def oracle_reproject_ps(
    n: int, max_i: int, epsg: int = 3031, dst_w: int = DST_W
) -> str:
    """The warp replay with the PS inverse (conformal-latitude fixed
    point unrolled) over the hot-cell images."""
    p = srs.PS_REGISTRY[epsg]
    return _oracle_warp(
        n, hot_cells_sql(max_i), ("", "img"), [],
        partial(srs.ps_forward_sql, p=p),
        (partial(srs.ps_inverse_sql_cte, "ec", "nc", p), "psinv"), dst_w,
    )


def reproject_sinu(
    images: DataFrame, key: int = 54008, dst_w: int = DST_W,
    alg: str = "near",
) -> DataFrame:
    """Warp images onto a suggested sinusoidal (MODIS-family) grid;
    per-channel GDAL checksums."""
    p = srs.SINU_REGISTRY[key]
    return _reproject(
        images, partial(srs.sinu_forward, p=p), partial(srs.sinu_inverse, p=p),
        dst_w, alg,
    )


def oracle_reproject_sinu(
    n: int, max_i: int, key: int = 54008, dst_w: int = DST_W
) -> str:
    """The warp replay with the sinusoidal inverse (meridional-arc
    Newton unrolled) over the hot-cell images."""
    p = srs.SINU_REGISTRY[key]
    return _oracle_warp(
        n, hot_cells_sql(max_i), ("", "img"), [],
        partial(srs.sinu_forward_sql, p=p),
        (partial(srs.sinu_inverse_sql_cte, "ec", "nc", p), "sinuinv"), dst_w,
    )


# ---------------------------------------------------------------------------
# -tap (target-aligned pixels, apps/gdalwarp_lib.cpp -tap +
# GDALSuggestedWarpOutput border adjust): given a fixed target
# resolution, snap the suggested output extent OUTWARD to multiples
# of it, so neighboring jobs produce pixel-aligned grids.


def _tap_cols(tr: float) -> list[str]:
    t = synth.flit(tr)
    return [
        "image_id", "zone",
        f"cast(floor({MINX} / {t}) * {tr:.0f} as bigint) AS tap_minx",
        f"cast(ceil({MAXY} / {t}) * {tr:.0f} as bigint) AS tap_maxy",
        f"cast(ceil({MAXX} / {t}) - floor({MINX} / {t}) as bigint) AS tap_w",
        f"cast(ceil({MAXY} / {t}) - floor({MINY} / {t}) as bigint) AS tap_h",
    ]


def utm_tap_grid(images: DataFrame, tr: float = 100.0) -> DataFrame:
    """(image_id, zone, tap_minx, tap_maxy, tap_w, tap_h): the
    tap-aligned UTM output grid of every image footprint at ``tr``
    meters. Pure Catalyst (staged Krueger forward + floor/ceil
    arithmetic); coordinates are exact multiples of tr -> bigint."""
    return _utm_corner_frame(images).selectExpr(*_tap_cols(tr))


def oracle_utm_tap_grid(n: int, tr: float = 100.0) -> str:
    corners = [
        c for pt in _corner_points(_utm_forward_sql) for c in _point_cols(*pt)
    ]
    return (
        f"WITH img AS ({synth.images_cte(n, 'duckdb')}), {_UTM_CTES}, "
        f"c AS (SELECT image_id, zone, {', '.join(corners)} FROM g) "
        f"SELECT {', '.join(_tap_cols(tr))} FROM c"
    )


# ---------------------------------------------------------------------------
# Staged-long corners: explode the 4 footprint corners to rows FIRST,
# then run a (column, expr) stage list once — both engines execute
# identical SQL text per stage, Spark as named projections inside
# whole-stage codegen, DuckDB as MATERIALIZED CTE stages. Used by
# EPSG:27700 (WGS84 -> geocentric -> 7-param Helmert -> Airy geodetic ->
# Krueger TM with OSGB constants, srs.tmd_stage_list; verified against
# the Ordnance Survey worked example), World Mollweide (ESRI:54009,
# Newton forward) and Equal Earth (EPSG:8857, authalic closed form),
# and the corner prefix of gridshift.osgb_gridshift.

OSGB_DOMAIN_SQL = (
    "lon > -12.0E0 AND lon < 8.0E0 AND lat > 35.0E0 AND lat < 65.0E0"
)
_CORNER_NAMES = ", ".join(f"'{sfx}'" for sfx, _, _ in CORNERS)
_WCORNER_LON_CASE = (
    "CASE WHEN corner IN ('tr', 'br') THEN (lon_c + 0.1E0) "
    "ELSE lon_c END"
)
_WCORNER_LAT_CASE = (
    "CASE WHEN corner IN ('bl', 'br') THEN (lat_c - 0.1E0 * "
    "cast(h as double) / cast(w as double)) ELSE lat_c END"
)
_STAGED_DM = [
    "image_id", "corner",
    f"{_dm('easting')} AS e_dm", f"{_dm('northing')} AS n_dm",
]


def _with_stages(df: DataFrame, stages) -> DataFrame:
    """One named Catalyst column per (column, expr) stage."""
    for col, expr in stages:
        df = df.selectExpr("*", f"{expr} AS {col}")
    return df


def _stage_ctes(prev: str, prefix: str, stages) -> tuple[list[str], str]:
    """One MATERIALIZED CTE per (column, expr) stage over ``prev``
    (the DuckDB CTE rule); returns (ctes, the last relation)."""
    ctes = []
    for k, (col, expr) in enumerate(stages):
        ctes.append(
            f"{prefix}{k} AS MATERIALIZED (SELECT *, {expr} AS {col} "
            f"FROM {prev})"
        )
        prev = f"{prefix}{k}"
    return ctes, prev


def _staged_corners(images: DataFrame, domain: str, stages) -> DataFrame:
    """(image_id, corner, e_dm, n_dm) of the images inside ``domain``:
    the stage list maps (lon, lat) columns to (easting, northing)."""
    df = images.filter(domain).selectExpr(
        "image_id", "w", "h", "lon AS lon_c", "lat AS lat_c"
    ).selectExpr(
        "image_id", "w", "h", "lon_c", "lat_c",
        f"explode(array({_CORNER_NAMES})) AS corner",
    ).selectExpr(
        "image_id", "corner",
        f"{_WCORNER_LON_CASE} AS lon",
        f"{_WCORNER_LAT_CASE} AS lat",
    )
    return _with_stages(df, stages).selectExpr(*_STAGED_DM)


def _oracle_staged_corner_ctes(
    n: int, domain: str, stages
) -> tuple[list[str], str]:
    """DuckDB twin of _staged_corners as CTEs; returns (ctes, the
    relation holding image_id, corner, e_dm, n_dm)."""
    ctes, prev = _stage_ctes("c0", "w", stages)
    return [
        f"img AS MATERIALIZED (SELECT image_id, w, h, lon AS lon_c, "
        f"lat AS lat_c FROM ({synth.images_cte(n, 'duckdb')}) "
        f"WHERE {domain})",
        f"c0 AS MATERIALIZED (SELECT image_id, corner, "
        f"{_WCORNER_LON_CASE} AS lon, {_WCORNER_LAT_CASE} AS lat "
        f"FROM img, (SELECT unnest([{_CORNER_NAMES}]) AS corner) cs)",
        *ctes,
        f"qz AS MATERIALIZED (SELECT {', '.join(_STAGED_DM)} FROM {prev})",
    ], "qz"


def _oracle_staged_corners(n: int, domain: str, stages) -> str:
    ctes, rel = _oracle_staged_corner_ctes(n, domain, stages)
    return "WITH " + ", ".join(ctes) + f" SELECT * FROM {rel}"


def osgb_corners(images: DataFrame, epsg: int = 27700) -> DataFrame:
    """(image_id, corner, e_dm, n_dm) of footprint corners in British
    National Grid — map-only, zero Python, dm-quantized."""
    return _staged_corners(
        images, OSGB_DOMAIN_SQL,
        srs.tmd_stage_list(srs.TMD_REGISTRY[epsg], "spark"),
    )


def oracle_osgb_corners(n: int, epsg: int = 27700) -> str:
    return _oracle_staged_corners(
        n, OSGB_DOMAIN_SQL,
        srs.tmd_stage_list(srs.TMD_REGISTRY[epsg], "duckdb"),
    )


def moll_corners(images: DataFrame) -> DataFrame:
    """(image_id, corner, e_dm, n_dm) in World Mollweide (ESRI:54009)
    — map-only JVM stage, zero Python, dm-quantized."""
    return _staged_corners(
        images, "true", srs.moll_stage_list(srs.MOLL_REGISTRY[54009])
    )


def oracle_moll_corners(n: int) -> str:
    return _oracle_staged_corners(
        n, "true", srs.moll_stage_list(srs.MOLL_REGISTRY[54009])
    )


def eqearth_corners(images: DataFrame) -> DataFrame:
    """(image_id, corner, e_dm, n_dm) in Equal Earth (EPSG:8857,
    ellipsoidal via authalic latitude) — map-only, zero Python."""
    return _staged_corners(
        images, "true", srs.eqearth_stage_list(srs.EQE_REGISTRY[8857])
    )


def oracle_eqearth_corners(n: int) -> str:
    return _oracle_staged_corners(
        n, "true", srs.eqearth_stage_list(srs.EQE_REGISTRY[8857])
    )


# ---------------------------------------------------------------------------
# gdalmove: rewrite the geotransform in a new CRS without warping
# (osgeo_utils/gdalmove.py move() — transforms control points through
# the coordinate operation and fits an affine GT to them; with the
# three independent corners UL/UR/LL (tl/tr/bl) the least-squares fit
# is exact, so this is the skew-free closed form of the same operation)

_GDALMOVE_GT = [
    "image_id",
    "cast(floor(e_tl * 1000.0E0) as bigint) AS gt0_mm",
    "cast(floor((e_tr - e_tl) / cast(w as double) * 1000000.0E0) as bigint) "
    "AS gt1_um",
    "cast(floor((e_bl - e_tl) / cast(h as double) * 1000000.0E0) as bigint) "
    "AS gt2_um",
    "cast(floor(n_tl * 1000.0E0) as bigint) AS gt3_mm",
    "cast(floor((n_tr - n_tl) / cast(w as double) * 1000000.0E0) as bigint) "
    "AS gt4_um",
    "cast(floor((n_bl - n_tl) / cast(h as double) * 1000000.0E0) as bigint) "
    "AS gt5_um",
]


def _gdalmove_cols(epsg: int) -> list[str]:
    forward = partial(srs.sinu_forward_sql, p=srs.SINU_REGISTRY[epsg])
    return [c for pt in _corner_points(forward)[:3] for c in _point_cols(*pt)]


def gdalmove_gt(images: DataFrame, epsg: int = 54008) -> DataFrame:
    """Per-image 6-coefficient geotransform re-expressed in the
    sinusoidal CRS: UL anchors the origin, (UR-UL)/w and (LL-UL)/h give
    the pixel vectors. Pure Catalyst closed form (sin/cos bit-match
    across engines) — map-only, zero Python, zero shuffle. Offsets in
    mm, per-pixel terms in um/px."""
    return images.selectExpr(
        "image_id", "w", "h", *_gdalmove_cols(epsg)
    ).selectExpr(*_GDALMOVE_GT)


def oracle_gdalmove_gt(n: int, epsg: int = 54008) -> str:
    return (
        f"WITH c AS (SELECT image_id, w, h, {', '.join(_gdalmove_cols(epsg))} "
        f"FROM ({synth.images_cte(n, 'duckdb')})) "
        f"SELECT {', '.join(_GDALMOVE_GT)} FROM c"
    )


# ---------------------------------------------------------------------------
# gdalwarp -crop_to_cutline (apps/gdalwarp_lib.cpp CropToCutline):
# the output extent is the cutline's envelope intersected with the
# source footprint, SNAPPED TO THE SOURCE PIXEL GRID (no -tr given ->
# the source geotransform's grid is kept, only the window shrinks).
# Pure Catalyst: per-image window arithmetic over the metadata scan —
# planning never decodes a pixel, exactly like the reference, which
# computes the window before the warper ever runs.

CROP_CUT_BOX = (11.3, 48.2, 11.5, 48.4)  # lon/lat cutline envelope
_CROP_OUT = [
    "image_id", "px0", "py0", "px1 - px0 AS out_w", "py1 - py0 AS out_h"
]


def _crop_window(box: tuple) -> list[str]:
    cx0, cy0, cx1, cy1 = (synth.flit(v) for v in box)
    return [
        "image_id",
        f"greatest(0, least(cast(w as bigint), "
        f"cast(floor(({cx0} - lon) / res) as bigint))) AS px0",
        f"greatest(0, least(cast(w as bigint), "
        f"cast(ceil(({cx1} - lon) / res) as bigint))) AS px1",
        f"greatest(0, least(cast(h as bigint), "
        f"cast(floor((lat - {cy1}) / res) as bigint))) AS py0",
        f"greatest(0, least(cast(h as bigint), "
        f"cast(ceil((lat - {cy0}) / res) as bigint))) AS py1",
    ]


def crop_to_cutline_grid(
    images: DataFrame, box: tuple = CROP_CUT_BOX
) -> DataFrame:
    """(image_id, px0, py0, out_w, out_h) — the source-grid-aligned
    output window of each image whose footprint intersects the cutline
    envelope. gt = (lon, res, 0, lat, 0, -res), res = 0.1/w (the synth
    geotransform): px snapped with floor/ceil so the cutline is fully
    covered, then clamped to the image.

    Scale: metadata-only scan, zero shuffle; the filter prunes
    non-intersecting images before any pixel stage runs."""
    return images.selectExpr(
        "image_id", "lon", "lat", "w", "h",
        "0.1E0 / cast(w as double) AS res",
    ).selectExpr(*_crop_window(box)).selectExpr(*_CROP_OUT).filter(
        "out_w > 0 AND out_h > 0"
    )


def oracle_crop_to_cutline_grid(n: int, box: tuple = CROP_CUT_BOX) -> str:
    return (
        f"WITH img AS ({synth.images_cte(n, 'duckdb')}), "
        f"r AS (SELECT image_id, lon, lat, w, h, "
        f"0.1E0 / cast(w as double) AS res FROM img), "
        f"c AS (SELECT {', '.join(_crop_window(box))} FROM r), "
        f"o AS (SELECT {', '.join(_CROP_OUT)} FROM c) "
        f"SELECT * FROM o WHERE out_w > 0 AND out_h > 0"
    )
