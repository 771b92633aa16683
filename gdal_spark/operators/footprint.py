"""gdal_footprint analog: valid-data footprint of a raster, as vector
envelopes in georeferenced coordinates.

Reference semantics: the GDAL 3.8+ ``gdal_footprint`` utility
(apps/gdal_footprint_lib.cpp upstream; this reference checkout
predates it — the in-checkout anchor is the polygonize core it wraps,
alg/polygonize.cpp): build the validity mask (pixel != nodata),
run GDALPolygonize over the mask band, drop the nodata (mask=0) rings,
apply ``-minRingArea``, and emit the remaining rings in georeferenced
coordinates via the dataset geotransform.

Spark shape: reuse the distributed polygonize
(``polygonize.polygonize_grid``: per-tile union-find labeling +
cross-tile pointer-jump merge through ``graphsql.label_components``)
with per-component envelope partials carried through the same
partial-aggregate path (``with_bbox=True``) — the mask raster never
materializes globally, and the only shuffles are the boundary-strip
equi-join and the O(log n) pointer-jump rounds.
Ring geometry is reported as the component's geo envelope (exact
dyadic affine, so the oracle comparison is bit-exact); full boundary
tracing is the polygonize/contour machinery's job.

Oracle: the unrolled MATERIALIZED pointer-jump connected-components
SQL (``oracle_polygonize_pj`` over ``graphsql.pj_components_cte``)
with a footprint projection — mask=1 components only, HAVING
count(*) >= min_pixels, envelope mapped through the same dyadic
geotransform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .dem import DEM_VALUE_SQL
from .polygonize import oracle_polygonize_pj, polygonize_grid

# footprint raster: validity mask = (global DEM >= FP_THRESH); the
# mod-256 DEM makes organic hole-pocked masks, so the footprint has
# one dominant region plus specks that -minRingArea drops.
FP_W = 64
FP_THRESH = 128
FP_MIN_PIXELS = 8

# geotransform (north-up, exact dyadic so geo coords are bit-exact in
# IEEE doubles): origin (10.0, 45.0), 0.125 deg/px.
FP_X0 = "10.0E0"
FP_Y0 = "45.0E0"
FP_RES = "0.125E0"


def _geo_cols(minx: str, maxx: str, miny: str, maxy: str) -> list[str]:
    """Envelope pixel coords -> integer-scaled geo envelope. Pixel
    (x, y) covers [x0 + x*res, x0 + (x+1)*res] x
    [y0 - (y+1)*res, y0 - y*res]; all quantities are dyadic, so the
    1e6 floor-scale is exact in both engines."""
    return [
        f"cast(floor(({FP_X0} + ({minx}) * {FP_RES}) * 1000000) as bigint) "
        f"AS minx_um",
        f"cast(floor(({FP_Y0} - (({maxy}) + 1) * {FP_RES}) * 1000000) as bigint) "
        f"AS miny_um",
        f"cast(floor(({FP_X0} + (({maxx}) + 1) * {FP_RES}) * 1000000) as bigint) "
        f"AS maxx_um",
        f"cast(floor(({FP_Y0} - ({miny}) * {FP_RES}) * 1000000) as bigint) "
        f"AS maxy_um",
    ]


def footprint(
    spark,
    width: int = FP_W,
    height: int = FP_W,
    thresh: int = FP_THRESH,
    min_pixels: int = FP_MIN_PIXELS,
    tile_px: int = 32,
) -> DataFrame:
    """(comp_id, n_pixels, minx_um, miny_um, maxx_um, maxy_um) — one
    row per valid-data region with >= min_pixels pixels; comp_id = min
    linearized pixel index (the polygonize label convention)."""
    comps = polygonize_grid(
        spark, f"demvalid:{thresh}", width, height,
        tile_px=tile_px, with_bbox=True,
    )
    return comps.filter(f"val = 1 AND n_pixels >= {min_pixels}").selectExpr(
        "comp_id", "n_pixels", *_geo_cols("minx", "maxx", "miny", "maxy")
    )


def oracle_footprint(
    width: int = FP_W,
    height: int = FP_W,
    thresh: int = FP_THRESH,
    min_pixels: int = FP_MIN_PIXELS,
) -> str:
    geo = ",\n       ".join(
        _geo_cols("min(px.gx)", "max(px.gx)", "min(px.gy)", "max(px.gy)")
    )
    final = (
        f"SELECT r.root AS comp_id, count(*) AS n_pixels,\n"
        f"       {geo}\n"
        f"FROM {{final}} r JOIN px ON px.node = r.node\n"
        f"GROUP BY 1\n"
        f"HAVING min(px.val) = 1 AND count(*) >= {min_pixels}"
    )
    return oracle_polygonize_pj(
        f"cast({DEM_VALUE_SQL} >= {thresh} as bigint)",
        width, height, final_select=final,
    )
