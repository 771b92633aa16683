"""Tile-grid math: WebMercator (EPSG:3857) and Geodetic (EPSG:4326) grids.

This is the engine's hierarchical cell family (the "H3/S2 cell
assignment" of the north star): z/x/y tiles with quadkey prefixes.
Semantics match the reference's pure-Python grid classes
(osgeo_utils/gdal2tiles.py — GlobalMercator:337, GlobalGeodetic:556,
LatLonToMeters:444, MetersToTile:495, TileBounds:501, Resolution:519,
GoogleTile:533, QuadTree:539); implementation here is a fresh
vectorized-numpy derivation of the standard TMS formulas.

All functions accept and return numpy arrays (vectorized), so they can
be called directly inside pandas UDFs on whole Arrow batches.

Cell IDs pack (z, x, y) into one int64:

    cell_id = (z << 58) | (x << 29) | y        (z <= 31, x,y < 2^29)

so a cell id is orderable, groupable, and its zoom is recoverable —
and the packing is reproducible in plain SQL (shiftleft / <<) for
oracle cross-checks.
"""

from __future__ import annotations

import numpy as np

TILE_SIZE = 256
EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = np.pi * EARTH_RADIUS  # 20037508.342789244
# resolution at zoom 0 for a 256px WebMercator world tile
INITIAL_RESOLUTION = 2.0 * ORIGIN_SHIFT / TILE_SIZE  # 156543.03392804097

# latitude bounds where WebMercator is defined
MERC_MAX_LAT = 85.05112877980659


# ---------------------------------------------------------------------------
# WebMercator (EPSG:3857) — spherical mercator, the gdal2tiles "mercator"
# profile


def lonlat_to_meters(lon, lat):
    """EPSG:4326 -> EPSG:3857 (spherical). Vectorized.

    mx = lon/180 * ORIGIN_SHIFT
    my = ln(tan((90+lat)*pi/360)) / (pi/180) / 180 * ORIGIN_SHIFT
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / (np.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def meters_to_lonlat(mx, my):
    """EPSG:3857 -> EPSG:4326 (spherical inverse)."""
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = mx / ORIGIN_SHIFT * 180.0
    lat = my / ORIGIN_SHIFT * 180.0
    lat = (
        180.0
        / np.pi
        * (2.0 * np.arctan(np.exp(lat * np.pi / 180.0)) - np.pi / 2.0)
    )
    return lon, lat


def merc_resolution(zoom):
    """Meters/pixel at a zoom level (256px tiles)."""
    return INITIAL_RESOLUTION / (2.0 ** np.asarray(zoom, dtype=np.float64))


def merc_zoom_for_pixel_size(pixel_size: float) -> int:
    """Max zoom whose resolution is >= pixel_size (gdal2tiles
    ZoomForPixelSize semantics: first level with resolution < size,
    minus one, floored at 0)."""
    for i in range(32):
        if pixel_size > INITIAL_RESOLUTION / (2.0**i):
            return max(0, i - 1)
    return 31


def meters_to_pixels(mx, my, zoom):
    res = merc_resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_tile(px, py):
    """Pixel coords -> TMS tile coords: ceil(p/256) - 1 (reference
    MetersToTile/PixelsToTile convention)."""
    tx = np.ceil(np.asarray(px, dtype=np.float64) / TILE_SIZE).astype(np.int64) - 1
    ty = np.ceil(np.asarray(py, dtype=np.float64) / TILE_SIZE).astype(np.int64) - 1
    return tx, ty


def lonlat_to_tile_merc(lon, lat, zoom, clip: bool = True):
    """lon/lat -> TMS (tx, ty) on the mercator grid at ``zoom``."""
    mx, my = lonlat_to_meters(lon, lat)
    px, py = meters_to_pixels(mx, my, zoom)
    tx, ty = pixels_to_tile(px, py)
    if clip:
        n = np.int64(2 ** int(zoom))
        tx = np.clip(tx, 0, n - 1)
        ty = np.clip(ty, 0, n - 1)
    return tx, ty


def tile_bounds_merc(tx, ty, zoom):
    """Bounds (minx, miny, maxx, maxy) of a TMS mercator tile in EPSG:3857."""
    res = merc_resolution(zoom)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    minx = tx * TILE_SIZE * res - ORIGIN_SHIFT
    miny = ty * TILE_SIZE * res - ORIGIN_SHIFT
    maxx = (tx + 1) * TILE_SIZE * res - ORIGIN_SHIFT
    maxy = (ty + 1) * TILE_SIZE * res - ORIGIN_SHIFT
    return minx, miny, maxx, maxy


# ---------------------------------------------------------------------------
# Geodetic (EPSG:4326) grid — gdal2tiles "geodetic" profile. Two
# variants, matching the reference's GlobalGeodetic(tmscompatible)
# (gdal2tiles.py:591-602): TMS-compatible = 180/256 deg/px at z0 (two
# tiles wide at zoom 0, OSGeo TMS spec), default = 360/256 (one tile).
# Tiles are uniform squares in degrees — the grid used for kNN rings.


def geodetic_resolution(zoom, tms_compatible: bool = True):
    res_fact = 180.0 if tms_compatible else 360.0
    return res_fact / TILE_SIZE / (2.0 ** np.asarray(zoom, dtype=np.float64))


def lonlat_to_tile_geodetic(lon, lat, zoom, clip: bool = True, tms_compatible: bool = True):
    """lon/lat -> TMS (tx, ty) on the geodetic grid at ``zoom``."""
    res = geodetic_resolution(zoom, tms_compatible)
    px = (180.0 + np.asarray(lon, dtype=np.float64)) / res
    py = (90.0 + np.asarray(lat, dtype=np.float64)) / res
    tx, ty = pixels_to_tile(px, py)
    if clip:
        n = np.int64(2 ** int(zoom))
        if tms_compatible:
            tx = np.clip(tx, 0, 2 * n - 1)
            ty = np.clip(ty, 0, n - 1)
        else:
            tx = np.clip(tx, 0, n - 1)
            ty = np.clip(ty, 0, np.maximum(n // 2, 1) - 1)
    return tx, ty


def tile_bounds_geodetic(tx, ty, zoom, tms_compatible: bool = True):
    res = geodetic_resolution(zoom, tms_compatible)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    minx = tx * TILE_SIZE * res - 180.0
    miny = ty * TILE_SIZE * res - 90.0
    return minx, miny, minx + TILE_SIZE * res, miny + TILE_SIZE * res


# ---------------------------------------------------------------------------
# TMS <-> XYZ ("google") and quadkey


def tms_to_xyz_y(ty, zoom):
    """Flip TMS y to XYZ/google y (reference GoogleTile semantics)."""
    n = np.int64(2 ** int(zoom) if np.isscalar(zoom) else 0)
    if np.isscalar(zoom):
        return (2 ** int(zoom) - 1) - np.asarray(ty, dtype=np.int64)
    zoom = np.asarray(zoom, dtype=np.int64)
    return (np.int64(1) << zoom) - 1 - np.asarray(ty, dtype=np.int64)


def quadkey(tx, ty, zoom: int):
    """Quadkey string of a TMS mercator tile (reference QuadTree
    semantics: built from tx and the y-flipped ty, MSB zoom first)."""
    tx = np.asarray(tx, dtype=np.int64)
    ty_g = (2**zoom - 1) - np.asarray(ty, dtype=np.int64)
    digits = []
    for i in range(zoom, 0, -1):
        mask = np.int64(1) << (i - 1)
        digit = ((tx & mask) > 0).astype(np.int64) + 2 * ((ty_g & mask) > 0).astype(
            np.int64
        )
        digits.append(digit)
    if not digits:
        return np.full(tx.shape, "", dtype=object)
    arr = np.stack(digits, axis=-1)  # (n, zoom)
    flat = arr.astype("U1")
    return np.array(["".join(row) for row in flat], dtype=object)


# ---------------------------------------------------------------------------
# int64 cell packing — (z, x, y) -> one sortable key. SQL-reproducible:
#   cell_id = shiftleft(z, 58) + shiftleft(x, 29) + y

_Z_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1


def pack_cell(zoom, tx, ty):
    z = np.asarray(zoom, dtype=np.int64)
    x = np.asarray(tx, dtype=np.int64)
    y = np.asarray(ty, dtype=np.int64)
    return (z << _Z_SHIFT) | (x << _X_SHIFT) | y


def unpack_cell(cell_id):
    c = np.asarray(cell_id, dtype=np.int64)
    z = c >> _Z_SHIFT
    x = (c >> _X_SHIFT) & _XY_MASK
    y = c & _XY_MASK
    return z, x, y


def cell_parent(cell_id, levels: int = 1):
    """Parent cell ``levels`` zooms up (both grid families halve x and y)."""
    z, x, y = unpack_cell(cell_id)
    return pack_cell(z - levels, x >> levels, y >> levels)


def cell_prefixes(zoom, tx, ty, min_zoom: int = 0):
    """All ancestor cell ids from ``zoom`` down to ``min_zoom``
    (inclusive) — the hierarchical prefix set used for multi-resolution
    joins. Returns list of arrays, one per level."""
    z = int(zoom)
    x = np.asarray(tx, dtype=np.int64)
    y = np.asarray(ty, dtype=np.int64)
    out = []
    for lvl in range(z, min_zoom - 1, -1):
        shift = z - lvl
        out.append(pack_cell(lvl, x >> shift, y >> shift))
    return out
