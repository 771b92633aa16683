"""Minimal WKB (well-known binary) geometry codec — numpy-only.

Covers the geometry types this engine's vector side needs (reference
model: ogr/ogr_core.h wkbPoint=1 wkbLineString=2 wkbPolygon=3,
wkbMultiPolygon=6; geometry column convention per SURVEY.md §1.2 is a
``geom_wkb:binary`` column). Little-endian, 2-D only. Written from the
public OGC WKB spec, not from OGR code.
"""

from __future__ import annotations

import struct

import numpy as np

POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOLYGON = 6

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
_PT = struct.Struct("<2d")


def _encode_rings(rings) -> bytes:
    out = [_U32.pack(len(rings))]
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        if not (arr[0] == arr[-1]).all():
            arr = np.vstack([arr, arr[:1]])
        out.append(_U32.pack(len(arr)))
        out.append(arr.tobytes())
    return b"".join(out)


def encode_polygon(exterior, holes=()) -> bytes:
    """Polygon from an exterior ring (Nx2) and optional hole rings."""
    return _HDR.pack(1, POLYGON) + _encode_rings([exterior, *holes])


def encode_multipolygon(polygons) -> bytes:
    """MultiPolygon from a list of (exterior, holes) tuples."""
    parts = [_HDR.pack(1, MULTIPOLYGON), _U32.pack(len(polygons))]
    for exterior, holes in polygons:
        parts.append(encode_polygon(exterior, holes))
    return b"".join(parts)


def _read_rings(buf: memoryview, off: int):
    (nrings,) = _U32.unpack_from(buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = _U32.unpack_from(buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off).reshape(
            npts, 2
        )
        rings.append(arr.copy())
        off += npts * 16
    return rings, off


def decode(data: bytes):
    """Decode WKB -> (geom_type, payload).

    POINT -> (x, y); LINESTRING -> Nx2 array;
    POLYGON -> [ring0, ring1, ...] (ring0 exterior);
    MULTIPOLYGON -> list of ring-lists.
    """
    buf = memoryview(data)
    byte_order, gtype = _HDR.unpack_from(buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    off = _HDR.size
    if gtype == POINT:
        return POINT, _PT.unpack_from(buf, off)
    if gtype == LINESTRING:
        (npts,) = _U32.unpack_from(buf, off)
        off += 4
        return LINESTRING, np.frombuffer(
            buf, dtype="<f8", count=npts * 2, offset=off
        ).reshape(npts, 2).copy()
    if gtype == POLYGON:
        rings, _ = _read_rings(buf, off)
        return POLYGON, rings
    if gtype == MULTIPOLYGON:
        (npoly,) = _U32.unpack_from(buf, off)
        off += 4
        polys = []
        for _ in range(npoly):
            _, sub_type = _HDR.unpack_from(buf, off)
            if sub_type != POLYGON:
                raise ValueError("multipolygon member must be polygon")
            rings, off2 = _read_rings(buf, off + _HDR.size)
            polys.append(rings)
            off = off2
        return MULTIPOLYGON, polys
    raise ValueError(f"unsupported WKB type {gtype}")


def polygon_rings(data: bytes):
    """All rings of a POLYGON or MULTIPOLYGON as a flat list of (Nx2)
    arrays — the even-odd ray-cast treats every ring identically
    (holes flip parity), matching GDAL's scanline fill semantics
    (alg/llrasterize.cpp:76)."""
    gtype, payload = decode(data)
    if gtype == POLYGON:
        return payload
    if gtype == MULTIPOLYGON:
        return [ring for rings in payload for ring in rings]
    raise ValueError(f"not a polygon WKB: type {gtype}")


def envelope(data: bytes):
    """(minx, miny, maxx, maxy) of any supported geometry — the
    envelope prefilter of OGRLayer::FilterGeometry
    (ogr/ogrsf_frmts/generic/ogrlayer.cpp:1468)."""
    gtype, payload = decode(data)
    if gtype == POINT:
        x, y = payload
        return x, y, x, y
    if gtype == LINESTRING:
        return (
            float(payload[:, 0].min()),
            float(payload[:, 1].min()),
            float(payload[:, 0].max()),
            float(payload[:, 1].max()),
        )
    rings = polygon_rings(data)
    allpts = np.vstack(rings)
    return (
        float(allpts[:, 0].min()),
        float(allpts[:, 1].min()),
        float(allpts[:, 0].max()),
        float(allpts[:, 1].max()),
    )
