"""OGRGeometry::Buffer — Minkowski dilation by a disc of radius r.

Reference semantics: ogr/ogrgeometry.cpp OGRGeometry::Buffer(dfDist,
nQuadSegs) (GEOS buffer underneath; exercised across
autotest/ogr/ogr_geom.py): the result is the set of points within
``dist`` of the input, with circular arcs discretized into
``quadsegs`` chords per quarter circle, vertices ON the circle
(inscribed, as GEOS emits).

Fresh implementation (no GEOS in this container), per-feature local
so it runs as an Arrow-batched mapInPandas over the layer — the same
scale posture as makevalid: pure per-row compute, no shuffle.

Two construction paths:

* convex ring, no holes — DIRECT boundary construction: each edge
  contributes its outward-offset segment, each vertex the inscribed
  arc sweeping the exterior angle between the adjacent edge normals.
  Arc angles are ``a0 + k * (turn / steps)`` with
  ``steps = ceil(turn / ((pi/2)/quadsegs))``; for the axis-aligned
  oracle fixtures every quantity in that chain is IEEE-exact
  (np.hypot(x, 0) == |x|, atan2 on axis vectors returns the spec-exact
  0 / ±pi/2 / pi, and (pi/2)/quadsegs is a dyadic scale for
  power-of-two quadsegs), so numpy and DuckDB produce bit-identical
  vertex doubles (numpy cos/sin bit-match DuckDB's libm — measured,
  see CLAUDE.md) and the oracle replays the ring exactly.
* general (concave / holed / multi-ring) — capsule union: the input
  region unioned with one rectangle per boundary edge (inset by a
  hair on the inward side so no capsule side is collinear with an
  input edge — the inset strip is inside the input, so the union
  area is unchanged) and one inscribed 4*quadsegs-gon disc per
  vertex, on an angle grid rotated by a small irrational offset so
  disc vertices never coincide with rectangle corners. Verified by
  distance parity (membership == point-to-boundary distance <= r)
  and by cross-checking the convex direct path, in
  tests/test_buffer.py.

Gate: ``geom_buffer`` buffers the synth box subset (axis-aligned,
convex) and emits an exact integer key — the ring vertices floored to
the 1e-6 grid (half-grid epsilon, house pattern) and shoelace-summed
in int64 — which the DuckDB oracle reproduces bit-for-bit from the
same closed-form vertex generator.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import boolop, synth, wkb
from .rowstage import per_row

# angle-grid offset for general-path vertex discs: keeps disc
# vertices off the capsule-rectangle corners (which sit at exact
# edge-normal angles) so the union never sees coincident vertices
_DISC_PHASE = 7.3e-4
# inward inset of capsule rectangles (relative to feature scale):
# breaks exact collinearity between a capsule side and the input edge
_INSET_REL = 1e-7


def _arc_angles(n_in: np.ndarray, n_out: np.ndarray, delta: float):
    """Arc sample angles at a convex vertex: from the incoming edge
    normal's direction to the outgoing one, CCW, inclusive of both
    ends. ``delta`` is the max chord angle (pi/2)/quadsegs."""
    a0 = math.atan2(float(n_in[1]), float(n_in[0]))
    cross = float(n_in[0] * n_out[1] - n_in[1] * n_out[0])
    dot = float(n_in[0] * n_out[0] + n_in[1] * n_out[1])
    turn = math.atan2(cross, dot)
    if turn <= 0.0:
        # collinear edges (turn 0) still get the shared offset point
        return np.array([a0], dtype=np.float64)
    steps = max(1, int(math.ceil(turn / delta - 1e-9)))
    step = turn / steps
    return a0 + np.arange(steps + 1, dtype=np.float64) * step


def _edge_normals(ring: np.ndarray):
    """Outward unit normals of a CCW ring's edges."""
    nxt = np.roll(ring, -1, axis=0)
    d = nxt - ring
    ln = np.hypot(d[:, 0], d[:, 1])
    return np.stack([d[:, 1] / ln, -d[:, 0] / ln], axis=1)


def _is_convex_ccw(ring: np.ndarray) -> bool:
    nxt = np.roll(ring, -1, axis=0)
    d = nxt - ring
    dp = np.roll(d, -1, axis=0)
    cross = d[:, 0] * dp[:, 1] - d[:, 1] * dp[:, 0]
    return bool(np.all(cross > 0))


def buffer_convex_ring(ring: np.ndarray, dist: float, quadsegs: int):
    """Direct buffered boundary of a convex CCW ring (open, no
    repeated closing vertex). Vertex order: per input vertex, the arc
    samples from the incoming normal to the outgoing normal."""
    ring = np.asarray(ring, dtype=np.float64)
    normals = _edge_normals(ring)
    delta = (math.pi / 2.0) / quadsegs
    pts = []
    n = len(ring)
    for i in range(n):
        th = _arc_angles(normals[(i - 1) % n], normals[i], delta)
        pts.append(
            np.stack(
                [
                    ring[i, 0] + dist * np.cos(th),
                    ring[i, 1] + dist * np.sin(th),
                ],
                axis=1,
            )
        )
    return np.concatenate(pts, axis=0)


def _disc(center: np.ndarray, dist: float, quadsegs: int) -> np.ndarray:
    k = np.arange(4 * quadsegs, dtype=np.float64)
    th = _DISC_PHASE + k * (2.0 * math.pi / (4 * quadsegs))
    return np.stack(
        [center[0] + dist * np.cos(th), center[1] + dist * np.sin(th)],
        axis=1,
    )


def _edge_capsule_rect(a, b, dist: float, inset: float) -> np.ndarray:
    d = b - a
    ln = float(np.hypot(*d))
    u = d / ln
    n = np.array([u[1], -u[0]])  # outward for CCW boundary order
    return np.array(
        [
            a - inset * u - inset * n,
            b + inset * u - inset * n,
            b + inset * u + dist * n,
            a - inset * u + dist * n,
        ]
    )


def buffer_region(region, dist: float, quadsegs: int):
    """General positive buffer of a boolop region
    ``[(shell, [holes...]), ...]``: the region unioned with an edge
    rectangle per boundary edge and a vertex disc per boundary
    vertex (dilation = input ∪ boundary capsules)."""
    scale = 1.0
    for shell, holes in region:
        for r in (shell, *holes):
            scale = max(scale, float(np.max(np.abs(r))))
    inset = _INSET_REL * scale
    out = list(region)
    for shell, holes in region:
        # boolop stores holes CCW too; traverse them reversed so the
        # right-of-direction capsule normal points INTO the hole
        # (dilation shrinks holes) as it points outward on shells
        for ring in (shell, *[h[::-1] for h in holes]):
            ring = np.asarray(ring, dtype=np.float64)
            if len(ring) >= 2 and (ring[0] == ring[-1]).all():
                ring = ring[:-1]
            nxt = np.roll(ring, -1, axis=0)
            for i in range(len(ring)):
                a, b = ring[i], nxt[i]
                if a[0] == b[0] and a[1] == b[1]:
                    continue
                rect = _edge_capsule_rect(a, b, dist, inset)
                if boolop.ring_area(np.vstack([rect, rect[:1]])) < 0:
                    rect = rect[::-1]
                out = boolop.boolean_regions(out, [(rect, [])], "union")
                out = boolop.boolean_regions(
                    out, [(_disc(ring[i], dist, quadsegs), [])], "union"
                )
    return out


def buffer_rings(rings, dist: float, quadsegs: int = 8):
    """Buffer one feature's ring list (first = shell, rest = holes).
    Returns (ring_list, used_direct) where ring_list is the buffered
    boundary (shells CCW first)."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    opened = []
    for r in rings:
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        opened.append(r)
    shell = opened[0]
    if boolop.ring_area(np.vstack([shell, shell[:1]])) < 0:
        shell = shell[::-1]
    if len(opened) == 1 and _is_convex_ccw(shell):
        return [buffer_convex_ring(shell, dist, quadsegs)], True
    region = boolop.region_of_rings([shell, *opened[1:]])
    buf = buffer_region(region, dist, quadsegs)
    out = []
    for s, hs in buf:
        out.append(np.asarray(s, dtype=np.float64))
        out.extend(np.asarray(h, dtype=np.float64) for h in hs)
    return out, False


_GRID = 1_000_000.0
_HALF_GRID_EPS = 5e-4  # house half-grid guard (see CLAUDE.md)


def _grid_shoelace(ring: np.ndarray):
    """Exact int64 shoelace (2x area) over 1e-6-grid-floored vertices."""
    xg = np.floor(ring[:, 0] * _GRID + _HALF_GRID_EPS).astype(np.int64)
    yg = np.floor(ring[:, 1] * _GRID + _HALF_GRID_EPS).astype(np.int64)
    xn = np.roll(xg, -1)
    yn = np.roll(yg, -1)
    return int(np.sum(xg * yn - xn * yg)), len(ring)


def _grid_totals(rings):
    """(n_vertices, area2_key) of ``_grid_shoelace`` over all rings."""
    sums = [_grid_shoelace(r) for r in rings]
    return sum(c for _, c in sums), sum(s for s, _ in sums)


def buffer_df(
    layer: DataFrame,
    dist: float,
    quadsegs: int = 8,
    id_col: str = "fid",
) -> DataFrame:
    """(fid, n_vertices, area2_key, geom_wkb): buffered geometry per
    feature. area2_key = signed int64 shoelace sum (2x area in 1e-6
    grid units) over ALL output rings — exact integer arithmetic, so
    the convex path is bit-replayable by a closed-form SQL oracle."""

    def buffered(fid, g):
        out, _ = buffer_rings(wkb.polygon_rings(bytes(g)), dist, quadsegs)
        yield (
            fid, *_grid_totals(out),
            wkb.encode_polygon(out[0], out[1:]) if out else None,
        )

    return per_row(
        layer, [id_col, "geom_wkb"], buffered,
        f"{id_col} string, n_vertices bigint, area2_key bigint, "
        "geom_wkb binary",
    )


def erode_region(region, dist: float, quadsegs: int):
    """Negative buffer (erosion): subtract the boundary capsules from
    the region — erode(P, r) = P minus every point within r of the
    boundary. The capsule construction is the dilation one with the
    inset flipped to the OUTWARD side (the strip outside P is already
    outside the difference, so the area is unchanged)."""
    scale = 1.0
    for shell, holes in region:
        for r in (shell, *holes):
            scale = max(scale, float(np.max(np.abs(r))))
    inset = _INSET_REL * scale
    out = list(region)
    for shell, holes in region:
        for ring in (shell, *[h[::-1] for h in holes]):
            ring = np.asarray(ring, dtype=np.float64)
            if len(ring) >= 2 and (ring[0] == ring[-1]).all():
                ring = ring[:-1]
            nxt = np.roll(ring, -1, axis=0)
            for i in range(len(ring)):
                a, b = ring[i], nxt[i]
                if a[0] == b[0] and a[1] == b[1]:
                    continue
                # dilation rect spans [-inset, +dist] along the
                # outward normal; the erosion capsule spans
                # [-dist, +inset] (inward, inset poking outside)
                d = b - a
                ln = float(np.hypot(*d))
                u = d / ln
                n = np.array([u[1], -u[0]])
                rect = np.array(
                    [
                        a - inset * u + inset * n,
                        b + inset * u + inset * n,
                        b + inset * u - dist * n,
                        a - inset * u - dist * n,
                    ]
                )
                if boolop.ring_area(np.vstack([rect, rect[:1]])) < 0:
                    rect = rect[::-1]
                out = boolop.boolean_regions(out, [(rect, [])], "diff")
                out = boolop.boolean_regions(
                    out, [(_disc(ring[i], dist, quadsegs), [])], "diff"
                )
                if not out:
                    return out
    return out


def _erode_convex_ring(ring: np.ndarray, dist: float):
    """Erosion of a convex CCW ring: intersection of the inward-offset
    half-planes. Each vertex moves to the intersection of its two
    adjacent offset edge lines (no arcs appear for erosion). Returns
    None when the polygon collapses (some offset edges invert)."""
    n = len(ring)
    normals = _edge_normals(ring)
    pts = []
    for i in range(n):
        n0, n1 = normals[(i - 1) % n], normals[i]
        a0 = ring[(i - 1) % n] - dist * n0
        a1 = ring[i] - dist * n1
        d0 = ring[i] - ring[(i - 1) % n]
        d1 = ring[(i + 1) % n] - ring[i]
        denom = d0[0] * d1[1] - d0[1] * d1[0]
        if abs(denom) < 1e-300:
            return None
        # intersection of lines a0 + t*d0 and a1 + s*d1
        t = ((a1[0] - a0[0]) * d1[1] - (a1[1] - a0[1]) * d1[0]) / denom
        pts.append(a0 + t * d0)
    out = np.asarray(pts, dtype=np.float64)
    if not _is_convex_ccw(out) or boolop.ring_area(
        np.vstack([out, out[:1]])
    ) <= 0:
        return None
    return out


def buffer_rings_signed(rings, dist: float, quadsegs: int = 8):
    """Positive dist -> dilation (buffer_rings); negative -> erosion.
    Returns (ring_list, used_direct); empty list when erosion empties
    the region (reference: GEOS/OGR Buffer with negative distance)."""
    if dist >= 0:
        return buffer_rings(rings, dist, quadsegs)
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    opened = []
    for r in rings:
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        opened.append(r)
    shell = opened[0]
    if boolop.ring_area(np.vstack([shell, shell[:1]])) < 0:
        shell = shell[::-1]
    if len(opened) == 1 and _is_convex_ccw(shell):
        out = _erode_convex_ring(shell, -dist)
        if out is not None:
            return [out], True
        # collapsed or non-simple inset: fall through to the exact
        # subtraction path, which yields the true (possibly empty or
        # multi-part) erosion
    region = boolop.region_of_rings([shell, *opened[1:]])
    buf = erode_region(region, -dist, quadsegs)
    out = []
    for s, hs in buf:
        out.append(np.asarray(s, dtype=np.float64))
        out.extend(np.asarray(h, dtype=np.float64) for h in hs)
    return out, False


# ---------------------------------------------------------------------------
# driver gate: buffer the synth box subset (axis-aligned => the
# direct convex path with spec-exact normal angles)

_BUF_DIST = 0.375  # dyadic double
_BUF_QSEGS = 8  # power of two => (pi/2)/q dyadic-exact


def box_fixtures_pdf(m: int) -> pd.DataFrame:
    j, cx, cy, hw, hh = synth._poly_params(m)
    rows = []
    for idx in range(m):
        if idx % 8 not in (1, 4):
            continue
        x, y, w, h = float(cx[idx]), float(cy[idx]), float(hw[idx]), float(hh[idx])
        ring = [(x - w, y - h), (x + w, y - h), (x + w, y + h), (x - w, y + h)]
        rows.append(
            {"fid": f"poly{idx:04d}", "geom_wkb": wkb.encode_polygon(ring)}
        )
    return pd.DataFrame(rows)


def buffer_query(spark, m: int) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fid", T.StringType(), False),
            T.StructField("geom_wkb", T.BinaryType(), False),
        ]
    )
    layer = spark.createDataFrame(box_fixtures_pdf(m), schema=schema)
    return buffer_df(layer, _BUF_DIST, _BUF_QSEGS).select(
        "fid", "n_vertices", "area2_key"
    )


def buffer_negative_df(
    layer: DataFrame,
    dist: float,
    quadsegs: int = 8,
    id_col: str = "fid",
) -> DataFrame:
    """Erosion counterpart of buffer_df (dist passed positive)."""

    def eroded(fid, g):
        rings = wkb.polygon_rings(bytes(g))
        out, _ = buffer_rings_signed(rings, -dist, quadsegs)
        yield (fid, *_grid_totals(out))

    return per_row(
        layer, [id_col, "geom_wkb"], eroded,
        f"{id_col} string, n_vertices bigint, area2_key bigint",
    )


def buffer_negative_query(spark, m: int) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fid", T.StringType(), False),
            T.StructField("geom_wkb", T.BinaryType(), False),
        ]
    )
    layer = spark.createDataFrame(box_fixtures_pdf(m), schema=schema)
    return buffer_negative_df(layer, _BUF_DIST, _BUF_QSEGS).select(
        "fid", "n_vertices", "area2_key"
    )


def oracle_buffer_negative(m: int) -> str:
    """Erosion of an axis-aligned box is the inset box: each vertex
    keeps one coordinate computed EXACTLY as the impl does
    ((center±half) ∓ r, same two adds) while the solved coordinate
    agrees to a few ulp — far below the 1e-6 grid; box half-widths
    are >= 1 so no fixture collapses."""
    r = synth.flit(_BUF_DIST)
    p = synth.polygons_sql_cte(m, "duckdb")
    corners = (
        "(VALUES (0, -1.0E0, -1.0E0), (1, 1.0E0, -1.0E0), "
        "(2, 1.0E0, 1.0E0), (3, -1.0E0, 1.0E0)) AS c(ci, sx, sy)"
    )
    return (
        f"WITH boxes AS MATERIALIZED (SELECT j, cx, cy, hw, hh FROM ({p}) "
        f"WHERE j % 8 IN (1, 4)), "
        f"pts AS MATERIALIZED (SELECT b.j, c.ci AS ord, "
        f"cast(floor(((b.cx + c.sx * b.hw) + (-c.sx) * {r}) "
        f"* 1000000.0E0 + 0.0005E0) as bigint) AS xg, "
        f"cast(floor(((b.cy + c.sy * b.hh) + (-c.sy) * {r}) "
        f"* 1000000.0E0 + 0.0005E0) as bigint) AS yg "
        f"FROM boxes b, {corners}) "
        f"SELECT concat('poly', lpad(cast(a.j as varchar), 4, '0')) AS fid, "
        f"cast(4 as bigint) AS n_vertices, "
        f"cast(sum(a.xg * b.yg - b.xg * a.yg) as bigint) AS area2_key "
        f"FROM pts a JOIN pts b ON a.j = b.j AND b.ord = (a.ord + 1) % 4 "
        f"GROUP BY a.j"
    )


def oracle_buffer(m: int) -> str:
    """Bit-exact replay: regenerate the 4*(quadsegs+1) boundary
    vertices per box (corner arc angles are a0 + k*delta with the
    exact-by-spec axis a0s and the dyadic delta), floor to the 1e-6
    grid, shoelace in BIGINT. numpy cos/sin bit-match DuckDB libm
    (measured; CLAUDE.md), so the doubles — hence the floors, hence
    the integer sum — are identical."""
    q = _BUF_QSEGS
    nv = 4 * (q + 1)
    delta = synth.flit((math.pi / 2.0) / q)
    r = synth.flit(_BUF_DIST)
    pi = synth.flit(math.pi)
    hpi = synth.flit(math.pi / 2.0)
    nhpi = synth.flit(-math.pi / 2.0)
    p = synth.polygons_sql_cte(m, "duckdb")
    # corner order matches the impl's CCW ring construction: arc at
    # vertex i starts at the INCOMING edge normal's angle
    corners = (
        f"(VALUES (0, -1.0E0, -1.0E0, {pi}), (1, 1.0E0, -1.0E0, {nhpi}), "
        f"(2, 1.0E0, 1.0E0, 0.0E0), (3, -1.0E0, 1.0E0, {hpi})) "
        "AS c(ci, sx, sy, a0)"
    )
    return (
        f"WITH boxes AS MATERIALIZED (SELECT j, cx, cy, hw, hh FROM ({p}) "
        f"WHERE j % 8 IN (1, 4)), "
        f"pts AS MATERIALIZED (SELECT b.j, c.ci * {q + 1} + t.k AS ord, "
        f"cast(floor((b.cx + c.sx * b.hw + {r} * cos(c.a0 + "
        f"cast(t.k as double) * {delta})) * 1000000.0E0 + 0.0005E0) "
        f"as bigint) AS xg, "
        f"cast(floor((b.cy + c.sy * b.hh + {r} * sin(c.a0 + "
        f"cast(t.k as double) * {delta})) * 1000000.0E0 + 0.0005E0) "
        f"as bigint) AS yg "
        f"FROM boxes b, {corners}, range(0, {q + 1}) t(k)) "
        f"SELECT concat('poly', lpad(cast(a.j as varchar), 4, '0')) AS fid, "
        f"cast({nv} as bigint) AS n_vertices, "
        f"cast(sum(a.xg * b.yg - b.xg * a.yg) as bigint) AS area2_key "
        f"FROM pts a JOIN pts b ON a.j = b.j AND b.ord = (a.ord + 1) % {nv} "
        f"GROUP BY a.j"
    )
