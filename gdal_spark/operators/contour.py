"""Contour building block: iso-level edge crossings, tiled.

GDALContourGenerate (alg/contour.cpp, kernel alg/marching_squares/)
walks iso-lines through raster cells; every line segment enters/exits
through a pixel-pair edge where the value crosses the level. This
operator computes those crossings — the marching-squares edge
classification — distributed over tiles with a 1-px halo (right
column / bottom row from the neighbor), which is exactly the
information the cross-tile segment stitcher consumes. Counts are
integer-exact, so the whole-raster SQL oracle proves the tiling
introduces no seams. (Full ring assembly = the polygonize-style
label merge, future work.)

Crossing rule (marching squares, half-open): edge (a, b) crosses
level L iff (a < L) != (b < L).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..graphsql import label_components, pj_components_cte, union_find
from .dem import DEM_VALUE_SQL, _dem_value


def contour_crossings(
    spark, width: int, height: int, levels: tuple[int, ...] = (64, 128, 192),
    tile_px: int = 32,
) -> DataFrame:
    """Per (level, scanline): horizontal + vertical crossing counts
    over the deterministic global raster."""
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px
    tiles = spark.range(ntx * nty).selectExpr(
        f"cast(id % {ntx} as int) AS tx", f"cast(id div {ntx} as int) AS ty"
    )

    def compute(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * tile_px, ty * tile_px
        w = min(tile_px, width - px0)
        h = min(tile_px, height - py0)
        # tile + 1-px halo to the right/bottom (owned edges start here)
        hx1 = min(px0 + w + 1, width)
        hy1 = min(py0 + h + 1, height)
        gy, gx = np.mgrid[py0:hy1, px0:hx1]
        vals = _dem_value(gx, gy)
        rows = []
        for lv in levels:
            below = vals < lv
            # horizontal edges owned by this tile: (x, y)-(x+1, y),
            # x in [px0, px0+w-1] clipped to raster
            hc = below[: h, : w] != below[: h, 1 : w + 1] if hx1 > px0 + w else (
                below[: h, : w - 1] != below[: h, 1 : w]
            )
            vc = below[: h, : w] != below[1 : h + 1, : w] if hy1 > py0 + h else (
                below[: h - 1, : w] != below[1 : h, : w]
            )
            # vectorized per-scanline emission (no Python append loop)
            hy = np.arange(hc.shape[0], dtype=np.int64) + py0
            vy = np.arange(vc.shape[0], dtype=np.int64) + py0
            rows.append(
                pd.DataFrame(
                    {
                        "level": np.int64(lv),
                        "y": np.concatenate([hy, vy]),
                        "h_cross": np.concatenate(
                            [hc.sum(axis=1), np.zeros(len(vy), np.int64)]
                        ),
                        "v_cross": np.concatenate(
                            [np.zeros(len(hy), np.int64), vc.sum(axis=1)]
                        ),
                    }
                )
            )
        return pd.concat(rows, ignore_index=True)

    part = tiles.groupby("tx", "ty").applyInPandas(
        compute, schema="level bigint, y bigint, h_cross bigint, v_cross bigint"
    )
    return part.groupBy("level", "y").agg(
        F.sum("h_cross").alias("h_cross"), F.sum("v_cross").alias("v_cross")
    )


# ---------------------------------------------------------------------------
# Marching-squares polyline assembly (alg/contour.cpp:321 segment
# merger + alg/marching_squares/ cell cases). ONE case table drives
# both the numpy tile kernel and the SQL oracle replay, so the
# segment sets are identical by construction. All arithmetic on the
# integer DEM is exact rational -> bit-identical cross-engine.
#
# Cell corners (grid y down):  a=(x,y)   b=(x+1,y)
#                              d=(x,y+1) c=(x+1,y+1)
# "inside" = value < level. Edges: T(a-b) R(b-c) B(d-c) L(a-d).
# Saddles (case 5/10) resolve on the exact cell-center mean.

_CASE_SEGS = {
    0: [], 15: [],
    1: [("L", "T")], 2: [("T", "R")], 3: [("L", "R")], 4: [("R", "B")],
    6: [("T", "B")], 7: [("L", "B")], 8: [("L", "B")], 9: [("T", "B")],
    11: [("R", "B")], 12: [("L", "R")], 13: [("T", "R")], 14: [("T", "L")],
}
_SADDLE_SEGS = {
    # case: (segments when center inside, when center outside)
    5: ([("T", "R"), ("L", "B")], [("T", "L"), ("R", "B")]),
    10: ([("T", "L"), ("R", "B")], [("T", "R"), ("L", "B")]),
}

_EID_XSHIFT = 2097152  # 2^21
# component node id = level * _LEVEL_SHIFT + edge id (edge ids < 2^40
# while x < 2^18), so one graph holds every level
_LEVEL_SHIFT = 1 << 40


def _edge_id_np(edge, cx, cy):
    """int64 node id of a cell edge: pixel-pair edges, h=(x,y)-(x+1,y)
    type 0, v=(x,y)-(x,y+1) type 1."""
    if edge == "T":
        x, y, t = cx, cy, 0
    elif edge == "B":
        x, y, t = cx, cy + 1, 0
    elif edge == "L":
        x, y, t = cx, cy, 1
    else:  # R
        x, y, t = cx + 1, cy, 1
    return (x.astype(np.int64) * _EID_XSHIFT + y) * 2 + t


def _edge_id_sql(edge) -> str:
    if edge == "T":
        x, y, t = "cx", "cy", 0
    elif edge == "B":
        x, y, t = "cx", "(cy + 1)", 0
    elif edge == "L":
        x, y, t = "cx", "cy", 1
    else:
        x, y, t = "(cx + 1)", "cy", 1
    return f"(({x} * {_EID_XSHIFT} + {y}) * 2 + {t})"


def _edge_point_np(edge, cx, cy, va, vb, vc, vd, lv):
    """Interpolated crossing point on an edge (exact rational)."""
    cxf, cyf = cx.astype(np.float64), cy.astype(np.float64)
    if edge == "T":
        t = (lv - va) / (vb - va)
        return cxf + t, cyf
    if edge == "B":
        t = (lv - vd) / (vc - vd)
        return cxf + t, cyf + 1.0
    if edge == "L":
        t = (lv - va) / (vd - va)
        return cxf, cyf + t
    t = (lv - vb) / (vc - vb)
    return cxf + 1.0, cyf + t


def _edge_point_sql(edge) -> tuple[str, str]:
    if edge == "T":
        return (
            "(cast(cx as double) + cast(lv - va as double) / (vb - va))",
            "cast(cy as double)",
        )
    if edge == "B":
        return (
            "(cast(cx as double) + cast(lv - vd as double) / (vc - vd))",
            "(cast(cy as double) + 1.0E0)",
        )
    if edge == "L":
        return (
            "cast(cx as double)",
            "(cast(cy as double) + cast(lv - va as double) / (vd - va))",
        )
    return (
        "(cast(cx as double) + 1.0E0)",
        "(cast(cy as double) + cast(lv - vb as double) / (vc - vb))",
    )


def _seg_len_sql(e1: str, e2: str) -> str:
    x1, y1 = _edge_point_sql(e1)
    x2, y2 = _edge_point_sql(e2)
    return (
        f"cast(floor(sqrt(({x1} - {x2}) * ({x1} - {x2}) + "
        f"({y1} - {y2}) * ({y1} - {y2})) * 1000000.0E0) as bigint)"
    )


def marching_segments(
    vals: np.ndarray, level: int, x0: int = 0, y0: int = 0
):
    """Vectorized marching squares over one value block. Returns
    (e_lo, e_hi, len_u) int64 arrays — unordered edge-id pairs +
    floor(1e6 * length) of each contour segment."""
    va = vals[:-1, :-1].astype(np.float64)
    vb = vals[:-1, 1:].astype(np.float64)
    vc = vals[1:, 1:].astype(np.float64)
    vd = vals[1:, :-1].astype(np.float64)
    cy, cx = np.mgrid[0: vals.shape[0] - 1, 0: vals.shape[1] - 1]
    cx = cx + x0
    cy = cy + y0
    case = (
        (va < level).astype(np.int64)
        + 2 * (vb < level)
        + 4 * (vc < level)
        + 8 * (vd < level)
    )
    center_in = ((va + vb) + (vc + vd)) / 4.0 < level
    e_lo, e_hi, len_u = [], [], []

    def emit(mask, segs):
        if not mask.any():
            return
        mcx, mcy = cx[mask], cy[mask]
        a, b, c, d = va[mask], vb[mask], vc[mask], vd[mask]
        for e1, e2 in segs:
            i1 = _edge_id_np(e1, mcx, mcy)
            i2 = _edge_id_np(e2, mcx, mcy)
            x1, y1 = _edge_point_np(e1, mcx, mcy, a, b, c, d, level)
            x2, y2 = _edge_point_np(e2, mcx, mcy, a, b, c, d, level)
            ln = np.floor(
                np.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))
                * 1000000.0
            ).astype(np.int64)
            e_lo.append(np.minimum(i1, i2))
            e_hi.append(np.maximum(i1, i2))
            len_u.append(ln)

    for cs, segs in _CASE_SEGS.items():
        if segs:
            emit(case == cs, segs)
    for cs, (segs_in, segs_out) in _SADDLE_SEGS.items():
        emit((case == cs) & center_in, segs_in)
        emit((case == cs) & ~center_in, segs_out)
    if not e_lo:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(e_lo),
        np.concatenate(e_hi),
        np.concatenate(len_u),
    )


def contour_polylines(
    spark,
    width: int,
    height: int,
    levels: tuple[int, ...] = (64, 128, 192),
    tile_px: int = 32,
) -> DataFrame:
    """Tiled marching squares -> cross-tile polyline stitch. Per
    level: segment count, node (crossed-edge) count, open endpoints
    (degree-1 nodes), connected polyline count (paths + closed rings),
    and the integer-scaled total length. Tiles overlap by a 1-px halo;
    a cell is owned by the tile containing its top-left pixel, so the
    segment set is tiling-invariant.

    Two-level stitch (the polygonize shape): each tile labels its
    segment graph with graphsql.union_find and emits its segments
    plus a (boundary node -> local component root) map; cross-tile
    equivalences arise only where a boundary node is seen by two
    tiles, so graphsql.label_components runs over the tiny local-root
    graph. Node ids of that graph carry the level
    (level * _LEVEL_SHIFT + edge id), so one run labels every
    level."""
    ntx = (width - 1 + tile_px - 1) // tile_px
    nty = (height - 1 + tile_px - 1) // tile_px
    tiles = spark.range(ntx * nty).selectExpr(
        f"cast(id % {ntx} as int) AS tx", f"cast(id div {ntx} as int) AS ty"
    )

    def compute(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        cx0, cy0 = tx * tile_px, ty * tile_px  # first owned cell
        cw = min(tile_px, (width - 1) - cx0)
        ch = min(tile_px, (height - 1) - cy0)
        gy, gx = np.mgrid[cy0: cy0 + ch + 1, cx0: cx0 + cw + 1]
        vals = _dem_value(gx, gy)
        frames = []
        for lv in levels:
            lo, hi, ln = marching_segments(vals, lv, cx0, cy0)
            ids, inv = np.unique(np.concatenate([lo, hi]), return_inverse=True)
            root = ids[union_find(len(ids), inv[: len(lo)], inv[len(lo):])]
            # every local component registers its root; every node on
            # the tile's cell-boundary maps node -> root for stitching
            ex, ey = ids // 2 // _EID_XSHIFT, ids // 2 % _EID_XSHIFT
            bnd = (ex <= cx0) | (ex >= cx0 + cw) | (ey <= cy0) | (ey >= cy0 + ch)
            key = lv * _LEVEL_SHIFT
            own = ids[root == ids] + key
            for kind, a, b, len_u in [
                ("seg", lo, hi, ln),
                ("comp", own, own, 0),
                ("bnd", ids[bnd] + key, root[bnd] + key, 0),
            ]:
                frames.append(pd.DataFrame(
                    {"level": lv, "kind": kind, "a": a, "b": b, "len_u": len_u}
                ))
        return pd.concat(frames, ignore_index=True)

    raw = (
        tiles.groupby("tx", "ty")
        .applyInPandas(
            compute,
            schema="level bigint, kind string, a bigint, b bigint, len_u bigint",
        )
        .localCheckpoint(eager=True)
    )
    segs = raw.filter("kind = 'seg'").selectExpr(
        "level", "a AS e_lo", "b AS e_hi", "len_u"
    )

    seg_agg = segs.groupBy("level").agg(
        F.count("*").alias("n_segments"),
        F.sum("len_u").alias("len_sum_u"),
    )
    nodes = segs.selectExpr("level", "e_lo AS e").unionAll(
        segs.selectExpr("level", "e_hi AS e")
    )
    deg = nodes.groupBy("level", "e").agg(F.count("*").alias("deg"))
    node_agg = deg.groupBy("level").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("CASE WHEN deg = 1 THEN 1 ELSE 0 END")).alias("n_open"),
    )

    # cross-tile equivalences: two local roots that saw the same
    # boundary node are the same global component
    bnd = raw.filter("kind = 'bnd'").selectExpr("a AS node", "b AS a")
    pairs = (
        bnd.join(bnd.selectExpr("node", "a AS b"), "node")
        .where("a <> b")
        .distinct()
    )
    # a boundary node can be the local root in both adjacent tiles, so
    # 'comp' rows repeat; label_components needs one row per node
    comps = raw.filter("kind = 'comp'").selectExpr("a AS node").distinct()
    comp_agg = (
        label_components(comps, pairs)
        .filter("node = root")
        .groupBy(F.expr(f"node div {_LEVEL_SHIFT}").alias("level"))
        .agg(F.count("*").alias("n_components"))
    )
    return (
        seg_agg.join(node_agg, "level")
        .join(comp_agg, "level")
        .select(
            "level", "n_segments", "n_nodes", "n_open", "n_components",
            "len_sum_u",
        )
    )


def oracle_contour_polylines(
    width: int, height: int, levels=(64, 128, 192)
) -> str:
    """Whole-raster SQL replay: the same case table emits (e_lo, e_hi,
    len_u) per cell; components via graphsql.pj_components_cte over
    the level-folded edge ids (the same fixpoint the Spark stitcher
    reaches; a recursive-CTE reachability closure is exact too but
    O(sum comp^2) rows)."""
    val = DEM_VALUE_SQL
    corners = {
        "va": val.replace("gx", "cx").replace("gy", "cy"),
        "vb": val.replace("gx", "(cx + 1)").replace("gy", "cy"),
        "vc": val.replace("gx", "(cx + 1)").replace("gy", "(cy + 1)"),
        "vd": val.replace("gx", "cx").replace("gy", "(cy + 1)"),
    }
    lvs = ", ".join(str(v) for v in levels)

    def slot_case(slot: int, value_of) -> str:
        whens = []
        for cs, segs in _CASE_SEGS.items():
            if len(segs) > slot:
                whens.append(f"WHEN cs = {cs} THEN {value_of(segs[slot])}")
        for cs, (s_in, s_out) in _SADDLE_SEGS.items():
            if len(s_in) > slot:
                whens.append(
                    f"WHEN cs = {cs} THEN (CASE WHEN cin "
                    f"THEN {value_of(s_in[slot])} "
                    f"ELSE {value_of(s_out[slot])} END)"
                )
        return "CASE " + " ".join(whens) + " ELSE NULL END"

    def lo_of(seg):
        return f"least({_edge_id_sql(seg[0])}, {_edge_id_sql(seg[1])})"

    def hi_of(seg):
        return f"greatest({_edge_id_sql(seg[0])}, {_edge_id_sql(seg[1])})"

    def len_of(seg):
        return _seg_len_sql(seg[0], seg[1])

    slot_rows = []
    for s in (0, 1):
        slot_rows.append(
            f"SELECT lv, cx, cy, {slot_case(s, lo_of)} AS e_lo, "
            f"{slot_case(s, hi_of)} AS e_hi, {slot_case(s, len_of)} AS len_u "
            f"FROM cells"
        )
    chain, final = pj_components_cte()
    return f"""
WITH
cells AS MATERIALIZED (
  SELECT lv, cx, cy, va, vb, vc, vd,
         (CASE WHEN va < lv THEN 1 ELSE 0 END
          + CASE WHEN vb < lv THEN 2 ELSE 0 END
          + CASE WHEN vc < lv THEN 4 ELSE 0 END
          + CASE WHEN vd < lv THEN 8 ELSE 0 END) AS cs,
         (((va + vb) + (vc + vd)) / 4.0E0 < lv) AS cin
  FROM (SELECT lv, cx, cy, {corners['va']} AS va, {corners['vb']} AS vb,
               {corners['vc']} AS vc, {corners['vd']} AS vd
        FROM range(0, {width - 1}) a(cx), range(0, {height - 1}) b(cy),
             (SELECT unnest([{lvs}]) AS lv))),
segs AS MATERIALIZED (SELECT * FROM ({slot_rows[0]} UNION ALL {slot_rows[1]})
         WHERE e_lo IS NOT NULL),
links AS MATERIALIZED (
  SELECT lv * {_LEVEL_SHIFT} + e_lo AS a, lv * {_LEVEL_SHIFT} + e_hi AS b
  FROM segs
  UNION SELECT lv * {_LEVEL_SHIFT} + e_hi, lv * {_LEVEL_SHIFT} + e_lo FROM segs),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM links),
{chain},
comp AS (SELECT node // {_LEVEL_SHIFT} AS lv, count(*) AS n_components
         FROM {final} WHERE node = root GROUP BY 1),
deg AS (SELECT lv, e, count(*) AS deg FROM
        (SELECT lv, e_lo AS e FROM segs UNION ALL SELECT lv, e_hi FROM segs)
        GROUP BY lv, e),
nagg AS (SELECT lv, count(*) AS n_nodes,
         cast(sum(CASE WHEN deg = 1 THEN 1 ELSE 0 END) as bigint) AS n_open
         FROM deg GROUP BY lv),
sagg AS (SELECT lv, count(*) AS n_segments,
         cast(sum(len_u) as bigint) AS len_sum_u FROM segs GROUP BY lv)
SELECT sagg.lv AS level, n_segments, n_nodes, n_open, n_components, len_sum_u
FROM sagg JOIN nagg ON nagg.lv = sagg.lv JOIN comp ON comp.lv = sagg.lv
"""


def oracle_contour(width: int, height: int, levels=(64, 128, 192)) -> str:
    val = DEM_VALUE_SQL
    vr = val.replace("gx", "(gx + 1)")
    vd = val.replace("gy", "(gy + 1)")
    lvs = ", ".join(str(v) for v in levels)
    return (
        f"WITH g AS (SELECT gx, gy, lv FROM range(0, {width}) a(gx), "
        f"range(0, {height}) b(gy), (SELECT unnest([{lvs}]) AS lv)), "
        f"c AS (SELECT lv AS level, gy AS y, "
        f"CASE WHEN gx < {width - 1} AND (({val}) < lv) <> (({vr}) < lv) "
        f"THEN 1 ELSE 0 END AS hc, "
        f"CASE WHEN gy < {height - 1} AND (({val}) < lv) <> (({vd}) < lv) "
        f"THEN 1 ELSE 0 END AS vc FROM g) "
        f"SELECT level, y, cast(sum(hc) as bigint) AS h_cross, "
        f"cast(sum(vc) as bigint) AS v_cross "
        f"FROM c GROUP BY 1, 2"
    )
