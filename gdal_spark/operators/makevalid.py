"""ogr2ogr -makevalid: repair invalid polygon geometry.

Reference semantics: apps/ogr2ogr_lib.cpp (-makevalid flag) ->
OGRGeometry::MakeValid (GEOS MakeValid, default "linework" method,
exercised in autotest/utilities/test_ogr2ogr_lib.py): the valid
output is the region whose interior has ODD crossing number with
respect to the input ring linework — self-crossing rings (bowties)
split into their lobes, duplicate vertices collapse, zero-width
excursions (collinear spikes) vanish, and valid input round-trips.

Fresh implementation (no GEOS in this container), per-feature local
so it runs as an Arrow-batched mapInPandas over the layer:

1. linework: ring edges, zero-length edges dropped;
2. arrangement: every edge split at its intersections with every
   other edge (proper crossings, endpoint-on-interior, collinear
   overlaps) — O(n^2) per feature, exact for the segment counts real
   vector features have;
3. mod-2 reduction: coincident sub-segments cancel pairwise (this is
   what deletes spikes and doubled linework) — every surviving
   segment then separates odd from even crossing parity;
4. orientation: each segment is directed so the ODD side is on its
   left (parity probed a hair off the midpoint against the ORIGINAL
   rings — the defining property, not a heuristic);
5. tracing: directed segments are stitched into closed rings
   (sharpest-left-turn successor at each vertex). The output ring
   set under even-odd interpretation IS the valid region: total
   signed area equals the odd-region area for ANY cycle partition of
   the directed edge set, so the area gate is rule-independent.

Scale shape: pure per-row compute — no shuffle, no state; the layer
streams through one mapInPandas stage (the same posture as the other
geometry repairs in vector_ops).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import geom, wkb
from .rowstage import per_row

_SNAP = 1e-9  # vertex snap for arrangement coordinates
_EPS_PROBE = 1e-7  # parity-probe offset off a segment midpoint


def _key(p, scale: float):
    return (round(float(p[0]) / (_SNAP * scale)), round(float(p[1]) / (_SNAP * scale)))


def _ring_edges(rings):
    """(a, b) vertex pairs of all rings, zero-length edges dropped."""
    out = []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        for i in range(len(r)):
            a, b = r[i], r[(i + 1) % len(r)]
            if a[0] != b[0] or a[1] != b[1]:
                out.append((a, b))
    return out


_EPS_PAR = 1e-12  # relative parallel/collinear tolerance


def _split_params(a, b, edges):
    """Sorted interior split parameters of segment a-b against all
    other edges: proper crossings, other endpoints on the interior,
    and collinear-overlap endpoints. Parallelism and collinearity are
    decided with RELATIVE tolerances — an exact ``denom != 0`` test
    sends nearly-parallel edges (cross products at denormal scale)
    down the proper-crossing branch, where the division produces
    garbage split points (found by the hypothesis fuzz: a vertex at
    y=1e-308 silently emptied the repaired region)."""
    ts = set()
    d = b - a
    len2 = float(d @ d)
    dn = float(np.hypot(*d))
    for c, e in edges:
        f = e - c
        fn = float(np.hypot(*f))
        denom = d[0] * f[1] - d[1] * f[0]
        ca = c - a
        cross_ca = ca[0] * d[1] - ca[1] * d[0]
        if abs(denom) > _EPS_PAR * dn * fn:
            # proper / endpoint crossing of the supporting lines
            t = (ca[0] * f[1] - ca[1] * f[0]) / denom
            u = cross_ca / denom
            if 0.0 < t < 1.0 and 0.0 <= u <= 1.0:
                ts.add(float(t))
        else:
            # parallel: collinear overlap contributes the other
            # segment's endpoints projected into (0, 1)
            if abs(cross_ca) <= _EPS_PAR * dn * max(
                float(np.hypot(*ca)), fn
            ) and len2 > 0:
                for p in (c, e):
                    t = float((p - a) @ d) / len2
                    if 0.0 < t < 1.0:
                        ts.add(t)
    return sorted(ts)


def make_valid_rings(rings) -> list[np.ndarray]:
    """Repair a ring set; returns the valid region as a ring list
    under even-odd interpretation (shells CCW, holes CW as traced).
    Valid input comes back with the same region (possibly re-traced).
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    edges = _ring_edges(rings)
    if not edges:
        return []
    scale = max(1.0, max(abs(float(v)) for a, b in edges for v in (*a, *b)))

    # arrangement: split every edge at its crossings
    subs = []
    for a, b in edges:
        others = [(c, e) for (c, e) in edges if not (
            np.array_equal(a, c) and np.array_equal(b, e))]
        cuts = [0.0, *_split_params(a, b, others), 1.0]
        for t0, t1 in zip(cuts, cuts[1:]):
            if t1 > t0:
                subs.append((a + t0 * (b - a), a + t1 * (b - a)))

    # mod-2 multiplicity on canonical undirected keys
    count = {}
    rep = {}
    for p, q in subs:
        kp, kq = _key(p, scale), _key(q, scale)
        if kp == kq:
            continue
        k = (kp, kq) if kp < kq else (kq, kp)
        count[k] = count.get(k, 0) + 1
        rep.setdefault(kp, p)
        rep.setdefault(kq, q)
    live = [k for k, c in count.items() if c % 2 == 1]
    if not live:
        return []

    # orient: odd parity on the left. The probe is TWO-SIDED and
    # self-validating: a live (odd-multiplicity) segment separates
    # odd from even parity, so the two side probes must disagree —
    # if they agree the offset stepped clear across a thin sliver
    # (hypothesis-found failure mode: a 1e-5-thick wedge under a
    # 1e-7*scale probe misoriented its LONG bounding edge and
    # corrupted the main region); shrink until the sides differ,
    # flooring at the snap resolution below which features are
    # sub-resolution by construction.
    directed = []
    # rep[] keeps full-precision coordinates (the snap grid only
    # canonicalizes vertex identity), and the PIP crossing test is
    # accurate to ~eps*scale — so the probe may shrink far below the
    # snap grid before parity becomes meaningless
    h_floor = 1e-12 * scale
    for kp, kq in live:
        p, q = rep[kp], rep[kq]
        d = q - p
        n = np.array([-d[1], d[0]])
        n = n / max(np.hypot(*n), 1e-300)
        mid = (p + q) / 2.0
        h = _EPS_PROBE * scale
        while True:
            pl = mid + h * n
            pr = mid - h * n
            par = geom.points_in_rings(
                np.array([pl[0], pr[0]]), np.array([pl[1], pr[1]]), rings
            )
            if bool(par[0]) != bool(par[1]) or h / 8.0 < h_floor:
                break
            h /= 8.0
        directed.append((kp, kq) if bool(par[0]) else ((kq, kp)))

    # trace cycles: sharpest-left-turn successor at each vertex
    out_edges = {}
    for ka, kb in directed:
        out_edges.setdefault(ka, []).append(kb)
    unused = set(directed)
    cycles = []
    while unused:
        start = next(iter(unused))
        cyc = [start[0]]
        cur = start
        while True:
            unused.discard(cur)
            ka, kb = cur
            cyc.append(kb)
            a, b = rep[ka], rep[kb]
            d_in = b - a
            ang_in = np.arctan2(d_in[1], d_in[0])
            best = None
            best_ang = None
            for kc in out_edges.get(kb, []):
                if (kb, kc) not in unused and (kb, kc) != start:
                    continue
                d_out = rep[kc] - b
                # CCW turn angle in (-pi, pi]; sharpest left = max
                turn = np.arctan2(d_out[1], d_out[0]) - ang_in
                turn = (turn + np.pi) % (2 * np.pi) - np.pi
                if best is None or turn > best_ang:
                    best, best_ang = (kb, kc), turn
            if best is None or best == start:
                break
            cur = best
        cycles.append(np.array([rep[k] for k in cyc[:-1]], dtype=np.float64))
    return [c for c in cycles if len(c) >= 3]


def rings_to_region(rings) -> list:
    """make_valid_rings output -> boolop region format
    [(shell, [holes...]), ...]: CCW cycles are shells, CW cycles are
    holes of the shell that contains them (a repaired region is
    regular, so containment is decided by one vertex probe)."""
    shells = []
    holes = []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        a = 0.5 * float(
            np.sum(r[:, 0] * np.roll(r[:, 1], -1)
                   - np.roll(r[:, 0], -1) * r[:, 1])
        )
        (shells if a > 0 else holes).append(r)
    out = [(s, []) for s in shells]
    for h in holes:
        p = h[0]
        for k, s in enumerate(shells):
            if bool(
                geom.points_in_rings(
                    np.array([p[0]]), np.array([p[1]]), [s]
                )[0]
            ):
                out[k][1].append(h)
                break
    return out


def rings_area_evenodd(rings) -> float:
    """Signed-area sum — equals the even-odd region area when rings
    are oriented region-left (as make_valid_rings emits)."""
    total = 0.0
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        total += 0.5 * float(
            np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
        )
    return total


# ---------------------------------------------------------------------------
# driver fixtures: deterministic INVALID variants of the synth box
# layer (j-arithmetic shared with the SQL oracle, so the expected
# repaired areas are closed-form):
#   j % 3 == 0  bowtie   — rect corners in crossing order; the valid
#                          region is two lobes of total area 2*hw*hh
#   j % 3 == 1  dupvert  — every rect corner doubled; area 4*hw*hh
#   j % 3 == 2  spike    — zero-width excursion from the top edge;
#                          area 4*hw*hh, spike linework cancels mod 2


def invalid_fixtures_pdf(m: int) -> pd.DataFrame:
    from .. import synth

    j, cx, cy, hw, hh = synth._poly_params(m)
    rows = []
    for idx in range(m):
        if idx % 8 not in (1, 4):
            continue  # box kinds only
        x, y, w, h = float(cx[idx]), float(cy[idx]), float(hw[idx]), float(hh[idx])
        v = idx % 3
        if v == 0:
            ring = [(x - w, y - h), (x + w, y + h), (x - w, y + h),
                    (x + w, y - h)]
        elif v == 1:
            ring = [(x - w, y - h), (x - w, y - h), (x + w, y - h),
                    (x + w, y - h), (x + w, y + h), (x + w, y + h),
                    (x - w, y + h), (x - w, y + h)]
        else:
            ring = [(x - w, y - h), (x + w, y - h), (x + w, y + h),
                    (x, y + h), (x, y + 2 * h), (x, y + h), (x - w, y + h)]
        rows.append(
            {"fid": f"poly{idx:04d}", "geom_wkb": wkb.encode_polygon(ring)}
        )
    return pd.DataFrame(rows)


def makevalid_query(spark, m: int) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fid", T.StringType(), False),
            T.StructField("geom_wkb", T.BinaryType(), False),
        ]
    )
    layer = spark.createDataFrame(invalid_fixtures_pdf(m), schema=schema)
    return makevalid_df(layer).select("fid", "n_rings", "area_key")


def oracle_makevalid(m: int) -> str:
    """Closed-form repaired areas from the shared j-arithmetic: the
    area exprs are pure +,* over the same param doubles (exact-rounded
    IEEE, identical formula text both engines)."""
    from .. import synth

    p = synth.polygons_sql_cte(m, "duckdb")
    return (
        f"SELECT concat('poly', lpad(cast(j as varchar), 4, '0')) AS fid, "
        f"cast(CASE WHEN j % 3 = 0 THEN 2 ELSE 1 END as bigint) AS n_rings, "
        f"cast(floor((CASE WHEN j % 3 = 0 THEN 2.0E0 * hw * hh "
        f"ELSE 4.0E0 * hw * hh END) * 1000000.0E0) as bigint) AS area_key "
        f"FROM ({p}) WHERE j % 8 IN (1, 4)"
    )


def makevalid_df(layer: DataFrame, id_col: str = "fid") -> DataFrame:
    """(fid, n_rings, area_key, geom_wkb): repaired geometry per
    feature; area_key = floor(1e6 * odd-region area) (pure +,*
    arithmetic -> bit-exact vs a closed-form SQL oracle)."""

    def repaired(fid, g):
        out = make_valid_rings(wkb.polygon_rings(bytes(g)))
        yield (
            fid,
            len(out),
            int(np.floor(rings_area_evenodd(out) * 1e6)),
            wkb.encode_polygon(out[0], out[1:]) if out else None,
        )

    return per_row(
        layer, [id_col, "geom_wkb"], repaired,
        f"{id_col} string, n_rings bigint, area_key bigint, "
        "geom_wkb binary",
    )
