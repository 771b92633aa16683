"""General polygon boolean operations — intersection / union /
difference — for simple polygons with holes, numpy-only.

This is the geometry core behind the full OGR layer-algebra family
(reference semantics: OGRLayer::Intersection
ogr/ogrsf_frmts/generic/ogrlayer.cpp:2278, ::Union :2679,
::SymDifference :3204, ::Identity :3619, ::Update :4024, ::Clip :4361,
::Erase :4658 — all GEOS-backed there; this container has no GEOS, so
the clipping core is a fresh implementation of the published
Greiner–Hormann algorithm [Greiner & Hormann 1998, "Efficient clipping
of arbitrary polygons", ACM TOG 17(2)], lifted from simple rings to
regions (multipolygons with holes) by recursive hole distribution.

Representation: a *region* is ``list[(shell, holes)]`` where shell is
an open CCW (n,2) float64 ring and holes is a list of open rings
strictly inside the shell. Region parts are interior-disjoint (they
may share boundary segments — emitted as separate multipolygon parts,
never unioned, which keeps every pipeline step in the two generic
primitives ring-intersect and ring-subtract).

Degenerate configurations (collinear overlapping edges, vertex exactly
on an edge) raise :class:`Degeneracy`; :func:`boolean_regions` retries
with a tiny deterministic perturbation of the second operand. The
engine's synthetic inputs (R2 low-discrepancy placements) are in
general position, so the fallback exists for user data only.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "Degeneracy",
    "ring_area",
    "ensure_ccw",
    "gh_ring_op",
    "region_area",
    "region_nvert",
    "region_intersect_polygon",
    "region_subtract_polygon",
    "region_union_pair",
    "region_of_rings",
    "boolean_regions",
]


class Degeneracy(Exception):
    """Inputs are not in general position for the GH traversal."""


# ---------------------------------------------------------------------------
# ring helpers


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area of an open ring (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def ensure_ccw(ring: np.ndarray) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    return r if ring_area(r) >= 0.0 else r[::-1]


def _open(ring: np.ndarray) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    if r.shape[0] > 1 and (r[0] == r[-1]).all():
        r = r[:-1]
    return r


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Even-odd ray cast of one point against one open ring."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    cond = (y1 > py) != (y2 > py)
    if not cond.any():
        return False
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    return bool(np.logical_and(cond, px < xint).sum() % 2)


def _rings_equal(a: np.ndarray, b: np.ndarray, eps: float) -> bool:
    """Cyclic vertex-set equality (either orientation)."""
    if a.shape != b.shape:
        return False
    n = a.shape[0]
    for bb in (b, b[::-1]):
        # align on the vertex closest to a[0]
        d = np.abs(bb - a[0]).sum(axis=1)
        k = int(np.argmin(d))
        if d[k] <= eps and np.abs(np.roll(bb, -k, axis=0) - a).max() <= eps:
            return True
    return False


# ---------------------------------------------------------------------------
# Greiner–Hormann core (two simple open rings, general position)


class _Node:
    __slots__ = ("x", "y", "nxt", "prv", "twin", "entry", "inter", "visited")

    def __init__(self, x: float, y: float, inter: bool = False):
        self.x, self.y = float(x), float(y)
        self.nxt = self.prv = self.twin = None
        self.entry = False
        self.inter = inter
        self.visited = False


def _link(nodes: list[_Node]) -> _Node:
    n = len(nodes)
    for i, nd in enumerate(nodes):
        nd.nxt = nodes[(i + 1) % n]
        nd.prv = nodes[(i - 1) % n]
    return nodes[0]


def _crossings(P: np.ndarray, Q: np.ndarray, scale: float):
    """All strict pairwise edge crossings (i, j, t, u). Raises
    Degeneracy on near-parallel overlap or endpoint-grazing hits."""
    n, m = P.shape[0], Q.shape[0]
    a, b = P, Q
    d1 = np.roll(P, -1, axis=0) - P  # (n,2)
    d2 = np.roll(Q, -1, axis=0) - Q  # (m,2)
    denom = d1[:, None, 0] * d2[None, :, 1] - d1[:, None, 1] * d2[None, :, 0]
    rel = b[None, :, :] - a[:, None, :]  # (n,m,2)
    num_t = rel[:, :, 0] * d2[None, :, 1] - rel[:, :, 1] * d2[None, :, 0]
    num_u = rel[:, :, 0] * d1[:, None, 1] - rel[:, :, 1] * d1[:, None, 0]
    len1 = np.hypot(d1[:, 0], d1[:, 1])[:, None]
    len2 = np.hypot(d2[:, 0], d2[:, 1])[None, :]
    par = np.abs(denom) <= 1e-14 * len1 * len2 * max(scale, 1.0)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = np.where(par, np.nan, num_t / denom)
        u = np.where(par, np.nan, num_u / denom)
    EPS = 1e-11
    hit = (t > EPS) & (t < 1.0 - EPS) & (u > EPS) & (u < 1.0 - EPS)
    graze = (
        (t > -EPS) & (t < 1.0 + EPS) & (u > -EPS) & (u < 1.0 + EPS) & ~hit
    )
    if graze.any():
        raise Degeneracy("edge endpoint grazes the other polygon")
    # parallel AND collinear AND overlapping -> degenerate
    if par.any():
        pi, qj = np.nonzero(par)
        for i, j in zip(pi, qj):
            # distance of Q[j] from the line of edge i
            cr = d1[i, 0] * (b[j, 1] - a[i, 1]) - d1[i, 1] * (b[j, 0] - a[i, 0])
            if abs(cr) <= 1e-12 * max(len1[i, 0], 1e-300) * max(scale, 1.0):
                # collinear lines: overlapping spans?
                s0 = np.dot(b[j] - a[i], d1[i]) / max(len1[i, 0] ** 2, 1e-300)
                s1 = np.dot(
                    b[(j + 1) % m] - a[i], d1[i]
                ) / max(len1[i, 0] ** 2, 1e-300)
                lo, hi = min(s0, s1), max(s0, s1)
                if hi > EPS and lo < 1.0 - EPS:
                    raise Degeneracy("collinear overlapping edges")
    out = []
    pi, qj = np.nonzero(hit)
    for i, j in zip(pi, qj):
        out.append((int(i), int(j), float(t[i, j]), float(u[i, j])))
    return out


def _build_lists(P: np.ndarray, Q: np.ndarray, xs):
    """Linked vertex lists for P and Q with twin intersection nodes."""
    per_p: dict[int, list] = {}
    per_q: dict[int, list] = {}
    for i, j, t, u in xs:
        px = P[i] + t * (P[(i + 1) % P.shape[0]] - P[i])
        np_ = _Node(px[0], px[1], inter=True)
        nq = _Node(px[0], px[1], inter=True)
        np_.twin, nq.twin = nq, np_
        per_p.setdefault(i, []).append((t, np_))
        per_q.setdefault(j, []).append((u, nq))

    def assemble(R: np.ndarray, per: dict) -> list[_Node]:
        nodes: list[_Node] = []
        for i in range(R.shape[0]):
            nodes.append(_Node(R[i, 0], R[i, 1]))
            for _, nd in sorted(per.get(i, []), key=lambda x: x[0]):
                nodes.append(nd)
        return nodes

    p_nodes = assemble(P, per_p)
    q_nodes = assemble(Q, per_q)
    _link(p_nodes)
    _link(q_nodes)
    return p_nodes, q_nodes


def _mark_entries(nodes: list[_Node], other: np.ndarray, invert: bool):
    """Entry/exit flags by parity from the first ORIGINAL vertex."""
    start = next(nd for nd in nodes if not nd.inter)
    status = _point_in_ring(start.x, start.y, other)
    nd = start
    while True:
        if nd.inter:
            nd.entry = (not status) ^ invert
            status = not status
        nd = nd.nxt
        if nd is start:
            break


def _traverse(p_nodes: list[_Node]) -> list[np.ndarray]:
    rings = []
    for v in p_nodes:
        if not v.inter or v.visited:
            continue
        pts = [(v.x, v.y)]
        cur = v
        while True:
            cur.visited = True
            cur.twin.visited = True
            if cur.entry:
                while True:
                    cur = cur.nxt
                    pts.append((cur.x, cur.y))
                    if cur.inter:
                        break
            else:
                while True:
                    cur = cur.prv
                    pts.append((cur.x, cur.y))
                    if cur.inter:
                        break
            cur = cur.twin
            if cur is v or cur.twin is v:
                break
        ring = np.asarray(pts[:-1], dtype=np.float64)
        if ring.shape[0] >= 3:
            rings.append(ring)
    return rings


def _classify_nested(rings: list[np.ndarray]):
    """Nesting-depth classification of traversal output rings into
    region parts: even depth -> shell, odd -> hole of the enclosing
    shell (traversal orientation is not trusted)."""
    k = len(rings)
    if k == 1:
        return [(ensure_ccw(rings[0]), [])]
    depth = np.zeros(k, dtype=np.int64)
    parent = np.full(k, -1, dtype=np.int64)
    for i in range(k):
        for j in range(k):
            if i != j and _point_in_ring(rings[i][0, 0], rings[i][0, 1], rings[j]):
                depth[i] += 1
    for i in range(k):
        if depth[i] % 2 == 0:
            continue
        # the immediate parent is the containing ring of depth[i]-1
        for j in range(k):
            if (
                j != i
                and depth[j] == depth[i] - 1
                and _point_in_ring(rings[i][0, 0], rings[i][0, 1], rings[j])
            ):
                parent[i] = j
                break
    parts = {}
    for i in range(k):
        if depth[i] % 2 == 0:
            parts[i] = (ensure_ccw(rings[i]), [])
    for i in range(k):
        if depth[i] % 2 == 1 and parent[i] >= 0:
            parts[parent[i]][1].append(ensure_ccw(rings[i]))
    return list(parts.values())


def gh_ring_op(A: np.ndarray, B: np.ndarray, op: str):
    """Boolean op of two simple open rings -> region (list of parts).

    op: 'inter' | 'union' | 'diff' (A minus B). Rings need not be
    pre-oriented. General position required (else Degeneracy).
    """
    A = ensure_ccw(_open(A))
    B = ensure_ccw(_open(B))
    if A.shape[0] < 3 or B.shape[0] < 3:
        return [] if op == "inter" else ([(A, [])] if A.shape[0] >= 3 else [])
    # strict envelope reject
    ae = (A[:, 0].min(), A[:, 1].min(), A[:, 0].max(), A[:, 1].max())
    be = (B[:, 0].min(), B[:, 1].min(), B[:, 0].max(), B[:, 1].max())
    scale = max(abs(v) for v in (*ae, *be))
    if ae[2] < be[0] or be[2] < ae[0] or ae[3] < be[1] or be[3] < ae[1]:
        if op == "inter":
            return []
        if op == "diff":
            return [(A, [])]
        return [(A, []), (B, [])]
    if _rings_equal(A, B, 1e-12 * max(scale, 1.0)):
        if op == "inter" or op == "union":
            return [(A, [])]
        return []
    xs = _crossings(A, B, scale)
    if not xs:
        a_in_b = _point_in_ring(A[0, 0], A[0, 1], B)
        b_in_a = _point_in_ring(B[0, 0], B[0, 1], A)
        if op == "inter":
            if a_in_b:
                return [(A, [])]
            if b_in_a:
                return [(B, [])]
            return []
        if op == "union":
            if a_in_b:
                return [(B, [])]
            if b_in_a:
                return [(A, [])]
            return [(A, []), (B, [])]
        # diff
        if a_in_b:
            return []
        if b_in_a:
            return [(A, [B])]
        return [(A, [])]
    p_nodes, q_nodes = _build_lists(A, B, xs)
    # entry-flag inversion per op (Greiner–Hormann): intersection uses
    # raw flags; union inverts both; A minus B inverts the subject side
    # (verified against asymmetric-size fixtures in tests/test_boolop).
    inv_p = op in ("union", "diff")
    inv_q = op == "union"
    _mark_entries(p_nodes, B, inv_p)
    _mark_entries(q_nodes, A, inv_q)
    rings = _traverse(p_nodes)
    # drop fp slivers
    amin = 1e-18 * max(scale, 1.0) ** 2
    rings = [r for r in rings if abs(ring_area(r)) > amin]
    if not rings:
        return []
    return _classify_nested(rings)


# ---------------------------------------------------------------------------
# region algebra (region = list[(shell, holes)])


def region_of_rings(rings) -> list:
    """Region from a WKB-style ring list (first = shell, rest holes)."""
    rs = [ensure_ccw(_open(r)) for r in rings]
    if not rs or rs[0].shape[0] < 3:
        return []
    return [(rs[0], [h for h in rs[1:] if h.shape[0] >= 3])]


def region_area(region) -> float:
    a = 0.0
    for shell, holes in region:
        a += abs(ring_area(shell))
        for h in holes:
            a -= abs(ring_area(h))
    return a


def region_nvert(region) -> int:
    n = 0
    for shell, holes in region:
        n += shell.shape[0]
        for h in holes:
            n += h.shape[0]
    return n


def _ring_rel(A: np.ndarray, B: np.ndarray) -> str:
    """Topological relation of two simple open rings in general
    position: 'disjoint' | 'a_in_b' | 'b_in_a' | 'crossing' |
    'equal'."""
    ae = (A[:, 0].min(), A[:, 1].min(), A[:, 0].max(), A[:, 1].max())
    be = (B[:, 0].min(), B[:, 1].min(), B[:, 0].max(), B[:, 1].max())
    if ae[2] < be[0] or be[2] < ae[0] or ae[3] < be[1] or be[3] < ae[1]:
        return "disjoint"
    scale = max(abs(v) for v in (*ae, *be))
    if _rings_equal(A, B, 1e-12 * max(scale, 1.0)):
        return "equal"
    if _crossings(A, B, scale):
        return "crossing"
    if _point_in_ring(A[0, 0], A[0, 1], B):
        return "a_in_b"
    if _point_in_ring(B[0, 0], B[0, 1], A):
        return "b_in_a"
    return "disjoint"


def _part_sub_ring(ps: np.ndarray, phs: list, h: np.ndarray):
    """(ps − ∪phs) − h as a region. Terminating by construction: the
    crossing branch redistributes the attached holes one at a time and
    never re-adds a processed ring (the naive 'subtract all holes
    again' formulation ping-pongs forever on two disjoint holes)."""
    rel = _ring_rel(ps, h)
    if rel == "disjoint":
        return [(ps, phs)]
    if rel in ("a_in_b", "equal"):  # shell consumed entirely
        return []
    if rel == "b_in_a":
        # h is strictly inside the shell: merge into the hole set.
        # Overlapping holes union (pockets of the union are islands —
        # interior area enclosed by the merged hole, emitted as new
        # standalone parts).
        cur = h
        keep: list = []
        islands: list = []
        for ph in phs:
            r2 = _ring_rel(cur, ph)
            if r2 == "disjoint":
                keep.append(ph)
            elif r2 == "b_in_a":  # ph inside cur -> absorbed
                continue
            elif r2 in ("a_in_b", "equal"):  # cur adds nothing new
                return [(ps, phs)]
            else:  # crossing: union of the two hole rings
                u = gh_ring_op(cur, ph, "union")
                merged = max(u, key=lambda t: abs(ring_area(t[0])))
                cur = merged[0]
                islands.extend((isl, []) for isl in merged[1])
        return [(ps, keep + [cur])] + islands
    # crossing: split the shell; crossing diff of two simple rings is
    # hole-free, then redistribute the attached holes recursively
    # (each recursion consumes one ring from a finite list).
    pieces = gh_ring_op(ps, h, "diff")
    parts = [(q[0], []) for q in pieces]
    for ph in phs:
        nxt = []
        for qs, qhs in parts:
            nxt.extend(_part_sub_ring(qs, qhs, ph))
        parts = nxt
    return parts


def region_subtract_ring(region, ring: np.ndarray):
    ring = ensure_ccw(_open(ring))
    out = []
    for shell, holes in region:
        out.extend(_part_sub_ring(shell, list(holes), ring))
    return out


def region_intersect_ring(region, ring: np.ndarray):
    """(shell − holes) ∩ C = (shell ∩ C) − holes per part."""
    ring = ensure_ccw(_open(ring))
    out = []
    for shell, holes in region:
        base = gh_ring_op(shell, ring, "inter")
        for h in holes:
            nxt = []
            for qs, qhs in base:
                nxt.extend(_part_sub_ring(qs, qhs, h))
            base = nxt
        out.extend(base)
    return out


def region_intersect_polygon(region, part):
    """region ∩ one polygon part (shell, holes):
    R ∩ (s − ∪h) = (R ∩ s) − each h."""
    shell, holes = part
    out = region_intersect_ring(region, shell)
    for h in holes:
        out = region_subtract_ring(out, h)
    return out


def region_subtract_polygon(region, part):
    """region − one polygon part:
    R − (s − ∪h) = (R − s) ⊎ ⊎(R ∩ h) (parts interior-disjoint
    because holes are strictly inside the shell)."""
    shell, holes = part
    out = region_subtract_ring(region, shell)
    for h in holes:
        out.extend(region_intersect_ring(region, h))
    return out


def region_intersect_region(region, other):
    """region ∩ other (other's parts are disjoint -> concat)."""
    out = []
    for part in other:
        out.extend(region_intersect_polygon(region, part))
    return out


def region_subtract_region(region, other):
    for part in other:
        region = region_subtract_polygon(region, part)
    return region


def region_union_pair(A, B):
    """Union of two single-part regions. Shell union via GH; union
    holes = pockets from the traversal plus (holesA − B) and
    (holesB − A)."""
    if len(A) == 0:
        return B
    if len(B) == 0:
        return A
    if len(A) != 1 or len(B) != 1:
        raise NotImplementedError("pairwise union expects single-part inputs")
    (sa, ha), (sb, hb) = A[0], B[0]
    out = gh_ring_op(sa, sb, "union")
    for h in ha:
        for piece in region_subtract_polygon([(h, [])], (sb, hb)):
            out = region_subtract_polygon(out, piece)
    for h in hb:
        for piece in region_subtract_polygon([(h, [])], (sa, ha)):
            out = region_subtract_polygon(out, piece)
    return out


def _perturbed(region, k: int):
    # deterministic sub-fp-noise shift; documented fallback for
    # degenerate user inputs (never hit by the synth R2 layouts)
    dx = 3.7e-9 * k
    dy = 1.9e-9 * k
    return [
        (shell + [dx, dy], [h + [dx, dy] for h in holes])
        for shell, holes in region
    ]


def boolean_regions(A, B, op: str, retries: int = 2):
    """Boolean op of two regions with the degeneracy-perturbation
    fallback. op: 'inter' | 'union' | 'diff' | 'symdiff'."""
    for k in range(retries + 1):
        Bk = B if k == 0 else _perturbed(B, k)
        try:
            if op == "inter":
                return region_intersect_region(A, Bk)
            if op == "diff":
                return region_subtract_region(A, Bk)
            if op == "union":
                return region_union_pair(A, Bk)
            if op == "symdiff":
                return region_subtract_region(A, Bk) + region_subtract_region(
                    Bk, A
                )
            raise ValueError(op)
        except Degeneracy:
            if k == retries:
                raise
    raise AssertionError("unreachable")
