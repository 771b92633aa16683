"""overlay — Sutherland–Hodgman clipping vs an independent oracle.

The independent check rasterizes both polygons on a fine grid with
the even-odd ray cast (gdal_spark.geom — a completely different code
path) and compares the counted intersection area, bounded by the
perimeter-driven discretization error.
"""

import numpy as np
import pytest

from gdal_spark import geom, synth, wkb
from gdal_spark.operators import overlay, predicates
from tests.conftest import SF_DIR


def _grid_area(rings_a, rings_b, bbox, n=512):
    x0, y0, x1, y1 = bbox
    xs = np.linspace(x0, x1, n, endpoint=False) + (x1 - x0) / n / 2
    ys = np.linspace(y0, y1, n, endpoint=False) + (y1 - y0) / n / 2
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    ina = geom.points_in_rings(gx, gy, rings_a)
    inb = geom.points_in_rings(gx, gy, rings_b)
    cell = (x1 - x0) / n * (y1 - y0) / n
    return float(np.sum(ina & inb)) * cell, cell


def _pair_bbox(wa, wc):
    ax0, ay0, ax1, ay1 = wkb.envelope(wa)
    bx0, by0, bx1, by1 = wkb.envelope(wc)
    return (
        max(ax0, bx0) - 1e-9,
        max(ay0, by0) - 1e-9,
        min(ax1, bx1) + 1e-9,
        min(ay1, by1) + 1e-9,
    )


def _perimeter(rings):
    p = 0.0
    for r in rings:
        d = np.diff(np.asarray(r), axis=0)
        p += float(np.hypot(d[:, 0], d[:, 1]).sum())
    return p


def _translated(clip_wkb: bytes, subj_wkb: bytes, frac: float) -> bytes:
    """Translate the clip polygon so its envelope center lands at a
    fractional offset inside the subject envelope (guarantees partial
    overlap while keeping the real synth shape)."""
    sx0, sy0, sx1, sy1 = wkb.envelope(subj_wkb)
    cx0, cy0, cx1, cy1 = wkb.envelope(clip_wkb)
    tx = (sx0 + frac * (sx1 - sx0)) - (cx0 + cx1) / 2
    ty = (sy0 + (1 - frac) * (sy1 - sy0)) - (cy0 + cy1) / 2
    rings = [np.asarray(r) + [tx, ty] for r in wkb.polygon_rings(clip_wkb)]
    return wkb.encode_polygon(rings[0], rings[1:])


@pytest.mark.parametrize("subject_kind", ["box", "triangle", "kgon", "concave", "holed"])
@pytest.mark.parametrize("clip_kind", ["box", "triangle", "kgon"])
def test_sh_area_vs_grid_oracle(subject_kind, clip_kind):
    """Every subject kind (incl. concave + holed) against every convex
    clip kind, on real synth geometries (clip translated into the
    subject's neighborhood — the R2 placement keeps kinds apart)."""
    pdf = synth.polygons_pdf(256)
    subs = pdf[pdf["kind"] == subject_kind].head(5)
    clips = pdf[pdf["kind"] == clip_kind].head(4)
    tested = 0
    for si, (_, sa) in enumerate(subs.iterrows()):
        for ci, (_, sb) in enumerate(clips.iterrows()):
            wa = bytes(sa["geom_wkb"])
            wc = _translated(
                bytes(sb["geom_wkb"]), wa, 0.15 + 0.2 * ((si + ci) % 4)
            )
            bbox = _pair_bbox(wa, wc)
            if bbox[2] <= bbox[0] or bbox[3] <= bbox[1]:
                continue
            s_rings = [overlay._open_ring(r) for r in wkb.polygon_rings(wa)]
            c_rings = [overlay._open_ring(r) for r in wkb.polygon_rings(wc)]
            _, area = overlay.clip_polygon_convex(s_rings, c_rings[0])
            approx, cell = _grid_area(
                wkb.polygon_rings(wa), wkb.polygon_rings(wc), bbox
            )
            # discretization error ~ perimeter * cell edge
            tol = (
                (_perimeter(s_rings) + _perimeter(c_rings))
                * max(bbox[2] - bbox[0], bbox[3] - bbox[1])
                / 512
                * 2.0
                + 4 * cell
            )
            assert abs(area - approx) <= tol, (
                sa["poly_id"], sb["poly_id"], area, approx, tol
            )
            tested += 1
    assert tested > 0


def test_clip_identity_and_disjoint():
    sq = np.array([(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])
    big = np.array([(-1.0, -1.0), (3.0, -1.0), (3.0, 3.0), (-1.0, 3.0)])
    out = overlay.clip_ring_convex(sq, big)
    assert abs(overlay.ring_area(out) - 4.0) < 1e-12  # fully inside
    far = big + 100.0
    out2 = overlay.clip_ring_convex(sq, far)
    assert out2.shape[0] == 0  # disjoint


def test_holed_subject_subtracts_hole():
    shell = np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
    hole = np.array([(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)])
    clip = np.array([(-1.0, -1.0), (5.0, -1.0), (5.0, 5.0), (-1.0, 5.0)])
    rings, area = overlay.clip_polygon_convex([shell, hole], clip)
    assert abs(area - (16.0 - 4.0)) < 1e-12
    assert len(rings) == 2


def test_concave_clip_routes_through_gh(spark):
    """Round 2 raised on concave clip polygons; the Greiner–Hormann
    region engine now handles them — overlay() with a concave clip
    returns the grid-oracle area."""
    pdf = synth.polygons_pdf(128)
    conc = pdf[pdf["kind"] == "concave"].head(1)
    box = pdf[pdf["kind"] == "box"].head(1)
    wa = bytes(box.iloc[0]["geom_wkb"])
    wc = _translated(bytes(conc.iloc[0]["geom_wkb"]), wa, 0.35)
    sub = spark.createDataFrame(
        [("a", bytearray(wa))], "id_a string, wkb_a binary"
    )
    clip = spark.createDataFrame(
        [("b", bytearray(wc))], "id_b string, wkb_b binary"
    )
    out = overlay.overlay(sub, clip).collect()
    assert len(out) == 1
    bbox = _pair_bbox(wa, wc)
    approx, cell = _grid_area(
        wkb.polygon_rings(wa), wkb.polygon_rings(wc), bbox
    )
    s_rings = [overlay._open_ring(r) for r in wkb.polygon_rings(wa)]
    c_rings = [overlay._open_ring(r) for r in wkb.polygon_rings(wc)]
    tol = (
        (_perimeter(s_rings) + _perimeter(c_rings))
        * max(bbox[2] - bbox[0], bbox[3] - bbox[1])
        / 512
        * 2.0
        + 4 * cell
    )
    assert abs(out[0]["area"] - approx) <= tol


def test_overlay_spark_pipeline_matches_local(spark):
    """The full DataFrame pipeline (cells -> join -> refine) returns
    exactly the pairs + areas the local brute force computes."""
    polys = synth.polygons_df(spark, 64)
    out = overlay.overlay_boxes_query(polys).toPandas()
    pdf = synth.polygons_pdf(64)
    boxes = pdf[pdf["kind"].isin(["box", "hot_box"])]
    hot = pdf[pdf["kind"] == "hot_box"]
    expect = {}
    for _, sa in boxes.iterrows():
        for _, sb in hot.iterrows():
            if sa["poly_id"] == sb["poly_id"]:
                continue
            s_rings = [
                overlay._open_ring(r)
                for r in wkb.polygon_rings(bytes(sa["geom_wkb"]))
            ]
            c_rings = [
                overlay._open_ring(r)
                for r in wkb.polygon_rings(bytes(sb["geom_wkb"]))
            ]
            _, area = overlay.clip_polygon_convex(s_rings, c_rings[0])
            if area > 0.0:
                expect[(sa["poly_id"], sb["poly_id"])] = int(
                    np.floor(area * 1e6 + 5e-4)
                )
    got = {
        (r["id_a"], r["id_b"]): r["area_u"] for _, r in out.iterrows()
    }
    assert got == expect


@pytest.mark.parametrize("pad", [0.0, predicates.DIST_MAX])
def test_candidates_match_envelope_bruteforce(spark, pad):
    """The one candidate stage returns exactly the pairs whose padded
    envelopes overlap inclusively, each once. Scenes: the 2048-polygon
    layer against its hot_box subset, the lattice rectangles (wider
    than a z6 cell), a world-envelope box on both sides, and two boxes
    that share only an edge on a z6 cell boundary (lon 0)."""
    def box(x0, y0, x1, y1):
        return wkb.encode_polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])

    pdf = synth.polygons_pdf(2048)
    latt = synth.lattice_pdf()
    world = box(-180.0, -90.0, 180.0, 90.0)
    a_rows = list(zip(pdf["poly_id"], map(bytes, pdf["geom_wkb"]))) + [
        ("world_a", world),
        ("edge_a", box(-2.0, 1.0, 0.0, 3.0)),
    ]
    hot = pdf[pdf["kind"] == "hot_box"]
    b_rows = (
        list(zip(hot["poly_id"], map(bytes, hot["geom_wkb"])))
        + list(zip(latt["latt_id"], map(bytes, latt["geom_wkb"])))
        + [("world_b", world), ("edge_b", box(0.0, 1.0, 2.0, 3.0))]
    )
    ea = np.array([wkb.envelope(g) for _, g in a_rows])
    eb = np.array([wkb.envelope(g) for _, g in b_rows])
    ax0, ay0, ax1, ay1 = (ea[:, k, None] for k in range(4))
    bx0, by0, bx1, by1 = (eb[None, :, k] for k in range(4))
    hit = (
        (ax0 - pad <= bx1) & (bx0 <= ax1 + pad)
        & (ay0 - pad <= by1) & (by0 <= ay1 + pad)
    )
    ia, ib = np.nonzero(hit)
    expect = {(a_rows[i][0], b_rows[j][0]) for i, j in zip(ia, ib)}
    assert ("edge_a", "edge_b") in expect

    sub = spark.createDataFrame(
        [(i, bytearray(g)) for i, g in a_rows], "id_a string, wkb_a binary"
    )
    clip = spark.createDataFrame(
        [(i, bytearray(g)) for i, g in b_rows], "id_b string, wkb_b binary"
    )
    zoom = overlay.OVERLAY_ZOOM if pad == 0.0 else predicates._dist_cell_zoom(pad)
    got = [
        (r["id_a"], r["id_b"])
        for r in overlay._candidates(sub, clip, pad, zoom)
        .select("id_a", "id_b")
        .collect()
    ]
    assert len(got) == len(set(got))  # no pair repeats across cells
    assert set(got) == expect
