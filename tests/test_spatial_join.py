"""Spatial join: cell-prefiltered join == brute force == independent
scalar oracle, across all polygon kinds (boxes, triangles, convex
k-gons, concave C, polygon-with-hole)."""

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

from gdal_spark import geom, grid, synth, wkb
from gdal_spark.operators import cells
from gdal_spark.operators import spatial_join as spatial_join_mod
from gdal_spark.operators.spatial_join import (
    JOIN_ZOOM,
    SUB,
    SUB_N,
    SUB_ZOOM,
    point_cells,
    polygon_cells,
    prepare_spatial_join,
    spatial_join,
    spatial_join_bruteforce,
)

W_SUB = 180.0 / 2**SUB_ZOOM  # sub-cell side, deg


def scalar_pip(px, py, rings):
    """Independent scalar even-odd ray cast (classic textbook loop) —
    deliberately a separate implementation from gdal_spark.geom."""
    inside = False
    for ring in rings:
        pts = [tuple(p) for p in ring]
        if pts[0] == pts[-1]:
            pts = pts[:-1]
        n = len(pts)
        for a in range(n):
            x1, y1 = pts[a]
            x2, y2 = pts[(a + 1) % n]
            if (y1 > py) != (y2 > py):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                if px < xint:
                    inside = not inside
    return inside


def expected_pairs(images_pdf, polys_pdf):
    out = set()
    lon, lat = images_pdf.lon.values, images_pdf.lat.values
    for p in polys_pdf.itertuples(index=False):
        rings = wkb.polygon_rings(bytes(p.geom_wkb))
        minx, miny, maxx, maxy = wkb.envelope(bytes(p.geom_wkb))
        near = (minx <= lon) & (lon <= maxx) & (miny <= lat) & (lat <= maxy)
        for im in images_pdf[near].itertuples(index=False):
            if scalar_pip(im.lon, im.lat, rings):
                out.add((im.i, p.poly_id))
    return out


def world_layer_pdf():
    """The lattice layer (38 x 37.5 deg rectangles, each wider than a
    z3 cell) plus one box covering the whole world envelope."""
    latt = synth.lattice_pdf().rename(columns={"latt_id": "poly_id"})
    world = [(-180.0, -90.0), (180.0, -90.0), (180.0, 90.0), (-180.0, 90.0)]
    return pd.concat(
        [
            latt.assign(kind="lattice"),
            pd.DataFrame(
                [{"poly_id": "world", "geom_wkb": wkb.encode_polygon(world),
                  "kind": "world"}]
            ),
        ],
        ignore_index=True,
    )[["poly_id", "kind", "geom_wkb"]]


def edge_layer_pdf():
    """Non-rectangle polygons built against the sub-cell shortcuts:

    - ``ulp``: a vertical and a horizontal edge one ulp past a sub-cell
      border; the point one ulp further in is inside, but the encoder
      rounds it into the sub-cell before the border, which the edge
      misses unless it is widened by the margin;
    - ``beyond`` (L) and ``u`` (U): envelopes past lon 180, whose edge
      cells are wholly inside / wholly outside in the domain but not at
      the clipped out-of-domain points (200, 10) / (199.5, 37);
    - ``south``: the same past lat -90, for the clipped point (10, -95);
    - ``c180``: a concave C touching lon 180;
    - ``grid_holed``: a holed square whose every edge lies on a sub-cell
      border;
    - the concave and holed polygons of the 16-polygon synth layer."""
    b = W_SUB  # a sub-cell border on both axes (lon 0.703125, lat 0.703125)
    e = np.nextafter(b, np.inf)
    g = 2 * W_SUB
    rings = {
        "ulp": ([(e, e), (2.0, e), (2.0, 2.0), (1.5, 2.5), (e, 2.0)], []),
        "beyond": (
            [(170, 0), (205, 0), (205, 1), (181, 1), (181, 12), (170, 12)], []
        ),
        "u": (
            [(170, 30), (200, 30), (200, 45), (170, 45), (170, 44),
             (199, 44), (199, 31), (170, 31)], []
        ),
        "south": (
            [(0, -80), (0, -92), (19, -92), (19, -100), (20, -100), (20, -80)], []
        ),
        "c180": (
            [(170, -20), (180, -20), (180, -10), (175, -10), (175, 10),
             (180, 10), (180, 20), (170, 20)], []
        ),
        "grid_holed": (
            [(-2 * g, -2 * g), (2 * g, -2 * g), (2 * g, 2 * g), (-2 * g, 2 * g)],
            [[(-g, -g), (g, -g), (g, g), (-g, g)]],
        ),
    }
    rows = [
        {"poly_id": k, "kind": k, "geom_wkb": wkb.encode_polygon(outer, holes)}
        for k, (outer, holes) in rings.items()
    ]
    synth_pdf = synth.polygons_pdf(16)
    picked = synth_pdf[synth_pdf.kind.isin(["holed", "concave"])]
    return pd.concat(
        [pd.DataFrame(rows), picked[["poly_id", "kind", "geom_wkb"]]],
        ignore_index=True,
    )


def edge_points_pdf(polys_pdf):
    """Points on every sub-cell and cell border and centre over each
    polygon's envelope, on every vertex and edge midpoint (so on the
    horizontal and vertical edges), the ulp points of ``ulp`` and the
    out-of-domain points the ``beyond`` / ``u`` / ``south`` envelopes
    reach."""

    def half_steps(lo, hi, origin, bound):  # every W_SUB / 2 over [lo, hi]
        k0, k1 = np.floor((lo - origin) / W_SUB * 2), np.ceil((hi - origin) / W_SUB * 2)
        v = origin + np.arange(k0 - 1, k1 + 2) * (W_SUB / 2)
        return v[abs(v) <= bound]

    pts = set()
    for g in polys_pdf.geom_wkb:
        x0, y0, x1, y1 = wkb.envelope(bytes(g))
        ys = half_steps(y0, y1, -90.0, 90.0)
        pts.update((x, y) for x in half_steps(x0, x1, -180.0, 180.0) for y in ys)
        for r in wkb.polygon_rings(bytes(g)):
            pts.update(map(tuple, r.tolist()))
            pts.update(map(tuple, ((r + np.roll(r, -1, axis=0)) / 2).tolist()))
    p = np.nextafter(np.nextafter(W_SUB, np.inf), np.inf)
    pts.update([(p, 1.0), (1.0, p), (200.0, 10.0), (199.5, 37.0), (10.0, -95.0),
                (190.0, 0.5), (185.0, 5.0)])
    xy = np.array(sorted(pts))
    return pd.DataFrame({"i": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})


def test_pip_kernel_matches_scalar_oracle():
    polys = synth.polygons_pdf(32)
    imgs = synth.images_pdf(512)
    px, py = imgs.lon.values, imgs.lat.values
    for p in polys.itertuples(index=False):
        g = bytes(p.geom_wkb)
        fast = geom.points_in_wkb(px, py, g)
        rings = wkb.polygon_rings(g)
        slow = np.array([scalar_pip(x, y, rings) for x, y in zip(px, py)])
        np.testing.assert_array_equal(fast, slow, err_msg=p.poly_id)


def test_hole_and_concave_semantics():
    polys = synth.polygons_pdf(32)
    holed = polys[polys.kind == "holed"].iloc[0]
    rings = wkb.polygon_rings(bytes(holed.geom_wkb))
    outer, inner = rings
    cx = outer[:, 0].mean()
    cy = outer[:, 1].mean()
    # centroid is inside the hole -> outside by even-odd
    assert not geom.points_in_wkb([cx], [cy], bytes(holed.geom_wkb))[0]
    # a point between outer and inner ring is inside
    edge_x = (outer[:, 0].min() + inner[:, 0].min()) / 2
    assert geom.points_in_wkb([edge_x], [cy], bytes(holed.geom_wkb))[0]


def test_polygon_cells_is_the_join_zoom_cover(spark):
    """The Catalyst cover equals geom.covering_cells_geodetic at
    JOIN_ZOOM per polygon on the 2048-polygon layer, and it is a
    superset of what the join needs: every point the scalar oracle
    puts inside a polygon has its JOIN_ZOOM cell in that polygon's
    cover."""
    polys_pdf = synth.polygons_pdf(2048)
    got = {}
    for r in polygon_cells(synth.polygons_df(spark, 2048)).collect():
        got.setdefault(r.poly_id, set()).add(r.cell_id)
    want = {
        p.poly_id: set(geom.covering_cells_geodetic(bytes(p.geom_wkb), JOIN_ZOOM))
        for p in polys_pdf.itertuples(index=False)
    }
    assert got == want

    imgs = synth.images_pdf(1024)
    tx, ty = grid.lonlat_to_tile_geodetic(imgs.lon.values, imgs.lat.values, JOIN_ZOOM)
    point_cell = dict(zip(imgs.i, grid.pack_cell(JOIN_ZOOM, tx, ty)))
    inside = expected_pairs(imgs, polys_pdf)
    assert len(inside) > 0
    for i, poly_id in inside:
        assert point_cell[i] in want[poly_id], (i, poly_id)


def tuple_rings(geom_wkb):
    """Rings as lists of tuples, so scalar_pip runs on plain floats."""
    return [list(map(tuple, r.tolist())) for r in wkb.polygon_rings(bytes(geom_wkb))]


def test_sub_cell_masks_match_scalar_oracle(spark):
    """Every shortcut the prepared join takes agrees with scalar_pip.

    On the 2048-polygon layer, a sub-cell's inside bit means scalar_pip
    is true on a 3 x 3 lattice over it (corners included), and a bit
    that is neither inside nor boundary means it is false there. On
    ``edge_layer_pdf``, for every point of ``edge_points_pdf`` inside a
    cover row's envelope, in the cell and sub-cell the probe assigns
    it: a row moved to the rectangle table means inside, a dropped row
    means outside, and a geom row's set bit (not boundary) means the
    inside bit."""
    bits = np.arange(SUB_N)
    sy, sx = np.divmod(bits, SUB)
    rings = {
        p.poly_id: tuple_rings(p.geom_wkb)
        for p in synth.polygons_pdf(2048).itertuples(index=False)
    }
    rows = (
        polygon_cells(synth.polygons_df(spark, 2048))
        .filter("NOT is_rect")
        .select("poly_id", "cell_id", "sub_in", "sub_edge")
        .toPandas()
    )
    assert rows.sub_in.notna().all() and rows.sub_edge.notna().all()
    n_in = n_out = 0
    for poly_id, g in rows.groupby("poly_id"):
        _, tx, ty = grid.unpack_cell(g.cell_id.values)
        tx0, ty0 = tx.min(), ty.min()
        # every corner, edge midpoint and centre of the polygon's sub-cells
        nx, ny = 2 * (tx.max() - tx0 + 1) * SUB + 1, 2 * (ty.max() - ty0 + 1) * SUB + 1
        xs = -180.0 + (tx0 * SUB + np.arange(nx) / 2) * W_SUB
        ys = -90.0 + (ty0 * SUB + np.arange(ny) / 2) * W_SUB
        inside = np.array([[scalar_pip(x, y, rings[poly_id]) for x in xs] for y in ys])
        lattice = sliding_window_view(inside, (3, 3))[::2, ::2]
        all_in, all_out = lattice.all(axis=(2, 3)), ~lattice.any(axis=(2, 3))
        for cx, cy, m_in, m_edge in zip(tx, ty, g.sub_in, g.sub_edge):
            j, i = (cy - ty0) * SUB + sy, (cx - tx0) * SUB + sx
            b_in, b_out = (m_in >> bits) & 1 == 1, ((m_in | m_edge) >> bits) & 1 == 0
            assert all_in[j, i][b_in].all(), (poly_id, cx, cy)
            assert all_out[j, i][b_out].all(), (poly_id, cx, cy)
            n_in, n_out = n_in + b_in.sum(), n_out + b_out.sum()
    assert n_in > 0 and n_out > 0

    polys_pdf = edge_layer_pdf()
    rings = {p.poly_id: tuple_rings(p.geom_wkb) for p in polys_pdf.itertuples()}
    prep = prepare_spatial_join(spark.createDataFrame(polys_pdf), poly_cols=["poly_id"])
    rect = {(r.poly_id, r.cell_id) for r in prep.rect_cells.collect()}
    geom_rows = {
        (r.poly_id, r.cell_id): (r.sub_in, r.sub_edge)
        for r in prep.geom_cells.collect()
    }
    pts = point_cells(spark.createDataFrame(edge_points_pdf(polys_pdf)), ["i"])
    cand = pts.join(prep.all_cells, "cell_id").filter(
        "lon BETWEEN env_x0 AND env_x1 AND lat BETWEEN env_y0 AND env_y1"
    )
    kinds = set()
    for r in cand.select("poly_id", "cell_id", "lon", "lat", "sub_bit").collect():
        key = (r.poly_id, r.cell_id)
        inside = scalar_pip(r.lon, r.lat, rings[r.poly_id])
        if key in rect:
            kinds.add("moved")
            assert inside, r
        elif key not in geom_rows:
            kinds.add("dropped")
            assert not inside, r
        elif r.sub_bit is not None and not geom_rows[key][1] & r.sub_bit:
            kinds.add("bit")
            assert inside == bool(geom_rows[key][0] & r.sub_bit), r
    assert kinds == {"moved", "dropped", "bit"}


def test_spatial_join_on_borders_equals_bruteforce(spark):
    """Points exactly on sub-cell and cell borders, on vertices and on
    horizontal and vertical edges, one ulp past the ``ulp`` polygon's
    edges and beyond the domain: the join equals the brute force and
    the scalar oracle, over ``edge_layer_pdf``'s holed, concave and
    out-of-domain polygons."""
    polys_pdf = edge_layer_pdf()
    pts_pdf = edge_points_pdf(polys_pdf)
    polys = spark.createDataFrame(polys_pdf)
    pts = spark.createDataFrame(pts_pdf)
    got = {
        (r.i, r.poly_id)
        for r in spatial_join(pts, polys, point_cols=["i"], poly_cols=["poly_id"]).collect()
    }
    brute = spatial_join_bruteforce(pts, polys, point_cols=["i"], poly_cols=["poly_id"])
    assert got == {(r.i, r.poly_id) for r in brute.collect()}
    assert got == expected_pairs(pts_pdf, polys_pdf)
    assert {p for _, p in got} == set(polys_pdf.poly_id)


def test_spatial_join_matches_bruteforce_and_oracle(spark):
    """The JVM refine equals the Arrow numpy kernel (brute force) and
    the scalar oracle bit for bit, on three scenes; the third has
    polygons larger than a z3 cell and one world-envelope box."""
    scenes = [
        (1024, synth.polygons_pdf(32)),
        (512, synth.polygons_pdf(64)),
        (512, world_layer_pdf()),
    ]
    for n_img, polys_pdf in scenes:
        imgs = synth.images_df(spark, n_img)
        polys = spark.createDataFrame(polys_pdf[["poly_id", "kind", "geom_wkb"]])

        joined = spatial_join(
            imgs, polys, point_cols=["i", "image_id"], poly_cols=["poly_id", "kind"]
        )
        got = {(r.i, r.poly_id) for r in joined.collect()}

        brute = spatial_join_bruteforce(
            imgs, polys, point_cols=["i"], poly_cols=["poly_id"]
        )
        got_brute = {(r.i, r.poly_id) for r in brute.collect()}
        assert got == got_brute

        exp = expected_pairs(synth.images_pdf(n_img), polys_pdf)
        assert got == exp
        assert len(exp) > 0  # non-degenerate scene


def test_bad_coordinates_get_a_cell_and_no_pair(spark):
    """NULL, NaN, +/-inf and out-of-domain coordinates: tile assignment
    raises nothing on either grid, and the join (whose world box
    covers every cell such a row can land in, and whose concave
    polygon touching lon 180 and L-shaped polygon past lon 180 send
    them to the ray cast) equals the brute force and pairs none of
    them."""
    inf, nan = float("inf"), float("nan")
    bad = [
        (None, 0.0), (0.0, None), (None, None), (nan, 0.0), (0.0, nan),
        (inf, 0.0), (-inf, 0.0), (0.0, inf), (0.0, -inf), (-inf, -inf),
        (200.0, 10.0), (10.0, -95.0),
    ]
    bad_df = spark.createDataFrame(
        [(-1 - j, lon, lat) for j, (lon, lat) in enumerate(bad)],
        "i long, lon double, lat double",
    )
    imgs = synth.images_df(spark, 256).select("i", "lon", "lat").unionByName(bad_df)
    for kind in ("mercator", "geodetic"):
        assert len(cells.assign_cells(imgs, 12, kind).collect()) == 256 + len(bad)

    edge = edge_layer_pdf()
    polys = spark.createDataFrame(
        pd.concat(
            [world_layer_pdf(), edge[edge.poly_id.isin(["c180", "beyond"])]],
            ignore_index=True,
        )
    )
    got = {
        (r.i, r.poly_id)
        for r in spatial_join(imgs, polys, point_cols=["i"], poly_cols=["poly_id"]).collect()
    }
    brute = spatial_join_bruteforce(imgs, polys, point_cols=["i"], poly_cols=["poly_id"])
    assert got == {(r.i, r.poly_id) for r in brute.collect()}
    assert len(got) > 0
    assert not [pair for pair in got if pair[0] < 0]


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_join_shuffle_path_equals_broadcast(spark, monkeypatch):
    """A cover above BROADCAST_MAX_ROWS is joined by shuffle, and the
    shuffle join finds the broadcast join's pairs. Spark's own size
    threshold is off in the shuffle arm, or it would broadcast the
    small checkpointed cover anyway."""
    imgs = synth.images_df(spark, 512)
    polys = synth.polygons_df(spark, 16)
    a = spatial_join(imgs, polys, point_cols=["i"], poly_cols=["poly_id"])
    want = {(r.i, r.poly_id) for r in a.collect()}
    assert "BroadcastHashJoin" in executed_plan(a)

    monkeypatch.setattr(spatial_join_mod, "BROADCAST_MAX_ROWS", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        b = spatial_join(imgs, polys, point_cols=["i"], poly_cols=["poly_id"])
        got = {(r.i, r.poly_id) for r in b.collect()}
        plan = executed_plan(b)  # AQE's final plan, after collection
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert got == want


def test_prepared_join_probe_matches_one_shot_and_is_reusable(spark):
    from gdal_spark.operators.spatial_join import prepare_spatial_join

    n_img, n_poly = 1024, 32
    imgs = synth.images_df(spark, n_img)
    polys = synth.polygons_df(spark, n_poly)
    one_shot = {
        (r.i, r.poly_id)
        for r in spatial_join(
            imgs, polys, point_cols=["i"], poly_cols=["poly_id"]
        ).collect()
    }

    prep = prepare_spatial_join(polys, poly_cols=["poly_id"], poly_count_hint=n_poly)
    # two probes against the same prepared layer: identical results,
    # and a second point batch reuses the cover without rebuilding it
    assert {
        (r.i, r.poly_id) for r in prep.probe(imgs, point_cols=["i"]).collect()
    } == one_shot
    assert {
        (r.i, r.poly_id) for r in prep.probe(imgs, point_cols=["i"]).collect()
    } == one_shot
    other = synth.images_df(spark, 256)
    exp = expected_pairs(synth.images_pdf(256), synth.polygons_pdf(n_poly))
    assert {
        (r.i, r.poly_id) for r in prep.probe(other, point_cols=["i"]).collect()
    } == exp
