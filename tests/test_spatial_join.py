"""Spatial join: cell-prefiltered join == brute force == independent
scalar oracle, across all polygon kinds (boxes, triangles, convex
k-gons, concave C, polygon-with-hole)."""

import numpy as np
import pandas as pd

from gdal_spark import geom, grid, synth, wkb
from gdal_spark.operators import cells
from gdal_spark.operators import spatial_join as spatial_join_mod
from gdal_spark.operators.spatial_join import (
    JOIN_ZOOM,
    polygon_cells,
    spatial_join,
    spatial_join_bruteforce,
)


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
    covers every cell such a row can land in) equals the brute force
    and pairs none of them."""
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

    polys = spark.createDataFrame(world_layer_pdf())
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
