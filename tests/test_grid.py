"""Grid math vs golden values generated from the reference.

Golden tables below were produced by running the reference's
pure-Python grid classes directly (osgeo_utils/gdal2tiles.py —
GlobalMercator:337 LatLonToMeters:444 MetersToTile:495 TileBounds:501
GoogleTile:533 QuadTree:539 ZoomForPixelSize:525; GlobalGeodetic:556
LonLatToTile:620 TileBounds:639) over a fixed probe list, then checked
in as literals. Our implementation is a fresh numpy derivation; these
tests pin exact agreement (tile ids exact, bounds to 1e-9 m).
"""

import itertools

import numpy as np
import pytest

from gdal_spark import grid

PROBES = [
    (-122.42, 37.77),
    (11.3, 48.2),
    (139.69, 35.69),
    (-0.1, 51.5),
    (151.2, -33.86),
    (-180.0, -85.0),
    (179.999, 84.9),
]

# (zoom, lon, lat, tx_tms, ty_tms, ty_google, quadkey, bounds_minx, bounds_maxy)
MERC_GOLDEN = [
    (0, -122.42, 37.77, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (0, 11.3, 48.2, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (0, 139.69, 35.69, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (0, -0.1, 51.5, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (0, 151.2, -33.86, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (0, -180.0, -85.0, -1, 0, 0, "", -60112525.02836773, 20037508.342789244),
    (0, 179.999, 84.9, 0, 0, 0, "", -20037508.342789244, 20037508.342789244),
    (3, -122.42, 37.77, 1, 4, 3, "023", -15028131.257091932, 5009377.085697312),
    (3, 11.3, 48.2, 4, 5, 2, "120", 0.0, 10018754.17139462),
    (3, 139.69, 35.69, 7, 4, 3, "133", 15028131.257091936, 5009377.085697312),
    (3, -0.1, 51.5, 3, 5, 2, "031", -5009377.085697312, 10018754.17139462),
    (3, 151.2, -33.86, 7, 3, 4, "311", 15028131.257091936, 0.0),
    (3, -180.0, -85.0, -1, 0, 7, "333", -25046885.428486556, -15028131.257091932),
    (3, 179.999, 84.9, 7, 7, 0, "111", 15028131.257091936, 20037508.342789244),
    (7, -122.42, 37.77, 20, 78, 49, "0230102", -13775786.985667605, 4696291.017841227),
    (7, 11.3, 48.2, 68, 83, 44, "1202300", 1252344.271424327, 6261721.357121639),
    (7, 139.69, 35.69, 113, 77, 50, "1330021", 15341217.324948017, 4383204.9499851465),
    (7, -0.1, 51.5, 63, 85, 42, "0313131", -313086.06785608083, 6887893.492833804),
    (7, 151.2, -33.86, 117, 51, 76, "3112301", 16593561.59637234, -3757032.814272983),
    (7, -180.0, -85.0, -1, 0, 127, "3333333", -20350594.410645325, -19724422.274933163),
    (7, 179.999, 84.9, 127, 127, 0, "1111111", 19724422.274933163, 20037508.342789244),
    (12, -122.42, 37.77, 655, 2512, 1583, "023010203333", -13629027.891360067, 4549531.923533689),
    (12, 11.3, 48.2, 2176, 2675, 1420, "120230002200", 1252344.271424327, 6144314.081675608),
    (12, 139.69, 35.69, 3637, 2483, 1612, "133002112301", 15546680.056978572, 4265797.674539115),
    (12, -0.1, 51.5, 2046, 2733, 1362, "031313131130", -19567.879241004586, 6711782.579664756),
    (12, 151.2, -33.86, 3768, 1638, 2457, "311230133002", 16828376.147264402, -4001631.304785548),
    (12, -180.0, -85.0, -1, 6, 4089, "333333333113", -20047292.282409746, -19969020.765445724),
    (12, 179.999, 84.9, 4095, 4076, 19, "111111131133", 20027724.40316874, 19851613.489999693),
]

# (zoom, lon, lat, tx, ty, bounds_minx, bounds_miny)
GEO_GOLDEN_TMS = [
    (0, -122.42, 37.77, 0, 0, -180.0, -90.0),
    (0, 11.3, 48.2, 1, 0, 0.0, -90.0),
    (0, 139.69, 35.69, 1, 0, 0.0, -90.0),
    (0, -0.1, 51.5, 0, 0, -180.0, -90.0),
    (0, 151.2, -33.86, 1, 0, 0.0, -90.0),
    (0, -180.0, -85.0, -1, 0, -360.0, -90.0),
    (0, 179.999, 84.9, 1, 0, 0.0, -90.0),
    (3, -122.42, 37.77, 2, 5, -135.0, 22.5),
    (3, 11.3, 48.2, 8, 6, 0.0, 45.0),
    (3, 139.69, 35.69, 14, 5, 135.0, 22.5),
    (3, -0.1, 51.5, 7, 6, -22.5, 45.0),
    (3, 151.2, -33.86, 14, 2, 135.0, -45.0),
    (3, -180.0, -85.0, -1, 0, -202.5, -90.0),
    (3, 179.999, 84.9, 15, 7, 157.5, 67.5),
    (7, -122.42, 37.77, 40, 90, -123.75, 36.5625),
    (7, 11.3, 48.2, 136, 98, 11.25, 47.8125),
    (7, 139.69, 35.69, 227, 89, 139.21875, 35.15625),
    (7, -0.1, 51.5, 127, 100, -1.40625, 50.625),
    (7, 151.2, -33.86, 235, 39, 150.46875, -35.15625),
    (7, -180.0, -85.0, -1, 3, -181.40625, -85.78125),
    (7, 179.999, 84.9, 255, 124, 178.59375, 84.375),
    (12, -122.42, 37.77, 1310, 2907, -122.431640625, 37.7490234375),
    (12, 11.3, 48.2, 4353, 3144, 11.2939453125, 48.1640625),
    (12, 139.69, 35.69, 7274, 2860, 139.658203125, 35.68359375),
    (12, -0.1, 51.5, 4093, 3219, -0.1318359375, 51.4599609375),
    (12, 151.2, -33.86, 7536, 1277, 151.171875, -33.8818359375),
    (12, -180.0, -85.0, -1, 113, -180.0439453125, -85.0341796875),
    (12, 179.999, 84.9, 8191, 3979, 179.9560546875, 84.8583984375),
]

GEO_GOLDEN_DEFAULT = [
    (0, -122.42, 37.77, 0, 0, -180.0, -90.0),
    (0, 11.3, 48.2, 0, 0, -180.0, -90.0),
    (3, -122.42, 37.77, 1, 2, -135.0, 0.0),
    (3, 11.3, 48.2, 4, 3, 0.0, 45.0),
    (3, 151.2, -33.86, 7, 1, 135.0, -45.0),
    (7, -122.42, 37.77, 20, 45, -123.75, 36.5625),
    (7, 151.2, -33.86, 117, 19, 149.0625, -36.5625),
    (12, -122.42, 37.77, 655, 1453, -122.431640625, 37.705078125),
    (12, 11.3, 48.2, 2176, 1572, 11.25, 48.1640625),
    (12, 139.69, 35.69, 3637, 1430, 139.658203125, 35.68359375),
    (12, -0.1, 51.5, 2046, 1609, -0.17578125, 51.416015625),
    (12, 151.2, -33.86, 3768, 638, 151.171875, -33.92578125),
    (12, 179.999, 84.9, 4095, 1989, 179.912109375, 84.814453125),
]

# reference LatLonToMeters exact doubles
METERS_GOLDEN = [
    (-122.42, 37.77, -13627732.062912552, 4546985.28443041),
    (11.3, 48.2, 1257910.2459639916, 6140192.439289727),
    (139.69, 35.69, 15550219.668912387, 4258049.26280972),
]

ZFP_GOLDEN = [(200000.0, 0), (156543.03, 0), (1000.0, 7), (10.0, 13), (0.3, 18)]


def test_initial_resolution():
    assert grid.INITIAL_RESOLUTION == pytest.approx(156543.03392804097, abs=1e-8)


def test_lonlat_to_meters_exact():
    for lon, lat, mx, my in METERS_GOLDEN:
        gx, gy = grid.lonlat_to_meters(lon, lat)
        assert float(gx) == pytest.approx(mx, abs=1e-7)
        assert float(gy) == pytest.approx(my, abs=1e-7)


def test_meters_roundtrip():
    lons = np.array([p[0] for p in PROBES])
    lats = np.array([p[1] for p in PROBES])
    mx, my = grid.lonlat_to_meters(lons, lats)
    lon2, lat2 = grid.meters_to_lonlat(mx, my)
    np.testing.assert_allclose(lon2, lons, atol=1e-9)
    np.testing.assert_allclose(lat2, lats, atol=1e-9)


def test_merc_tiles_match_reference():
    for z, lon, lat, etx, ety, egy, eqk, eminx, emaxy in MERC_GOLDEN:
        tx, ty = grid.lonlat_to_tile_merc([lon], [lat], z, clip=False)
        assert int(tx[0]) == etx, (z, lon, lat)
        assert int(ty[0]) == ety, (z, lon, lat)
        gy = grid.tms_to_xyz_y(ty, z)
        assert int(gy[0]) == egy
        qk = grid.quadkey(tx, ty, z)
        assert qk[0] == eqk
        minx, miny, maxx, maxy = grid.tile_bounds_merc(tx, ty, z)
        assert float(minx[0]) == pytest.approx(eminx, abs=1e-6)
        assert float(maxy[0]) == pytest.approx(emaxy, abs=1e-6)


def test_geodetic_tiles_match_reference():
    for z, lon, lat, etx, ety, eminx, eminy in GEO_GOLDEN_TMS:
        tx, ty = grid.lonlat_to_tile_geodetic([lon], [lat], z, clip=False)
        assert (int(tx[0]), int(ty[0])) == (etx, ety), (z, lon, lat)
        minx, miny, _, _ = grid.tile_bounds_geodetic(tx, ty, z)
        assert float(minx[0]) == pytest.approx(eminx, abs=1e-9)
        assert float(miny[0]) == pytest.approx(eminy, abs=1e-9)
    for z, lon, lat, etx, ety, eminx, eminy in GEO_GOLDEN_DEFAULT:
        tx, ty = grid.lonlat_to_tile_geodetic(
            [lon], [lat], z, clip=False, tms_compatible=False
        )
        assert (int(tx[0]), int(ty[0])) == (etx, ety), (z, lon, lat)
        minx, miny, _, _ = grid.tile_bounds_geodetic(tx, ty, z, tms_compatible=False)
        assert float(minx[0]) == pytest.approx(eminx, abs=1e-9)
        assert float(miny[0]) == pytest.approx(eminy, abs=1e-9)


def test_zoom_for_pixel_size():
    for ps, expected in ZFP_GOLDEN:
        assert grid.merc_zoom_for_pixel_size(ps) == expected


def test_cell_pack_roundtrip():
    rng = np.random.default_rng(42)
    z = rng.integers(0, 29, 1000)
    x = np.array([rng.integers(0, 2**zz) for zz in z], dtype=np.int64)
    y = np.array([rng.integers(0, 2**zz) for zz in z], dtype=np.int64)
    cid = grid.pack_cell(z, x, y)
    z2, x2, y2 = grid.unpack_cell(cid)
    np.testing.assert_array_equal(z2, z)
    np.testing.assert_array_equal(x2, x)
    np.testing.assert_array_equal(y2, y)
    # parents halve coordinates
    parent = grid.cell_parent(cid[z > 0])
    pz, px, py = grid.unpack_cell(parent)
    np.testing.assert_array_equal(pz, z[z > 0] - 1)
    np.testing.assert_array_equal(px, x[z > 0] >> 1)


def test_cell_prefixes_are_ancestors():
    tx, ty = grid.lonlat_to_tile_merc([11.3], [48.2], 12)
    prefixes = grid.cell_prefixes(12, tx, ty, min_zoom=0)
    assert len(prefixes) == 13
    z, x, y = grid.unpack_cell(prefixes[0][0])
    assert int(z) == 12
    # last prefix is the zoom-0 root
    z, x, y = grid.unpack_cell(prefixes[-1][0])
    assert (int(z), int(x), int(y)) == (0, 0, 0)


def test_assign_cells_sql_matches_numpy_reference(spark):
    """The runtime tile assignment (Catalyst expressions) equals the
    numpy encoders above row for row: synth image rows plus finite
    edge points — the antimeridian, the mercator latitude limit and
    exact tile boundaries on both grids — at z12, z8 and the PIP
    join's z6."""
    from gdal_spark import synth
    from gdal_spark.operators import cells

    edge_lon = [-180.0, 180.0]
    edge_lat = [-85.0511, 85.0511, -grid.MERC_MAX_LAT, grid.MERC_MAX_LAT]
    for z in (6, 8, 12):
        n = 2**z
        k = np.arange(0, n + 1, n // 16)
        # geodetic x boundaries (2n tiles); every other one is mercator's
        edge_lon += (-180.0 + 180.0 * k / n).tolist()
        edge_lat += (-90.0 + 180.0 * k / n).tolist()  # geodetic y
        miny = grid.tile_bounds_merc(0, k, z)[1]
        edge_lat += grid.meters_to_lonlat(0.0, miny)[1].tolist()  # mercator y
    edge_lat = [v for v in edge_lat if abs(v) <= grid.MERC_MAX_LAT]
    pts = [(lon, 0.0) for lon in edge_lon] + [(0.0, lat) for lat in edge_lat]
    pts += [(lon, lat) for lon in (-180.0, 180.0) for lat in (-85.0511, 85.0511)]
    edge = spark.createDataFrame(
        [(-1 - j, lon, lat) for j, (lon, lat) in enumerate(pts)],
        "i long, lon double, lat double",
    )
    rows = synth.images_df(spark, 4096).select("i", "lon", "lat").unionByName(edge)

    encode = {
        "mercator": grid.lonlat_to_tile_merc,
        "geodetic": grid.lonlat_to_tile_geodetic,
    }
    # engine="pandas" runs these same encoders in a UDF: checks its plumbing
    for engine, kind, z in itertools.product(("sql", "pandas"), encode, (12, 8, 6)):
        got = cells.assign_cells(rows, z, kind, engine=engine).toPandas()
        tx, ty = encode[kind](got["lon"].values, got["lat"].values, z)
        msg = f"{engine} {kind} z{z}"
        np.testing.assert_array_equal(got["tile_x"].values, tx, err_msg=msg)
        np.testing.assert_array_equal(got["tile_y"].values, ty, err_msg=msg)
        np.testing.assert_array_equal(
            got["cell_id"].values, grid.pack_cell(z, tx, ty), err_msg=msg
        )


def test_grid_metrics_vs_brute_force(spark):
    """grid_metrics scanline aggregates equal a direct numpy
    recomputation (independent of the banded applyInPandas path)."""
    import pandas as pd

    from gdal_spark.operators import raster_misc

    pts = pd.DataFrame(raster_misc.GRID_POINTS)
    got = (
        raster_misc.grid_metrics(spark, pts, 48, 40)
        .toPandas()
        .sort_values("y")
        .reset_index(drop=True)
    )
    px = pts["px"].to_numpy()
    py = pts["py"].to_numpy()
    pv = pts["v"].to_numpy()
    r2 = raster_misc.GRID_AVG_RADIUS ** 2
    gy, gx = np.mgrid[0:40, 0:48]
    d2 = (gx[..., None] - px) ** 2 + (gy[..., None] - py) ** 2
    inside = d2 <= r2
    cnt = inside.sum(axis=2)
    cov = cnt > 0
    vmin = np.where(cov, np.where(inside, pv, np.inf).min(axis=2), 0.0)
    vmax = np.where(cov, np.where(inside, pv, -np.inf).max(axis=2), 0.0)
    avgd = np.where(
        cov, np.where(inside, np.sqrt(d2), 0.0).sum(axis=2) / np.maximum(cnt, 1), 0.0
    )
    k6 = lambda a: np.floor(a * 1e6 + 5e-4).astype(np.int64)
    assert (got["n_covered"].to_numpy() == cov.sum(axis=1)).all()
    assert (got["cnt_sum"].to_numpy() == cnt.sum(axis=1)).all()
    assert (got["min_sum_key"].to_numpy() == k6(vmin).sum(axis=1)).all()
    assert (got["max_sum_key"].to_numpy() == k6(vmax).sum(axis=1)).all()
    assert (got["rng_sum_key"].to_numpy() == k6(vmax - vmin).sum(axis=1)).all()
    assert (got["avgdist_sum_key"].to_numpy() == k6(avgd).sum(axis=1)).all()


def test_simplify_roundtrip_strips_exactly_added_vertices(spark):
    """DP(0.05) after segmentize(1.5) returns the original vertex
    count on every rect-cornered kind (the closed-form oracle claim)."""
    from gdal_spark import synth as sy
    from gdal_spark.operators import vector_ops

    polys = sy.polygons_df(spark, 96).filter(
        "kind IN ('box', 'triangle', 'concave', 'holed')"
    )
    out = vector_ops.simplify_roundtrip_counts(polys, 1.5, 0.05).toPandas()
    kinds = sy.polygons_pdf(96).set_index("poly_id")["kind"]
    want = {"box": 4, "triangle": 3, "concave": 8, "holed": 4}
    for _, row in out.iterrows():
        assert row["n_after"] == want[kinds[row["poly_id"]]]
        assert row["n_before"] > row["n_after"]
