"""OGC TileMatrixSet JSON profile registry (tms.py registry()).

Mirrors gcore/tilematrixset.cpp parse validation and the
gdal2tiles.py:271-294 glob-registration mechanism; profile constants
are checked against the published OGC 17-083r2 annex values.
"""

import math

import pytest

from gdal_spark import tms

MPD = 6378137.0 * math.pi / 180.0  # meters per degree (spec value)


def test_registry_loads_expected_profiles():
    reg = tms.registry()
    for name in ("WebMercatorQuad", "WorldCRS84Quad", "GoogleCRS84Quad",
                 "Custom512"):
        assert name in reg, name


def test_published_level0_constants():
    # OGC 17-083r2 published scale denominators / resolutions
    wm = tms.lookup("WebMercatorQuad").matrices[0]
    assert wm.scale_denominator == pytest.approx(559082264.028717, abs=1e-5)
    assert wm.res == pytest.approx(156543.033928041, abs=1e-8)
    w84 = tms.lookup("WorldCRS84Quad").matrices[0]
    assert w84.scale_denominator == pytest.approx(279541132.014358, abs=1e-5)
    assert w84.res == pytest.approx(0.703125, abs=1e-12)  # deg/px
    g84 = tms.lookup("GoogleCRS84Quad").matrices[0]
    assert g84.scale_denominator == pytest.approx(559082264.028717, abs=1e-5)
    assert g84.res == pytest.approx(1.40625, abs=1e-12)


@pytest.mark.parametrize("name", sorted(tms.registry()))
def test_profile_self_consistency(name):
    """Every registered profile: decreasing scale series (validated on
    load), 0.28 mm/px convention, and corner points land on the
    corner tiles at every level."""
    prof = tms.lookup(name)
    last = float("inf")
    for m in prof.matrices:
        assert 0 < m.scale_denominator < last
        last = m.scale_denominator
        # 0.28 mm/px convention holds by construction
        assert m.res == pytest.approx(
            m.scale_denominator * 0.28e-3 / m.meters_per_unit, rel=1e-15
        )
        tlx, tly = m.top_left
        tx, ty = m.tile_of([tlx + m.res / 2], [tly - m.res / 2])
        assert (tx[0], ty[0]) == (0, 0)
        brx = tlx + m.res * m.tile_width * m.matrix_width
        bry = tly - m.res * m.tile_height * m.matrix_height
        tx, ty = m.tile_of([brx - m.res / 2], [bry + m.res / 2])
        c_last = m.coalesce_for_row(m.matrix_height - 1)
        want_tx = (m.matrix_width - 1) // c_last * c_last
        assert (tx[0], ty[0]) == (want_tx, m.matrix_height - 1)
        # out-of-matrix points clip (tilematrixset clamp convention);
        # a coalescing top row then snaps the clipped column
        tx, ty = m.tile_of([brx + 1e3], [tly + 1e3])
        c_top = m.coalesce_for_row(0)
        assert (tx[0], ty[0]) == ((m.matrix_width - 1) // c_top * c_top, 0)


@pytest.mark.parametrize("name", ["WebMercatorQuad", "WorldCRS84Quad",
                                  "GoogleCRS84Quad"])
def test_quad_profiles_halve_exactly(name):
    prof = tms.lookup(name)
    for a, b in zip(prof.matrices, prof.matrices[1:]):
        assert b.scale_denominator == pytest.approx(
            a.scale_denominator / 2.0, rel=1e-15
        )
        assert b.matrix_width == 2 * a.matrix_width
        assert b.matrix_height == 2 * a.matrix_height


def test_worldcrs84_shape():
    """WorldCRS84Quad is the 2x1 two-hemisphere pyramid with degree
    units (metersPerUnit via the geographic branch)."""
    prof = tms.lookup("WorldCRS84Quad")
    assert prof.crs_epsg == 4326
    m0 = prof.matrices[0]
    assert (m0.matrix_width, m0.matrix_height) == (2, 1)
    assert m0.meters_per_unit == pytest.approx(MPD, rel=1e-15)
    assert m0.top_left == (-180.0, 90.0)


def test_validation_rejects_bad_series():
    doc = {
        "id": "Bad",
        "crs": "http://www.opengis.net/def/crs/EPSG/0/3857",
        "tileMatrices": [
            {"id": "0", "scaleDenominator": 1e6,
             "topLeftCorner": [0, 0], "tileWidth": 256,
             "tileHeight": 256, "matrixWidth": 1, "matrixHeight": 1},
            {"id": "1", "scaleDenominator": 2e6,  # INCREASING
             "topLeftCorner": [0, 0], "tileWidth": 256,
             "tileHeight": 256, "matrixWidth": 2, "matrixHeight": 2},
        ],
    }
    with pytest.raises(tms.InvalidTileMatrixSet):
        tms.validate(tms.TileMatrixSet.from_json(doc))


def test_tms_registry_assign_counts(spark):
    """Level-0 WorldCRS84Quad splits the world at lon 0: synthetic
    images land in both hemisphere tiles and every tile index is
    inside the per-level matrix."""
    import __spark_entry__ as se

    df = se._q_tms_registry(spark, "/root/testdata/sf0.001").cache()
    prof = tms.lookup("WorldCRS84Quad")
    for lvl, m in enumerate(prof.matrices[:6]):
        rows = df.where(f"level = {lvl}").selectExpr(
            "min(tile_x)", "max(tile_x)", "min(tile_y)", "max(tile_y)"
        ).collect()[0]
        assert rows[0] >= 0 and rows[1] <= m.matrix_width - 1
        assert rows[2] >= 0 and rows[3] <= m.matrix_height - 1
    l0 = {r["tile_x"] for r in df.where("level = 0").collect()}
    assert l0 == {0, 1}


# --- variableMatrixWidth (TMS 2.0 polar coalescing; r5) ---------------


def test_vmw_coalesce_for_row():
    prof = tms.lookup("PolarCoalesceQuad")
    m = prof.matrices[3]  # 16x8
    assert m.coalesce_for_row(0) == 4
    assert m.coalesce_for_row(1) == 2
    assert m.coalesce_for_row(4) == 1
    assert m.coalesce_for_row(6) == 2
    assert m.coalesce_for_row(7) == 4


def test_vmw_tile_of_snaps_columns():
    import numpy as np

    m = tms.lookup("PolarCoalesceQuad").matrices[3]
    lons = np.linspace(-179.9, 179.9, 64)
    for lat, c in ((89.5, 4), (67.0, 2), (0.5, 1), (-89.5, 4)):
        tx, ty = m.tile_of(lons, np.full(64, lat))
        assert np.all(tx % c == 0), (lat, c)
        # snapping floors, never exceeds the unsnapped index
        base = np.clip(
            np.floor((lons - m.top_left[0]) / (m.res * m.tile_width)),
            0, m.matrix_width - 1,
        ).astype(np.int64)
        assert np.all(tx == (base // c) * c)


def test_vmw_sql_matches_numpy_via_duckdb():
    import duckdb
    import numpy as np

    m = tms.lookup("PolarCoalesceQuad").matrices[4]
    txs, tys = m.tile_sql_xy("lon", "lat")
    con = duckdb.connect()
    lons = np.linspace(-179.9, 179.9, 41)
    lats = np.linspace(-89.9, 89.9, 41)
    con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES " + ",".join(
        f"({lo!r}, {la!r})" for lo in lons for la in lats
    ) + ") t(lon, lat)")
    got = con.execute(
        f"SELECT {txs} AS tx, {tys} AS ty FROM pts"
    ).fetchnumpy()
    gx, gy = np.meshgrid(lons, lats, indexing="ij")
    etx, ety = m.tile_of(gx.ravel(), gy.ravel())
    assert np.array_equal(got["tx"], etx)
    assert np.array_equal(got["ty"], ety)


def test_vmw_overlapping_ranges_first_match_wins():
    """Rows 2-3 fall in both ranges; the first listed (coalesce 2)
    wins in tile_of, coalesce_for_row and tile_sql_xy alike."""
    import duckdb
    import numpy as np

    m = tms.TileMatrix(
        id="0", scale_denominator=1.0 / tms.OGC_PIXEL, top_left=(0.0, 8.0),
        tile_width=1, tile_height=1, matrix_width=16, matrix_height=8,
        variable_matrix_widths=((2, 0, 3), (4, 2, 5)),
    )
    gx, gy = np.meshgrid(
        np.arange(16) + 0.5, 8.0 - (np.arange(8) + 0.5), indexing="ij"
    )
    xs, ys = gx.ravel(), gy.ravel()
    tx, ty = m.tile_of(xs, ys)
    base = np.clip(
        np.floor((xs - m.top_left[0]) / (m.res * m.tile_width)),
        0, m.matrix_width - 1,
    ).astype(np.int64)
    coal = np.array([m.coalesce_for_row(int(r)) for r in ty])
    assert np.array_equal(tx, (base // coal) * coal)
    row2 = (ty == 2) & (base == 2)
    assert row2.any() and np.all(tx[row2] == 2)

    txs, tys = m.tile_sql_xy("x", "y")
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES " + ",".join(
        f"({x!r}, {y!r})" for x, y in zip(xs, ys)
    ) + ") t(x, y)")
    got = con.execute(f"SELECT {txs} AS tx, {tys} AS ty FROM pts").fetchnumpy()
    assert np.array_equal(got["tx"], tx)
    assert np.array_equal(got["ty"], ty)


def test_vmw_validation_rejects_nondividing_coalesce():
    doc = {
        "id": "BadVMW",
        "crs": "http://www.opengis.net/def/crs/EPSG/0/3857",
        "tileMatrices": [
            {"id": "0", "scaleDenominator": 1e6,
             "topLeftCorner": [0, 0], "tileWidth": 256,
             "tileHeight": 256, "matrixWidth": 6, "matrixHeight": 4,
             "variableMatrixWidths": [
                 {"coalesce": 4, "minTileRow": 0, "maxTileRow": 0}]},
        ],
    }
    with pytest.raises(tms.InvalidTileMatrixSet):
        tms.validate(tms.TileMatrixSet.from_json(doc))
