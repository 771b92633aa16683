"""gdaldem focal ops: window features vs a naive per-pixel loop, and
the tiled halo-exchange path vs the single-array computation."""

import numpy as np

from gdal_spark.operators import dem


def naive_features(d):
    h, w = d.shape
    out = {k: np.zeros((h - 2, w - 2)) for k in
           ("slope", "aspect", "tri", "tpi", "rough", "shade")}
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            win = d[y - 1 : y + 2, x - 1 : x + 2].astype(np.float64)
            # afWin row-major: afWin[k] = value at
            # (x + k%3 - 1, y + k//3 - 1)  (apps/gdaldem_lib.cpp:567)
            w0, w1, w2 = win[0, 0], win[0, 1], win[0, 2]
            w3, w4, w5 = win[1, 0], win[1, 1], win[1, 2]
            w6, w7, w8 = win[2, 0], win[2, 1], win[2, 2]
            hx = (w0 + 2 * w3 + w6) - (w2 + 2 * w5 + w8)
            hy = (w6 + 2 * w7 + w8) - (w0 + 2 * w1 + w2)
            out["slope"][y - 1, x - 1] = np.arctan(np.hypot(hx, hy) / 8.0) / dem.DEG
            adx, ady = -hx, hy
            if adx == 0 and ady == 0:
                out["aspect"][y - 1, x - 1] = -9999.0
            else:
                a = np.arctan2(ady, -adx) / dem.DEG
                a = 450.0 - a if a > 90.0 else 90.0 - a
                out["aspect"][y - 1, x - 1] = 0.0 if a == 360.0 else a
            nb = [w0, w1, w2, w3, w5, w6, w7, w8]
            out["tri"][y - 1, x - 1] = sum(abs(v - w4) for v in nb) * 0.125
            out["tpi"][y - 1, x - 1] = w4 - sum(nb) * 0.125
            out["rough"][y - 1, x - 1] = max(nb + [w4]) - min(nb + [w4])
            gx, gy = hx * 1.0, hy * -1.0
            c254 = (dem.SIN_ALT_254 - (gy * dem.COS_AZ_COS_ALT_Z_254
                    - gx * dem.SIN_AZ_COS_ALT_Z_254)) / np.sqrt(
                1.0 + dem.SQUARE_Z * (gx * gx + gy * gy))
            out["shade"][y - 1, x - 1] = 1.0 if c254 <= 0 else 1.0 + c254
    return out


def test_window_features_vs_naive():
    rng = np.random.default_rng(3)
    d = rng.integers(0, 256, size=(12, 15)).astype(np.int64)
    got = dem.window_features(d)
    exp = naive_features(d)
    for k in exp:
        assert np.allclose(got[k], exp[k], atol=0, rtol=0), k


def test_focal_tiled_matches_single_array(spark):
    W = 64
    out = dem.focal_tiled(spark, W, W, tile_px=32).toPandas().set_index("y")
    gy, gx = np.mgrid[0:W, 0:W]
    vals = dem._dem_value(gx, gy)
    feats = dem.window_features(vals)
    for y in range(1, W - 1):
        row = out.loc[y]
        assert row.n == W - 2
        for k in ("slope", "tri", "tpi", "rough", "shade", "aspect"):
            exp = int(np.floor(feats[k][y - 1] * dem.SCALE_KEY).astype(np.int64).sum())
            assert row[f"{k}_sum"] == exp, (k, y)


def test_viewshed_los_basic():
    """Flat terrain: everything visible; a wall blocks what's behind."""
    import numpy as np

    from gdal_spark.operators import viewshed

    flat = np.zeros((20, 20), dtype=np.int64)
    assert viewshed.los_visible(flat, 10, 10, 0, 0)
    assert viewshed.los_visible(flat, 10, 10, 19, 19)
    wall = flat.copy()
    wall[10, 13] = 1000  # wall east of the observer (y=10, x=13)
    assert not viewshed.los_visible(wall, 10, 10, 18, 10)  # behind wall
    assert viewshed.los_visible(wall, 10, 10, 12, 10)  # in front of wall
    assert viewshed.los_visible(wall, 10, 10, 2, 10)  # other direction


def test_tri_riley_vs_naive_and_wilson():
    """Riley (gdaldem_lib.cpp:2619) vs a per-pixel loop; also checks
    it diverges from Wilson except where the window is flat."""
    rng = np.random.default_rng(7)
    d = rng.integers(0, 256, size=(10, 13)).astype(np.int64)
    w = {
        (dx, dy): d[1 + dy : d.shape[0] - 1 + dy, 1 + dx : d.shape[1] - 1 + dx].astype(np.float64)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    }
    c = w[(0, 0)]
    got = np.sqrt(sum((v - c) ** 2 for k, v in w.items() if k != (0, 0)))
    for y in range(1, d.shape[0] - 1):
        for x in range(1, d.shape[1] - 1):
            win = d[y - 1 : y + 2, x - 1 : x + 2].astype(np.float64)
            ctr = win[1, 1]
            ssq = (win - ctr) ** 2
            exp = np.sqrt(ssq.sum())  # center term is 0
            assert got[y - 1, x - 1] == exp
    wilson = dem.window_features(d)["tri"]
    assert (got >= wilson).all()  # RMS-like >= mean of |diff| * ... holds here


def test_hillshade_params_pyramid_golden():
    """Reference golden: gdaldem hillshade -s 111120 -z 100 -az 90 of
    the 100x100 pyramid DEM must match pyramid_shaded_ref.tif
    (autotest/utilities/test_gdaldem.py test_gdaldem_hillshade_azimuth,
    compare_ds tolerance maxdiff <= 1); interior compared — the
    reference leaves a 1-px edge ring at its no-computation value."""
    import numpy as np

    from gdal_spark.operators import dem as demmod
    from tests import tiffio
    from tests.conftest import reference_file

    ref = tiffio.read_tiff(reference_file(
        "/root/reference/autotest/utilities/data/pyramid_shaded_ref.tif"
    ))
    if ref.ndim == 3:
        ref = ref[:, :, 0]
    i, j = np.meshgrid(np.arange(100), np.arange(100), indexing="xy")
    dem_arr = 255 - 5 * np.maximum(np.abs(50 - i), np.abs(50 - j))
    shade = demmod.hillshade_params(
        dem_arr, z=100.0, scale=111120.0, az=90.0, alt=45.0,
        ewres=0.01, nsres=-0.01,
    )
    got = np.floor(shade.astype(np.float32) + 0.5).astype(np.int64)
    want = ref[1:99, 1:99].astype(np.int64)
    maxdiff = int(np.abs(got - want).max())
    assert maxdiff <= 1, maxdiff
