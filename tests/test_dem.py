"""gdaldem focal ops: window features vs a naive per-pixel loop, the
tiled halo-exchange path vs the single-array computation, each SQL
twin vs its numpy kernel, and every DEM-family query vs its oracle."""

import sys
from pathlib import Path

import numpy as np
import pytest

from gdal_spark.operators import dem


def naive_features(d):
    hs = dem._hillshade(8.0)
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
            c254 = (hs.sin254 - (gy * hs.caz254 - gx * hs.saz254)) / np.sqrt(
                1.0 + hs.square_z * (gx * gx + gy * gy))
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


def _twin_windows():
    """11,197 3x3 uint8 windows: random, flat (every value), inclined
    planes (axis-aligned ones included, so hx or hy is zero) and random
    0/255 windows."""
    rng = np.random.default_rng(24)
    planes = [
        128 + a * np.arange(-1, 2)[None, :] + b * np.arange(-1, 2)[:, None]
        for a in range(-40, 41, 4)
        for b in range(-40, 41, 4)
    ]
    return np.concatenate([
        rng.integers(0, 256, size=(10_000, 3, 3)),
        np.broadcast_to(np.arange(256)[:, None, None], (256, 3, 3)),
        np.stack(planes),
        255 * rng.integers(0, 2, size=(500, 3, 3)),
    ]).astype(np.int64)


def _twin_oracle_keys(wins, alg, keys, aggs=""):
    """``dem._focal_oracle`` over a window source where each window is a
    3x3 raster with the one interior pixel (1, 1): its row sums are the
    window's floor keys."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("wins", pd.DataFrame(
        {"image_id": np.arange(len(wins)),
         **{f"w{j}": wins.reshape(len(wins), 9)[:, j] for j in range(9)}}))
    src = (
        "image_id, ",
        "SELECT image_id, 1 AS x0, 1 AS y0, "
        f"[{', '.join(f'w{j}' for j in range(9))}] AS win FROM wins",
        lambda xe, ye: f"win[({ye}) * 3 + ({xe}) + 1]",
    )
    out = con.execute(
        f"SELECT * FROM ({dem._focal_oracle(src, alg, keys, aggs)}) "
        f"ORDER BY image_id"
    ).fetchnumpy()
    assert (out["n"] == 1).all() and len(out["n"]) == len(wins)
    return {k: out[f"{k}_sum"] for k in keys}


def _floor_keys(v):
    return np.floor(v * dem.SCALE_KEY).astype(np.int64).ravel()


@pytest.mark.parametrize("alg", ["HORN", "ZT"])
@pytest.mark.parametrize("feature", sorted(dem.KERNELS))
def test_focal_sql_twin_matches_numpy(alg, feature):
    """Each gradient kernel's SQL twin, run in DuckDB through the focal
    oracle builder, against its numpy kernel: equal floor keys on every
    window. The query gates only compare Spark with DuckDB on shipped
    (algorithm, feature) pairs; this pins every pair."""
    wins = _twin_windows()
    a = getattr(dem, alg)
    kernel, twin = dem.KERNELS[feature]
    got = _twin_oracle_keys(wins, a, {feature: twin(a.div)})[feature]
    want = _floor_keys(kernel(*dem.gradient(wins, a)))
    assert (got == want).all(), int((got != want).sum())


def test_focal_sql_twin_matches_window_features():
    """The six Horn focal keys of the dem_images / dem_tiled oracles
    against ``window_features`` on the same windows."""
    wins = _twin_windows()
    got = _twin_oracle_keys(wins, dem.HORN, dem._FOCAL_KEYS,
                            dem._CENTER_AGGS)
    feats = dem.window_features(wins)
    for k in dem.FOCAL:
        want = _floor_keys(feats[k])
        assert (got[k] == want).all(), (k, int((got[k] != want).sum()))


def test_hillshade_params_defaults_are_the_gated_shade():
    """At its defaults the parameterized hillshade is bit-identical to
    the shade the dem_images query gates (one shade kernel)."""
    d = np.random.default_rng(0).integers(0, 256, size=(300, 300))
    assert np.array_equal(
        dem.hillshade_params(d), dem.window_features(d)["shade"]
    )


def test_dem_queries_match_oracles(spark):
    """Every gdaldem-family query against its DuckDB oracle on four
    synthetic images (both formats, 16 to 256 px) and a 40 x 40 global
    raster in 16-px tiles, through the oracle gate's own compare."""
    import duckdb

    from gdal_spark import synth
    from gdal_spark.operators import enhance

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import check_oracle

    n, max_i = 64, 4
    per_image = {
        "dem_images": (dem.focal_stats, dem.oracle_dem_images),
        "dem_tri_riley": (dem.tri_riley, dem.oracle_tri_riley),
        "dem_hillshade_variants": (
            dem.hillshade_variants, dem.oracle_hillshade_variants),
        "slope_percent": (dem.slope_percent_rows, dem.oracle_slope_percent),
        "slope_zt_percent": (
            dem.slope_zt_percent_rows, dem.oracle_slope_zt_percent),
        "hillshade_zt": (dem.hillshade_zt_rows, dem.oracle_hillshade_zt),
        "aspect_zt": (dem.aspect_zt_rows, dem.oracle_aspect_zt),
        "color_relief": (dem.color_relief, dem.oracle_color_relief),
        "color_relief_nearest": (
            dem.color_relief_nearest, dem.oracle_color_relief_nearest),
        "color_relief_exact": (
            dem.color_relief_exact, dem.oracle_color_relief_exact),
        "hsv_merge": (enhance.hsv_merge, enhance.oracle_hsv_merge),
    }
    imgs = synth.add_pixels(
        synth.images_df(spark, n).filter(f"i < {max_i}")
    ).cache()
    runs = {name: (op(imgs), oracle(n, max_i))
            for name, (op, oracle) in per_image.items()}
    runs["dem_tiled"] = (dem.focal_tiled(spark, 40, 40, tile_px=16),
                         dem.oracle_dem_tiled(40, 40))
    problems = {}
    for name, (sdf, sql) in runs.items():
        tbl = duckdb.sql(sql).fetch_arrow_table()
        got = sdf.toPandas()
        assert len(got) > 0, name
        problems[name] = check_oracle.compare(
            name, got, tbl.to_pandas(), {f.name: f.type for f in tbl.schema}
        )
    imgs.unpersist()
    assert not any(problems.values()), problems
