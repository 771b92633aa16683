"""Pansharpen / nearblack / fillnodata / IDW grid — kernel unit tests
plus distributed-vs-brute-force parity."""

import numpy as np
import pandas as pd

from gdal_spark.operators import raster_misc


def test_pansharpen_identity():
    """pan == pseudo-pan  =>  output == input."""
    rng = np.random.default_rng(5)
    ms = rng.integers(30, 220, size=(10, 12, 3)).astype(np.uint8)
    # make channels equal so pseudo == each channel == pan
    ms[:, :, 1] = ms[:, :, 0]
    ms[:, :, 2] = ms[:, :, 0]
    out = raster_misc.pansharpen_brovey(ms, ms[:, :, 0])
    assert np.array_equal(out, ms)


def test_pansharpen_scaling():
    """pan = 2 * pseudo  =>  output = clamp(2 * ms)."""
    ms = np.full((4, 4, 3), 60, dtype=np.uint8)
    out = raster_misc.pansharpen_brovey(ms, np.full((4, 4), 120, dtype=np.uint8))
    assert (out == 120).all()
    ms2 = np.full((4, 4, 3), 200, dtype=np.uint8)
    out2 = raster_misc.pansharpen_brovey(ms2, np.full((4, 4), 255, dtype=np.uint8))
    assert (out2 == 255).all()  # clamped


def test_fillnodata_simple():
    arr = np.full((9, 9), 100, dtype=np.uint8)
    arr[4, 4] = 0  # nodata hole
    out = raster_misc.fillnodata(arr, nodata=0)
    assert out[4, 4] == 100
    # gradient hole: filled value between neighbors
    g = np.tile(np.arange(10, 100, 10, dtype=np.uint8), (9, 1))
    g[4, 4] = 0
    out2 = raster_misc.fillnodata(g, nodata=0)
    assert 30 <= out2[4, 4] <= 70


def test_nearblack_collar_widths(spark):
    from gdal_spark import codecs

    arr = np.full((6, 10, 3), 200, dtype=np.uint8)
    arr[:, :2, :] = 3  # left collar 2px
    arr[:, -3:, :] = 5  # right collar 3px
    arr[2, :, :] = 4  # fully dark row
    pdf = pd.DataFrame(
        {"image_id": ["n1"], "bytes": [codecs.encode_image(arr, "png")]}
    )
    out = (
        raster_misc.nearblack_collar(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("y")
    )
    assert out.loc[0].left_trim == 2 and out.loc[0].right_trim == 3
    assert out.loc[2].left_trim == 10 and out.loc[2].right_trim == 10


def test_grid_idw_matches_bruteforce(spark, monkeypatch):
    monkeypatch.setattr(raster_misc, "BAND_PX", 8)  # two bands
    pts = pd.DataFrame(
        {"px": [2.0, 10.5], "py": [3.0, 12.0], "v": [50.0, 250.0]}
    )
    out = raster_misc.grid_idw(spark, pts, 16, 16).toPandas()
    out = out.set_index("y")
    gy, gx = np.mgrid[0:16, 0:16]
    num = np.zeros((16, 16))
    den = np.zeros((16, 16))
    exact = np.full((16, 16), np.nan)
    for x0, y0, v in pts.itertuples(index=False):
        d2 = (gx - x0) ** 2 + (gy - y0) ** 2
        exact[d2 == 0] = v
        # v / d2 (one fused division), NOT v * (1/d2): the impl and the
        # DuckDB oracle both divide directly, and the 1-ulp difference
        # of multiply-by-reciprocal can land exactly on a floor key
        # boundary (it did: y=9 key off by 1)
        num += np.where(d2 > 0, v / np.where(d2 == 0, 1, d2), 0.0)
        den += np.where(d2 > 0, 1.0 / np.where(d2 == 0, 1, d2), 0.0)
    vals = np.where(np.isnan(exact), num / den, exact)
    keys = np.floor(vals * 1000.0).astype(np.int64)
    for y in range(16):
        assert out.loc[y].val_sum_key == keys[y].sum()
