"""Spark warp operator stages: scale warp round-trips + mercator
reprojection invariants (the kernel math itself is golden-verified in
test_warp.py against the reference's autotest fixtures)."""

import numpy as np

from gdal_spark import codecs, grid, resample, synth
from gdal_spark import srs as srs_mod
from gdal_spark.operators import warp


def test_warp_scale_near_up2_matches_numpy(spark):
    imgs = synth.images_df(spark, 6, with_pixels=True)
    out = warp.warp_scale(imgs, 2.0, "near").toPandas().set_index("image_id")
    meta = synth.images_pdf(6)
    for rec in meta.itertuples(index=False):
        src = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(rec.i, rec.w, rec.h), rec.fmt)
        )
        row = out.loc[rec.image_id]
        assert row.w == 2 * rec.w and row.h == 2 * rec.h
        got = codecs.decode_image(bytes(row.bytes))
        # nearest 2x upsample = pixel duplication
        exp = np.repeat(np.repeat(src, 2, axis=0), 2, axis=1)
        assert np.array_equal(got, exp)


def test_warp_scale_avg_down2_matches_numpy(spark):
    imgs = synth.images_df(spark, 4, with_pixels=True)
    out = warp.warp_scale(imgs, 0.5, "average").toPandas().set_index("image_id")
    meta = synth.images_pdf(4)
    for rec in meta.itertuples(index=False):
        src = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(rec.i, rec.w, rec.h), rec.fmt)
        ).astype(np.int64)
        got = codecs.decode_image(bytes(out.loc[rec.image_id].bytes))
        s = src[0::2, 0::2] + src[1::2, 0::2] + src[0::2, 1::2] + src[1::2, 1::2]
        exp = ((s + 2) // 4).astype(np.uint8)
        assert np.array_equal(got, exp)


def test_reproject_constant_preserved(spark):
    """Any interpolating resampler preserves a constant field through
    the 4326->3857 transform."""
    import pandas as pd

    const = np.full((32, 32, 3), 137, dtype=np.uint8)
    pdf = pd.DataFrame(
        {
            "image_id": ["c1"],
            "bytes": [codecs.encode_image(const, "png")],
            "lon": [10.0],
            "lat": [45.0],
            "w": [32],
            "h": [32],
        }
    )
    df = spark.createDataFrame(pdf)
    for alg in ("near", "bilinear", "cubic", "lanczos"):
        out = warp.reproject_to_mercator(df, alg, dst_size=48).toPandas()
        got = codecs.decode_image(bytes(out.bytes.iloc[0]))
        assert got.shape[1] == 48
        assert (got == 137).all(), alg


def test_reproject_nearest_spot_check(spark):
    """Independent inverse-mapping check of a few output pixels."""
    import pandas as pd

    rng = (np.arange(24 * 24 * 3, dtype=np.int64) * 37 % 256).astype(
        np.uint8
    ).reshape(24, 24, 3)
    lon0, lat0 = 5.0, 40.0
    w = h = 24
    res = 0.1 / w
    pdf = pd.DataFrame(
        {
            "image_id": ["s1"],
            "bytes": [codecs.encode_image(rng, "png")],
            "lon": [lon0],
            "lat": [lat0],
            "w": [w],
            "h": [h],
        }
    )
    out = warp.reproject_to_mercator(
        spark.createDataFrame(pdf), "near", dst_size=32
    ).toPandas()
    row = out.iloc[0]
    got = codecs.decode_image(bytes(row.bytes))
    dst_gt = (row.gt0, row.gt1, 0.0, row.gt3, 0.0, row.gt5)
    for yd, xd in [(5, 7), (16, 20), (0, 0), (int(row.h) - 1, 31)]:
        mx, my = resample.apply_gt(dst_gt, xd + 0.5, yd + 0.5)
        lon, lat = grid.meters_to_lonlat(np.array([mx]), np.array([my]))
        sx = (lon[0] - lon0) / res
        sy = (lat0 - lat[0]) / res
        ix, iy = int(np.floor(sx + 1e-10)), int(np.floor(sy + 1e-10))
        if 0 <= ix < w and 0 <= iy < h:
            assert (got[yd, xd] == rng[iy, ix]).all()


def test_reproject_ps_constant_and_coverage(spark):
    """Polar-stereographic pixel path: a constant field warps to only
    {0 (outside footprint), constant}; the footprint covers most of
    its own bbox; both 3031 and 3413 paths run on any latitude."""
    import pandas as pd

    from gdal_spark.operators import reproject

    const = np.full((32, 32, 3), 142, dtype=np.uint8)
    for epsg, lat in ((3031, -55.0), (3413, 62.0), (3031, 48.3)):
        pdf = pd.DataFrame(
            {
                "image_id": [f"ps{epsg}"],
                "bytes": [codecs.encode_image(const, "png")],
                "lon": [11.3],
                "lat": [lat],
                "w": [32],
                "h": [32],
            }
        )
        out = reproject.reproject_ps(
            spark.createDataFrame(pdf), epsg=epsg
        ).toPandas()
        assert len(out) == 3  # 3 channels
        # recompute the warp locally and compare checksums
        p = srs_mod.PS_REGISTRY[epsg]
        res = 0.1 / 32
        src_gt = (11.3, res, 0.0, lat, 0.0, -res)
        dst_gt, dh, dw = reproject._suggest_grid(
            11.3, lat, 32, 32, lambda x, y: srs_mod.ps_forward(x, y, p), 32
        )
        warped = resample.warp_image(
            const, src_gt, dst_gt, (dh, dw), "near",
            lambda gx, gy: srs_mod.ps_inverse(gx, gy, p),
        )
        vals = set(np.unique(warped))
        assert vals <= {0, 142}, (epsg, vals)
        # far from the projection pole the footprint is a thin rotated
        # quad inside its own bbox — require substantial, not majority,
        # coverage
        assert (warped == 142).mean() > 0.25
        from gdal_spark.operators.stats import gdal_checksum

        for c in range(3):
            assert int(out[out.channel == c].cks.iloc[0]) == gdal_checksum(
                warped[:, :, c]
            )


def test_warp_rotated_area_and_values(spark):
    """Rotation preserves area: valid-pixel count within a perimeter
    band of w*h; spot pixels replay the inverse mapping in pure
    Python."""
    import numpy as np

    from gdal_spark import codecs, synth
    from gdal_spark.operators import warp

    imgs = synth.add_pixels(
        spark.sql(synth.images_cte(64, "spark")).filter("i < 3")
    )
    got = warp.warp_rotated_rows(imgs).toPandas()
    pdf = synth.images_pdf(3)
    for _, img in pdf.iterrows():
        w, h = int(img["w"]), int(img["h"])
        sub = got[got["image_id"] == img["image_id"]]
        ow, oh = warp._rot_dims(w, h)
        assert len(sub) == oh
        n_valid = sub["n_valid"].sum()
        assert abs(n_valid - w * h) <= 2 * (w + h) + 4
        arr = codecs.decode_image(
            codecs.encode_image(
                codecs.make_pixels(int(img["i"]), w, h), img["fmt"]
            )
        )
        # python replay of one mid scanline
        oy = oh // 2
        s = nv = 0
        for ox in range(ow):
            xc, yc = ox + 0.5, 0.6 * w - (oy + 0.5)
            ix = int(np.floor(0.8 * xc + 0.6 * yc))
            iy = int(np.floor(0.6 * xc - 0.8 * yc))
            if 0 <= ix < w and 0 <= iy < h:
                nv += 1
                s += int(arr[iy, ix, 0])
        row = sub[sub["oy"] == oy].iloc[0]
        assert row["n_valid"] == nv and row["row_sum"] == s
