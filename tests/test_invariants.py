"""BASELINE.json per-row invariants, asserted end-to-end:
decoded pixels exact (lossless) / PSNR >= 40 dB (lossy re-encode),
captions byte-equal through pipeline stages."""

import numpy as np

from gdal_spark import codecs, synth
from gdal_spark.operators import cells, warp


def test_lossy_roundtrip_psnr():
    for i in (1, 3, 7, 11):
        arr = codecs.make_pixels(i, 64, 100)
        dec = codecs.decode_image(codecs.encode_image(arr, "jpeg"))
        assert codecs.psnr(arr, dec) >= 40.0
        exact = codecs.decode_image(codecs.encode_image(arr, "png"))
        assert np.array_equal(exact, arr)


def test_warp_roundtrip_psnr(spark):
    """up-2x then down-2x through the Spark warp stage returns within
    the lossy PSNR gate of the original (nearest up + average down)."""
    imgs = synth.images_df(spark, 6, with_pixels=True)
    up = warp.warp_scale(imgs, 2.0, "near")
    down = warp.warp_scale(up, 0.5, "average").toPandas().set_index("image_id")
    meta = synth.images_pdf(6)
    for rec in meta.itertuples(index=False):
        orig = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(rec.i, rec.w, rec.h), rec.fmt)
        )
        got = codecs.decode_image(bytes(down.loc[rec.image_id].bytes))
        assert got.shape == orig.shape
        assert codecs.psnr(orig, got) >= 40.0


def test_caption_survives_pipeline(spark):
    imgs = synth.images_df(spark, 64)
    out = (
        cells.assign_cells(imgs, 12, "mercator")
        .select("image_id", "caption")
        .toPandas()
        .set_index("image_id")
    )
    meta = synth.images_pdf(64)
    for rec in meta.itertuples(index=False):
        assert out.loc[rec.image_id].caption == rec.caption
