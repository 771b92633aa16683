"""Band stats / histogram / checksum — including bit parity of the
checksum with the reference's autotest golden (byte.tif -> 4672,
cited at autotest/gcore/tiff_read.py:44)."""

import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark import codecs, synth
from gdal_spark.operators import stats
from tests.conftest import reference_file


def read_tiny_tiff(path):
    """Minimal uncompressed single-strip TIFF reader (test-only)."""
    data = open(reference_file(path), "rb").read()
    bo = "<" if data[:2] == b"II" else ">"
    off = struct.unpack(bo + "I", data[4:8])[0]
    n = struct.unpack(bo + "H", data[off : off + 2])[0]
    tags = {}
    for k in range(n):
        e = data[off + 2 + 12 * k : off + 14 + 12 * k]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        tags[tag] = struct.unpack(bo + "I", e[8:12])[0]
    assert tags.get(259, 1) == 1, "compressed tiff not supported"
    w, h, strip = tags[256], tags[257], tags[273]
    return np.frombuffer(data, np.uint8, count=w * h, offset=strip).reshape(h, w)


def test_checksum_matches_reference_golden():
    arr = read_tiny_tiff("/root/reference/autotest/gcore/data/byte.tif")
    assert arr.shape == (20, 20)
    assert stats.gdal_checksum(arr) == 4672


def test_checksum_float_semantics():
    arr = read_tiny_tiff("/root/reference/autotest/gcore/data/byte.tif")
    # float conversion: +0.5 then floor -> same checksum for x.0 values
    assert stats.gdal_checksum(arr.astype(np.float32)) == 4672
    # 0.4 offsets floor back to the same ints
    assert stats.gdal_checksum(arr.astype(np.float64) + 0.4) == 4672


def test_band_stats_and_histogram(spark):
    imgs = synth.images_df(spark, 24, with_pixels=True)
    parts = stats.band_stats(imgs).toPandas()
    pdfmeta = synth.images_pdf(24)
    for rec in pdfmeta.itertuples(index=False):
        arr = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(rec.i, rec.w, rec.h), rec.fmt)
        ).astype(np.int64)
        mine = parts[parts.image_id == rec.image_id].sort_values("channel")
        assert len(mine) == 3
        for ch in range(3):
            row = mine.iloc[ch]
            v = arr[:, :, ch]
            assert row.n_px == v.size
            assert row.sum_v == v.sum()
            assert row.min_v == v.min() and row.max_v == v.max()

    fin = stats.finalize_stats(spark.createDataFrame(parts)).toPandas()
    assert len(fin) == 3 and (fin.n_px > 0).all()

    hist = stats.histogram(imgs).toPandas()
    tot = hist.groupby("image_id")["n"].sum()
    for rec in pdfmeta.itertuples(index=False):
        assert tot[rec.image_id] == rec.w * rec.h * 3


def test_checksums_df(spark):
    imgs = synth.images_df(spark, 8, with_pixels=True)
    cks = stats.checksums(imgs).toPandas()
    assert len(cks) == 24
    pdfmeta = synth.images_pdf(8)
    for rec in pdfmeta.itertuples(index=False):
        arr = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(rec.i, rec.w, rec.h), rec.fmt)
        )
        for ch in range(3):
            exp = stats.gdal_checksum(arr[:, :, ch])
            got = cks[(cks.image_id == rec.image_id) & (cks.channel == ch)].cks.iloc[0]
            assert got == exp


def test_checksum_signed_values():
    # C's truncated modulo: -8 % 7 == -1, then 5 % 11 == 5
    assert stats.gdal_checksum(np.array([[-8, 5]])) == 4
    # a negative running sum wraps like GDAL's "& 0xffff"
    assert stats.gdal_checksum(np.array([[-8]])) == 65535


def _pixel_table(band):
    """(x, y, w, val) rows of one 2-D band, row-major."""
    h, w = band.shape
    y, x = np.divmod(np.arange(h * w), w)
    return pd.DataFrame(
        {"x": x, "y": y, "w": w, "val": band.reshape(-1).astype(np.int64)}
    )


def test_checksum_sql_matches_gdal_checksum():
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.default_rng(12)
    sql = f"SELECT {stats.checksum_sql('val', 'y * w + x')} AS cks FROM px"
    # 37 wide: the prime cycle of 11 does not restart at each row
    for band in (
        rng.integers(0, 256, size=(23, 37), dtype=np.uint8),
        rng.integers(0, 256, size=(64, 64), dtype=np.uint8),
    ):
        con = duckdb.connect()
        con.register("px", _pixel_table(band))
        assert con.sql(sql).fetchone()[0] == stats.gdal_checksum(band)


def test_channel_checksums_one_row_per_channel(spark):
    rng = np.random.default_rng(5)
    arrs = {
        "a": rng.integers(0, 256, size=(23, 37, 3), dtype=np.uint8),
        "b": rng.integers(0, 256, size=(16, 16, 2), dtype=np.uint8),
    }
    df = spark.createDataFrame(
        [(k, bytearray(v.tobytes()), v.shape[0], v.shape[1], v.shape[2])
         for k, v in arrs.items()],
        "image_id string, raw binary, h int, w int, c int",
    )

    def unpack(raw, h, w, c):
        return np.frombuffer(bytes(raw), np.uint8).reshape(h, w, c)

    out = stats.channel_checksums(df, ["raw", "h", "w", "c"], unpack)
    assert out.schema.simpleString() == (
        "struct<image_id:string,channel:bigint,cks:bigint>"
    )
    got = {(r.image_id, r.channel): r.cks for r in out.collect()}
    assert got == {
        (k, ch): stats.gdal_checksum(v[:, :, ch])
        for k, v in arrs.items() for ch in range(v.shape[2])
    }
    # the same aggregate in Spark SQL over the pixel rows of one band
    band = arrs["a"][:, :, 1]
    sql = stats.checksum_sql("val", "y * w + x")
    px = spark.createDataFrame(_pixel_table(band))
    assert px.selectExpr(f"{sql} AS cks").first().cks == got[("a", 1)]
