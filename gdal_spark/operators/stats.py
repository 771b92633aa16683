"""Band statistics / histogram / GDAL checksum as DataFrame stages.

Reference semantics:
- ComputeStatistics / ComputeRasterMinMax: single-pass min/max/mean/
  stddev per band (gcore/gdalrasterband.cpp:5568, :4319). Spark shape:
  per-image partial moments in a vectorized decode UDF, exact final
  combine with built-in aggregates (classic partial+final, the same
  split GDAL's per-block loop makes).
- GetHistogram: bucketed pixel histogram (gcore/gdalrasterband.cpp:3306)
  -> per-image bincount partials, summed by built-in aggregation.
- GDALChecksumImage (alg/gdalchecksum.cpp:66-235): 16-bit golden
  checksum: for each pixel in row-major order,
  ``sum += val % primes[(y*w + x) % 11]``, masked to 0xffff; float
  data is converted via +0.5, floor, clip to int32 first (C truncated
  modulo). Bit-exact parity is pinned in tests against the autotest
  golden (byte.tif -> 4672, autotest/gcore/tiff_read.py:44).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .. import codecs
from .rowstage import per_row

CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def gdal_checksum(arr: np.ndarray) -> int:
    """GDAL-semantics 16-bit checksum of one band (2-D array)."""
    a = np.asarray(arr)
    if a.dtype.kind == "f":
        v = a.astype(np.float64) + 0.5
        nan = ~np.isfinite(v)
        v = np.clip(v, -2147483647.0, 2147483647.0)
        iv = np.floor(v).astype(np.int64)
        iv[nan] = -2147483648  # 0x80000000 as int32
    else:
        iv = a.astype(np.int64)
    flat = iv.reshape(-1)
    primes = CHECKSUM_PRIMES[np.arange(flat.size) % 11]
    # fmod is C's truncated modulo (the remainder keeps val's sign)
    return int(np.fmod(flat, primes).sum() % 65536)


def checksum_sql(val: str, pos: str) -> str:
    """``gdal_checksum`` as one SQL aggregate, valid in Spark and DuckDB:
    ``val`` is the integer pixel expression, ``pos`` its row-major index
    ``y * w + x`` in the band. The caller groups by band. ``val`` must be
    non-negative (Byte pixels are): SQL's ``%`` truncates, so a negative
    sum would not wrap into [0, 65536) the way GDAL's ``& 0xffff`` does."""
    whens = " ".join(
        f"WHEN {j} THEN {p}" for j, p in enumerate(CHECKSUM_PRIMES[:-1])
    )
    return (
        f"cast(sum({val} % (CASE (({pos}) % 11) {whens} "
        f"ELSE {CHECKSUM_PRIMES[-1]} END)) % 65536 as bigint)"
    )


def per_image(images: DataFrame, fn, schema: str) -> DataFrame:
    """``per_row`` over decoded images: ``fn(arr)`` yields output rows
    without the ``image_id``, which goes first."""
    return per_row(images, ["image_id", "bytes"], lambda i, b: (
        (i, *row) for row in fn(codecs.decode_image(bytes(b)))), schema)


def channel_checksums(df: DataFrame, cols, fn) -> DataFrame:
    """One ``(image_id, channel, cks)`` row per channel of ``fn(*row)``:
    a ``per_row`` over ``image_id`` + ``cols`` where ``fn`` takes one
    row's ``cols`` values and returns an H x W x C array."""

    def rows(image_id, *vals):
        out = fn(*vals)
        for ch in range(out.shape[2]):
            yield image_id, ch, gdal_checksum(out[:, :, ch])

    return per_row(df, ["image_id", *cols], rows,
                   "image_id string, channel bigint, cks bigint")


def band_stats(images: DataFrame, per_channel: bool = True) -> DataFrame:
    """Per-image(, per-channel) exact partial moments:
    (image_id, channel, n_px, sum_v, sum_sq, min_v, max_v).
    Combine to mean/stddev with ``finalize_stats``."""
    def fn(arr):
        a = arr.astype(np.int64)
        chans = range(a.shape[2]) if per_channel else [None]
        for ch in chans:
            v = a[:, :, ch] if ch is not None else a
            yield (
                -1 if ch is None else ch,
                int(v.size),
                int(v.sum()),
                int((v.astype(np.float64) ** 2).sum()),
                int(v.min()),
                int(v.max()),
            )

    schema = (
        "image_id string, channel int, n_px bigint, sum_v bigint, "
        "sum_sq bigint, min_v int, max_v int"
    )
    return per_image(images, fn, schema)


def band_stats_approx(images: DataFrame, step: int = 4) -> DataFrame:
    """Approximate statistics (the bApproxOK path of
    GDALRasterBand::ComputeStatistics, gcore/gdalrasterband.cpp:5568:
    with approx allowed GDAL decimates to a sample grid / overview
    instead of reading every pixel). Here: exact partial moments over
    the deterministic every-``step``-th pixel grid (x % step == 0 and
    y % step == 0) — at 100 TB this is the difference between reading
    1/step^2 of the bytes and all of them, with the same partial+final
    combine shape as the exact pass."""
    def fn(arr):
        a = arr.astype(np.int64)
        for ch in range(a.shape[2]):
            v = a[::step, ::step, ch]
            yield (
                ch,
                int(v.size),
                int(v.sum()),
                int((v.astype(np.float64) ** 2).sum()),
                int(v.min()),
                int(v.max()),
            )

    schema = (
        "image_id string, channel int, n_px bigint, sum_v bigint, "
        "sum_sq bigint, min_v int, max_v int"
    )
    return per_image(images, fn, schema)


def finalize_stats(partials: DataFrame, group_cols=("channel",)) -> DataFrame:
    """Final combine: exact global min/max/mean/stddev from partials
    (the reduce half of GDAL's per-block statistics loop)."""
    agg = partials.groupBy(*group_cols).agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    return agg.select(
        *group_cols,
        "n_px",
        "min_v",
        "max_v",
        (F.col("sum_v") / F.col("n_px")).alias("mean"),
        F.sqrt(
            F.col("sum_sq") / F.col("n_px")
            - (F.col("sum_v") / F.col("n_px")) ** 2
        ).alias("stddev"),
    )


def histogram(images: DataFrame, bins: int = 16) -> DataFrame:
    """Per-image histogram over all channels: (image_id, bin, n).
    256 must divide bins*step; bin = val >> shift."""
    shift = 8 - int(np.log2(bins))

    def fn(arr):
        counts = np.bincount((arr.reshape(-1) >> shift), minlength=bins)
        for b in range(bins):
            if counts[b]:
                yield (int(b), int(counts[b]))

    return per_image(images, fn, "image_id string, bin int, n bigint")


def checksums(images: DataFrame) -> DataFrame:
    """Per-image per-channel GDAL checksum: (image_id, channel, cks)."""
    return channel_checksums(
        images, ["bytes"], lambda b: codecs.decode_image(bytes(b))
    )


NODATA_DEFAULT = 2  # jpeg-quantized rasters hit it often, never fully


def band_stats_nodata(
    images: DataFrame, nodata: int = NODATA_DEFAULT
) -> DataFrame:
    """Per-image/channel exact moments EXCLUDING the nodata value —
    GDALRasterBand::ComputeStatistics' bGotNoDataValue branch
    (gcore/gdalrasterband.cpp: pixels equal to the band nodata are
    skipped from count/sum/min/max). Same partial shape as
    band_stats; n_px counts only valid pixels."""
    def fn(arr):
        a = arr.astype(np.int64)
        for ch in range(a.shape[2]):
            v = a[:, :, ch].reshape(-1)
            v = v[v != nodata]
            if v.size == 0:
                continue  # GDAL: CE_Failure, no stats row
            yield (
                ch,
                int(v.size),
                int(v.sum()),
                int((v.astype(np.float64) ** 2).sum()),
                int(v.min()),
                int(v.max()),
            )

    schema = (
        "image_id string, channel int, n_px bigint, sum_v bigint, "
        "sum_sq bigint, min_v int, max_v int"
    )
    return per_image(images, fn, schema)


def oracle_band_stats_nodata(
    n: int, max_i: int, nodata: int = NODATA_DEFAULT
) -> str:
    from .. import synth

    px = synth.pixels_cte(n, max_i, "duckdb")
    return (
        f"SELECT image_id, cast(ch as int) AS channel, "
        f"count(*) AS n_px, cast(sum(val) as bigint) AS sum_v, "
        f"cast(sum(val * val) as bigint) AS sum_sq, "
        f"cast(min(val) as int) AS min_v, cast(max(val) as int) AS max_v "
        f"FROM ({px}) WHERE val <> {nodata} GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# mask bands — GDALRasterBand::GetMaskBand / GetMaskFlags
# (gcore/gdalrasterband.cpp:6507, gdalnodatamaskband.cpp): when a
# dataset carries NODATA_VALUES metadata, the implicit mask band is
# 255 where the pixel tuple differs from the nodata tuple in ANY
# band, 0 where ALL bands equal it (GMF_NODATA | GMF_PER_DATASET).
# Map-only: one decode per image, the mask reduces to a checksum +
# valid count — zero shuffle at 10^12 rows. The nodata tuple here is
# the synth black-collar value (0, 0, 0), the same convention
# nearblack writes.


def mask_band(images: DataFrame, nodata=(0, 0, 0)) -> DataFrame:
    """(image_id, n_valid, mask_cks): GMF_NODATA implicit mask."""
    nd = np.array(nodata, dtype=np.int64)

    def fn(arr):
        a = arr.astype(np.int64)
        valid = (a != nd[None, None, :]).any(axis=2)
        mask = np.where(valid, 255, 0).astype(np.int64)
        yield (int(valid.sum()), gdal_checksum(mask))

    return per_image(
        images, fn, "image_id string, n_valid bigint, mask_cks bigint"
    )


def oracle_mask_band(n: int, max_i: int, nodata=(0, 0, 0)) -> str:
    """Pixel-CTE replay: per-pixel any-band-differs test, then the
    GDAL checksum over the 0/255 mask raster."""
    from .. import synth as _s

    nd = ", ".join(str(v) for v in nodata)
    return (
        f"WITH px AS MATERIALIZED (SELECT image_id, w, x, y, ch, val "
        f"FROM ({_s.pixels_cte(n, max_i, 'duckdb')})), "
        f"m AS (SELECT image_id, w, x, y, "
        f"CASE WHEN count(*) FILTER (WHERE val <> ([{nd}])[ch + 1]) > 0 "
        f"THEN 255 ELSE 0 END AS mv "
        f"FROM px GROUP BY 1, 2, 3, 4) "
        f"SELECT image_id, "
        f"cast(sum(CASE WHEN mv = 255 THEN 1 ELSE 0 END) as bigint) "
        f"AS n_valid, "
        f"{checksum_sql('mv', 'y * w + x')} AS mask_cks "
        f"FROM m GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# raster attribute table — GDALRasterAttributeTable
# (gcore/gdal_rat.cpp; gdalinfo reports it for thematic rasters): one
# row per class value with the class histogram plus companion-band
# statistics (the classic landcover-class -> pixel-count + mean-
# elevation table). Class = channel-0 value bucketed to 16 bins;
# companion = channel 1. Map-only vectorized partials per image (a
# bincount, never a pixel shuffle) -> the per-image RAT.


def rat_table(images: DataFrame, n_classes: int = 16) -> DataFrame:
    """(image_id, class, n_px, sum_b1): per-image RAT rows."""
    width = 256 // n_classes

    def fn(arr):
        a = arr.astype(np.int64)
        cls = a[:, :, 0] // width
        b1 = a[:, :, 1]
        counts = np.bincount(cls.ravel(), minlength=n_classes)
        sums = np.bincount(cls.ravel(), weights=b1.ravel(),
                           minlength=n_classes).astype(np.int64)
        for c in range(n_classes):
            if counts[c]:
                yield (int(c), int(counts[c]), int(sums[c]))

    return per_image(
        images, fn, "image_id string, class int, n_px bigint, sum_b1 bigint"
    )


def oracle_rat_table(n: int, max_i: int, n_classes: int = 16) -> str:
    from .. import synth as _s

    width = 256 // n_classes
    return (
        f"WITH px AS MATERIALIZED (SELECT image_id, x, y, ch, val "
        f"FROM ({_s.pixels_cte(n, max_i, 'duckdb')}) WHERE ch < 2), "
        f"p AS (SELECT image_id, x, y, "
        f"max(CASE WHEN ch = 0 THEN val END) // {width} AS cls, "
        f"max(CASE WHEN ch = 1 THEN val END) AS b1 "
        f"FROM px GROUP BY 1, 2, 3) "
        f"SELECT image_id, cast(cls as int) AS class, "
        f"cast(count(*) as bigint) AS n_px, "
        f"cast(sum(b1) as bigint) AS sum_b1 "
        f"FROM p GROUP BY 1, 2"
    )
