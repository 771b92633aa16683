"""gdalenhance -equalize: per-band histogram equalization.

Reference semantics: ``apps/gdalenhance.cpp`` —
``ComputeEqualizationLUTs`` (apps/gdalenhance.cpp:509) builds, per
band, the default Byte histogram (256 bins, one per value), zeroes the
extreme bins (``panHistogram[0] = panHistogram[nHistSize-1] = 0`` —
nodata/saturation guard), forms the cumulative histogram with the
half-bin offset ``cum[i] = total_before_i + hist[i] / 2`` (integer
division), then ``LUT[i] = clamp((cum[i] * nLUTBins) / nTotal,
0, nLUTBins-1)``; ``EnhancerCallback`` (apps/gdalenhance.cpp:605)
applies the LUT per pixel (for Byte input with the default 256 bins
the bin index is the pixel value itself).

All arithmetic is integer, so the DuckDB oracle replays it bit-exactly:
histogram -> windowed cumulative sum -> LUT -> join back to pixels ->
GDAL checksum.

Spark shape: one ``mapInPandas`` pass — each image is one raster, its
histogram, LUT and application are local to the row, so the operator
is embarrassingly parallel (zero shuffle; at 10^12 images the plan is
a single map stage over the image table).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import codecs
from ..synth import pixels_cte
from .stats import channel_checksums, checksum_sql, per_image

LUT_BINS = 256


def _equalize_band(v: np.ndarray, lut_bins: int = LUT_BINS) -> np.ndarray:
    """Equalize one 2-D Byte band, replicating gdalenhance's integer
    LUT construction exactly."""
    hist = np.bincount(v.reshape(-1).astype(np.int64), minlength=lut_bins)
    hist[0] = 0
    hist[lut_bins - 1] = 0
    total = int(hist.sum())
    if total == 0:
        total = 1  # gdalenhance.cpp:577 zero-histogram guard
    cum = np.cumsum(hist) - hist + hist // 2
    lut = np.clip((cum * lut_bins) // total, 0, lut_bins - 1)
    return lut[v]


def equalize_checksums(images: DataFrame) -> DataFrame:
    """(image_id, channel, cks) — GDAL checksum of each equalized
    band. Decode + equalize + checksum in one Arrow-batched pass."""

    def fn(payload):
        arr = codecs.decode_image(bytes(payload))
        return np.dstack(
            [_equalize_band(arr[:, :, ch]) for ch in range(arr.shape[2])]
        )

    return channel_checksums(images, ["bytes"], fn)


def oracle_equalize(n_images: int, max_i: int) -> str:
    """Bit-exact SQL replay: per-(image, channel) histogram with zeroed
    extremes, half-bin cumulative sum, integer LUT, pixel join, then
    the GDAL checksum aggregate ``stats.checksum_sql``."""
    px = pixels_cte(n_images, max_i, "duckdb")
    return (
        f"WITH px AS MATERIALIZED ({px}), "
        # per-value counts with the gdalenhance extreme-bin zeroing
        f"hist AS (SELECT image_id, ch, val, "
        f"CASE WHEN val IN (0, {LUT_BINS - 1}) THEN 0 ELSE count(*) END AS n "
        f"FROM px GROUP BY image_id, ch, val), "
        # cum[v] = (total below v) + n[v] // 2 ; total = per-band sum
        f"cum AS (SELECT image_id, ch, val, "
        f"sum(n) OVER (PARTITION BY image_id, ch ORDER BY val) - n + n // 2 "
        f"AS cum, sum(n) OVER (PARTITION BY image_id, ch) AS total "
        f"FROM hist), "
        f"lut AS (SELECT image_id, ch, val, greatest(0, least({LUT_BINS - 1}, "
        f"(cum * {LUT_BINS}) // (CASE WHEN total = 0 THEN 1 ELSE total END))) "
        f"AS eq FROM cum), "
        f"eqpx AS (SELECT px.image_id, px.ch, px.x, px.y, px.w, lut.eq AS val "
        f"FROM px JOIN lut ON px.image_id = lut.image_id "
        f"AND px.ch = lut.ch AND px.val = lut.val) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql('val', 'y * w + x')} AS cks "
        f"FROM eqpx GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# histogram MATCHING against the corpus-wide band histogram — the
# mosaic radiometric-normalization companion of -equalize (same
# apps/gdalenhance.cpp LUT machinery, but the target CDF is the
# global band histogram instead of the uniform ramp; this is how a
# tiled mosaic is harmonized so seams vanish). Exact integer quantile
# mapping: LUT[v] = min u with cdfG(u) * nLocal >= cdfL(v) * nGlobal
# (cross-multiplied — no float division anywhere).
#
# Spark shape (the two-pass normalization a real pipeline runs):
#   pass 1: per-image histograms, map-only (local bincount) -> a
#           768-row global aggregate (map-side combined), collected —
#           the same tiny-reduce shape as Lloyd centroids;
#   pass 2: map-only LUT application per image with the global CDF in
#           the task closure. Zero pixel-level shuffles at any scale.


def _match_band(v: np.ndarray, g_cdf: np.ndarray, n_g: int) -> np.ndarray:
    """Match one 2-D Byte band to the global histogram with exact
    integer quantile mapping."""
    hist = np.bincount(v.reshape(-1).astype(np.int64), minlength=LUT_BINS)
    l_cdf = np.cumsum(hist)
    n_l = int(l_cdf[-1])
    # min u with g_cdf[u] * n_l >= l_cdf[v] * n_g
    lut = np.searchsorted(g_cdf * n_l, l_cdf * n_g, side="left")
    lut = np.minimum(lut, LUT_BINS - 1)
    return lut[v]


def match_histogram_checksums(images: DataFrame) -> DataFrame:
    """(image_id, channel, cks) — GDAL checksum of each band after
    matching to the global per-channel histogram."""
    from pyspark.sql import functions as F

    def hist_fn(arr):
        a = arr.astype(np.int64)
        for ch in range(a.shape[2]):
            hist = np.bincount(a[:, :, ch].reshape(-1), minlength=LUT_BINS)
            for val in np.nonzero(hist)[0]:
                yield (int(ch), int(val), int(hist[val]))

    local = per_image(
        images, hist_fn, "image_id string, ch int, val int, n long"
    )
    rows = (
        local.groupBy("ch", "val")
        .agg(F.sum("n").alias("n"))
        .collect()  # <= 768 rows: the global histogram, a scalar-sized reduce
    )
    g_hist = np.zeros((3, LUT_BINS), dtype=np.int64)
    for r in rows:
        g_hist[r["ch"], r["val"]] = r["n"]
    g_cdf = np.cumsum(g_hist, axis=1)

    def apply_fn(payload):
        arr = codecs.decode_image(bytes(payload))
        return np.dstack([
            _match_band(arr[:, :, ch], g_cdf[ch], int(g_cdf[ch, -1]))
            for ch in range(arr.shape[2])
        ])

    return channel_checksums(images, ["bytes"], apply_fn)


def oracle_match_histogram(n_images: int, max_i: int) -> str:
    """Bit-exact SQL replay of the global-histogram match: local CDF,
    global CDF, cross-multiplied min-u lookup, pixel join, then the
    GDAL checksum aggregate ``stats.checksum_sql``."""
    px = pixels_cte(n_images, max_i, "duckdb")
    return (
        f"WITH px AS MATERIALIZED ({px}), "
        f"lh AS (SELECT image_id, ch, val, count(*) AS n "
        f"FROM px GROUP BY 1, 2, 3), "
        f"lc AS MATERIALIZED (SELECT image_id, ch, val, "
        f"cast(sum(n) OVER (PARTITION BY image_id, ch ORDER BY val) "
        f"as bigint) AS lcum, "
        f"cast(sum(n) OVER (PARTITION BY image_id, ch) as bigint) AS nl "
        f"FROM lh), "
        f"gh AS (SELECT ch, val, cast(count(*) as bigint) AS n "
        f"FROM px GROUP BY 1, 2), "
        f"gc AS MATERIALIZED (SELECT ch, val, "
        f"cast(sum(n) OVER (PARTITION BY ch ORDER BY val) as bigint) "
        f"AS gcum, cast(sum(n) OVER (PARTITION BY ch) as bigint) AS ng "
        f"FROM gh), "
        f"lut AS (SELECT lc.image_id, lc.ch, lc.val, "
        f"min(gc.val) AS matched FROM lc JOIN gc ON lc.ch = gc.ch "
        f"AND gc.gcum * lc.nl >= lc.lcum * gc.ng "
        f"GROUP BY 1, 2, 3), "
        f"mpx AS (SELECT px.image_id, px.ch, px.x, px.y, px.w, "
        f"lut.matched AS val FROM px JOIN lut ON "
        f"px.image_id = lut.image_id AND px.ch = lut.ch "
        f"AND px.val = lut.val) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{checksum_sql('val', 'y * w + x')} AS cks "
        f"FROM mpx GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# hsv_merge: merge a greyscale band as INTENSITY into an RGB image —
# the classic "hillshade into color relief" composite.
#
# Reference semantics: osgeo_utils/samples/hsv_merge.py — rgb_to_hsv
# (hue/saturation in [0,1], value = max channel), replace V with the
# greyscale band, hsv_to_rgb back, cast to Byte (truncation). The
# formulas below are transcribed from that published script (they ARE
# the semantics); the implementation is fresh vectorized numpy with
# the composition (color-relief + hillshade -> merge) done in ONE
# decode pass per image instead of three datasets on disk.
#
# The net effect of V-replacement is multiplicative rescaling of the
# RGB triple (out ~= gray * c / maxc) — asserted to maxdiff <= 1 in
# tests; the literal float route is kept because the reference's
# h/s round-trip can differ by 1 at exact-integer boundaries.
#
# Spark shape: mapInPandas, one numpy kernel chain per image, zero
# shuffle — at 10^12 images this is a pure map stage. The oracle
# replays the IDENTICAL IEEE-754 op sequence in SQL (sqrt/+-*/ and
# floor only — all bit-exact between numpy and DuckDB), composed from
# the shared color-relief ladder and hillshade window fragments.


def _hsv_merge_bands(r, g, b, gray):
    """Literal reference route (hsv_merge.py rgb_to_hsv/hsv_to_rgb)
    with V replaced by ``gray``; int64 in, int64 (truncated) out."""
    maxc = np.maximum(r, np.maximum(g, b))
    minc = np.minimum(r, np.minimum(g, b))
    den = np.where(minc == maxc, 1, maxc - minc).astype(np.float64)
    s = (maxc - minc) / np.maximum(1.0, maxc)
    rc = (maxc - r) / den
    gc = (maxc - g) / den
    bc = (maxc - b) / den
    h = np.zeros(s.shape, dtype=np.float64)
    h = np.where(maxc == b, 4.0 + gc - rc, h)
    h = np.where(maxc == g, 2.0 + rc - bc, h)
    h = np.where(maxc == r, bc - gc, h)
    h = np.mod(h / 6.0, 1.0)
    si = (h * 6.0).astype(np.int64)
    f = h * 6.0 - si
    v = gray.astype(np.float64)
    p = v * (1.0 - s)
    q = v * (1.0 - s * f)
    t = v * (1.0 - s * (1.0 - f))
    r2 = np.choose(si, (v, q, p, p, t, v))
    g2 = np.choose(si, (t, v, v, q, p, p))
    b2 = np.choose(si, (p, p, t, v, v, q))
    return tuple(np.trunc(c).astype(np.int64) for c in (r2, g2, b2))


def hsv_merge(images: DataFrame) -> DataFrame:
    """(image_id, channel, cks) — channel-0 DEM -> color relief RGB +
    hillshade intensity -> hsv merge; per-channel GDAL checksum over
    the interior (hillshade leaves edges uncomputed)."""
    from .dem import HORN, color_relief_band, gradient, shade

    def merge(payload):
        demb = codecs.decode_image(bytes(payload))[:, :, 0]
        rgb = color_relief_band(demb).astype(np.int64)[1:-1, 1:-1]
        gray = np.floor(shade(*gradient(demb, HORN)) + 0.5).astype(np.int64)
        merged = _hsv_merge_bands(
            rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2], gray
        )
        return np.stack(merged, axis=2)

    return channel_checksums(images, ["bytes"], merge)


def oracle_hsv_merge(n: int, max_i: int) -> str:
    """Composed SQL replay: the focal oracle's Horn window -> gray
    byte, color-relief ladder on the center value -> r/g/b bytes, then
    the staged hsv round-trip."""
    from .dem import HORN, _focal_ctes, images_window, ramp_sql, shade_sql

    src = images_window(n, max_i)
    cks_sql = checksum_sql("oval", "(y0 - 1) * (w - 2) + (x0 - 1)")
    return (
        f"WITH {_focal_ctes(src, HORN, ', min(w) AS w, min(c) AS c')}, "
        f"m1 AS MATERIALIZED (SELECT *, "
        f"greatest(r, greatest(g, b)) AS maxc, "
        f"least(r, least(g, b)) AS minc FROM (SELECT image_id, w, x0, y0, "
        f"cast(floor({shade_sql(HORN.div)} + 0.5E0) as bigint) AS gray, "
        f"{ramp_sql(0, val='c')} AS r, {ramp_sql(1, val='c')} AS g, "
        f"{ramp_sql(2, val='c')} AS b FROM agg)), "
        f"m2 AS MATERIALIZED (SELECT *, "
        f"CASE WHEN minc = maxc THEN 1.0E0 "
        f"ELSE cast(maxc - minc as double) END AS den, "
        f"cast(maxc - minc as double) / "
        f"greatest(1.0E0, cast(maxc as double)) AS s FROM m1), "
        f"m3 AS MATERIALIZED (SELECT *, (maxc - r) / den AS rc, "
        f"(maxc - g) / den AS gc, (maxc - b) / den AS bc FROM m2), "
        f"m4 AS MATERIALIZED (SELECT *, "
        f"CASE WHEN maxc = r THEN bc - gc "
        f"WHEN maxc = g THEN 2.0E0 + rc - bc "
        f"ELSE 4.0E0 + gc - rc END / 6.0E0 AS hh FROM m3), "
        f"m5 AS MATERIALIZED (SELECT *, hh - floor(hh) AS hm FROM m4), "
        f"m6 AS MATERIALIZED (SELECT *, "
        f"cast(floor(hm * 6.0E0) as bigint) AS si, "
        f"hm * 6.0E0 - cast(floor(hm * 6.0E0) as bigint) AS f, "
        f"cast(gray as double) AS vv FROM m5), "
        f"m7 AS MATERIALIZED (SELECT *, vv * (1.0E0 - s) AS p, "
        f"vv * (1.0E0 - s * f) AS q, "
        f"vv * (1.0E0 - s * (1.0E0 - f)) AS t FROM m6), "
        f"m8 AS MATERIALIZED (SELECT image_id, w, x0, y0, "
        f"cast(floor(CASE si WHEN 0 THEN vv WHEN 1 THEN q WHEN 2 THEN p "
        f"WHEN 3 THEN p WHEN 4 THEN t ELSE vv END) as bigint) AS r2, "
        f"cast(floor(CASE si WHEN 0 THEN t WHEN 1 THEN vv WHEN 2 THEN vv "
        f"WHEN 3 THEN q WHEN 4 THEN p ELSE p END) as bigint) AS g2, "
        f"cast(floor(CASE si WHEN 0 THEN p WHEN 1 THEN p WHEN 2 THEN t "
        f"WHEN 3 THEN vv WHEN 4 THEN vv ELSE q END) as bigint) AS b2 "
        f"FROM m7), "
        f"unp AS (SELECT image_id, w, x0, y0, c AS channel, "
        f"CASE c WHEN 0 THEN r2 WHEN 1 THEN g2 ELSE b2 END AS oval "
        f"FROM m8, range(0, 3) tc(c)) "
        f"SELECT image_id, cast(channel as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM unp GROUP BY 1, 2"
    )
