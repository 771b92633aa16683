"""Distributed 2-D DFT over raster tiles.

Reference surface: osgeo_utils/samples/fft.py (forward transform of a
GDAL raster band via numpy FFT; the sibling magphase.py derives
magnitude/phase from the complex pair). The reference computes the
transform on one in-memory array; the Spark-native shape is the
classic two-stage distributed Fourier transform:

  stage 1 (row pass)    — each task transforms the scanlines it
                          holds: F1[y, u] = sum_x f[y, x] e^{-2 pi i
                          u x / w} — embarrassingly parallel over
                          (image, y);
  transpose shuffle     — regroup by (image, u);
  stage 2 (column pass) — F[u, v] = sum_y F1[y, u] e^{-2 pi i v y /
                          h}, a plain groupBy aggregation.

At 100 TB the shuffle moves exactly one complex row-spectrum per
scanline (the minimum any distributed 2-D transform moves); both
passes are map-side-combined aggregations and nothing ever gathers a
whole image to one task beyond its own scanline set.

Numeric contract (the house fixed-point pattern): every e^{-i theta}
tap is evaluated as cos/sin of the IDENTICAL double expression on
both engines (numpy cos/sin bit-match libm here — see CLAUDE.md),
each term is floor-quantized to 1e-6 BEFORE summation, and both
stage sums are int64 — order-free, engine-exact, and within
(h * (2 w + 2)) * 1e-6 of the true float DFT (pytest pins this
against numpy.fft.fft2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import synth
from ..synth import TWO_PI, flit
from .stats import per_image

DFT_MAX_I = 3  # images 0..2: 16x20, 20x64, 64x100
DFT_SCALE = 1_000_000


def dft2d_rows(images: DataFrame) -> DataFrame:
    """Stage 1: (image_id, h, u, y, re1, im1) — per-scanline row
    DFT of channel 0, fixed-point. One (h x w x w) tap tensor per
    image; Python only emits the h x w output rows."""

    def run(arr):
        v = arr[:, :, 0].astype(np.float64)
        h, w = v.shape
        u = np.arange(w, dtype=np.int64)
        ang = TWO_PI * (u[:, None] * u[None, :]).astype(np.float64) / w
        c, s = np.cos(ang), np.sin(ang)
        # term = floor((v * tap) * 1e6), summed over x
        re1 = np.floor(
            (v[:, None, :] * c[None, :, :]) * DFT_SCALE
        ).astype(np.int64).sum(axis=2)
        im1 = np.floor(
            (v[:, None, :] * (-s[None, :, :])) * DFT_SCALE
        ).astype(np.int64).sum(axis=2)
        for y in range(h):
            for k in range(w):
                yield h, k, y, int(re1[y, k]), int(im1[y, k])

    return per_image(
        images, run,
        "image_id string, h int, u int, y int, re1 bigint, im1 bigint",
    )


def _tap_table(spark, heights) -> DataFrame:
    """Broadcast tap table (h, y, v, tc, ts): e^{-i 2 pi v y / h}
    quantized to 1e-6 integers. Built with numpy (bit-matches the
    oracle's libm — JVM Math.cos is NOT guaranteed to, which is why
    the column pass never calls trig in the JVM); h*h rows per
    distinct height — thousands of rows regardless of corpus size."""
    frames = []
    for h in sorted(set(int(x) for x in heights)):
        v = np.arange(h, dtype=np.int64)
        y = np.arange(h, dtype=np.int64)
        ang = TWO_PI * (v[:, None] * y[None, :]).astype(np.float64) / h
        tc = np.floor(np.cos(ang) * DFT_SCALE).astype(np.int64)
        ts = np.floor(np.sin(ang) * DFT_SCALE).astype(np.int64)
        vv, yy = np.meshgrid(v, y, indexing="ij")
        frames.append(
            pd.DataFrame(
                {"h": h, "v": vv.ravel(), "y": yy.ravel(),
                 "tc": tc.ravel(), "ts": ts.ravel()}
            )
        )
    return spark.createDataFrame(
        pd.concat(frames), "h int, v int, y int, tc bigint, ts bigint"
    )


def dft2d(images: DataFrame) -> DataFrame:
    """(image_id, u, v, re2, im2): the full 2-D spectrum. Column pass
    is a broadcast tap join + one shuffle keyed (image_id, u, v) with
    map-side combine — pure integer arithmetic end to end (the 1e-6
    tap quantum divides out AFTER the exact sum)."""
    spark = images.sparkSession
    rows = dft2d_rows(images).localCheckpoint(eager=True)
    heights = [r["h"] for r in rows.select("h").distinct().collect()]
    taps = _tap_table(spark, heights)
    fdiv = (
        "(CASE WHEN {a} >= 0 THEN {a} div {s} "
        "ELSE -((-{a} + {s} - 1) div {s}) END)"
    )
    return (
        rows.join(F.broadcast(taps), ["h", "y"])
        .groupBy("image_id", "u", "v")
        .agg(
            F.expr("sum(re1 * tc + im1 * ts)").alias("sr"),
            F.expr("sum(im1 * tc - re1 * ts)").alias("si"),
        )
        .selectExpr(
            "image_id", "u", "v",
            fdiv.format(a="sr", s=DFT_SCALE) + " AS re2",
            fdiv.format(a="si", s=DFT_SCALE) + " AS im2",
        )
    )


def _fdiv(a: str, s: int) -> str:
    return (
        f"(CASE WHEN {a} >= 0 THEN {a} // {s} "
        f"ELSE -((-{a} + {s} - 1) // {s}) END)"
    )


def oracle_dft2d(n: int, max_i: int = DFT_MAX_I) -> str:
    """DuckDB replay from the synth pixel CTE: identical stage-1 tap
    expression (libm cos/sin == numpy here), identical quantized tap
    table for the column pass, both stages MATERIALIZED."""
    ang1 = f"{flit(TWO_PI)} * cast(u * x as double) / cast(w as double)"
    ang2 = f"{flit(TWO_PI)} * cast(v * y as double) / cast(h as double)"
    # pixels_cte exposes (image_id, i, w, h, fmt, x, y, ch, val)
    return (
        f"WITH px AS MATERIALIZED (SELECT image_id, w, h, x, y, "
        f"cast(val as double) AS fv "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) WHERE ch = 0), "
        f"s1 AS MATERIALIZED (SELECT image_id, h, u, y, "
        f"cast(sum(cast(floor((fv * cos({ang1})) "
        f"* {DFT_SCALE}.0E0) as bigint)) as bigint) AS re1, "
        f"cast(sum(cast(floor((fv * (-sin({ang1}))) "
        f"* {DFT_SCALE}.0E0) as bigint)) as bigint) AS im1 "
        f"FROM (SELECT px.*, u.range AS u FROM px, range(0, 256) u "
        f"WHERE u.range < w) "
        f"GROUP BY 1, 2, 3, 4), "
        f"hs AS (SELECT DISTINCT h FROM s1), "
        f"taps AS MATERIALIZED (SELECT h, v, y, "
        f"cast(floor(cos({ang2}) * {DFT_SCALE}.0E0) as bigint) AS tc, "
        f"cast(floor(sin({ang2}) * {DFT_SCALE}.0E0) as bigint) AS ts "
        f"FROM (SELECT hs.h AS h, v.range AS v, y.range AS y "
        f"FROM hs, range(0, 256) v, range(0, 256) y "
        f"WHERE v.range < hs.h AND y.range < hs.h)), "
        f"s2 AS (SELECT image_id, u, t.v AS v, "
        f"cast(sum(re1 * tc + im1 * ts) as bigint) AS sr, "
        f"cast(sum(im1 * tc - re1 * ts) as bigint) AS si "
        f"FROM s1 JOIN taps t ON t.h = s1.h AND t.y = s1.y "
        f"GROUP BY 1, 2, 3) "
        f"SELECT image_id, cast(u as int) AS u, cast(v as int) AS v, "
        f"{_fdiv('sr', DFT_SCALE)} AS re2, "
        f"{_fdiv('si', DFT_SCALE)} AS im2 FROM s2"
    )


# ---------------------------------------------------------------------------
# magnitude / phase of the spectrum (osgeo_utils/samples/magphase.py:
# magnitude = hypot(re, im), phase = atan2(im, re) over the complex
# band pair). Magnitude is kept SQUARED at a reduced scale so it is
# exact int64 (the DC bin of a 64x100 byte tile squares past 2^63 at
# full scale); phase is the one transcendental — atan2 differs ~1 ulp
# across engines (see build notes), so it ships under the house
# coarse-quantization contract (mrad floor).


def dft_magphase(images: DataFrame) -> DataFrame:
    """(image_id, u, v, mag2k, phase_mrad) over the dft2d spectrum."""
    return dft2d(images).selectExpr(
        "image_id", "u", "v",
        "(re2 div 1000) * (re2 div 1000) + "
        "(im2 div 1000) * (im2 div 1000) AS mag2k",
        "cast(floor(atan2(cast(im2 as double), cast(re2 as double)) "
        "* 1000.0E0) as bigint) AS phase_mrad",
    )


def oracle_dft_magphase(n: int, max_i: int = DFT_MAX_I) -> str:
    return (
        f"SELECT image_id, u, v, "
        f"(re2 // 1000) * (re2 // 1000) + "
        f"(im2 // 1000) * (im2 // 1000) AS mag2k, "
        f"cast(floor(atan2(cast(im2 as double), cast(re2 as double)) "
        f"* 1000.0E0) as bigint) AS phase_mrad "
        f"FROM ({oracle_dft2d(n, max_i)})"
    )
