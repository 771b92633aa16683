"""Secondary raster operators: pansharpen, nearblack, fillnodata,
IDW grid interpolation.

- pansharpen: weighted-Brovey (alg/gdalpansharpen.cpp WeightedBrovey:
  factor = pan / pseudo_pan, pseudo = sum(w_i * ms_i), factor 0 when
  pseudo == 0 (ComputeFactor :478); per-band out = round-clamp(ms *
  factor)). Per-image mapInPandas; the pan band is the deterministic
  synthetic companion image so the oracle can recompute pixels.
- nearblack (apps/nearblack_lib.cpp): scan each scanline from both
  edges inward while all channels are below the threshold — report
  the collar widths (the operator's mask output).
- fillnodata (alg/rasterfill.cpp semantics, simplified): IDW over
  the nearest valid pixel along each of the 8 compass rays within
  max_distance, then optional 3x3 smoothing of filled pixels.
- grid_idw (alg/gdalgrid.cpp GDALGridInverseDistanceToAPower,
  power=2, no radius): scattered points -> raster grid; the Spark
  shape joins points to grid cells by cell id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs, synth
from .rowstage import bands
from .stats import channel_checksums, checksum_sql, per_image

PAN_OFFSET = 500_000
W_BROVEY = 1.0 / 3.0


def pansharpen_brovey(ms: np.ndarray, pan: np.ndarray,
                      weights=(W_BROVEY, W_BROVEY, W_BROVEY)) -> np.ndarray:
    """(h, w, 3) uint8 multispectral + (h, w) pan -> sharpened uint8.
    ``weights`` are the per-band pseudo-pan weights (gdal_pansharpen
    -w; equal thirds = classic Brovey)."""
    msf = ms.astype(np.float64)
    pseudo = (
        msf[:, :, 0] * weights[0]
        + msf[:, :, 1] * weights[1]
        + msf[:, :, 2] * weights[2]
    )
    factor = np.where(pseudo == 0.0, 0.0, pan.astype(np.float64) / np.where(pseudo == 0, 1, pseudo))
    out = msf * factor[:, :, None]
    return np.floor(np.clip(out, 0.0, 255.0) + 0.5).astype(np.uint8)


def pansharpen(images: DataFrame,
               weights=(W_BROVEY, W_BROVEY, W_BROVEY)) -> DataFrame:
    """Per-image weighted-Brovey pansharpen against the synthetic pan
    companion (make_pixels(i + PAN_OFFSET) channel 0). Output:
    per-channel GDAL checksums of the sharpened image."""

    def sharpen(payload, i, w, h):
        ms = codecs.decode_image(bytes(payload))
        pan = codecs.make_pixels(int(i) + PAN_OFFSET, int(w), int(h))[:, :, 0]
        return pansharpen_brovey(ms, pan, weights)

    return channel_checksums(images, ["bytes", "i", "w", "h"], sharpen)


def oracle_pansharpen(n: int, max_i: int,
                      weights=(W_BROVEY, W_BROVEY, W_BROVEY)) -> str:
    val = synth.pixel_val_sql()
    pan_val = (
        val.replace("fmt", "'png'")  # pan companion is raw (lossless)
        .replace("i %", f"(i + {PAN_OFFSET}) %")
        .replace("i * 7", f"(i + {PAN_OFFSET}) * 7")
    )
    w0, w1, w2 = (synth.flit(float(x)) for x in weights)
    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, i, w, h, fmt, x, y, ch, val "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')})), "
        f"wide AS (SELECT image_id, i, w, h, fmt, x, y, "
        f"max(CASE WHEN ch = 0 THEN val END) AS v0, "
        f"max(CASE WHEN ch = 1 THEN val END) AS v1, "
        f"max(CASE WHEN ch = 2 THEN val END) AS v2 "
        f"FROM px GROUP BY 1, 2, 3, 4, 5, 6, 7), "
        f"fac AS (SELECT *, "
        f"(cast(v0 as double) * {w0} + cast(v1 as double) * {w1} "
        f"+ cast(v2 as double) * {w2}) AS pseudo, "
        f"cast(({pan_val.replace('ch', '0')}) as double) AS pan FROM "
        f"(SELECT wide.*, 0 AS ch FROM wide)), "
        f"o AS (SELECT image_id, w, x, y, ch2 AS ch, "
        f"CASE WHEN pseudo = 0.0E0 THEN 0 ELSE cast(floor(least(greatest("
        f"cast(CASE ch2 WHEN 0 THEN v0 WHEN 1 THEN v1 ELSE v2 END as double) "
        f"* (pan / pseudo), 0.0E0), 255.0E0) + 0.5E0) as bigint) END AS oval "
        f"FROM fac, range(0, 3) t(ch2)) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM o GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# nearblack


def nearblack_collar(images: DataFrame, threshold: int = 16) -> DataFrame:
    """Per scanline collar widths: pixels from the left/right edge
    whose channels are ALL below threshold. (image_id, y, left_trim,
    right_trim)."""

    def run(batches):
        for pdf in batches:
            outs = []
            for image_id, payload in zip(pdf["image_id"], pdf["bytes"]):
                arr = codecs.decode_image(bytes(payload))
                h, w = arr.shape[:2]
                bright = (arr >= threshold).any(axis=2)  # (h, w)
                first = np.argmax(bright, axis=1)
                anyb = bright.any(axis=1)
                left = np.where(anyb, first, w)
                last = w - 1 - np.argmax(bright[:, ::-1], axis=1)
                right = np.where(anyb, w - 1 - last, w)
                outs.append(
                    pd.DataFrame(
                        {
                            "image_id": image_id,
                            "y": np.arange(h, dtype=np.int64),
                            "left_trim": left.astype(np.int64),
                            "right_trim": right.astype(np.int64),
                        }
                    )
                )
            yield pd.concat(outs)

    return images.select("image_id", "bytes").mapInPandas(
        run,
        schema="image_id string, y bigint, left_trim bigint, right_trim bigint",
    )


def oracle_nearblack(n: int, max_i: int, threshold: int = 16) -> str:
    return (
        f"WITH px AS (SELECT image_id, w, x, y, max(val) AS mx "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) GROUP BY 1, 2, 3, 4) "
        f"SELECT image_id, y, "
        f"coalesce(min(CASE WHEN mx >= {threshold} THEN x END), min(w)) AS left_trim, "
        f"coalesce(min(w) - 1 - max(CASE WHEN mx >= {threshold} THEN x END), min(w)) "
        f"AS right_trim "
        f"FROM px GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# fillnodata (simplified rasterfill semantics; pytest-verified)


FILL_DIRS = (
    (-1, 0), (1, 0), (0, -1), (0, 1), (-1, -1), (-1, 1), (1, -1), (1, 1)
)


def fillnodata(
    arr: np.ndarray, nodata: int = 0, max_distance: int = 16,
    smoothing_iterations: int = 0,
) -> np.ndarray:
    """Fill nodata pixels with the inverse-distance mean of the
    nearest valid pixel along each of the 8 compass rays (<=
    max_distance); unfillable pixels stay nodata. Semantics follow
    GDALFillNodata's ray search (alg/rasterfill.cpp:409).

    Vectorized: per direction, a shifted-mask sweep finds each bad
    pixel's first valid hit; the per-pixel accumulation order matches
    the scalar definition (directions in FILL_DIRS order), so results
    are bit-identical to a per-pixel loop."""
    h, w = arr.shape
    bad = arr == nodata
    num = np.zeros((h, w), dtype=np.float64)
    den = np.zeros((h, w), dtype=np.float64)
    arrf = arr.astype(np.float64)
    for dy, dx in FILL_DIRS:
        unit = float(np.hypot(dy, dx))
        found = np.zeros((h, w), dtype=bool)
        for d in range(1, max_distance + 1):
            sy, sx = dy * d, dx * d
            # value/validity at (y+sy, x+sx), out-of-bounds = invalid
            val = np.zeros((h, w), dtype=np.float64)
            ok = np.zeros((h, w), dtype=bool)
            ys0, ys1 = max(0, -sy), min(h, h - sy)
            xs0, xs1 = max(0, -sx), min(w, w - sx)
            if ys0 >= ys1 or xs0 >= xs1:
                break
            val[ys0:ys1, xs0:xs1] = arrf[ys0 + sy:ys1 + sy, xs0 + sx:xs1 + sx]
            ok[ys0:ys1, xs0:xs1] = ~bad[ys0 + sy:ys1 + sy, xs0 + sx:xs1 + sx]
            hit = bad & ~found & ok
            if hit.any():
                dist = d * unit
                num[hit] += val[hit] / dist
                den[hit] += 1.0 / dist
                found |= hit
            if (found | ~bad).all():
                break
    out = arrf.copy()
    fill = bad & (den > 0)
    out[fill] = num[fill] / den[fill]
    # -si smoothing passes (rasterfill.cpp GDALFilterLine): 3x3 mean
    # over valid (good or filled) pixels, replacing FILLED pixels
    # only; runs in float, rounding happens once at the end
    valid = (~bad) | fill
    for _ in range(smoothing_iterations):
        s_ = np.zeros_like(out)
        c_ = np.zeros_like(out)
        vv = np.where(valid, out, 0.0)
        vc = valid.astype(np.float64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ys0, ys1 = max(0, -dy), min(h, h - dy)
                xs0, xs1 = max(0, -dx), min(w, w - dx)
                s_[ys0:ys1, xs0:xs1] += vv[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
                c_[ys0:ys1, xs0:xs1] += vc[ys0 + dy:ys1 + dy, xs0 + dx:xs1 + dx]
        with np.errstate(invalid="ignore"):
            newv = np.where(c_ > 0, s_ / c_, 0.0)
        out = np.where(fill, newv, out)
    return np.floor(out + 0.5).astype(arr.dtype)


def fillnodata_rows(
    images: DataFrame, nodata: int = 0, max_distance: int = 16,
    smoothing_iterations: int = 0,
) -> DataFrame:
    """Driver-gated GDALFillNodata stage: fill band 0 of every image,
    then per-scanline aggregates over the originally-nodata pixels
    (count + filled-value sum; unfillable pixels contribute the nodata
    value). One mapInPandas stage, zero shuffle before the final
    per-(image, y) aggregation."""

    def run(arr):
        band = arr[:, :, 0]
        bad = band == nodata
        if not bad.any():
            return
        filled = fillnodata(band, nodata, max_distance, smoothing_iterations)
        for y in np.unique(np.nonzero(bad)[0]):
            m = bad[y]
            yield (
                int(y), int(m.sum()), int(filled[y][m].astype(np.int64).sum())
            )

    return per_image(
        images, run,
        "image_id string, y bigint, n_bad bigint, filled_sum bigint",
    )


def oracle_fillnodata(n: int, max_i: int, max_distance: int = 16) -> str:
    """Join-free replay: bad pixels from the synthetic pixel function,
    first-valid hit per compass ray via min(d) over the closed-form
    neighbor values, IDW mean, floor(x+0.5)."""
    import re

    val = synth.pixel_val_sql()
    shifted = re.sub(
        r"\by\b", "(y + dy * dd)", re.sub(r"\bx\b", "(x + dx * dd)", val)
    )
    at_min = re.sub(
        r"\by\b", "(y + dy * dmin)", re.sub(r"\bx\b", "(x + dx * dmin)", val)
    )
    return f"""
WITH img AS (SELECT i, image_id, w, h, fmt
             FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}),
bad AS (SELECT image_id, i, w, h, fmt, x, y, 0 AS ch
        FROM img, range(0, 256) tx(x), range(0, 256) ty(y)
        WHERE x < w AND y < h AND ({val}) = 0),
dirs(dy, dx) AS (VALUES (-1,0),(1,0),(0,-1),(0,1),(-1,-1),(-1,1),(1,-1),(1,1)),
hits AS (SELECT image_id, i, w, h, fmt, x, y, ch, dy, dx, min(dd) AS dmin
         FROM bad, dirs, range(1, {max_distance + 1}) r(dd)
         WHERE x + dx * dd >= 0 AND x + dx * dd < w
           AND y + dy * dd >= 0 AND y + dy * dd < h
           AND ({shifted}) <> 0
         GROUP BY ALL),
fillv AS (SELECT image_id, x, y,
          sum(({at_min}) / (dmin * (CASE WHEN dy <> 0 AND dx <> 0
               THEN sqrt(2.0E0) ELSE 1.0E0 END))) AS num,
          sum(1.0E0 / (dmin * (CASE WHEN dy <> 0 AND dx <> 0
               THEN sqrt(2.0E0) ELSE 1.0E0 END))) AS den
          FROM hits GROUP BY 1, 2, 3),
pv AS (SELECT b.image_id, b.y,
       coalesce(floor(f.num / f.den + 0.5E0), 0.0E0) AS v
       FROM bad b LEFT JOIN fillv f
       ON f.image_id = b.image_id AND f.x = b.x AND f.y = b.y)
SELECT image_id, y, count(*) AS n_bad,
       cast(sum(cast(v as bigint)) as bigint) AS filled_sum
FROM pv GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# IDW grid interpolation (power=2, smoothing=0, no radius)


BAND_PX = 32  # scanlines per gridding band


def _grid_bands(spark, points_pdf, width, height, kernel, schema, *extra):
    """The banded gridding stage: the driver-resident points' (px, py,
    v) float64 arrays (plus ``extra``) are broadcast once, and each
    band calls ``kernel(gx, gy, qx, qy, qv, *extra)`` on its node grid
    for the band's columns after y."""
    pts = tuple(points_pdf[c].to_numpy(dtype=np.float64) for c in ("px", "py", "v"))
    bpts = spark.sparkContext.broadcast(pts + extra)

    def run(y0, h):
        gy, gx = np.mgrid[y0 : y0 + h, 0:width]
        return kernel(gx, gy, *bpts.value)

    return bands(spark, height, BAND_PX, run, schema)


_VAL_SCHEMA = "y bigint, n bigint, val_sum_key bigint"


def _val_keys(vals: np.ndarray, scale: float) -> list:
    """(n, val_sum_key) of a band's node values: the row width and the
    row sum of floor(value * scale)."""
    keys = np.floor(vals * scale).astype(np.int64)
    return [np.full(len(vals), vals.shape[1]), keys.sum(axis=1)]


def grid_idw(spark, points_pdf: pd.DataFrame, width: int, height: int) -> DataFrame:
    """Scattered (px, py, v) points -> (gy, n, val_sum_key) per raster
    scanline via IDW power-2 over ALL points (small point sets
    broadcast; at scale the cell-ring join of knn.py generates the
    neighbor lists instead). A point exactly on a grid node wins
    outright (GDALGridInverseDistanceToAPower nodata-free case)."""

    def kernel(gx, gy, qx, qy, qv):
        num = np.zeros(gx.shape)
        den = np.zeros(gx.shape)
        exact = np.full(gx.shape, np.nan)
        for x0, y0p, v in zip(qx, qy, qv):
            d2 = (gx - x0) ** 2 + (gy - y0p) ** 2
            exact[d2 == 0] = v
            # v/d2 and 1/d2 as separate divisions, accumulated in point
            # index order — the exact fp ops the SQL oracle performs, so
            # the only cross-engine drift is summation order (~1 ulp,
            # far inside the 1e-3 key grid)
            with np.errstate(divide="ignore"):
                num += np.where(d2 > 0, v / d2, 0.0)
                den += np.where(d2 > 0, 1.0 / d2, 0.0)
        vals = np.where(np.isnan(exact), num / den, exact)
        return _val_keys(vals, 1000.0)

    return _grid_bands(spark, points_pdf, width, height, kernel, _VAL_SCHEMA)


def oracle_grid_idw(width: int, height: int) -> str:
    """Full value oracle for grid_idw (round 2 left it rows-only):
    exact point hits take the point value; otherwise num/den of the
    power-2 inverse distances, keyed at the 1e-3 grid — summation-
    order drift between engines is ~1e-13 against a 1e-10-wide
    boundary zone, and exact hits are computed without summation in
    both engines."""
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, v,
      (gx - px) * (gx - px) + (gy - py) * (gy - py) AS d2
      FROM g, {_grid_points_sql()}),
agg AS (SELECT gx, gy,
        sum(CASE WHEN d2 > 0.0E0 THEN v / d2 ELSE 0.0E0 END) AS num,
        sum(CASE WHEN d2 > 0.0E0 THEN 1.0E0 / d2 ELSE 0.0E0 END) AS den,
        max(CASE WHEN d2 = 0.0E0 THEN v END) AS exact
        FROM d GROUP BY 1, 2),
pv AS (SELECT gy, coalesce(exact, num / den) AS val FROM agg)
SELECT gy AS y, count(*) AS n,
       cast(sum(cast(floor(val * 1000.0E0) as bigint)) as bigint) AS val_sum_key
FROM pv GROUP BY 1
"""


# ---------------------------------------------------------------------------
# gridding beyond IDW: nearest neighbor + radius-limited average
# (GDALGridNearestNeighbor alg/gdalgrid.cpp:259;
#  GDALGridAverage alg/gdalgrid.cpp:490). Unlike IDW (fp accumulation
# order), both are EXACT: nearest selects a discrete point value
# (integer-exact squared-distance compare), average sums a fixed
# small set of rationals — so both get full SQL value oracles.


GRID_POINTS = {
    "px": [3.0, 17.5, 40.0, 55.25, 9.0, 60.0],
    "py": [4.0, 30.0, 12.5, 50.0, 58.0, 33.0],
    "v": [10.0, 200.0, 80.0, 140.0, 55.0, 250.0],
}


def _grid_points_sql() -> str:
    rows = ", ".join(
        f"({i}, {synth.flit(x)}, {synth.flit(y)}, {synth.flit(v)})"
        for i, (x, y, v) in enumerate(
            zip(GRID_POINTS["px"], GRID_POINTS["py"], GRID_POINTS["v"])
        )
    )
    return f"(VALUES {rows}) pts(idx, px, py, v)"


def grid_nearest(spark, points_pdf: pd.DataFrame, width: int, height: int) -> DataFrame:
    """Nearest-neighbor gridding: every node takes the value of its
    closest scattered point (ties by point index). Per-scanline
    integer-scaled value sums. Same banded-tile shape as grid_idw."""

    def kernel(gx, gy, qx, qy, qv):
        d2 = (gx[..., None] - qx) ** 2 + (gy[..., None] - qy) ** 2  # (h, w, npts)
        vals = qv[np.argmin(d2, axis=2)]  # first min wins = lowest index
        return _val_keys(vals, 1e6)

    return _grid_bands(spark, points_pdf, width, height, kernel, _VAL_SCHEMA)


def oracle_grid_nearest(width: int, height: int) -> str:
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, idx, v,
      (gx - px) * (gx - px) + (gy - py) * (gy - py) AS d2
      FROM g, {_grid_points_sql()}),
r AS (SELECT gx, gy, v,
      row_number() OVER (PARTITION BY gx, gy ORDER BY d2, idx) AS rk FROM d)
SELECT gy AS y, count(*) AS n,
       cast(sum(cast(floor(v * 1000000.0E0) as bigint)) as bigint) AS val_sum_key
FROM r WHERE rk = 1 GROUP BY 1
"""


GRID_AVG_RADIUS = 20.0


def grid_average(
    spark, points_pdf: pd.DataFrame, width: int, height: int,
    radius: float = GRID_AVG_RADIUS,
) -> DataFrame:
    """Radius-limited average gridding: node value = mean of points
    within ``radius`` (0 when none — GDALGridAverage's nodata).
    Output per scanline: n_covered (nodes with >=1 point in radius) +
    integer-scaled value sum."""
    r2 = radius * radius

    def kernel(gx, gy, qx, qy, qv):
        d2 = (gx[..., None] - qx) ** 2 + (gy[..., None] - qy) ** 2
        inside = d2 <= r2
        cnt = inside.sum(axis=2)
        # ascending-index accumulation: mirrors the SQL sum over a
        # fixed rational set (exact in double, order-free)
        s = (inside * qv).sum(axis=2)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(cnt > 0, s / np.maximum(cnt, 1), 0.0)
        key_v = np.floor(mean * 1e6 + 5e-4).astype(np.int64)
        return [(cnt > 0).sum(axis=1), key_v.sum(axis=1)]

    return _grid_bands(
        spark, points_pdf, width, height, kernel,
        "y bigint, n_covered bigint, val_sum_key bigint",
    )


def grid_average_ellipse(
    spark, points_pdf: pd.DataFrame, width: int, height: int,
    radius1: float = 25.0, radius2: float = 10.0,
    angle_deg: float = 30.0, min_points: int = 2,
) -> DataFrame:
    """GDALGridMovingAverage with an anisotropic rotated search
    ellipse (alg/gdalgrid.cpp GDALGridMovingAverage: radius1/radius2/
    angle options + nMinPoints). Membership: rotate the node->point
    offset by ``angle`` (rxr = rx*cosA + ry*sinA, ryr = ry*cosA -
    rx*sinA), then r2^2*rxr^2 + r1^2*ryr^2 <= r1^2*r2^2. Nodes with
    fewer than ``min_points`` matches emit the nodata convention
    (0, excluded from sums via n_covered). Integer point values keep
    the per-node sum exact; the mean is floor-keyed with the repo's
    half-grid epsilon before the scanline rollup."""
    a = np.deg2rad(angle_deg)
    cos_a, sin_a = float(np.cos(a)), float(np.sin(a))
    r1s, r2s = radius1 * radius1, radius2 * radius2
    r12s = r1s * r2s

    def kernel(gx, gy, qx, qy, qv):
        rx = qx - gx[..., None]
        ry = qy - gy[..., None]
        rxr = rx * cos_a + ry * sin_a
        ryr = ry * cos_a - rx * sin_a
        inside = r2s * rxr * rxr + r1s * ryr * ryr <= r12s
        cnt = inside.sum(axis=2)
        s = (inside * qv).sum(axis=2)
        ok = cnt >= max(min_points, 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(ok, s / np.maximum(cnt, 1), 0.0)
        key_v = np.floor(mean * 1e6 + 5e-4).astype(np.int64)
        return [ok.sum(axis=1), key_v.sum(axis=1)]

    return _grid_bands(
        spark, points_pdf, width, height, kernel,
        "y bigint, n_covered bigint, val_sum_key bigint",
    )


def oracle_grid_average_ellipse(
    width: int, height: int, radius1: float = 25.0, radius2: float = 10.0,
    angle_deg: float = 30.0, min_points: int = 2,
) -> str:
    a = np.deg2rad(angle_deg)
    cos_a, sin_a = synth.flit(float(np.cos(a))), synth.flit(float(np.sin(a)))
    r1s, r2s = radius1 * radius1, radius2 * radius2
    c_r1s, c_r2s = synth.flit(r1s), synth.flit(r2s)
    c_r12s = synth.flit(r1s * r2s)
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, v,
      (px - gx) * {cos_a} + (py - gy) * {sin_a} AS rxr,
      (py - gy) * {cos_a} - (px - gx) * {sin_a} AS ryr
      FROM g, {_grid_points_sql()}),
agg AS (SELECT gx, gy,
        sum(CASE WHEN {c_r2s} * rxr * rxr + {c_r1s} * ryr * ryr <= {c_r12s}
            THEN v ELSE 0.0E0 END) AS s,
        sum(CASE WHEN {c_r2s} * rxr * rxr + {c_r1s} * ryr * ryr <= {c_r12s}
            THEN 1 ELSE 0 END) AS cnt FROM d
        GROUP BY 1, 2),
pv AS (SELECT gx, gy, cnt >= {max(min_points, 1)} AS ok,
       CASE WHEN cnt >= {max(min_points, 1)} THEN s / cnt ELSE 0.0E0 END
       AS mean FROM agg)
SELECT gy AS y,
       cast(sum(CASE WHEN ok THEN 1 ELSE 0 END) as bigint) AS n_covered,
       cast(sum(cast(floor(mean * 1000000.0E0 + 5.0E-4) as bigint)) as bigint)
       AS val_sum_key
FROM pv GROUP BY 1
"""


def grid_metrics(
    spark, points_pdf: pd.DataFrame, width: int, height: int,
    radius: float = GRID_AVG_RADIUS,
) -> DataFrame:
    """GDALGrid data-metric algorithms in one pass: per grid node over
    the points inside ``radius`` — minimum / maximum / range / count /
    average-distance-to-node (GDALGridDataMetricMinimum etc.,
    alg/gdal_alg.h:395-409, alg/gdalgrid.cpp:3656). Discrete
    selections are exact; avg-distance is integer-scaled per node
    BEFORE the scanline sum (the repo's float discipline). Nodes with
    no point in radius emit the GDALGridCreate nodata convention (0,
    excluded from the *_key sums via n_covered)."""
    r2 = radius * radius

    def kernel(gx, gy, qx, qy, qv):
        d2 = (gx[..., None] - qx) ** 2 + (gy[..., None] - qy) ** 2
        inside = d2 <= r2
        cnt = inside.sum(axis=2)
        cov = cnt > 0
        vmin = np.where(inside, qv, np.inf).min(axis=2)
        vmax = np.where(inside, qv, -np.inf).max(axis=2)
        vmin = np.where(cov, vmin, 0.0)
        vmax = np.where(cov, vmax, 0.0)
        dsum = np.where(inside, np.sqrt(d2), 0.0).sum(axis=2)
        with np.errstate(invalid="ignore", divide="ignore"):
            avgd = np.where(cov, dsum / np.maximum(cnt, 1), 0.0)
        key6 = lambda a: np.floor(a * 1e6 + 5e-4).astype(np.int64).sum(axis=1)
        return [cov.sum(axis=1), cnt.sum(axis=1), key6(vmin), key6(vmax),
                key6(vmax - vmin), key6(avgd)]

    return _grid_bands(
        spark, points_pdf, width, height, kernel,
        "y bigint, n_covered bigint, cnt_sum bigint, min_sum_key bigint, "
        "max_sum_key bigint, rng_sum_key bigint, avgdist_sum_key bigint",
    )


def oracle_grid_metrics(
    width: int, height: int, radius: float = GRID_AVG_RADIUS
) -> str:
    r2 = synth.flit(radius * radius)
    k6 = "cast(floor({expr} * 1000000.0E0 + 5.0E-4) as bigint)"
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, v,
      (gx - px) * (gx - px) + (gy - py) * (gy - py) AS d2
      FROM g, {_grid_points_sql()}),
agg AS (SELECT gx, gy,
        sum(CASE WHEN d2 <= {r2} THEN 1 ELSE 0 END) AS cnt,
        min(CASE WHEN d2 <= {r2} THEN v END) AS vmin,
        max(CASE WHEN d2 <= {r2} THEN v END) AS vmax,
        sum(CASE WHEN d2 <= {r2} THEN sqrt(d2) ELSE 0.0E0 END) AS dsum
        FROM d GROUP BY 1, 2),
pv AS (SELECT gx, gy, cnt,
       coalesce(vmin, 0.0E0) AS vmin, coalesce(vmax, 0.0E0) AS vmax,
       CASE WHEN cnt > 0 THEN dsum / cnt ELSE 0.0E0 END AS avgd FROM agg)
SELECT gy AS y,
       cast(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) as bigint) AS n_covered,
       cast(sum(cnt) as bigint) AS cnt_sum,
       cast(sum({k6.format(expr='vmin')}) as bigint) AS min_sum_key,
       cast(sum({k6.format(expr='vmax')}) as bigint) AS max_sum_key,
       cast(sum({k6.format(expr='(vmax - vmin)')}) as bigint) AS rng_sum_key,
       cast(sum({k6.format(expr='avgd')}) as bigint) AS avgdist_sum_key
FROM pv GROUP BY 1
"""


def oracle_grid_average(
    width: int, height: int, radius: float = GRID_AVG_RADIUS
) -> str:
    r2 = synth.flit(radius * radius)
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, v,
      (gx - px) * (gx - px) + (gy - py) * (gy - py) AS d2
      FROM g, {_grid_points_sql()}),
agg AS (SELECT gx, gy,
        sum(CASE WHEN d2 <= {r2} THEN v ELSE 0.0E0 END) AS s,
        sum(CASE WHEN d2 <= {r2} THEN 1 ELSE 0 END) AS cnt FROM d
        GROUP BY 1, 2),
pv AS (SELECT gx, gy, cnt,
       CASE WHEN cnt > 0 THEN s / cnt ELSE 0.0E0 END AS mean FROM agg)
SELECT gy AS y,
       cast(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) as bigint) AS n_covered,
       cast(sum(cast(floor(mean * 1000000.0E0 + 5.0E-4) as bigint)) as bigint)
       AS val_sum_key
FROM pv GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Delaunay linear interpolation (GDALGridLinear, alg/gdalgrid.cpp:2477
# + alg/delaunay.c): barycentric interpolation inside the containing
# Delaunay facet; outside the hull the reference falls back to nearest
# neighbor when a search radius is configured (radius<0 = unlimited).

# a 12-point generic set (no 4 cocircular): richer triangulation than
# GRID_POINTS while staying driver-resident
LINEAR_POINTS = {
    "px": [3.0, 17.5, 40.0, 55.25, 9.0, 60.0, 28.0, 47.5, 12.25, 36.0,
           52.0, 22.75],
    "py": [4.0, 30.0, 12.5, 50.0, 58.0, 33.0, 44.5, 21.0, 16.0, 61.0,
           7.5, 52.25],
    "v": [10.0, 200.0, 80.0, 140.0, 55.0, 250.0, 120.0, 95.0, 160.0,
          30.0, 210.0, 70.0],
}


def _linear_tris():
    from ..delaunay import delaunay

    return delaunay(LINEAR_POINTS["px"], LINEAR_POINTS["py"])


def grid_linear(spark, points_pdf: pd.DataFrame, width: int, height: int) -> DataFrame:
    """Linear (triangulated) gridding: triangulate driver-side (tiny
    point set, O(1)), broadcast the facets, interpolate every node
    barycentrically in its containing facet (min facet index wins on
    shared edges — the tie rule the SQL oracle replays); nodes
    outside the hull take the nearest point value. Per-scanline
    integer-keyed sums; all arithmetic is + * / so the oracle is
    bit-exact."""
    from ..delaunay import delaunay

    tris = delaunay(
        points_pdf["px"].to_numpy(dtype=np.float64),
        points_pdf["py"].to_numpy(dtype=np.float64),
    )

    def kernel(gx, gy, qx, qy, qv, qt):
        gx = gx.astype(np.float64)
        gy = gy.astype(np.float64)
        vals = np.full(gx.shape, np.nan)
        for a, b, c in qt:  # min-index facet wins (assign once)
            x1, y1 = qx[a], qy[a]
            x2, y2 = qx[b], qy[b]
            x3, y3 = qx[c], qy[c]
            det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
            l1 = ((y2 - y3) * (gx - x3) + (x3 - x2) * (gy - y3)) / det
            l2 = ((y3 - y1) * (gx - x3) + (x1 - x3) * (gy - y3)) / det
            l3 = 1.0 - l1 - l2
            m = (
                (l1 >= 0.0) & (l2 >= 0.0) & (l3 >= 0.0) & np.isnan(vals)
            )
            vals[m] = (l1 * qv[a] + l2 * qv[b] + l3 * qv[c])[m]
        out = np.isnan(vals)
        if out.any():  # outside the hull: nearest point (tie by idx)
            d2 = (
                (gx[None, :, :] - qx[:, None, None]) ** 2
                + (gy[None, :, :] - qy[:, None, None]) ** 2
            )
            best = d2.argmin(axis=0)  # argmin = first minimal index
            vals[out] = qv[best][out]
        return _val_keys(vals, 1e6)

    return _grid_bands(spark, points_pdf, width, height, kernel, _VAL_SCHEMA, tris)


def _linear_points_sql() -> str:
    rows = ", ".join(
        f"({i}, {synth.flit(x)}, {synth.flit(y)}, {synth.flit(v)})"
        for i, (x, y, v) in enumerate(
            zip(LINEAR_POINTS["px"], LINEAR_POINTS["py"], LINEAR_POINTS["v"])
        )
    )
    return f"(VALUES {rows}) pts(idx, px, py, v)"


def oracle_grid_linear(width: int, height: int) -> str:
    """SQL replay: the triangulation is a driver-computed plan
    constant (vertex coords + values injected as a VALUES list, same
    source as the Spark broadcast); barycentric containment +
    interpolation and the nearest fallback re-run per node with the
    identical + * / expression — bit-exact parity."""
    qx = LINEAR_POINTS["px"]
    qy = LINEAR_POINTS["py"]
    qv = LINEAR_POINTS["v"]
    tri_rows = ", ".join(
        f"({ti}, {synth.flit(qx[a])}, {synth.flit(qy[a])}, {synth.flit(qv[a])}, "
        f"{synth.flit(qx[b])}, {synth.flit(qy[b])}, {synth.flit(qv[b])}, "
        f"{synth.flit(qx[c])}, {synth.flit(qy[c])}, {synth.flit(qv[c])})"
        for ti, (a, b, c) in enumerate(_linear_tris())
    )
    return f"""
WITH g AS (SELECT cast(gx as double) AS gx, cast(gy as double) AS gy
           FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
tris AS (SELECT * FROM (VALUES {tri_rows})
         t(ti, x1, y1, v1, x2, y2, v2, x3, y3, v3)),
lam AS (SELECT gx, gy, ti,
        ((y2 - y3) * (gx - x3) + (x3 - x2) * (gy - y3))
        / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS l1,
        ((y3 - y1) * (gx - x3) + (x1 - x3) * (gy - y3))
        / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS l2,
        v1, v2, v3 FROM g, tris),
inhull AS (SELECT gx, gy, ti, l1, l2, 1.0E0 - l1 - l2 AS l3, v1, v2, v3,
           row_number() OVER (PARTITION BY gx, gy ORDER BY ti) AS rk
           FROM lam
           WHERE l1 >= 0.0E0 AND l2 >= 0.0E0
           AND 1.0E0 - l1 - l2 >= 0.0E0),
tri_val AS (SELECT gx, gy, l1 * v1 + l2 * v2 + l3 * v3 AS val
            FROM inhull WHERE rk = 1),
miss AS (SELECT gx, gy FROM g
         WHERE NOT EXISTS (SELECT 1 FROM tri_val tv
                           WHERE tv.gx = g.gx AND tv.gy = g.gy)),
nearest AS (SELECT gx, gy, v AS val FROM (
            SELECT m.gx, m.gy, v,
            row_number() OVER (PARTITION BY m.gx, m.gy ORDER BY
            (m.gx - px) * (m.gx - px) + (m.gy - py) * (m.gy - py), idx)
            AS rk FROM miss m, {_linear_points_sql()}) WHERE rk = 1),
allv AS (SELECT * FROM tri_val UNION ALL SELECT * FROM nearest)
SELECT cast(gy as bigint) AS y, count(*) AS n,
       cast(sum(cast(floor(val * 1000000.0E0) as bigint)) as bigint)
       AS val_sum_key
FROM allv GROUP BY 1
"""


def grid_idwnn(
    spark, points_pdf: pd.DataFrame, width: int, height: int, n_near: int = 3
) -> DataFrame:
    """GDALGridInverseDistanceToAPowerNearestNeighbor (gdalgrid.cpp
    GGA_InverseDistanceToAPowerNearestNeighbor): IDW power-2 limited
    to the ``n_near`` nearest points, ties by point index. Same
    scanline-band shape and 1e-3 value keys as grid_idw; the nearest-N
    SELECTION is bit-deterministic (identical d2 doubles + index
    tie-break both engines), the weighted sum has the same ~1e-13
    summation-order drift argument as grid_idw."""

    def kernel(gx, gy, qx, qy, qv):
        d2 = (gx[..., None] - qx) ** 2 + (gy[..., None] - qy) ** 2
        # stable sort on d2 == (d2, point index) tie-break
        sel = np.argsort(d2, axis=-1, kind="stable")[..., :n_near]
        d2s = np.take_along_axis(d2, sel, axis=-1)
        vs = qv[sel]
        with np.errstate(divide="ignore"):
            num = np.where(d2s > 0, vs / d2s, 0.0).sum(axis=-1)
            den = np.where(d2s > 0, 1.0 / d2s, 0.0).sum(axis=-1)
        exact_mask = (d2s == 0).any(axis=-1)
        # d2 = 0 sorts first -> slot 0
        vals = np.where(exact_mask, vs[..., 0], num / den)
        return _val_keys(vals, 1000.0)

    return _grid_bands(spark, points_pdf, width, height, kernel, _VAL_SCHEMA)


def oracle_grid_idwnn(width: int, height: int, n_near: int = 3) -> str:
    """Rank by (d2, idx), keep n_near, same IDW aggregation."""
    return f"""
WITH g AS (SELECT gx, gy FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
d AS (SELECT gx, gy, v,
      (gx - px) * (gx - px) + (gy - py) * (gy - py) AS d2,
      row_number() OVER (PARTITION BY gx, gy ORDER BY
        (gx - px) * (gx - px) + (gy - py) * (gy - py), idx) AS rk
      FROM g, {_grid_points_sql()}),
agg AS (SELECT gx, gy,
        sum(CASE WHEN d2 > 0.0E0 THEN v / d2 ELSE 0.0E0 END) AS num,
        sum(CASE WHEN d2 > 0.0E0 THEN 1.0E0 / d2 ELSE 0.0E0 END) AS den,
        max(CASE WHEN d2 = 0.0E0 THEN v END) AS exact
        FROM d WHERE rk <= {n_near} GROUP BY 1, 2),
pv AS (SELECT gy, coalesce(exact, num / den) AS val FROM agg)
SELECT gy AS y, count(*) AS n,
       cast(sum(cast(floor(val * 1000.0E0) as bigint)) as bigint) AS val_sum_key
FROM pv GROUP BY 1
"""


def oracle_fillnodata_smoothed(
    n: int, max_i: int, max_distance: int = 16, iters: int = 2
) -> str:
    """The fill replay extended with ``iters`` 3x3-mean smoothing
    stages (the -si option): value relation over ALL pixels (good =
    pixel function, filled = num/den float, unfillable = NULL), each
    pass replaces filled pixels with the mean over valid 3x3
    neighbors; floor(+0.5) once at the end over the bad pixels."""
    import re

    val = synth.pixel_val_sql()
    shifted = re.sub(
        r"\by\b", "(y + dy * dd)", re.sub(r"\bx\b", "(x + dx * dd)", val)
    )
    at_min = re.sub(
        r"\by\b", "(y + dy * dmin)", re.sub(r"\bx\b", "(x + dx * dmin)", val)
    )
    stages = []
    prev = "v0"
    for it_ in range(iters):
        rel = f"s{it_ + 1}"
        stages.append(
            f"{rel} AS MATERIALIZED (SELECT a.image_id, a.x, a.y, a.bad0, "
            f"CASE WHEN a.bad0 AND a.v IS NOT NULL "
            f"THEN sum(b.v) / count(b.v) ELSE a.v END AS v "
            f"FROM {prev} a LEFT JOIN {prev} b ON b.image_id = a.image_id "
            f"AND abs(b.x - a.x) <= 1 AND abs(b.y - a.y) <= 1 "
            f"AND b.v IS NOT NULL "
            f"GROUP BY a.image_id, a.x, a.y, a.bad0, a.v)"
        )
        prev = rel
    return f"""
WITH img AS (SELECT i, image_id, w, h, fmt
             FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}),
px AS MATERIALIZED (SELECT image_id, i, w, h, fmt, x, y, 0 AS ch
      FROM img, range(0, 256) tx(x), range(0, 256) ty(y)
      WHERE x < w AND y < h),
bad AS (SELECT * FROM px WHERE ({val}) = 0),
dirs(dy, dx) AS (VALUES (-1,0),(1,0),(0,-1),(0,1),(-1,-1),(-1,1),(1,-1),(1,1)),
hits AS (SELECT image_id, i, w, h, fmt, x, y, ch, dy, dx, min(dd) AS dmin
         FROM bad, dirs, range(1, {max_distance + 1}) r(dd)
         WHERE x + dx * dd >= 0 AND x + dx * dd < w
           AND y + dy * dd >= 0 AND y + dy * dd < h
           AND ({shifted}) <> 0
         GROUP BY ALL),
fillv AS (SELECT image_id, x, y,
          sum(({at_min}) / (dmin * (CASE WHEN dy <> 0 AND dx <> 0
               THEN sqrt(2.0E0) ELSE 1.0E0 END))) AS num,
          sum(1.0E0 / (dmin * (CASE WHEN dy <> 0 AND dx <> 0
               THEN sqrt(2.0E0) ELSE 1.0E0 END))) AS den
          FROM hits GROUP BY 1, 2, 3),
v0 AS MATERIALIZED (SELECT p.image_id, p.x, p.y,
      (({val}) = 0) AS bad0,
      CASE WHEN ({val}) <> 0 THEN cast(({val}) as double)
           ELSE f.num / f.den END AS v
      FROM px p LEFT JOIN (SELECT image_id AS fimg, x AS fx, y AS fy,
           num, den FROM fillv) f
      ON f.fimg = p.image_id AND f.fx = p.x AND f.fy = p.y),
{', '.join(stages)}
SELECT image_id, y, count(*) AS n_bad,
       cast(sum(cast(floor(coalesce(v, 0.0E0) + 0.5E0) as bigint)) as bigint)
       AS filled_sum
FROM {prev} WHERE bad0 GROUP BY 1, 2
"""
