"""Color quantization (median cut) + Floyd-Steinberg dithering.

Reference semantics: alg/gdalmediancut.cpp:143 (recursive box split
at the median of the longest axis until the palette budget is
reached; palette entry = box mean) and alg/gdaldither.cpp:146
(Floyd-Steinberg error diffusion, weights 7/16, 3/16, 5/16, 1/16,
left-to-right scan, nearest-palette-entry quantization).

Iterative and order-dependent -> no SQL oracle; the driver entry is
rows-only and pytest pins the invariants (palette size, determinism,
bounded reconstruction error, exact-palette passthrough).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .stats import per_image


def median_cut_boxes(arr: np.ndarray, n_colors: int = 16):
    """(h, w, 3) uint8 -> (palette (n,3) int64 in box order, box pixel
    counts (n,) int64) via median cut. Every data-dependent choice is
    fully deterministic AND SQL-replicable: box choice = max spread
    with first-in-list (= lexicographic split-path) tie-break, split
    axis = first max channel spread, split order = (axis value,
    original pixel index) — the pixel-index tie-break (r4) replaces
    numpy's internal stable order so a set-based SQL replay sorts the
    same way."""
    pixels = arr.reshape(-1, 3).astype(np.int64)
    pid = np.arange(len(pixels), dtype=np.int64)
    boxes = [(pixels, pid)]
    while len(boxes) < n_colors:
        # split the box with the largest spread along its widest axis
        spreads = [
            (b.max(axis=0) - b.min(axis=0)).max() if len(b) > 1 else -1
            for b, _ in boxes
        ]
        i = int(np.argmax(spreads))
        if spreads[i] <= 0:
            break
        b, ids = boxes.pop(i)
        axis = int(np.argmax(b.max(axis=0) - b.min(axis=0)))
        order = np.lexsort((ids, b[:, axis]))
        half = len(order) // 2
        boxes.insert(i, (b[order[:half]], ids[order[:half]]))
        boxes.insert(i + 1, (b[order[half:]], ids[order[half:]]))
    pal = np.array(
        [
            np.floor(b.mean(axis=0) + 0.5) if len(b) else [0, 0, 0]
            for b, _ in boxes
        ],
        dtype=np.int64,
    )
    counts = np.array([len(b) for b, _ in boxes], dtype=np.int64)
    return np.clip(pal, 0, 255), counts


def median_cut_palette(arr: np.ndarray, n_colors: int = 16) -> np.ndarray:
    """(h, w, 3) uint8 -> (n, 3) uint8 palette via median cut."""
    pal, _ = median_cut_boxes(arr, n_colors)
    return pal.astype(np.uint8)


def dither_fs(arr: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Floyd-Steinberg dither to palette indices; returns (h, w)
    uint8 index raster."""
    h, w = arr.shape[:2]
    work = arr.astype(np.float64).copy()
    palf = palette.astype(np.float64)
    out = np.zeros((h, w), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            px = np.clip(work[y, x], 0, 255)
            d2 = ((palf - px) ** 2).sum(axis=1)
            k = int(np.argmin(d2))
            out[y, x] = k
            err = px - palf[k]
            if x + 1 < w:
                work[y, x + 1] += err * (7.0 / 16.0)
            if y + 1 < h:
                if x > 0:
                    work[y + 1, x - 1] += err * (3.0 / 16.0)
                work[y + 1, x] += err * (5.0 / 16.0)
                if x + 1 < w:
                    work[y + 1, x + 1] += err * (1.0 / 16.0)
    return out


def quantize_images(images: DataFrame, n_colors: int = 16) -> DataFrame:
    """Per-image median-cut palette + FS dither. Output: palette size,
    index histogram entropy key, and mean squared reconstruction
    error key (rows-only driver check; invariants pinned in pytest)."""

    def run(arr):
        pal = median_cut_palette(arr, n_colors)
        idx = dither_fs(arr, pal)
        err = pal[idx].astype(np.float64) - arr.astype(np.float64)
        mse = float((err ** 2).mean())
        yield (
            int(len(pal)),
            int(len(np.unique(idx))),
            int(np.floor(mse * 1000.0)),
        )

    return per_image(
        images, run,
        "image_id string, palette_n bigint, used_n bigint, mse_key bigint",
    )


# ---------------------------------------------------------------------------
# fixed-palette FS dither with a FULL value oracle
#
# The quantize_images entry stays rows-only because the median-cut
# PALETTE is deeply stateful (a python list of boxes with shifting
# argmax indices). The dithering itself, though order-dependent, is a
# deterministic serial recurrence — so with a fixed palette it can be
# replayed bit-for-bit by a DuckDB RECURSIVE CTE whose state is the
# error-diffused pixel buffer (a list<double> column): every step
# performs the same correctly-rounded IEEE ops in the same order as
# the numpy loop, so argmin choices and all downstream indices match
# exactly. This pins the serial-error-diffusion class under the value
# gate, not just row counts.

DITHER_N = 16  # 16x16 top-left crop -> 256 recursion steps
FIXED_PAL = np.array(
    [[(i * 37) % 256, (i * 73) % 256, (i * 151) % 256] for i in range(16)],
    dtype=np.uint8,
)


def dither_fixed(images: DataFrame) -> DataFrame:
    """FS dither of the 16x16 crop to the fixed 16-color palette.
    Output (image_id, used_n, idx_sum, idx_wsum): distinct palette
    entries used, index sum, and the scan-position-weighted index sum
    (order-sensitive — any diffusion divergence shifts it)."""

    def run(arr):
        yield _dither_keys(dither_fs(arr[:DITHER_N, :DITHER_N, :3], FIXED_PAL))

    return per_image(
        images, run,
        "image_id string, used_n bigint, idx_sum bigint, idx_wsum bigint",
    )


def _dither_keys(idx: np.ndarray):
    """(used_n, idx_sum, idx_wsum) of a dithered index raster: distinct
    entries, index sum and the scan-position-weighted index sum."""
    k = idx.flatten().astype(np.int64)
    p = np.arange(len(k), dtype=np.int64) + 1
    return int(len(np.unique(k))), int(k.sum()), int((k * p).sum())


def quantize_dither_keys(images: DataFrame, n_colors: int = 16) -> DataFrame:
    """VALUE-CHECKED median-cut + FS dither (r4 — the r3 verdict's
    'no_oracle reaches 0' item): over the 16x16 crop, compute the
    median-cut palette AND dither to it; emit per image

      palette_n                    number of boxes
      pal_key  = sum (rank+1) * (r*65536 + g*256 + b)
      cnt_key  = sum (rank+1) * box_count
      used_n / idx_sum / idx_wsum  the FS dither keys vs the
                                   COMPUTED palette (box order)

    with rank = canonical order (count DESC, then channel values) —
    linear in rank, so identical tied boxes cannot perturb the keys.
    The DuckDB oracle replays the split tree set-based (15
    materialized rounds) and the diffusion serially (recursive CTE)."""

    def run(arr):
        arr = arr[:DITHER_N, :DITHER_N, :3]
        pal, cnts = median_cut_boxes(arr, n_colors)
        order = np.lexsort((pal[:, 2], pal[:, 1], pal[:, 0], -cnts))
        rank = np.empty(len(order), dtype=np.int64)
        rank[order] = np.arange(len(order), dtype=np.int64)
        code = pal[:, 0] * 65536 + pal[:, 1] * 256 + pal[:, 2]
        yield (
            int(len(pal)),
            int(((rank + 1) * code).sum()),
            int(((rank + 1) * cnts).sum()),
            *_dither_keys(dither_fs(arr, pal.astype(np.uint8))),
        )

    return per_image(
        images, run,
        "image_id string, palette_n bigint, pal_key bigint, "
        "cnt_key bigint, used_n bigint, idx_sum bigint, idx_wsum bigint",
    )


def pct2rgb_fixed(images: DataFrame) -> DataFrame:
    """pct2rgb (reference osgeo_utils/pct2rgb.py: color-table lookup
    expanding an indexed raster to RGB bands), composed over the
    fixed-palette FS dither so the index raster is the one the value
    oracle can replay. Output (image_id, r_sum, g_sum, b_sum): the
    per-channel sums of the expanded image — any lookup divergence on
    any pixel shifts them."""

    def run(arr):
        idx = dither_fs(arr[:DITHER_N, :DITHER_N, :3], FIXED_PAL)
        rgb = FIXED_PAL[idx].astype(np.int64)
        yield tuple(int(rgb[..., c].sum()) for c in range(3))

    return per_image(
        images, run,
        "image_id string, r_sum bigint, g_sum bigint, b_sum bigint",
    )


def oracle_quantize_dither(n: int, max_i: int, n_colors: int = 16) -> str:
    """Full value replay of quantize_dither_keys: the median-cut
    split tree runs SET-BASED as ``n_colors - 1`` materialized rounds
    (per round: per-box channel spreads -> target box = max effective
    spread with lexicographic-split-path tie-break -> stable
    (axis value, pixel id) median split), then the Floyd-Steinberg
    diffusion replays SERIALLY via the recursive-CTE machinery of
    oracle_dither_fixed, with the palette now a per-image list column
    (box order) computed by the rounds above. Every op is the same
    correctly-rounded IEEE double sequence as the numpy side."""
    from .. import synth

    W = DITHER_N
    NPX = W * W
    val = synth.pixel_val_sql()

    rounds = []
    for k in range(n_colors - 1):
        rounds.append(
            f"s{k} AS MATERIALIZED (SELECT image_id, lab, "
            f"max(r) - min(r) AS sr, max(g) - min(g) AS sg, "
            f"max(b) - min(b) AS sb, count(*) AS cnt "
            f"FROM m{k} GROUP BY image_id, lab), "
            f"c{k} AS MATERIALIZED (SELECT image_id, lab AS tlab, "
            f"(CASE WHEN sr >= sg AND sr >= sb THEN 0 "
            f"WHEN sg >= sb THEN 1 ELSE 2 END) AS ax, cnt, "
            f"(CASE WHEN cnt > 1 THEN greatest(sr, sg, sb) "
            f"ELSE -1 END) AS sp "
            f"FROM s{k} "
            f"QUALIFY row_number() OVER (PARTITION BY image_id "
            f"ORDER BY (CASE WHEN cnt > 1 THEN greatest(sr, sg, sb) "
            f"ELSE -1 END) DESC, lab) = 1), "
            f"m{k + 1} AS MATERIALIZED (SELECT image_id, pid, r, g, b, "
            f"CASE WHEN is_t AND sp > 0 THEN lab || "
            f"(CASE WHEN rn <= cnt // 2 THEN '0' ELSE '1' END) "
            f"ELSE lab END AS lab "
            f"FROM (SELECT m.image_id, m.pid, m.r, m.g, m.b, m.lab, "
            f"coalesce(m.lab = c.tlab, false) AS is_t, c.sp, c.cnt, "
            f"row_number() OVER (PARTITION BY m.image_id, "
            f"coalesce(m.lab = c.tlab, false) "
            f"ORDER BY (CASE c.ax WHEN 0 THEN m.r WHEN 1 THEN m.g "
            f"ELSE m.b END), m.pid) AS rn "
            f"FROM m{k} m LEFT JOIN c{k} c USING (image_id)) t)"
        )
    last = f"m{n_colors - 1}"

    return f"""
WITH RECURSIVE
img AS (SELECT i, image_id, w, h, fmt FROM ({synth.images_cte(n, 'duckdb')})
        WHERE i < {max_i}),
px AS (SELECT image_id, x, y, ch, {val} AS v
       FROM img, range(0, {W}) a(x), range(0, {W}) b(y), range(0, 3) c(ch)),
pxw AS MATERIALIZED (SELECT image_id, y * {W} + x AS pid,
       cast(max(CASE WHEN ch = 0 THEN v END) as bigint) AS r,
       cast(max(CASE WHEN ch = 1 THEN v END) as bigint) AS g,
       cast(max(CASE WHEN ch = 2 THEN v END) as bigint) AS b
       FROM px GROUP BY image_id, y * {W} + x),
m0 AS MATERIALIZED (SELECT image_id, pid, r, g, b, '' AS lab FROM pxw),
{', '.join(rounds)},
boxes AS MATERIALIZED (SELECT image_id, lab, count(*) AS cnt,
  cast(floor(cast(sum(r) as double) / count(*) + 0.5E0) as bigint) AS pr,
  cast(floor(cast(sum(g) as double) / count(*) + 0.5E0) as bigint) AS pg,
  cast(floor(cast(sum(b) as double) / count(*) + 0.5E0) as bigint) AS pb
  FROM {last} GROUP BY image_id, lab),
ranked AS (SELECT *, row_number() OVER (PARTITION BY image_id
  ORDER BY cnt DESC, pr, pg, pb) AS rk FROM boxes),
palkeys AS (SELECT image_id, count(*) AS palette_n,
  cast(sum(rk * (pr * 65536 + pg * 256 + pb)) as bigint) AS pal_key,
  cast(sum(rk * cnt) as bigint) AS cnt_key
  FROM ranked GROUP BY image_id),
pal AS MATERIALIZED (SELECT image_id,
  list(cast(pr as double) ORDER BY lab) AS palr,
  list(cast(pg as double) ORDER BY lab) AS palg,
  list(cast(pb as double) ORDER BY lab) AS palb
  FROM boxes GROUP BY image_id),
base AS (SELECT p2.image_id, E, palr, palg, palb
  FROM (SELECT image_id, list(cast(v as double) ORDER BY y, x, ch) AS E
        FROM px GROUP BY image_id) p2 JOIN pal USING (image_id)),
r AS (
  SELECT image_id, 0 AS p, E, palr, palg, palb,
         cast(0 as bigint) AS idx_sum,
         cast(0 as bigint) AS idx_wsum, cast(0 as bigint) AS used
  FROM base
  UNION ALL
  SELECT image_id, p + 1,
         list_transform(range(1, {3 * NPX} + 1), q ->
           E[q] + (CASE ((q - 1) // 3)
             WHEN p + 1 THEN (CASE WHEN xc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.4375E0 ELSE 0.0E0 END)
             WHEN p + {W - 1} THEN (CASE WHEN yc < {W - 1} AND xc > 0 THEN errl[(q - 1) % 3 + 1] * 0.1875E0 ELSE 0.0E0 END)
             WHEN p + {W} THEN (CASE WHEN yc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.3125E0 ELSE 0.0E0 END)
             WHEN p + {W + 1} THEN (CASE WHEN yc < {W - 1} AND xc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.0625E0 ELSE 0.0E0 END)
             ELSE 0.0E0 END)) AS E,
         palr, palg, palb,
         idx_sum + k, idx_wsum + k * (p + 1), used | (1::BIGINT << k)
  FROM (
    SELECT s2.*, list_value(pxr - palr[k + 1], pxg - palg[k + 1],
                            pxb - palb[k + 1]) AS errl
    FROM (
      SELECT s1.*, cast(list_position(dl, list_min(dl)) - 1 as bigint) AS k
      FROM (
        SELECT s0.*, list_transform(range(0, len(palr)), t ->
            (pxr - palr[t + 1]) * (pxr - palr[t + 1])
          + (pxg - palg[t + 1]) * (pxg - palg[t + 1])
          + (pxb - palb[t + 1]) * (pxb - palb[t + 1])) AS dl
        FROM (
          SELECT r.*, (p % {W}) AS xc, (p // {W}) AS yc,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 1])) AS pxr,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 2])) AS pxg,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 3])) AS pxb
          FROM r WHERE p < {NPX}
        ) s0
      ) s1
    ) s2
  ) s3
)
SELECT r.image_id, palette_n, pal_key, cnt_key,
       cast(bit_count(used) as bigint) AS used_n, idx_sum, idx_wsum
FROM r JOIN palkeys ON r.image_id = palkeys.image_id
WHERE p = {NPX}
"""


def oracle_dither_fixed(n: int, max_i: int, rgb: bool = False) -> str:
    """The recursive serial replay (DuckDB dialect; see module note).
    With ``rgb`` the recursion also accumulates the palette-expanded
    channel sums (the pct2rgb composition) and returns those."""
    from .. import synth

    W = DITHER_N
    NPX = W * W

    def pal_list(c):
        return (
            "[" + ", ".join(f"{float(FIXED_PAL[i][c])!r}" for i in range(16))
            + "]"
        )

    PR, PG, PB = pal_list(0), pal_list(1), pal_list(2)
    val = synth.pixel_val_sql()
    rgb_anchor = (
        ", cast(0 as bigint) AS rsum, cast(0 as bigint) AS gsum, "
        "cast(0 as bigint) AS bsum" if rgb else ""
    )
    rgb_step = (
        f", rsum + cast({PR}[k + 1] as bigint), "
        f"gsum + cast({PG}[k + 1] as bigint), "
        f"bsum + cast({PB}[k + 1] as bigint)" if rgb else ""
    )
    final = (
        "image_id, rsum AS r_sum, gsum AS g_sum, bsum AS b_sum"
        if rgb
        else "image_id, cast(bit_count(used) as bigint) AS used_n, "
        "idx_sum, idx_wsum"
    )
    return f"""
WITH RECURSIVE
img AS (SELECT i, image_id, w, h, fmt FROM ({synth.images_cte(n, 'duckdb')})
        WHERE i < {max_i}),
px AS (SELECT image_id, x, y, ch, {val} AS v
       FROM img, range(0, {W}) a(x), range(0, {W}) b(y), range(0, 3) c(ch)),
base AS (SELECT image_id, list(cast(v as double) ORDER BY y, x, ch) AS E
         FROM px GROUP BY image_id),
r AS (
  SELECT image_id, 0 AS p, E, cast(0 as bigint) AS idx_sum,
         cast(0 as bigint) AS idx_wsum, cast(0 as bigint) AS used{rgb_anchor}
  FROM base
  UNION ALL
  SELECT image_id, p + 1,
         list_transform(range(1, {3 * NPX} + 1), q ->
           E[q] + (CASE ((q - 1) // 3)
             WHEN p + 1 THEN (CASE WHEN xc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.4375E0 ELSE 0.0E0 END)
             WHEN p + {W - 1} THEN (CASE WHEN yc < {W - 1} AND xc > 0 THEN errl[(q - 1) % 3 + 1] * 0.1875E0 ELSE 0.0E0 END)
             WHEN p + {W} THEN (CASE WHEN yc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.3125E0 ELSE 0.0E0 END)
             WHEN p + {W + 1} THEN (CASE WHEN yc < {W - 1} AND xc < {W - 1} THEN errl[(q - 1) % 3 + 1] * 0.0625E0 ELSE 0.0E0 END)
             ELSE 0.0E0 END)) AS E,
         idx_sum + k, idx_wsum + k * (p + 1), used | (1::BIGINT << k){rgb_step}
  FROM (
    SELECT s2.*, list_value(pxr - {PR}[k + 1], pxg - {PG}[k + 1],
                            pxb - {PB}[k + 1]) AS errl
    FROM (
      SELECT s1.*, cast(list_position(dl, list_min(dl)) - 1 as bigint) AS k
      FROM (
        SELECT s0.*, list_transform(range(0, 16), t ->
            (pxr - {PR}[t + 1]) * (pxr - {PR}[t + 1])
          + (pxg - {PG}[t + 1]) * (pxg - {PG}[t + 1])
          + (pxb - {PB}[t + 1]) * (pxb - {PB}[t + 1])) AS dl
        FROM (
          SELECT r.*, (p % {W}) AS xc, (p // {W}) AS yc,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 1])) AS pxr,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 2])) AS pxg,
                 greatest(0.0E0, least(255.0E0, E[3 * p + 3])) AS pxb
          FROM r WHERE p < {NPX}
        ) s0
      ) s1
    ) s2
  ) s3
)
SELECT {final}
FROM r WHERE p = {NPX}
"""
