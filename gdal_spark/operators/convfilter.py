"""VRT kernel-filtered source: generic NxN convolution over a band.

Reference semantics: frmts/vrt/vrtfilters.cpp
``VRTKernelFilteredSource::FilterData`` (:482) — dfSum += val * coef
over the kernel window; if <NormalizeKernel>, divide by the
accumulated kernel sum; edges inside the extra-pixel margin are not
computed. Exercised by the gdalfilter.py sample
(swig/python/gdal-utils/osgeo_utils/samples/gdalfilter.py).

Two gated kernels over channel 0:

- ``sharpen`` 3x3 [0,-1,0; -1,5,-1; 0,-1,0], non-normalized — all
  taps are uint8 integers and the weights are integers, so the
  response is EXACT int64 (= center + 4-neighbor Laplacian).
- ``blur``    3x3 all-ones, normalized (sum/9) — the integer tap sum
  is exact, the single double division and the 1e4-floor key are the
  same IEEE ops on both engines.

Spark shape: decode -> one vectorized numpy kernel per image,
map-only; per-scanline integer sums bound the gate's row count
(the dem_images shape). Tap order cannot perturb anything: all
accumulation happens on int64.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import synth
from .stats import per_image


def _responses(a: np.ndarray):
    """(sharpen int64, blur_key int64) over the interior of a 2-D
    int array."""
    c = a[1:-1, 1:-1].astype(np.int64)
    n4 = (
        a[:-2, 1:-1].astype(np.int64)
        + a[2:, 1:-1].astype(np.int64)
        + a[1:-1, :-2].astype(np.int64)
        + a[1:-1, 2:].astype(np.int64)
    )
    sharpen = 5 * c - n4
    win9 = np.zeros_like(c)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            win9 = win9 + a[
                1 + dy : a.shape[0] - 1 + dy, 1 + dx : a.shape[1] - 1 + dx
            ].astype(np.int64)
    blur_key = np.floor(win9 / 9.0 * 10000.0).astype(np.int64)
    return sharpen, blur_key


def kernel_filter(images: DataFrame) -> DataFrame:
    """(image_id, y, n, sharpen_sum, blur_key_sum) per interior
    scanline of channel 0."""
    def fn(arr):
        sharpen, blur_key = _responses(arr[:, :, 0])
        for row in range(sharpen.shape[0]):
            yield (
                row + 1,
                int(sharpen.shape[1]),
                int(sharpen[row].sum()),
                int(blur_key[row].sum()),
            )

    schema = (
        "image_id string, y bigint, n bigint, sharpen_sum bigint, "
        "blur_key_sum bigint"
    )
    return per_image(images, fn, schema)


def oracle_kernel_filter(n: int, max_i: int) -> str:
    """Tap-instantiated closed-form replay (no pixel self-join): the
    synth pixel formula is evaluated at the 9 window positions."""
    def tap(dx, dy):
        xe = "x" if dx == 0 else f"x + {dx}" if dx > 0 else f"x - {-dx}"
        ye = "y" if dy == 0 else f"y + {dy}" if dy > 0 else f"y - {-dy}"
        return synth.pixel_val_sql(xe, ye)

    n4 = " + ".join(tap(*d) for d in ((0, -1), (0, 1), (-1, 0), (1, 0)))
    win9 = " + ".join(
        tap(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    )
    return (
        f"WITH cen AS (SELECT image_id, i, w, h, fmt, 0 AS ch, x, y "
        f"FROM ({synth.images_cte(n, 'duckdb')}) img, "
        f"range(1, 255) tx(x), range(1, 255) ty(y) "
        f"WHERE img.i < {max_i} AND x < w - 1 AND y < h - 1), "
        f"resp AS (SELECT image_id, y, "
        f"5 * {tap(0, 0)} - ({n4}) AS sharpen, "
        f"cast(floor(cast(({win9}) as double) / 9.0E0 * 10000.0E0) "
        f"as bigint) AS blur_key FROM cen) "
        f"SELECT image_id, y, count(*) AS n, "
        f"cast(sum(sharpen) as bigint) AS sharpen_sum, "
        f"cast(sum(blur_key) as bigint) AS blur_key_sum "
        f"FROM resp GROUP BY 1, 2"
    )
