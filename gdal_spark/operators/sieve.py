"""GDALSieveFilter — remove raster polygons smaller than a threshold.

Reference: alg/gdalsievefilter.cpp (:196-247): connected components
(4- or 8-connectivity) below the size threshold merge into their
largest neighboring component; repeat until no component is below
threshold.

Execution shape here: per-raster numpy kernel (CC labeling via the
polygonize union-find + iterative merge loop), run per image /
per independent raster inside mapInPandas. The cross-tile variant of
a single huge raster composes this with polygonize's distributed
label merge (the small components that sieve removes are by
definition local once labels are global).

Driver query: a block raster seeded with strictly-interior
single-pixel speckles — sieve(threshold>=2) must restore the pure
block pattern, which the oracle states in closed form.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .polygonize import label_tile
from .rowstage import bands


def sieve_filter(vals: np.ndarray, threshold: int, connect8: bool = False) -> np.ndarray:
    """Merge components smaller than ``threshold`` into their largest
    neighbor; repeats until stable (gdalsievefilter semantics)."""
    out = vals.copy()
    h, w = out.shape
    for _ in range(h * w):  # bounded; converges much faster
        labels = label_tile(out, connect8)
        flat_l = labels.ravel()
        sizes: dict = {}
        for lb in flat_l:
            sizes[lb] = sizes.get(lb, 0) + 1
        small = {lb for lb, n in sizes.items() if n < threshold}
        if not small:
            return out
        # neighbor sizes per small component
        best: dict = {}

        def consider(a, b):
            la, lb_ = labels.flat[a], labels.flat[b]
            if la == lb_:
                return
            for s, t in ((la, lb_), (lb_, la)):
                if s in small:
                    cur = best.get(s)
                    cand = (sizes[t], -t)
                    if cur is None or cand > cur[0:2]:
                        best[s] = (sizes[t], -t, t)

        idx = np.arange(h * w).reshape(h, w)
        horiz = np.stack([idx[:, :-1].ravel(), idx[:, 1:].ravel()], axis=1)
        vert = np.stack([idx[:-1, :].ravel(), idx[1:, :].ravel()], axis=1)
        pairs = np.concatenate([horiz, vert])
        if connect8:
            d1 = np.stack([idx[:-1, :-1].ravel(), idx[1:, 1:].ravel()], axis=1)
            d2 = np.stack([idx[:-1, 1:].ravel(), idx[1:, :-1].ravel()], axis=1)
            pairs = np.concatenate([pairs, d1, d2])
        la = labels.flat[pairs[:, 0]]
        lb = labels.flat[pairs[:, 1]]
        diff = la != lb
        for a, b in pairs[diff]:
            consider(a, b)
        changed = False
        val_of = {}
        for lb_, size in sizes.items():
            val_of[lb_] = out.flat[lb_]
        for s, (_, _, tgt) in best.items():
            out[labels == s] = val_of[tgt]
            changed = True
        if not changed:
            return out
    return out


def sieve_blocks(
    spark, width: int, height: int, bs: int = 24, mod: int = 3,
    threshold: int = 4,
) -> DataFrame:
    """Sieve the speckled block raster (single-pixel speckles strictly
    inside blocks). Runs the sieve kernel per horizontal raster band
    (bands aligned to block rows so components never cross bands —
    an embarrassingly-parallel decomposition; a last partial block row
    is its own short band). Output per scanline: (y, n, val_sum)."""

    def run(y0, h):
        gy, gx = np.mgrid[y0 : y0 + h, 0:width]
        out = sieve_filter(speckled_value(gx, gy, bs, mod), threshold)
        return [np.full(h, width), out.sum(axis=1)]

    return bands(spark, height, bs, run, "y bigint, n bigint, val_sum bigint")


def speckled_value(gx, gy, bs: int = 24, mod: int = 3) -> np.ndarray:
    """Block pattern + interior single-pixel speckles (value bumped by
    mod so the speckle differs from its block)."""
    base = ((gx // bs + gy // bs) % mod).astype(np.int64)
    interior = (gx % bs > 0) & (gx % bs < bs - 1) & (gy % bs > 0) & (gy % bs < bs - 1)
    # isolate speckles: no two adjacent (stride the pattern by >= 2)
    speck = ((gx * 7 + gy * 13) % 41 == 0) & interior
    return np.where(speck, base + mod, base)


def oracle_sieve_blocks(width: int, height: int, bs: int = 24, mod: int = 3) -> str:
    """Closed form: sieve removes every interior single-pixel speckle,
    restoring the pure block pattern."""
    return (
        f"SELECT gy AS y, count(*) AS n, "
        f"cast(sum((gx // {bs} + gy // {bs}) % {mod}) as bigint) AS val_sum "
        f"FROM range(0, {width}) a(gx), range(0, {height}) b(gy) "
        f"GROUP BY 1"
    )
