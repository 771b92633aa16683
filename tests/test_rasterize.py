"""Rasterize scanline/line parity (reference golden checksum 6452,
autotest/alg/rasterize.py:87) + polygonize CC labeling vs brute
force, including the cross-tile distributed merge."""

import numpy as np

from gdal_spark import scanline
from gdal_spark.operators import polygonize as polyop
from gdal_spark.operators.stats import gdal_checksum


def test_rasterize_1_checksum_golden():
    """Replicates autotest test_rasterize_1: 100x100 Byte raster,
    gt (1000,1,0,1100,0,-1); box polygon + linestring, burn 220;
    band checksum must equal the reference's golden 6452. The
    linestring is traversed in reverse point order exactly as
    GDALCollectRingsFromGeometry does for wkbLineString."""
    arr = np.zeros((100, 100), dtype=np.float64)

    def to_px(pts):
        return [((x - 1000.0), (1100.0 - y)) for x, y in pts]

    ring = to_px([(1020, 1030), (1020, 1045), (1050, 1045), (1050, 1030)])
    scanline.fill_polygon(arr, [ring], 220)
    line = to_px([(1000, 1000), (1100, 1050)])
    scanline.draw_line(arr, list(reversed(line)), 220)
    a8 = np.clip(np.floor(arr + 0.5), 0, 255).astype(np.uint8)
    assert gdal_checksum(a8) == 6452

    # burn clamping semantics from the same test: 256 -> 255, -1 -> 0
    assert scanline.clamp_byte(256) == 255
    assert scanline.clamp_byte(-1) == 0


def test_fill_polygon_center_rule():
    """Pixel burns iff its center is inside (half-open span rule)."""
    arr = np.zeros((10, 10), dtype=np.float64)
    # box [2.3, 6.7] x [1.2, 4.9]: centers x+0.5 in (2.3, 6.7) -> x=2..6
    ring = [(2.3, 1.2), (6.7, 1.2), (6.7, 4.9), (2.3, 4.9)]
    scanline.fill_polygon(arr, [ring], 1)
    ys, xs = np.nonzero(arr)
    assert xs.min() == 2 and xs.max() == 6
    assert ys.min() == 1 and ys.max() == 4


def test_fill_polygon_hole_even_odd():
    arr = np.zeros((20, 20), dtype=np.float64)
    outer = [(2.0, 2.0), (18.0, 2.0), (18.0, 18.0), (2.0, 18.0)]
    inner = [(6.0, 6.0), (14.0, 6.0), (14.0, 14.0), (6.0, 14.0)]
    scanline.fill_polygon(arr, [outer, inner], 1)
    assert arr[10, 10] == 0  # hole
    assert arr[3, 3] == 1
    assert arr[10, 4] == 1


def brute_cc(vals, connect8=False):
    h, w = vals.shape
    comp = -np.ones((h, w), dtype=np.int64)
    nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if connect8:
        nbrs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    for y in range(h):
        for x in range(w):
            if comp[y, x] >= 0:
                continue
            cid = y * w + x
            stack = [(y, x)]
            comp[y, x] = cid
            while stack:
                cy, cx = stack.pop()
                for dy, dx in nbrs:
                    ny, nx = cy + dy, cx + dx
                    if (
                        0 <= ny < h and 0 <= nx < w
                        and comp[ny, nx] < 0
                        and vals[ny, nx] == vals[cy, cx]
                    ):
                        comp[ny, nx] = cid
                        stack.append((ny, nx))
    return comp


def canon(labels, vals):
    """{(min linear idx, val, count)} canonical component set."""
    h, w = labels.shape
    lin = np.arange(h * w).reshape(h, w)
    out = set()
    for u in np.unique(labels):
        m = labels == u
        out.add((int(lin[m].min()), int(vals[m][0]), int(m.sum())))
    return out


def test_label_tile_matches_bruteforce():
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 3, size=(23, 31))
    for c8 in (False, True):
        mine = polyop.label_tile(vals, c8)
        ref = brute_cc(vals, c8)
        assert canon(mine, vals) == canon(ref, vals)


def test_polygonize_grid_cross_tile(spark):
    """Distributed polygonize over 4 tiles == single-array labeling;
    irregular blobs force components across tile boundaries. With
    16-px blocks, block corners sit on the 32-px tile edges, so
    8-connectivity must merge diagonal neighbours across tiles."""
    W = 64
    gy, gx = np.mgrid[0:W, 0:W]
    for bs, connect8 in [(24, False), (16, True)]:
        out = polyop.polygonize_grid(
            spark, f"block:{bs}:3", W, W, tile_px=32, connect8=connect8
        ).toPandas()
        vals = ((gx // bs + gy // bs) % 3).astype(np.int64)
        exp = canon(brute_cc(vals, connect8), vals)
        got = {(int(r.comp_id), int(r.val), int(r.n_pixels))
               for r in out.itertuples()}
        assert got == exp, (bs, connect8)


def test_rasterize_all_touched_golden():
    """autotest test_rasterize_2: cutline.csv polygons, 12x12 raster,
    ALL_TOUCHED=TRUE, burn 220 -> golden checksum 121."""
    polys = [
        [(6.25, 1.25), (7.25, 1.25), (7.25, 2.25), (6.25, 2.25)],
        [(4.25, 4.25), (6.25, 4.25), (6.25, 6.25), (4.25, 6.25)],
        [(1.001, 1.001), (3.999, 3.999), (3.2, 1.6)],
    ]
    arr = np.zeros((12, 12), dtype=np.float64)
    for p in polys:
        ring = [(x, 12.0 - y) for x, y in p]  # gt (0,1,0,12,0,-1)
        scanline.fill_polygon_all_touched(arr, [ring], 220)
    a8 = np.clip(np.floor(arr + 0.5), 0, 255).astype(np.uint8)
    assert gdal_checksum(a8) == 121


def test_sieve_connectivity_discriminates():
    """A diagonal 3-chain is three size-1 components under 4-conn
    (all sieved at threshold 3) but ONE size-3 component under 8-conn
    (survives) — GDALSieveFilter's 8CONNECTED option semantics."""
    from gdal_spark.operators import sieve

    arr = np.zeros((9, 9), dtype=np.int64)
    for k in range(3, 6):
        arr[k, k] = 1
    out4 = sieve.sieve_filter(arr, threshold=3, connect8=False)
    out8 = sieve.sieve_filter(arr, threshold=3, connect8=True)
    assert (out4 == 1).sum() == 0
    assert (out8 == 1).sum() == 3
    assert (out8 == arr).all()


def test_rasterize_inverse_closed_form(spark):
    """-i complement against a closed-form single-box cover: a box
    spanning [-10.3, 19.7] x [20.2, 40.2] on a 1-deg 360x180 grid
    covers pixel centers x in [170..199], y in [50..69] (30 wide,
    20 tall) -> inverse nnz = 330 on those 20 scanlines, 360
    elsewhere; every scanline present."""
    from gdal_spark import wkb as wkbmod
    from gdal_spark.operators import rasterize as rastop

    box = [(-10.3, 20.2), (19.7, 20.2), (19.7, 40.2), (-10.3, 40.2),
           (-10.3, 20.2)]
    polys = spark.createDataFrame(
        [(wkbmod.encode_polygon(box),)], "geom_wkb binary"
    )
    g = rastop.GridDef(-180.0, 90.0, 1.0, 360, 180, tile_px=64)
    out = (
        rastop.rasterize_inverse(spark, polys, g, burn_val=7.0)
        .toPandas()
        .set_index("y")
        .sort_index()
    )
    assert len(out) == 180
    for y in range(180):
        want = 330 if 50 <= y < 70 else 360
        assert out.loc[y, "nnz"] == want
        assert out.loc[y, "sum_v"] == want * 7.0
