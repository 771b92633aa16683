"""Tile pyramid: distributed render/overview vs a single-machine
brute-force mosaic of the same images, plus resume on the snapshot
log."""

import functools

import numpy as np
import pytest

from gdal_spark import codecs, grid, synth, tablefmt
from gdal_spark.operators import stats, tiling

Z = 10
RANGE = (543, 545, 668, 670)  # hot-cell tiles at z10


@functools.lru_cache(maxsize=None)
def source_pixels(i, w, h, fmt):
    return codecs.decode_image(
        codecs.encode_image(codecs.make_pixels(i, w, h), fmt)
    )


def brute_last_wins(meta, xs, ys):
    """Last-wins nearest mosaic of ``meta``'s images on the pixel
    centres (x per column ``xs``, y per row ``ys``), image by image."""
    buf = np.zeros((len(ys), len(xs), 3), dtype=np.uint8)
    painted = np.zeros((len(ys), len(xs)), dtype=bool)
    for rec in meta.sort_values("i").itertuples(index=False):
        arr = source_pixels(rec.i, rec.w, rec.h, rec.fmt)
        r = 0.1 / rec.w
        ix = np.floor((xs - rec.lon) / r + 1e-10).astype(np.int64)
        iy = np.floor((rec.lat - ys) / r + 1e-10).astype(np.int64)
        m = ((iy >= 0) & (iy < rec.h))[:, None] & ((ix >= 0) & (ix < rec.w))[None, :]
        yy, xx = np.nonzero(m)
        buf[yy, xx, :] = arr[iy[yy], ix[xx], :]
        painted[yy, xx] = True
    return buf, painted


def brute_render(meta, zoom, tx, ty, tile_px=64):
    return brute_last_wins(
        meta, *tiling._tile_lonlat_grids(tx, ty, zoom, tile_px)
    )


@pytest.fixture(scope="module")
def hot_images(spark):
    meta = synth.images_pdf(512)
    meta = meta[meta.i % 4 == 0].reset_index(drop=True)
    df = synth.add_pixels(
        spark.createDataFrame(synth.images_pdf(512)).filter("i % 4 = 0")
    )
    return meta, df


def test_base_render_matches_bruteforce(spark, hot_images):
    meta, df = hot_images
    out = tiling.render_base_tiles(df, Z).toPandas()
    tx0, tx1, ty0, ty1 = RANGE
    sub = out[(out.tx.between(tx0, tx1)) & (out.ty.between(ty0, ty1))]
    assert len(sub) >= 4
    for row in sub.itertuples(index=False):
        buf, painted = brute_render(meta, Z, int(row.tx), int(row.ty))
        got = codecs.decode_image(bytes(row.bytes))
        assert np.array_equal(got, buf)
        assert row.n_painted == int(painted.sum())
        assert row.cks_0 == stats.gdal_checksum(buf[:, :, 0])


def test_pyramid_two_levels(spark, hot_images):
    meta, df = hot_images
    base = tiling.render_base_tiles(df, Z)
    z9 = tiling.overview_tiles(base)
    t10 = base.toPandas().set_index(["tx", "ty"])
    t9 = z9.toPandas()
    t8 = tiling.overview_tiles(z9).toPandas()
    assert len(t9) >= 1 and len(t8) >= 1
    # verify one z9 parent against its children
    row = t9.iloc[0]
    comp = np.zeros((128, 128, 3), dtype=np.int64)
    for qx in (0, 1):
        for qy in (0, 1):
            key = (2 * int(row.tx) + qx, 2 * int(row.ty) + qy)
            if key in t10.index:
                child = codecs.decode_image(bytes(t10.loc[key, "bytes"]))
                y0 = 0 if qy == 1 else 64
                comp[y0 : y0 + 64, qx * 64 : (qx + 1) * 64, :] = child
    s = comp[0::2, 0::2] + comp[1::2, 0::2] + comp[0::2, 1::2] + comp[1::2, 1::2]
    exp = ((s + 2) // 4).astype(np.uint8)
    got = codecs.decode_image(bytes(row.bytes))
    assert np.array_equal(got, exp)


def test_resume_anti_join(spark, hot_images, tmp_path):
    """Resume on the snapshot log: tiles committed by
    ``SnapshotLog.append`` drop out of ``resume_filter`` by (tx, ty)."""
    _, df = hot_images
    log = tablefmt.SnapshotLog(str(tmp_path / "tiles"))
    base = tiling.render_base_tiles(df, Z).cache()
    n_all = base.count()
    assert tablefmt.resume_filter(base, spark, log, ["tx", "ty"]).count() == n_all
    # commit half the tiles, then resume must only yield the rest
    half = base.limit(n_all // 2).cache()
    log.append(half)
    remaining = tablefmt.resume_filter(base, spark, log, ["tx", "ty"])
    assert remaining.count() == n_all - half.count()
    # committing the rest leaves nothing to do
    log.append(remaining)
    assert tablefmt.resume_filter(base, spark, log, ["tx", "ty"]).count() == 0


def test_covering_tiles_complete(spark, hot_images):
    """Every tile the brute force finds painted must exist in the
    covering explode output (no dropped tiles)."""
    meta, df = hot_images
    cov = tiling.covering_tiles(
        df.select("i", "image_id", "bytes", "lon", "lat", "w", "h"), Z
    )
    pairs = {
        (int(r.tx), int(r.ty))
        for r in cov.select("tx", "ty").distinct().toPandas().itertuples()
    }
    # footprint corner tiles of each image must all be present
    for rec in meta.head(50).itertuples(index=False):
        res = 0.1 / rec.w
        for lon, lat in [
            (rec.lon, rec.lat),
            (rec.lon + 0.1, rec.lat),
            (rec.lon, rec.lat - rec.h * res),
            (rec.lon + 0.1, rec.lat - rec.h * res),
        ]:
            tx, ty = grid.lonlat_to_tile_merc(np.array([lon]), np.array([lat]), Z)
            assert (int(tx[0]), int(ty[0])) in pairs


def test_overview_gauss_matches_bruteforce(spark, hot_images):
    """GAUSS overview (r4): mosaic the full child window into one
    array, run the anchored 3x3 binomial window with raster-edge
    truncation in plain numpy, and demand byte equality per parent —
    including across parent-tile seams (the halo path)."""
    meta, df = hot_images
    tx0, tx1, ty0, ty1 = RANGE
    base = tiling.render_base_tiles(df, Z).filter(
        f"tx BETWEEN {tx0} AND {tx1} AND ty BETWEEN {ty0} AND {ty1}"
    )
    out = tiling.overview_gauss(base, RANGE).toPandas()
    assert len(out) >= 4

    # full mosaic of the child window (TMS y-up -> image rows go
    # down as ty decreases)
    t = tiling.TILE_PX
    W = (tx1 - tx0 + 1) * t
    H = (ty1 - ty0 + 1) * t
    mosaic = np.zeros((H, W, 3), dtype=np.int64)
    for row in base.toPandas().itertuples(index=False):
        arr = codecs.decode_image(bytes(row.bytes))
        ox = (int(row.tx) - tx0) * t
        oy = (ty1 - int(row.ty)) * t
        mosaic[oy : oy + t, ox : ox + t, :] = arr

    K = tiling.GAUSS_K3
    for row in out.itertuples(index=False):
        ptx, pty = int(row.tx), int(row.ty)
        got = codecs.decode_image(bytes(row.bytes))
        for y in range(t):
            for x in range(t):
                # parent pixel -> global child coords
                gx = (2 * ptx - tx0) * t + 2 * x
                gy = (ty1 - 2 * pty - 1) * t + 2 * y
                tot = 0
                wsum = 0
                for j in range(3):
                    for i in range(3):
                        yy, xx = gy + j, gx + i
                        if 0 <= yy < H and 0 <= xx < W:
                            w = int(K[j, i])
                            tot_px = mosaic[yy, xx, :]
                            tot = tot + w * tot_px
                            wsum += w
                if wsum == 0:
                    want = np.zeros(3, dtype=np.int64)
                else:
                    want = (2 * tot + wsum) // (2 * wsum)
                assert (got[y, x, :] == want).all(), (ptx, pty, x, y)


def test_feather_mosaic_weighted_blend(spark):
    """Feather blend: single-source pixels equal the source value;
    overlap pixels equal the exact integer weighted mean (numpy
    replay on one hot tile)."""
    import numpy as np

    from gdal_spark import codecs, synth
    from gdal_spark.operators import tiling

    imgs = synth.images_df(spark, 4096).filter("i % 4 = 0 AND i < 512")
    feather = tiling.render_feather_tiles(
        synth.add_pixels(imgs), 10
    ).filter("tx = 544 AND ty = 669").toPandas()
    assert len(feather) == 1
    # numpy replay
    pdf = synth.images_pdf(4096)
    pdf = pdf[(pdf["i"] % 4 == 0) & (pdf["i"] < 512)]
    lon_px, lat_px = tiling._tile_lonlat_grids(544, 669, 10, tiling.TILE_PX)
    num = np.zeros((tiling.TILE_PX, tiling.TILE_PX, 3), dtype=np.int64)
    den = np.zeros((tiling.TILE_PX, tiling.TILE_PX), dtype=np.int64)
    for r in pdf.itertuples(index=False):
        res = 0.1 / r.w
        sx = (lon_px - r.lon) / res
        sy = (r.lat - lat_px) / res
        ix = np.floor(sx + 1e-10).astype(np.int64)
        iy = np.floor(sy + 1e-10).astype(np.int64)
        okx = (ix >= 0) & (ix < r.w)
        oky = (iy >= 0) & (iy < r.h)
        m = oky[:, None] & okx[None, :]
        if not m.any():
            continue
        arr = codecs.decode_image(
            codecs.encode_image(codecs.make_pixels(r.i, r.w, r.h), r.fmt)
        )
        yy, xx = np.nonzero(m)
        gx, gy = ix[xx], iy[yy]
        wd = np.minimum(np.minimum(gx, r.w - 1 - gx),
                        np.minimum(gy, r.h - 1 - gy)) + 1
        num[yy, xx, :] += wd[:, None] * arr[gy, gx, :].astype(np.int64)
        den[yy, xx] += wd
    out = np.zeros_like(num)
    p = den > 0
    out[p] = num[p] // den[p][:, None]
    row = feather.iloc[0]
    assert row["n_painted"] == int(p.sum()) > 0
    for c in range(3):
        assert row[f"cks_{c}"] == stats.gdal_checksum(out[:, :, c])


RETILE = dict(x0=11.2, y0=48.6, res=0.1 / 256, tile_px=64, nx=8, ny=8)


def test_retile_matches_bruteforce(spark, hot_images):
    """retile vs a brute-force affine last-wins render of every tile
    of the grid. Hot images straddle the grid's east and south edges,
    so their covering ranges are clamped onto edge tiles; the covering
    stage keeps only grid tiles and only images that overlap the
    grid."""
    meta, df = hot_images
    x0, y0, res, t, nx, ny = (RETILE[k] for k in
                              ("x0", "y0", "res", "tile_px", "nx", "ny"))
    minlat = meta.lat - 0.1 * meta.h / meta.w
    overlaps = (
        (meta.lon < x0 + res * t * nx) & (meta.lon + 0.1 > x0)
        & (meta.lat > y0 - res * t * ny) & (minlat < y0)
    )
    inside = (
        (meta.lon >= x0) & (meta.lon + 0.1 <= x0 + res * t * nx)
        & (meta.lat <= y0) & (minlat >= y0 - res * t * ny)
    )
    assert (overlaps & ~inside).any()  # an image clamped onto an edge tile
    assert (~overlaps).any()  # and one outside the grid

    cov = tiling._retile_cover(df, **RETILE).select("i", "tx", "ty").toPandas()
    assert set(cov.i) == set(meta.i[overlaps])
    assert cov.tx.between(0, nx - 1).all() and cov.ty.between(0, ny - 1).all()

    got = tiling.retile(df, **RETILE).toPandas().set_index(["tx", "ty"])
    want = {}
    for tx in range(nx):
        for ty in range(ny):
            xs = x0 + (tx * t + np.arange(t) + 0.5) * res
            ys = y0 - (ty * t + np.arange(t) + 0.5) * res
            buf, painted = brute_last_wins(meta, xs, ys)
            if painted.any():
                want[(tx, ty)] = (buf, int(painted.sum()))
    assert set(got.index) == set(want)
    for key, (buf, n) in want.items():
        row = got.loc[key]
        assert row.n_painted == n
        for c in range(3):
            assert row[f"cks_{c}"] == stats.gdal_checksum(buf[:, :, c])
