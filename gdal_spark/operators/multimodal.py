"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The training-data-pipeline treatment of image/audio/video columns:
payloads stay ``binary``; metadata (w, h, fmt, frame count) lives in
plain columns so planning never decodes; decode / resize / sample
happen in Arrow-batched ``mapInPandas`` stages.

The container has no real codec libraries, so decode goes through the
clearly-marked deterministic fake codecs of gdal_spark.codecs (same
contract as PNG/JPEG: magic header + payload; lossless and
quantized-lossy variants). ``decode_video`` below is the STUB for a
real video decoder: with real data it raises NotImplementedError; the
deterministic fake path synthesizes frames so the Spark-side plumbing
(schema, batching, 1->N explode, partitioning) is fully exercised and
oracle-checked.

Operators:
- probe_headers   — header-only metadata scan (no pixel decode; the
                    gcore/gdalopeninfo.cpp "read the header" step)
- resize_nearest  — integer-index nearest resize (out px (x,y) <-
                    src ((x*w)//out_w, (y*h)//out_h)); exact SQL oracle
- sample_frames   — video frame sampling: every k-th of n_frames,
                    emitted as lossless stills (1->N mapInPandas)
- phash64_int     — integer-exact 8x8 average perceptual hash
                    (block mean > global mean; all sums integer so
                    both engines agree bit-for-bit), split into
                    (hi, lo) 32-bit halves for SQL-safe packing
- phash_neardup   — near-duplicate image pairs by phash hamming
                    distance, banded 16-bit join + exact verify
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs, synth
from .rowstage import per_row
from .stats import (
    channel_checksums, checksum_sql, gdal_checksum, per_image,
)

N_FRAMES = 4
FRAME_BASE = 100_000


def _block_sums(g: np.ndarray, rows: int, cols: int):
    """(sum, pixel count) of ``g`` over the rows x cols block grid with
    edges (k * size) // n, as object arrays of Python ints: the hash
    comparisons cross-multiply them, exact at any image size."""
    h, w = g.shape
    yb = (np.arange(rows + 1, dtype=np.int64) * h) // rows
    xb = (np.arange(cols + 1, dtype=np.int64) * w) // cols
    bs = np.array(
        [[int(g[yb[a] : yb[a + 1], xb[b] : xb[b + 1]].sum())
          for b in range(cols)] for a in range(rows)],
        dtype=object,
    )
    return bs, np.outer(np.diff(yb), np.diff(xb)).astype(object)


def _halves(bits: np.ndarray):
    """(hi, lo) 32-bit halves of a 64-bit hash whose bit k is the
    row-major k-th entry of the 8 x 8 boolean ``bits``."""
    v = sum(1 << int(k) for k in np.flatnonzero(bits))
    return v >> 32, v & 0xFFFFFFFF


def probe_headers(images: DataFrame) -> DataFrame:
    """(image_id, w, h, c, lossy) from payload headers only."""

    def probe(image_id, payload):
        b = bytes(payload)
        yield (image_id, *codecs.image_dims(b), int(b[:4] == b"GSJ0"))

    return per_row(
        images, ["image_id", "bytes"], probe,
        "image_id string, w int, h int, c int, lossy int",
    )


def oracle_probe_headers(n: int, max_i: int) -> str:
    return (
        f"SELECT image_id, w, h, 3 AS c, cast(i % 2 = 1 as int) AS lossy "
        f"FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}"
    )


# ---------------------------------------------------------------------------
# resize


def resize_nearest(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest resize to (out_w, out_h) with pure integer index math
    (sx = (x*w)//out_w) — exact cross-engine. Output stays lossless."""

    def resize(arr):
        h, w = arr.shape[:2]
        xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
        ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
        yield (codecs.encode_image(arr[ys[:, None], xs[None, :], :], "png"),)

    return per_image(images, resize, "image_id string, bytes binary")


def oracle_resize_checksum(n: int, max_i: int, out_w: int, out_h: int) -> str:
    cks_sql = checksum_sql(synth.pixel_val_sql(), f"y2 * {out_w} + x2")
    return (
        f"WITH g AS (SELECT image_id, i.i AS i, w, h, fmt, x2, y2, ch, "
        f"(x2 * w) // {out_w} AS x, (y2 * h) // {out_h} AS y "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, {out_w}) a(x2), range(0, {out_h}) b(y2), range(0, 3) c(ch) "
        f"WHERE i.i < {max_i}) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM g GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# video frame sampling (stubbed decode + deterministic fake)


def decode_video(payload: bytes, n_frames: int, i: int | None = None):
    """STUB for a real video decoder. With real video bytes this is
    NotImplementedError (no AV libs in this container); for the
    deterministic fake pipeline, frame f of image i is
    make_pixels(FRAME_BASE + n_frames*i + f) at the image's size."""
    if i is None:
        raise NotImplementedError(
            "real video decode requires an AV library; install one and "
            "swap this stub (plumbing below is codec-agnostic)"
        )
    w, h, _ = codecs.image_dims(payload)
    return [
        codecs.make_pixels(FRAME_BASE + n_frames * i + f, w, h)
        for f in range(n_frames)
    ]


def sample_frames(
    images: DataFrame, n_frames: int = N_FRAMES, every: int = 2
) -> DataFrame:
    """1->N frame explode: every ``every``-th frame as a lossless
    still: (image_id, frame_idx, bytes)."""

    def sample(image_id, payload, i):
        frames = decode_video(bytes(payload), n_frames, int(i))
        for f in range(0, n_frames, every):
            yield image_id, f, codecs.encode_image(frames[f], "png")

    return per_row(
        images, ["image_id", "bytes", "i"], sample,
        "image_id string, frame_idx int, bytes binary",
    )


def oracle_frame_checksum(
    n: int, max_i: int, n_frames: int = N_FRAMES, every: int = 2
) -> str:
    """Checksums of sampled frames — the frame pixel function is the
    synth pixel function at index FRAME_BASE + n_frames*i + f (png,
    lossless)."""
    cks_sql = checksum_sql(synth.pixel_val_sql(), "y * w + x")
    return (
        f"WITH g AS (SELECT image_id, frame_idx, "
        f"{FRAME_BASE} + {n_frames} * img.i + frame_idx AS i, w, h, "
        f"'png' AS fmt, x, y, ch "
        f"FROM ({synth.images_cte(n, 'duckdb')}) img, "
        f"range(0, {n_frames}) f(frame_idx), range(0, 256) a(x), "
        f"range(0, 256) b(y), range(0, 3) c(ch) "
        f"WHERE img.i < {max_i} AND frame_idx % {every} = 0 "
        f"AND x < img.w AND y < img.h) "
        f"SELECT image_id, cast(frame_idx as bigint) AS frame_idx, "
        f"cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM g GROUP BY 1, 2, 3"
    )


def frame_checksums(frames: DataFrame) -> DataFrame:
    """(image_id, frame_idx, channel, cks) per sampled frame."""

    def cks(image_id, fi, payload):
        arr = codecs.decode_image(bytes(payload))
        for c in range(arr.shape[2]):
            yield image_id, int(fi), c, gdal_checksum(arr[:, :, c])

    return per_row(
        frames, ["image_id", "frame_idx", "bytes"], cks,
        "image_id string, frame_idx bigint, channel bigint, cks bigint",
    )


# ---------------------------------------------------------------------------
# integer-exact perceptual hash + near-dup


def phash64_int(images: DataFrame) -> DataFrame:
    """8x8 average-hash with integer-exact arithmetic: block value =
    sum of (c0+c1+c2) over the block (exact int); bit set iff
    block_sum * (3*w*h) > total_sum * (3*block_px)  — the cross-
    multiplied form of block_mean > global_mean, zero fp. Output
    (image_id, phash_hi, phash_lo) 32-bit halves."""

    def phash(arr):
        g = arr.astype(np.int64).sum(axis=2)  # 3x gray, exact int
        bs, npx = _block_sums(g, 8, 8)
        yield _halves(bs * g.size > int(g.sum()) * npx)

    return per_image(
        images, phash, "image_id string, phash_hi bigint, phash_lo bigint"
    )


def oracle_phash64(n: int, max_i: int) -> str:
    """SQL replica: per-block integer sums from the pixel function,
    cross-multiplied threshold, bits packed into 32-bit halves."""
    return (
        f"WITH px AS (SELECT image_id, w, h, x, y, sum(val) AS g "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) GROUP BY 1, 2, 3, 4, 5), "
        # block index matching the engine's floor boundaries
        # yb[a] = (a*h)//8: pixel y belongs to a = (y*8 + 7) // h
        f"blk AS (SELECT image_id, w, h, "
        f"(y * 8 + 7) // h AS a, (x * 8 + 7) // w AS b, "
        f"sum(g) AS bs, count(*) AS npx FROM px GROUP BY 1, 2, 3, 4, 5), "
        f"tot AS (SELECT image_id, sum(bs) AS total FROM blk GROUP BY 1), "
        f"bits AS (SELECT blk.image_id, a * 8 + b AS k, "
        f"cast(bs * (w * h) > total * npx as int) AS bit "
        f"FROM blk JOIN tot ON tot.image_id = blk.image_id) "
        f"SELECT image_id, "
        f"cast(sum(CASE WHEN k >= 32 AND bit = 1 THEN 1::BIGINT << (k - 32) "
        f"ELSE 0 END) as bigint) AS phash_hi, "
        f"cast(sum(CASE WHEN k < 32 AND bit = 1 THEN 1::BIGINT << k "
        f"ELSE 0 END) as bigint) AS phash_lo "
        f"FROM bits GROUP BY 1"
    )


def phash_neardup(images: DataFrame, max_hamming: int = 14) -> DataFrame:
    """Near-duplicate image pairs by phash hamming distance: 16-bit
    band equi-join proposes candidates, exact popcount verifies."""
    ph = phash64_int(images)
    banded = ph.selectExpr(
        "image_id", "phash_hi", "phash_lo", "explode(sequence(0, 3)) AS band"
    ).withColumn(
        "bv",
        F.expr(
            "CASE band WHEN 0 THEN phash_lo % 65536 "
            "WHEN 1 THEN phash_lo div 65536 "
            "WHEN 2 THEN phash_hi % 65536 ELSE phash_hi div 65536 END"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("a.image_id") < F.col("b.image_id"))
        .select(
            F.col("a.image_id").alias("img_a"),
            F.col("b.image_id").alias("img_b"),
            F.expr(
                "bit_count(a.phash_lo ^ b.phash_lo) + "
                "bit_count(a.phash_hi ^ b.phash_hi)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def oracle_phash_neardup(n: int, max_i: int, max_hamming: int = 14) -> str:
    base = oracle_phash64(n, max_i)
    return (
        f"WITH ph AS ({base}), "
        f"banded AS (SELECT image_id, phash_hi, phash_lo, band, "
        f"CASE band WHEN 0 THEN phash_lo % 65536 "
        f"WHEN 1 THEN phash_lo // 65536 "
        f"WHEN 2 THEN phash_hi % 65536 ELSE phash_hi // 65536 END AS bv "
        f"FROM ph, range(0, 4) t(band)) "
        f"SELECT DISTINCT a.image_id AS img_a, b.image_id AS img_b, "
        f"cast(bit_count(xor(a.phash_lo, b.phash_lo)) + "
        f"bit_count(xor(a.phash_hi, b.phash_hi)) as int) AS hamming "
        f"FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv "
        f"AND a.image_id < b.image_id "
        f"WHERE bit_count(xor(a.phash_lo, b.phash_lo)) + "
        f"bit_count(xor(a.phash_hi, b.phash_hi)) <= {max_hamming}"
    )


# ---------------------------------------------------------------------------
# augmentation chain (training-data image pipeline): deterministic
# center-crop -> conditional horizontal flip -> k*90-degree rotation.
# Pure index remapping, so the SQL oracle replays it exactly. The
# mapping convention (out[y2][x2] = in[yf][xf]) is fixed here and
# mirrored in the oracle; k=i%4, flip when i%2==0, crop to 3/4.


def _augment_dims(w: int, h: int, k: int):
    cw, chh = (3 * w) // 4, (3 * h) // 4
    if k % 2 == 1:
        return cw, chh, chh, cw  # (crop_w, crop_h, out_w, out_h)
    return cw, chh, cw, chh


def augment(images: DataFrame) -> DataFrame:
    """(image_id, channel, ow, oh, cks) of the augmented image."""

    def augmented(image_id, payload, i):
        i = int(i)
        arr = codecs.decode_image(bytes(payload))
        h, w = arr.shape[:2]
        k = i % 4
        cw, chh, ow, oh = _augment_dims(w, h, k)
        ox, oy = (w - cw) // 2, (h - chh) // 2
        y2, x2 = np.mgrid[0:oh, 0:ow]
        if k == 0:
            xf, yf = x2, y2
        elif k == 1:
            xf, yf = y2, chh - 1 - x2
        elif k == 2:
            xf, yf = cw - 1 - x2, chh - 1 - y2
        else:
            xf, yf = cw - 1 - y2, x2
        if i % 2 == 0:  # flip
            xf = cw - 1 - xf
        out = arr[yf + oy, xf + ox, :]
        for c in range(out.shape[2]):
            yield image_id, c, ow, oh, gdal_checksum(out[:, :, c])

    return per_row(
        images, ["image_id", "bytes", "i"], augmented,
        "image_id string, channel bigint, ow bigint, oh bigint, cks bigint",
    )


def oracle_augment(n: int, max_i: int) -> str:
    """Exact index-remap replay of the augmentation chain."""
    cks_sql = checksum_sql(synth.pixel_val_sql(), "y2 * ow + x2")
    return f"""
WITH img AS (SELECT i, image_id, w, h, fmt, i % 4 AS k,
             (i % 2 = 0) AS flip,
             (3 * w) // 4 AS cw, (3 * h) // 4 AS chh,
             (w - (3 * w) // 4) // 2 AS ox, (h - (3 * h) // 4) // 2 AS oy
             FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}),
dims AS (SELECT img.*,
         CASE WHEN k % 2 = 1 THEN chh ELSE cw END AS ow,
         CASE WHEN k % 2 = 1 THEN cw ELSE chh END AS oh FROM img),
px AS (SELECT dims.*, x2, y2,
       CASE k WHEN 0 THEN x2 WHEN 1 THEN y2
              WHEN 2 THEN cw - 1 - x2 ELSE cw - 1 - y2 END AS xf0,
       CASE k WHEN 0 THEN y2 WHEN 1 THEN chh - 1 - x2
              WHEN 2 THEN chh - 1 - y2 ELSE x2 END AS yf
       FROM dims, range(0, 256) a(x2), range(0, 256) b(y2)
       WHERE x2 < ow AND y2 < oh),
src AS (SELECT image_id, i, w, h, fmt, x2, y2, ow, oh, ch,
        (CASE WHEN flip THEN cw - 1 - xf0 ELSE xf0 END) + ox AS x,
        yf + oy AS y
        FROM px, range(0, 3) c(ch))
SELECT image_id, cast(ch as bigint) AS channel,
       cast(min(ow) as bigint) AS ow, cast(min(oh) as bigint) AS oh,
       {cks_sql} AS cks
FROM src GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# aspect-ratio bucketing (the SDXL / NovelAI training-batch scheme:
# images are grouped into a fixed ladder of (bw, bh) buckets of
# roughly constant pixel budget, then batched WITHIN a bucket so every
# training batch shares one resize target; incomplete trailing batches
# are dropped). Metadata-only: planning never touches pixels.

AR_PIXEL_BUDGET = 16_384  # 128x128 at step 16
AR_STEP = 16
AR_MAX_SIDE = 256
AR_BATCH = 8
AR_SHARDS = 8


def ar_buckets(budget: int = AR_PIXEL_BUDGET, step: int = AR_STEP,
               max_side: int = AR_MAX_SIDE) -> list[tuple[int, int]]:
    """The bucket ladder: for each width multiple of ``step`` take the
    tallest height multiple of ``step`` within the pixel budget."""
    out = []
    for bw in range(step, max_side + 1, step):
        bh = min(max_side, (budget // bw) // step * step)
        if bh >= step:
            out.append((bw, bh))
    return out


def _bucket_values_sql(buckets) -> str:
    return ", ".join(f"({bw}, {bh})" for bw, bh in buckets)


def ar_bucket_batches(
    images: DataFrame,
    batch: int = AR_BATCH,
    shards: int = AR_SHARDS,
) -> DataFrame:
    """(image_id, bw, bh, shard, batch_id, kept) — nearest-aspect
    bucket (|w/h - bw/bh| as IEEE doubles, identical in both engines
    since division/subtraction are correctly rounded; ties to the
    narrower bucket), then deterministic batch ids per (bucket, shard)
    with incomplete trailing batches marked kept=0.

    Scale: the bucket ladder is a generator-exploded literal (never a
    broadcast nested-loop join); the argmin is a bounded-width window
    over image_id; batching windows partition by (bucket, shard) so no
    single task sees a whole bucket — shards is the same knob a real
    pipeline uses for per-worker batch streams."""
    from pyspark.sql import Window

    buckets = ar_buckets()
    cand = images.selectExpr(
        "i", "image_id", "w", "h", f"i % {shards} AS shard"
    ).select(
        "*",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"named_struct('bw', {bw}, 'bh', {bh})"
                    for bw, bh in buckets
                )
                + ")"
            )
        ).alias("b"),
    ).selectExpr(
        "i", "image_id", "w", "h", "shard", "b.bw AS bw", "b.bh AS bh",
        "abs(cast(w as double) / cast(h as double) "
        "- cast(b.bw as double) / cast(b.bh as double)) AS dist",
    )
    pick = Window.partitionBy("image_id").orderBy("dist", "bw")
    best = (
        cand.withColumn("pick", F.row_number().over(pick))
        .filter("pick = 1")
        .drop("pick", "dist", "w", "h")
    )
    seq = Window.partitionBy("bw", "bh", "shard").orderBy("i")
    n_in = Window.partitionBy("bw", "bh", "shard")
    return (
        best.withColumn("rn", F.row_number().over(seq))
        .withColumn("n_grp", F.count("*").over(n_in))
        .selectExpr(
            "image_id",
            "cast(bw as bigint) AS bw", "cast(bh as bigint) AS bh",
            "cast(shard as bigint) AS shard",
            f"(rn - 1) div {batch} AS batch_id",
            f"cast((rn - 1) div {batch} < n_grp div {batch} as int) AS kept",
        )
    )


def oracle_ar_bucket_batches(
    n: int,
    batch: int = AR_BATCH,
    shards: int = AR_SHARDS,
) -> str:
    buckets = ar_buckets()
    return (
        f"WITH img AS (SELECT i, image_id, w, h, i % {shards} AS shard "
        f"FROM ({synth.images_cte(n, 'duckdb')})), "
        f"bk(bw, bh) AS (VALUES {_bucket_values_sql(buckets)}), "
        f"cand AS (SELECT img.*, bw, bh, "
        f"abs(cast(w as double) / cast(h as double) "
        f"- cast(bw as double) / cast(bh as double)) AS dist, "
        f"row_number() OVER (PARTITION BY image_id ORDER BY dist, bw) "
        f"AS pick FROM img, bk), "
        f"best AS (SELECT i, image_id, shard, bw, bh FROM cand "
        f"WHERE pick = 1), "
        f"seq AS (SELECT image_id, bw, bh, shard, "
        f"row_number() OVER (PARTITION BY bw, bh, shard ORDER BY i) AS rn, "
        f"count(*) OVER (PARTITION BY bw, bh, shard) AS n_grp FROM best) "
        f"SELECT image_id, cast(bw as bigint) AS bw, "
        f"cast(bh as bigint) AS bh, cast(shard as bigint) AS shard, "
        f"(rn - 1) // {batch} AS batch_id, "
        f"cast((rn - 1) // {batch} < n_grp // {batch} as int) AS kept "
        f"FROM seq"
    )


# ---------------------------------------------------------------------------
# ViT-style patchify (Dosovitskiy et al. 2020: split each image into
# non-overlapping P x P patches in raster order; patch_idx = row *
# (w // P) + col is the positional-embedding index). The gate key is
# the exact integer pixel sum per (patch, channel) — a bijective
# witness of patch membership. Map-only (no shuffle): the 10^12-image
# run is embarrassingly parallel; trailing partial patches are
# dropped, matching the ViT crop-to-multiple convention.

PATCH_P = 8


def patchify(images: DataFrame, p: int = PATCH_P) -> DataFrame:
    """(image_id, patch_idx, prow, pcol, ch, px_sum) — one row per
    patch x channel with the exact pixel sum."""

    def run(batches):
        for pdf in batches:
            outs = []
            for image_id, payload in zip(pdf["image_id"], pdf["bytes"]):
                arr = codecs.decode_image(bytes(payload)).astype(np.int64)
                h, w, c = arr.shape
                nr, nc = h // p, w // p
                if nr == 0 or nc == 0:
                    continue
                core = arr[: nr * p, : nc * p, :]
                sums = core.reshape(nr, p, nc, p, c).sum(axis=(1, 3))
                rr, cc, ch = np.mgrid[0:nr, 0:nc, 0:c]
                outs.append(pd.DataFrame({
                    "image_id": image_id,
                    "patch_idx": (rr * nc + cc).ravel(),
                    "prow": rr.ravel(),
                    "pcol": cc.ravel(),
                    "ch": ch.ravel(),
                    "px_sum": sums.ravel(),
                }))
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=["image_id", "patch_idx", "prow", "pcol", "ch",
                         "px_sum"]
            )

    return images.select("image_id", "bytes").mapInPandas(
        run,
        schema="image_id string, patch_idx bigint, prow bigint, "
        "pcol bigint, ch bigint, px_sum bigint",
    )


def oracle_patchify(n: int, max_i: int, p: int = PATCH_P) -> str:
    return (
        f"WITH px AS (SELECT image_id, i.w AS w, x, y, ch, "
        f"{synth.pixel_val_sql()} AS v "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 256) a(x), range(0, 256) b(y), range(0, 3) tc(ch) "
        f"WHERE i.i < {max_i} AND x < (i.w // {p}) * {p} "
        f"AND y < (i.h // {p}) * {p}) "
        f"SELECT image_id, "
        f"cast((y // {p}) * (w // {p}) + (x // {p}) as bigint) "
        f"AS patch_idx, "
        f"cast(y // {p} as bigint) AS prow, "
        f"cast(x // {p} as bigint) AS pcol, ch, "
        f"cast(sum(v) as bigint) AS px_sum "
        f"FROM px GROUP BY 1, 2, 3, 4, 5"
    )


# ---------------------------------------------------------------------------
# corpus-wide channel normalization constants (the ImageNet
# mean/std contract every vision training run starts with): exact
# integer partials (count, sum v, sum v^2) per channel — map-side
# combined, a 3-row global reduce at any corpus size; mean/std derive
# downstream from the partials without another pass.


def channel_norm_stats(images: DataFrame) -> DataFrame:
    """(ch, n_px, v_sum, v2_sum) — exact integer partials."""

    def run(batches):
        for pdf in batches:
            acc = np.zeros((3, 3), dtype=np.int64)  # n, s1, s2 per ch
            for payload in pdf["bytes"]:
                arr = codecs.decode_image(bytes(payload)).astype(np.int64)
                for c in range(arr.shape[2]):
                    v = arr[:, :, c].ravel()
                    acc[c, 0] += v.size
                    acc[c, 1] += int(v.sum())
                    acc[c, 2] += int((v * v).sum())
            yield pd.DataFrame({
                "ch": np.arange(3, dtype=np.int64),
                "n_px": acc[:, 0], "v_sum": acc[:, 1], "v2_sum": acc[:, 2],
            })

    part = images.select("bytes").mapInPandas(
        run, schema="ch bigint, n_px bigint, v_sum bigint, v2_sum bigint"
    )
    return part.groupBy("ch").agg(
        F.sum("n_px").cast("bigint").alias("n_px"),
        F.sum("v_sum").cast("bigint").alias("v_sum"),
        F.sum("v2_sum").cast("bigint").alias("v2_sum"),
    )


def oracle_channel_norm_stats(n: int, max_i: int) -> str:
    return (
        f"SELECT ch, cast(count(*) as bigint) AS n_px, "
        f"cast(sum(v) as bigint) AS v_sum, "
        f"cast(sum(v * v) as bigint) AS v2_sum FROM ("
        f"SELECT ch, {synth.pixel_val_sql()} AS v "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 256) a(x), range(0, 256) b(y), range(0, 3) tc(ch) "
        f"WHERE i.i < {max_i} AND x < i.w AND y < i.h) GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# WebDataset-style tar shard layout (the training-data writer path:
# samples are packed whole into sequential POSIX-ustar tar shards —
# each member occupies a 512-byte header plus its payload zero-padded
# to 512-byte blocks; shards roll over every `maxcount` members, the
# webdataset ShardWriter convention. The layout is pure arithmetic, so
# a planner can compute every member's (shard, byte offset) BEFORE any
# bytes are written — which is what makes massively parallel shard
# writing and resumable uploads possible.)

TAR_BLOCK = 512
TAR_MAXCOUNT = 16
TAR_WRITERS = 8


def _member_bytes_sql(size: str) -> str:
    """Tar footprint of a member with ``size`` payload bytes: header
    block + payload rounded up to whole blocks."""
    return (
        f"cast({TAR_BLOCK} + (({size} + {TAR_BLOCK - 1}) div {TAR_BLOCK}) "
        f"* {TAR_BLOCK} as bigint)"
    )


def tar_shard_layout(
    imgs: DataFrame, maxcount: int = TAR_MAXCOUNT, n_writers: int = TAR_WRITERS
) -> DataFrame:
    """(image_id, writer, shard_id, idx_in_shard, offset_bytes,
    member_bytes) — the exact byte position every sample will occupy
    in its writer's shard stream. Payload size is the raw RGB buffer
    (w*h*3), the size a tar member of the decoded sample occupies.

    Scale: one shuffle on ``writer`` (the shard-stream key; streams
    are independent, so writers scale horizontally); the per-(writer,
    shard) offset window refines the same ordering, with window width
    bounded by ``maxcount``, never the table."""
    from pyspark.sql import Window

    t = imgs.selectExpr(
        "image_id", "i",
        f"cast(i % {n_writers} as bigint) AS writer",
        f"{_member_bytes_sql('cast(w as bigint) * h * 3')} AS member_bytes",
    )
    w_stream = Window.partitionBy("writer").orderBy("i")
    t = t.withColumn("seq", F.row_number().over(w_stream) - 1).withColumn(
        "shard_id", F.expr(f"cast(seq div {maxcount} as bigint)")
    )
    w_shard = Window.partitionBy("writer", "shard_id").orderBy("i")
    t = t.withColumn("cum", F.sum("member_bytes").over(w_shard))
    return t.selectExpr(
        "image_id", "writer", "shard_id",
        f"cast(seq % {maxcount} as bigint) AS idx_in_shard",
        "cast(cum - member_bytes as bigint) AS offset_bytes",
        "member_bytes",
    )


def oracle_tar_shard_layout(
    n: int, maxcount: int = TAR_MAXCOUNT, n_writers: int = TAR_WRITERS
) -> str:
    member = _member_bytes_sql("cast(w as bigint) * h * 3").replace(
        " div ", " // "
    )
    return (
        f"WITH imgs AS (SELECT i, image_id, w, h FROM "
        f"({synth.images_cte(n, 'duckdb')})), "
        f"t AS (SELECT image_id, i, cast(i % {n_writers} as bigint) AS writer, "
        f"{member} AS member_bytes FROM imgs), "
        f"s AS (SELECT *, row_number() OVER "
        f"(PARTITION BY writer ORDER BY i) - 1 AS seq FROM t), "
        f"sh AS (SELECT *, cast(seq // {maxcount} as bigint) AS shard_id "
        f"FROM s) "
        f"SELECT image_id, writer, shard_id, "
        f"cast(seq % {maxcount} as bigint) AS idx_in_shard, "
        f"cast(cast(sum(member_bytes) OVER (PARTITION BY writer, shard_id "
        f"ORDER BY i) as bigint) - member_bytes as bigint) AS offset_bytes, "
        f"member_bytes "
        f"FROM sh"
    )


# ---------------------------------------------------------------------------
# dHash (gradient/difference hash, Krawetz 2013 "Kind of Like That"):
# the second member of the perceptual-hash family. Where phash64
# thresholds block means against the global mean, dHash compares each
# block mean against its RIGHT neighbor — row-wise gradients survive
# global brightness/contrast shifts that flip average-hash bits.
# Integer-exact: the classic 9x8 downscale is expressed as 9 column
# blocks x 8 row blocks of exact integer sums; bit(r,c) = 1 iff
# mean(block[r,c+1]) > mean(block[r,c]), cross-multiplied so zero fp.


def dhash64_int(images: DataFrame) -> DataFrame:
    """(image_id, dhash_hi, dhash_lo) 32-bit halves of the 64-bit
    gradient hash. mapInPandas decode, one pass, no shuffle."""

    def dhash(arr):
        bs, npx = _block_sums(arr.astype(np.int64).sum(axis=2), 8, 9)
        yield _halves(bs[:, 1:] * npx[:, :-1] > bs[:, :-1] * npx[:, 1:])

    return per_image(
        images, dhash, "image_id string, dhash_hi bigint, dhash_lo bigint"
    )


def oracle_dhash64(n: int, max_i: int) -> str:
    """SQL replica: 8x9 integer block sums from the pixel function,
    right-vs-left cross-multiplied comparison, packed halves."""
    return (
        f"WITH px AS (SELECT image_id, w, h, x, y, sum(val) AS g "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) GROUP BY 1, 2, 3, 4, 5), "
        # yb[a] = (a*h)//8 -> row block a = (y*8 + 7) // h;
        # xb[b] = (b*w)//9 -> col block b = (x*9 + 8) // w
        f"blk AS (SELECT image_id, (y * 8 + 7) // h AS a, "
        f"(x * 9 + 8) // w AS b, "
        f"sum(g) AS bs, count(*) AS npx FROM px GROUP BY 1, 2, 3), "
        f"bits AS (SELECT l.image_id, l.a * 8 + l.b AS k, "
        f"cast(r.bs * l.npx > l.bs * r.npx as int) AS bit "
        f"FROM blk l JOIN blk r ON r.image_id = l.image_id "
        f"AND r.a = l.a AND r.b = l.b + 1 WHERE l.b < 8) "
        f"SELECT image_id, "
        f"cast(sum(CASE WHEN k >= 32 AND bit = 1 THEN 1::BIGINT << (k - 32) "
        f"ELSE 0 END) as bigint) AS dhash_hi, "
        f"cast(sum(CASE WHEN k < 32 AND bit = 1 THEN 1::BIGINT << k "
        f"ELSE 0 END) as bigint) AS dhash_lo "
        f"FROM bits GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# aHash (average hash, the third member of the perceptual-hash
# family alongside phash64/dhash64): bit(r,c) = 1 iff the 8x8 block
# mean exceeds the GLOBAL image mean. Complements dHash (row
# gradients) and pHash (block-vs-global structure at a finer grid):
# aHash is invariant to additive brightness shifts and positive
# contrast scaling (both sides of the comparison shift/scale
# together), but unlike dHash it is sensitive to low-frequency
# vignettes. Integer-exact via cross-multiplication:
#   bs[r,c] * total_npx > total_sum * npx[r,c]
# so there is zero floating point anywhere.


def ahash64_int(images: DataFrame) -> DataFrame:
    """(image_id, ahash_hi, ahash_lo) 32-bit halves of the 64-bit
    average hash. Its bit test is ``phash64_int``'s (block sum x
    image pixels > image sum x block pixels), so it runs that stage."""
    return phash64_int(images).toDF("image_id", "ahash_hi", "ahash_lo")


def oracle_ahash64(n: int, max_i: int) -> str:
    """``oracle_phash64`` with the columns renamed, as ``ahash64_int``
    runs ``phash64_int``."""
    return (
        f"SELECT image_id, phash_hi AS ahash_hi, phash_lo AS ahash_lo "
        f"FROM ({oracle_phash64(n, max_i)})"
    )


def phash_clusters(images: DataFrame, max_hamming: int = 14) -> DataFrame:
    """(image_id, cluster_id, cluster_size, is_keeper): connected
    components of the banded-pHash near-dup pair graph — the image
    analog of text dedup_clusters (keep one canonical image per
    visual near-dup family). Pair generation is the plan-safe banded
    equi-join; labeling is graphsql.label_components."""
    from ..graphsql import keepers, label_components

    pairs = phash_neardup(images, max_hamming=max_hamming).selectExpr(
        "img_a AS a", "img_b AS b"
    )
    nodes = images.selectExpr("image_id AS node")
    return keepers(label_components(nodes, pairs), "image_id")


def oracle_phash_clusters(n: int, max_i: int, max_hamming: int = 14) -> str:
    """Pair graph replayed from the phash oracle, labeled with the
    shared pointer-jump CTE chain."""
    from ..graphsql import keepers_sql, pj_components_cte

    base = oracle_phash_neardup(n, max_i, max_hamming)
    chain, final = pj_components_cte()
    return f"""
WITH dup AS MATERIALIZED (SELECT img_a, img_b FROM ({base})),
nodes AS MATERIALIZED (
  SELECT image_id AS node FROM ({synth.images_cte(n, "duckdb")})
  WHERE i < {max_i}),
links AS MATERIALIZED (
  SELECT img_a AS a, img_b AS b FROM dup
  UNION SELECT img_b, img_a FROM dup),
{chain}
{keepers_sql(final, "image_id")}
"""


# ---------------------------------------------------------------------------
# mixup augmentation (Zhang et al. 2018, "mixup: Beyond Empirical
# Risk Minimization"): blended = lam*A + (1-lam)*B with a
# deterministic same-size partner (the raw synth raster at
# i + MIXUP_OFFSET — the pansharpen-companion pattern). lam = 1/2
# keeps the blend EXACT integer ((a + b) div 2, floor); per-channel
# GDAL checksums gate it. Decode -> one numpy add per image,
# map-only.

MIXUP_OFFSET = 900_000


def _mix_partners(payload, i, w, h):
    """(image, partner) as int64 arrays: the decoded image and the raw
    synth pixels of image ``i + MIXUP_OFFSET`` at the same size."""
    a = codecs.decode_image(bytes(payload)).astype(np.int64)
    b = codecs.make_pixels(int(i) + MIXUP_OFFSET, int(w), int(h))
    return a, b.astype(np.int64)


def mixup_pairs(images: DataFrame) -> DataFrame:
    """(image_id, channel, cks) of floor((A + partner) / 2)."""

    def mix(payload, i, w, h):
        a, b = _mix_partners(payload, i, w, h)
        return (a + b) // 2

    return channel_checksums(images, ["bytes", "i", "w", "h"], mix)


def oracle_mixup_pairs(n: int, max_i: int) -> str:
    val = synth.pixel_val_sql()
    # partner: raw (png-branch) synth pixels at i + MIXUP_OFFSET
    pval = (
        val.replace("fmt", "'png'")
        .replace("i %", f"(i + {MIXUP_OFFSET}) %")
        .replace("i * 7", f"(i + {MIXUP_OFFSET}) * 7")
    )
    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, w, x, y, ch, "
        f"(val + ({pval})) // 2 AS oval "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')})) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM px GROUP BY 1, 2"
    )


def cutmix_pairs(images: DataFrame) -> DataFrame:
    """CutMix (Yun et al. 2019): paste the partner's centered
    half-width x half-height box into the image — deterministic box,
    exact integers. (image_id, channel, cks)."""

    def cut(payload, i, w, h):
        out, b = _mix_partners(payload, i, w, h)
        w_, h_ = int(w), int(h)
        x0, x1 = w_ // 4, w_ // 4 + w_ // 2
        y0, y1 = h_ // 4, h_ // 4 + h_ // 2
        out[y0:y1, x0:x1, :] = b[y0:y1, x0:x1, :]
        return out

    return channel_checksums(images, ["bytes", "i", "w", "h"], cut)


def oracle_cutmix_pairs(n: int, max_i: int) -> str:
    val = synth.pixel_val_sql()
    pval = (
        val.replace("fmt", "'png'")
        .replace("i %", f"(i + {MIXUP_OFFSET}) %")
        .replace("i * 7", f"(i + {MIXUP_OFFSET}) * 7")
    )
    inbox = (
        "(x >= w // 4 AND x < w // 4 + w // 2 "
        "AND y >= h // 4 AND y < h // 4 + h // 2)"
    )
    cks_sql = checksum_sql("oval", "y * w + x")
    return (
        f"WITH px AS (SELECT image_id, w, x, y, ch, "
        f"CASE WHEN {inbox} THEN ({pval}) ELSE val END AS oval "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')})) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM px GROUP BY 1, 2"
    )
