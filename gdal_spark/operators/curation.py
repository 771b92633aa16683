"""Image+caption corpus curation filter (LAION-5B-style metadata
rules, Schuhmann et al. 2022): per-row keep/drop verdict with the
individual rule flags exposed, over the BASELINE.json input table
shape (image_id, w, h, fmt, caption).

Rules (all integer/string exact — no pixel decode needed, so at
10^12 rows this is a pure metadata scan: column-pruned parquet read,
whole-stage codegen, zero shuffle, zero Python):

- ``size_ok``    min(w, h) >= MIN_SIDE (LAION's min-dimension cut)
- ``aspect_ok``  max(w, h) * 10 <= ASPECT_X10 * min(w, h) (integer
                 cross-multiplied aspect-ratio bound, no division)
- ``cap_len_ok`` CAP_MIN_CHARS <= length(caption) <= CAP_MAX_CHARS
- ``cap_tok_ok`` caption has >= CAP_MIN_TOKENS whitespace tokens
- ``lossless``   fmt = 'png' (informational, not part of keep)
- ``keep``       all of size_ok, aspect_ok, cap_len_ok, cap_tok_ok
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..synth import images_cte
from .stats import per_image

MIN_SIDE = 20
ASPECT_X10 = 32  # max aspect ratio 3.2:1
CAP_MIN_CHARS = 8
CAP_MAX_CHARS = 256
CAP_MIN_TOKENS = 2


def _flags_sql(dialect: str) -> list[str]:
    toks = (
        "size(filter(split(caption, ' '), t -> t <> ''))"
        if dialect == "spark"
        else "len(list_filter(string_split(caption, ' '), t -> t <> ''))"
    )
    return [
        f"cast(least(w, h) >= {MIN_SIDE} as int) AS size_ok",
        f"cast(greatest(w, h) * 10 <= {ASPECT_X10} * least(w, h) as int) "
        f"AS aspect_ok",
        f"cast(length(caption) BETWEEN {CAP_MIN_CHARS} AND {CAP_MAX_CHARS} "
        f"as int) AS cap_len_ok",
        f"cast({toks} >= {CAP_MIN_TOKENS} as int) AS cap_tok_ok",
        "cast(fmt = 'png' as int) AS lossless",
        f"cast(least(w, h) >= {MIN_SIDE} "
        f"AND greatest(w, h) * 10 <= {ASPECT_X10} * least(w, h) "
        f"AND length(caption) BETWEEN {CAP_MIN_CHARS} AND {CAP_MAX_CHARS} "
        f"AND {toks} >= {CAP_MIN_TOKENS} as int) AS keep",
    ]


def laion_filter(images: DataFrame) -> DataFrame:
    """Per-image curation flags over the metadata columns only."""
    return images.selectExpr(
        "image_id",
        "cast(w as bigint) AS w",
        "cast(h as bigint) AS h",
        "fmt",
        *_flags_sql("spark"),
    )


def oracle_laion_filter(n_images: int) -> str:
    return (
        f"SELECT image_id, cast(w as bigint) AS w, cast(h as bigint) AS h, "
        f"fmt, {', '.join(_flags_sql('duckdb'))} "
        f"FROM ({images_cte(n_images, 'duckdb')})"
    )


# ---------------------------------------------------------------------------
# keep-best-variant dedup (the LAION / DataComp re-post rule: the same
# content circulates at many resolutions; after grouping near-dups,
# keep exactly one canonical row — the highest-resolution variant,
# ties broken deterministically). Group key here is a synthetic
# content key (i mod G) standing in for the phash/embedding cluster id
# the neardup stages produce; the operator itself is the bounded
# argmax-per-group primitive.

VARIANTS_PER_KEY = 8


def keep_best_variant(images: DataFrame, variants: int = VARIANTS_PER_KEY,
                      n_images: int | None = None) -> DataFrame:
    """(content_key, n_variants, keep_i, keep_image_id, best_pixels):
    one row per content group; keeper = max(w*h), tie-break min(i).

    Scale: one shuffle on content_key (a plain groupBy argmax via
    max_by struct ordering — map-side combined, no window sort); group
    width is bounded by the variant count, never the corpus."""
    if n_images is None:
        n_images = images.count()
    g = max(1, n_images // variants)
    return (
        images.selectExpr(
            f"i % {g} AS content_key",
            "i", "image_id",
            "cast(w as bigint) * h AS pixels",
        )
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_variants"),
            # struct max orders by (pixels, -i): highest resolution,
            # then LOWEST i on ties — negate i so max() prefers it
            F.max(F.expr("struct(pixels, -i AS ni, i, image_id)")).alias("b"),
        )
        .selectExpr(
            "cast(content_key as bigint) AS content_key",
            "cast(n_variants as bigint) AS n_variants",
            "b.i AS keep_i",
            "b.image_id AS keep_image_id",
            "b.pixels AS best_pixels",
        )
    )


def oracle_keep_best_variant(
    n_images: int, variants: int = VARIANTS_PER_KEY
) -> str:
    g = max(1, n_images // variants)
    return (
        f"WITH t AS (SELECT i % {g} AS content_key, i, image_id, "
        f"cast(w as bigint) * h AS pixels "
        f"FROM ({images_cte(n_images, 'duckdb')})), "
        f"r AS (SELECT *, row_number() OVER (PARTITION BY content_key "
        f"ORDER BY pixels DESC, i ASC) AS rk, "
        f"count(*) OVER (PARTITION BY content_key) AS n_variants FROM t) "
        f"SELECT cast(content_key as bigint) AS content_key, "
        f"cast(n_variants as bigint) AS n_variants, i AS keep_i, "
        f"image_id AS keep_image_id, pixels AS best_pixels "
        f"FROM r WHERE rk = 1"
    )


# ---------------------------------------------------------------------------
# blur detection: variance of the Laplacian (the classic sharpness
# signal used to cut out-of-focus / heavily-smoothed images from
# training corpora; Pech-Pacheco et al. 2000, "Diatom autofocusing in
# brightfield microscopy"). 4-neighbor Laplacian 4c - up - down -
# left - right over the INTERIOR of channel 0; per-image moments kept
# as exact int64 partials (uint8 inputs, |lap| <= 1275), so the
# variance comparison var_n2 >= t * n^2 never touches a float. At
# 10^12 rows this is decode -> one numpy kernel -> 5 small columns
# per image: map-only, zero shuffle before the final per-image rows.

SHARP_VAR_MIN = 100  # variance-of-Laplacian threshold (int, exact)


def blur_laplacian(images: DataFrame) -> DataFrame:
    """(image_id, n_px, lap_sum, lap_sumsq, var_n2, is_sharp) — one
    row per image; var_n2 = n*Σlap² − (Σlap)² = variance × n²."""
    import numpy as np

    def fn(arr):
        a = arr[:, :, 0].astype(np.int64)
        lap = (
            4 * a[1:-1, 1:-1]
            - a[:-2, 1:-1]
            - a[2:, 1:-1]
            - a[1:-1, :-2]
            - a[1:-1, 2:]
        )
        n = int(lap.size)
        s = int(lap.sum())
        sq = int((lap * lap).sum())
        var_n2 = n * sq - s * s
        yield (n, s, sq, var_n2, int(var_n2 >= SHARP_VAR_MIN * n * n))

    schema = (
        "image_id string, n_px bigint, lap_sum bigint, lap_sumsq bigint, "
        "var_n2 bigint, is_sharp int"
    )
    return per_image(images, fn, schema)


def oracle_blur_laplacian(n_images: int, max_i: int) -> str:
    """Closed-form replay: the Laplacian tap values come from
    re-instantiating the synth pixel formula at the shifted tap
    coordinates (no pixel self-join)."""
    from ..synth import pixel_val_sql

    def tap(xe, ye):
        return pixel_val_sql(xe, ye)

    lap = (
        f"(4 * {tap('x', 'y')} - {tap('x - 1', 'y')} - {tap('x + 1', 'y')}"
        f" - {tap('x', 'y - 1')} - {tap('x', 'y + 1')})"
    )
    return (
        f"WITH cen AS (SELECT image_id, i, w, h, fmt, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x >= 1 AND x <= w - 2 "
        f"AND y >= 1 AND y <= h - 2), "
        f"lap AS (SELECT image_id, {lap} AS lap FROM cen) "
        f"SELECT image_id, count(*) AS n_px, "
        f"cast(sum(lap) as bigint) AS lap_sum, "
        f"cast(sum(lap * lap) as bigint) AS lap_sumsq, "
        f"cast(count(*) * sum(lap * lap) - sum(lap) * sum(lap) as bigint) "
        f"AS var_n2, "
        f"cast(count(*) * sum(lap * lap) - sum(lap) * sum(lap) >= "
        f"{SHARP_VAR_MIN} * count(*) * count(*) as int) AS is_sharp "
        f"FROM lap GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# JPEG blockiness estimate (Wang, Bovik & Evans 2000, "Blind
# measurement of blocking artifacts in images"): compare the mean
# absolute horizontal gradient ACROSS 8-aligned block boundaries
# (x % 8 == 7 -> x+1) with the mean gradient elsewhere. Recompressed
# / heavily-quantized images show boundary gradient >> interior
# gradient. Kept as four exact int64 partials per image so the
# blockiness ratio comparison b_sum * i_n > k * i_sum * b_n never
# touches a float. Decode -> one numpy pass, map-only.

BLOCKY_RATIO_X10 = 15  # boundary/interior mean-gradient ratio > 1.5


def jpeg_blockiness(images: DataFrame) -> DataFrame:
    """(image_id, b_n, b_sum, i_n, i_sum, is_blocky) — horizontal
    |gradient| partials split at 8-aligned column boundaries,
    channel 0."""
    import numpy as np

    def fn(arr):
        a = arr[:, :, 0].astype(np.int64)
        grad = np.abs(a[:, 1:] - a[:, :-1])
        xs = np.arange(grad.shape[1], dtype=np.int64)
        bmask = xs % 8 == 7
        b_n = int(bmask.sum()) * grad.shape[0]
        b_sum = int(grad[:, bmask].sum())
        i_n = int((~bmask).sum()) * grad.shape[0]
        i_sum = int(grad[:, ~bmask].sum())
        blocky = int(
            b_sum * i_n * 10 > BLOCKY_RATIO_X10 * i_sum * b_n and b_n > 0
        )
        yield (b_n, b_sum, i_n, i_sum, blocky)

    schema = (
        "image_id string, b_n bigint, b_sum bigint, i_n bigint, "
        "i_sum bigint, is_blocky int"
    )
    return per_image(images, fn, schema)


def oracle_jpeg_blockiness(n_images: int, max_i: int) -> str:
    """Tap-instantiated gradient replay (|val(x+1) - val(x)|)."""
    from ..synth import pixel_val_sql

    grad = f"abs({pixel_val_sql('x + 1', 'y')} - {pixel_val_sql()})"
    return (
        f"WITH cen AS (SELECT image_id, i, w, h, fmt, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 255) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w - 1 AND y < h), "
        f"g AS (SELECT image_id, x % 8 = 7 AS onb, {grad} AS grad "
        f"FROM cen), "
        f"agg AS (SELECT image_id, "
        f"cast(sum(CASE WHEN onb THEN 1 ELSE 0 END) as bigint) AS b_n, "
        f"cast(sum(CASE WHEN onb THEN grad ELSE 0 END) as bigint) AS b_sum, "
        f"cast(sum(CASE WHEN onb THEN 0 ELSE 1 END) as bigint) AS i_n, "
        f"cast(sum(CASE WHEN onb THEN 0 ELSE grad END) as bigint) AS i_sum "
        f"FROM g GROUP BY 1) "
        f"SELECT image_id, b_n, b_sum, i_n, i_sum, "
        f"cast(b_sum * i_n * 10 > {BLOCKY_RATIO_X10} * i_sum * b_n "
        f"AND b_n > 0 as int) AS is_blocky FROM agg"
    )


# ---------------------------------------------------------------------------
# colorfulness (Hasler & Süsstrunk 2003, "Measuring colourfulness in
# natural images"): M = sqrt(s_rg^2 + s_yb^2) + 0.3*sqrt(m_rg^2 +
# m_yb^2) over the opponent channels rg = R-G, yb = (R+G)/2 - B.
# Greyscale/synthetic-looking images score low — a standard curation
# cut. Opponent channels are kept as exact int64 partials (yb scaled
# x2 to stay integer); the ONE float finisher is the same IEEE op
# sequence on both engines, keyed at a 1e4 floor.

def _colorfulness_key(n, s_rg, sq_rg, s_yb2, sq_yb2):
    """Shared float finisher (python replica of the SQL text)."""
    import math

    var_rg = sq_rg / n - (s_rg / n) * (s_rg / n)
    var_yb = (sq_yb2 / n - (s_yb2 / n) * (s_yb2 / n)) / 4.0
    m_rg = s_rg / n
    m_yb = (s_yb2 / n) / 2.0
    m = math.sqrt(var_rg + var_yb) + 0.3 * math.sqrt(m_rg * m_rg + m_yb * m_yb)
    return math.floor(m * 10000.0)


def colorfulness(images: DataFrame) -> DataFrame:
    """(image_id, n_px, sum_rg, sumsq_rg, sum_yb2, sumsq_yb2,
    color_key) per image."""
    import numpy as np

    def fn(arr):
        a = arr.astype(np.int64)
        rg = a[:, :, 0] - a[:, :, 1]
        yb2 = a[:, :, 0] + a[:, :, 1] - 2 * a[:, :, 2]
        n = int(rg.size)
        s_rg, sq_rg = int(rg.sum()), int((rg * rg).sum())
        s_yb2, sq_yb2 = int(yb2.sum()), int((yb2 * yb2).sum())
        yield (
            n, s_rg, sq_rg, s_yb2, sq_yb2,
            _colorfulness_key(n, s_rg, sq_rg, s_yb2, sq_yb2),
        )

    schema = (
        "image_id string, n_px bigint, sum_rg bigint, sumsq_rg bigint, "
        "sum_yb2 bigint, sumsq_yb2 bigint, color_key bigint"
    )
    return per_image(images, fn, schema)


def oracle_colorfulness(n_images: int, max_i: int) -> str:
    from .. import synth

    val = synth.pixel_val_sql()
    chan = {
        c: f"({val.replace('ch * 11', f'{c} * 11').replace('ch / 3.0E0', f'{c} / 3.0E0')})"
        for c in range(3)
    }
    finisher = (
        "cast(floor((sqrt("
        "(cast(sq_rg as double) / n - (cast(s_rg as double) / n) * (cast(s_rg as double) / n)) + "
        "(cast(sq_yb2 as double) / n - (cast(s_yb2 as double) / n) * (cast(s_yb2 as double) / n)) / 4.0E0) "
        "+ 0.3E0 * sqrt("
        "(cast(s_rg as double) / n) * (cast(s_rg as double) / n) + "
        "((cast(s_yb2 as double) / n) / 2.0E0) * ((cast(s_yb2 as double) / n) / 2.0E0))"
        ") * 10000.0E0) as bigint)"
    )
    return (
        f"WITH px AS (SELECT image_id, "
        f"{chan[0]} - {chan[1]} AS rg, "
        f"{chan[0]} + {chan[1]} - 2 * {chan[2]} AS yb2 "
        f"FROM (SELECT img.*, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w AND y < h) q), "
        f"agg AS (SELECT image_id, count(*) AS n, "
        f"cast(sum(rg) as bigint) AS s_rg, "
        f"cast(sum(rg * rg) as bigint) AS sq_rg, "
        f"cast(sum(yb2) as bigint) AS s_yb2, "
        f"cast(sum(yb2 * yb2) as bigint) AS sq_yb2 FROM px GROUP BY 1) "
        f"SELECT image_id, n AS n_px, s_rg AS sum_rg, sq_rg AS sumsq_rg, "
        f"s_yb2 AS sum_yb2, sq_yb2 AS sumsq_yb2, {finisher} AS color_key "
        f"FROM agg"
    )


# ---------------------------------------------------------------------------
# per-image Shannon entropy (the low-entropy cut: flat / synthetic /
# single-color images carry little signal; standard alongside the
# gzip-ratio text cut in public corpus-curation recipes). 256-bin
# exact histogram of channel 0; the per-BIN contribution
# floor(1e6 * -(c/n)*log2(c/n)) is integer-keyed BEFORE the sum, so
# the reduction is order-independent (float Σ over bins would not
# be). log2 = ln/ln2 with the same literal on both engines.

def image_entropy(images: DataFrame) -> DataFrame:
    """(image_id, n_px, n_bins, entropy_key) — entropy_key =
    Σ_bins floor(-1e6 (c/n) log2(c/n)) ≈ 1e6 * H(bits)."""
    import math

    import numpy as np

    ln2 = math.log(2.0)
    def fn(arr):
        v = arr[:, :, 0].reshape(-1).astype(np.int64)
        n = int(v.size)
        hist = np.bincount(v, minlength=256)
        key = 0
        bins = 0
        for c in hist:
            c = int(c)
            if c == 0:
                continue
            bins += 1
            p = c / n
            key += math.floor(-1e6 * p * (math.log(p) / ln2))
        yield (n, bins, key)

    schema = (
        "image_id string, n_px bigint, n_bins bigint, entropy_key bigint"
    )
    return per_image(images, fn, schema)


def oracle_image_entropy(n_images: int, max_i: int) -> str:
    import math

    from .. import synth
    from ..synth import flit

    val = synth.pixel_val_sql()
    ln2 = flit(math.log(2.0))
    return (
        f"WITH px AS (SELECT image_id, {val} AS val "
        f"FROM (SELECT img.*, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w AND y < h) q), "
        f"hist AS (SELECT image_id, val, count(*) AS c, "
        f"sum(count(*)) OVER (PARTITION BY image_id) AS n "
        f"FROM px GROUP BY 1, 2), "
        f"keyed AS (SELECT image_id, n, "
        f"cast(floor(-1000000.0E0 * (cast(c as double) / n) * "
        f"(ln(cast(c as double) / n) / {ln2})) as bigint) AS k "
        f"FROM hist) "
        f"SELECT image_id, cast(max(n) as bigint) AS n_px, "
        f"count(*) AS n_bins, cast(sum(k) as bigint) AS entropy_key "
        f"FROM keyed GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# global SSIM (Wang-Bovik-Sheikh-Simoncelli 2004, single global
# window): the structural-similarity gate a re-encode/compression
# pipeline applies alongside the PSNR invariant (compare.py). The
# distorted signal here is the deterministic 8-level luminance
# quantization y = (x // 8) * 8 of channel 0 — the fixture stand-in
# for "same image after lossy re-encode". All six moments (n, sx, sy,
# sxx, syy, sxy) are exact int64 partials; ONE shared-literal IEEE
# float finisher turns them into floor(1e6 * SSIM), so the key is
# bit-identical across engines and immune to summation order.

SSIM_C1 = "6.5025E0"    # (0.01 * 255)^2
SSIM_C2 = "58.5225E0"   # (0.03 * 255)^2


def _ssim_finisher_sql() -> str:
    """Expects n, sx, sy, sxx, syy, sxy in scope."""
    mx = "(cast(sx as double) / n)"
    my = "(cast(sy as double) / n)"
    vx = f"(cast(sxx as double) / n - {mx} * {mx})"
    vy = f"(cast(syy as double) / n - {my} * {my})"
    cxy = f"(cast(sxy as double) / n - {mx} * {my})"
    num = f"((2.0E0 * {mx} * {my} + {SSIM_C1}) * (2.0E0 * {cxy} + {SSIM_C2}))"
    den = f"(({mx} * {mx} + {my} * {my} + {SSIM_C1}) * ({vx} + {vy} + {SSIM_C2}))"
    return f"cast(floor(1000000.0E0 * {num} / {den}) as bigint)"


def _ssim_key(n, sx, sy, sxx, syy, sxy):
    """Python replica of the SQL finisher (same IEEE sequence)."""
    import math

    mx = sx / n
    my = sy / n
    vx = sxx / n - mx * mx
    vy = syy / n - my * my
    cxy = sxy / n - mx * my
    num = (2.0 * mx * my + 6.5025) * (2.0 * cxy + 58.5225)
    den = (mx * mx + my * my + 6.5025) * (vx + vy + 58.5225)
    return math.floor(1000000.0 * num / den)


def ssim_global(images: DataFrame) -> DataFrame:
    """(image_id, n_px, sx, sy, sxx, syy, sxy, ssim_key) — decode
    once, exact integer moments of (x, y=(x//8)*8) on channel 0;
    map-only."""
    import numpy as np

    def fn(arr):
        x = arr[:, :, 0].astype(np.int64)
        y = (x // 8) * 8
        n = int(x.size)
        sx, sy = int(x.sum()), int(y.sum())
        sxx = int((x * x).sum())
        syy = int((y * y).sum())
        sxy = int((x * y).sum())
        yield (n, sx, sy, sxx, syy, sxy, _ssim_key(n, sx, sy, sxx, syy, sxy))

    schema = (
        "image_id string, n_px bigint, sx bigint, sy bigint, sxx bigint, "
        "syy bigint, sxy bigint, ssim_key bigint"
    )
    return per_image(images, fn, schema)


def oracle_ssim_global(n_images: int, max_i: int) -> str:
    from .. import synth

    val = synth.pixel_val_sql()
    return (
        f"WITH px AS (SELECT image_id, {val} AS x, "
        f"cast(floor({val} / 8.0E0) as bigint) * 8 AS y "
        f"FROM (SELECT img.*, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w AND y < h) q), "
        f"agg AS (SELECT image_id, count(*) AS n, "
        f"cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy, "
        f"cast(sum(x * x) as bigint) AS sxx, "
        f"cast(sum(y * y) as bigint) AS syy, "
        f"cast(sum(x * y) as bigint) AS sxy FROM px GROUP BY 1) "
        f"SELECT image_id, n AS n_px, sx, sy, sxx, syy, sxy, "
        f"{_ssim_finisher_sql()} AS ssim_key FROM agg"
    )


# ---------------------------------------------------------------------------
# grayscale / near-monochrome gate: the "is this actually a color
# image" cut of web-scale image curation (grayscale scans, line art
# and logos are down-weighted or routed separately in LAION-style
# recipes). Exact integer partials of the pairwise channel SADs —
# sum |R-G|, |G-B|, |R-B| — plus the per-image max channel spread;
# the headline key is floor(1e4 * meanPairwiseSAD). Map-only.

GRAY_KEY_MAX = 80_000  # mean pairwise channel diff <= 8.0 -> grayscale


def grayscale_gate(images: DataFrame) -> DataFrame:
    """(image_id, n_px, sad_rg, sad_gb, sad_rb, max_diff, gray_key,
    is_gray) — one decode, exact int64 SAD partials."""
    import math

    import numpy as np

    def fn(arr):
        a = arr.astype(np.int64)
        drg = np.abs(a[:, :, 0] - a[:, :, 1])
        dgb = np.abs(a[:, :, 1] - a[:, :, 2])
        drb = np.abs(a[:, :, 0] - a[:, :, 2])
        n = int(a.shape[0] * a.shape[1])
        sad = (int(drg.sum()), int(dgb.sum()), int(drb.sum()))
        key = math.floor(10000.0 * float(sum(sad)) / (3.0 * float(n)))
        yield (
            n, *sad,
            int(max(drg.max(), dgb.max(), drb.max())),
            key, int(key <= GRAY_KEY_MAX),
        )

    schema = (
        "image_id string, n_px bigint, sad_rg bigint, sad_gb bigint, "
        "sad_rb bigint, max_diff bigint, gray_key bigint, is_gray int"
    )
    return per_image(images, fn, schema)


def oracle_grayscale_gate(n_images: int, max_i: int) -> str:
    from .. import synth

    val = synth.pixel_val_sql()
    chan = {
        c: f"({val.replace('ch * 11', f'{c} * 11').replace('ch / 3.0E0', f'{c} / 3.0E0')})"
        for c in range(3)
    }
    return (
        f"WITH px AS (SELECT image_id, "
        f"abs({chan[0]} - {chan[1]}) AS drg, "
        f"abs({chan[1]} - {chan[2]}) AS dgb, "
        f"abs({chan[0]} - {chan[2]}) AS drb "
        f"FROM (SELECT img.*, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w AND y < h) q), "
        f"agg AS (SELECT image_id, count(*) AS n, "
        f"cast(sum(drg) as bigint) AS sad_rg, "
        f"cast(sum(dgb) as bigint) AS sad_gb, "
        f"cast(sum(drb) as bigint) AS sad_rb, "
        f"cast(max(greatest(drg, dgb, drb)) as bigint) AS max_diff "
        f"FROM px GROUP BY 1), "
        f"k AS (SELECT *, cast(floor(10000.0E0 * "
        f"cast(sad_rg + sad_gb + sad_rb as double) / "
        f"(3.0E0 * cast(n as double))) as bigint) AS gray_key FROM agg) "
        f"SELECT image_id, n AS n_px, sad_rg, sad_gb, sad_rb, max_diff, "
        f"gray_key, cast(gray_key <= {GRAY_KEY_MAX} as int) AS is_gray "
        f"FROM k"
    )


# ---------------------------------------------------------------------------
# Otsu threshold (Otsu 1979): the optimal global binarization
# threshold per image — maximize between-class variance over the
# channel-0 histogram. Ordering statistic: q(t) = |S*w0 - n*s0| /
# sqrt(w0*(n-w0)), a monotone transform of the between-class variance
# whose integer numerator fits int64 exactly (|S*w0 - n*s0| <= 1.2e12
# at 65536 px), so converting to double is EXACT and sqrt/divide are
# correctly rounded identically on both engines (numpy sqrt == libm,
# measured — see build notes). Argmax tie-break: smallest t; absent
# histogram bins inherit the previous bin's (w0, s0) so the first
# index of any tied run is always a populated bin on both sides.


def otsu_threshold(images: DataFrame) -> DataFrame:
    """(image_id, threshold, w0, s0, otsu_key) — per-image Otsu
    binarization threshold on channel 0; map-only."""
    import numpy as np

    def fn(arr):
        x = arr[:, :, 0].astype(np.int64).ravel()
        n = int(x.size)
        s = int(x.sum())
        hist = np.bincount(x, minlength=256)
        w0 = np.cumsum(hist)
        s0 = np.cumsum(hist * np.arange(256, dtype=np.int64))
        valid = (w0 > 0) & (w0 < n)
        if not valid.any():
            return
        d = np.abs(s * w0 - n * s0).astype(np.float64)
        q = np.divide(d, np.sqrt((w0 * (n - w0)).astype(np.float64)),
                      out=np.full_like(d, -1.0), where=valid)
        t = int(np.argmax(q))  # first max -> smallest-t tie-break
        yield (t, int(w0[t]), int(s0[t]), int(np.floor(q[t])))

    schema = (
        "image_id string, threshold int, w0 bigint, s0 bigint, "
        "otsu_key bigint"
    )
    return per_image(images, fn, schema)


def oracle_otsu_threshold(n_images: int, max_i: int) -> str:
    from .. import synth

    val = synth.pixel_val_sql()
    return (
        f"WITH px AS (SELECT image_id, {val} AS v "
        f"FROM (SELECT img.*, 0 AS ch, x, y "
        f"FROM ({images_cte(n_images, 'duckdb')}) img, "
        f"range(0, 256) tx(x), range(0, 256) ty(y) "
        f"WHERE img.i < {max_i} AND x < w AND y < h) qq), "
        f"tot AS (SELECT image_id, count(*) AS n, "
        f"cast(sum(v) as bigint) AS s FROM px GROUP BY 1), "
        f"hist AS (SELECT image_id, v AS t, count(*) AS c "
        f"FROM px GROUP BY 1, 2), "
        f"cum AS (SELECT image_id, t, "
        f"sum(c) OVER (PARTITION BY image_id ORDER BY t "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w0, "
        f"sum(t * c) OVER (PARTITION BY image_id ORDER BY t "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0 "
        f"FROM hist), "
        f"sc AS (SELECT cum.image_id, t, w0, s0, "
        f"cast(abs(s * w0 - n * s0) as double) / "
        f"sqrt(cast(w0 * (n - w0) as double)) AS q "
        f"FROM cum JOIN tot USING (image_id) WHERE w0 > 0 AND w0 < n), "
        f"r AS (SELECT *, row_number() OVER (PARTITION BY image_id "
        f"ORDER BY q DESC, t ASC) AS rn FROM sc) "
        f"SELECT image_id, cast(t as int) AS threshold, "
        f"cast(w0 as bigint) AS w0, cast(s0 as bigint) AS s0, "
        f"cast(floor(q) as bigint) AS otsu_key FROM r WHERE rn = 1"
    )
