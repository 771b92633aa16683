"""Dataset comparison — the distributed gdalcompare + per-row invariant.

The reference ships ``osgeo_utils/gdalcompare.py`` (compare two
datasets: dims, band checksums, pixel differences) and the project's
north rule adds the per-row verification contract for 10^12-image
re-encodes: decoded pixels allclose (PSNR >= 40 dB for lossy paths)
and caption equality per row. This module is that verification as a
DataFrame stage, so a 100 TB re-encode job can gate itself without
collecting anything to the driver.

Design (scale posture):
- golden and candidate sides join on ``image_id`` — a plain
  hash-partitioned equi-join (bucket both sides on image_id at the
  sink and it is shuffle-free; see operators/bucketed.py).
- the pixel compare is ONE Arrow-batched ``mapInPandas`` stage over
  the joined rows; per image it emits pure-integer evidence
  (sse, max_abs_diff, npix) — never a float PSNR — so the
  "PSNR >= 40 dB" gate is the exact integer predicate
      sse * 10^4 <= 255^2 * npix
  (10*log10(peak^2/mse) >= 40  <=>  mse <= peak^2/10^4), immune to
  libm/log10 cross-engine drift and to float summation order.
- the corpus verdict is a map-side-combined groupBy over those
  integers; no driver loop, no collect.

Reference parity: gdalcompare.py compare_image_pixels (checksum +
max-abs-diff per band), gcore band checksum semantics; the PSNR/
caption invariant is BASELINE.json's input_hint contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import codecs, synth
from . import rowstage

# integer PSNR>=40dB gate constants: sse * PSNR_SCALE <= PEAK_SQ * npix
PEAK_SQ = 255 * 255
PSNR_SCALE = 10_000


def reencode(images: DataFrame, fmt: str) -> DataFrame:
    """Re-encode every payload as ``fmt`` (decode -> encode), the
    candidate-producing half of a re-encode pipeline. Arrow-batched;
    output keeps (image_id, bytes, caption)."""

    def run(batches):
        for pdf in batches:
            outs = []
            for payload in pdf["bytes"]:
                arr = codecs.decode_image(bytes(payload))
                outs.append(codecs.encode_image(arr, fmt))
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "bytes": outs,
                 "caption": pdf["caption"]}
            )

    return images.select("image_id", "bytes", "caption").mapInPandas(
        run, schema="image_id string, bytes binary, caption string"
    )


def compare_rows(golden: DataFrame, candidate: DataFrame) -> DataFrame:
    """Per-row compare of two image tables joined on image_id.

    Returns one row per image: integer difference evidence plus the
    three verdict bits of the re-encode contract (pixels_equal,
    psnr_ok, caption_equal). Dimension mismatches surface as
    dims_equal=0 with sse/max_abs_diff computed over nothing (-1
    sentinel npix) rather than raising, matching gdalcompare's
    report-don't-abort behavior."""
    g = golden.select(
        "image_id",
        F.col("bytes").alias("bytes_g"),
        F.col("caption").alias("caption_g"),
    )
    c = candidate.select(
        "image_id",
        F.col("bytes").alias("bytes_c"),
        F.col("caption").alias("caption_c"),
    )

    def run(image_id, bg, bc, cg, cc):
        a = codecs.decode_image(bytes(bg))
        b = codecs.decode_image(bytes(bc))
        cap_eq = int(cg == cc)
        if a.shape != b.shape:
            yield image_id, 0, -1, -1, -1, 0, 0, cap_eq
            return
        diff = a.astype("int64") - b.astype("int64")
        sse = int((diff * diff).sum())
        mad = int(abs(diff).max()) if diff.size else 0
        npix = int(diff.size)
        psnr_ok = int(sse * PSNR_SCALE <= PEAK_SQ * npix)
        yield image_id, 1, npix, sse, mad, int(sse == 0), psnr_ok, cap_eq

    return rowstage.per_row(
        g.join(c, "image_id"),
        ["image_id", "bytes_g", "bytes_c", "caption_g", "caption_c"], run,
        "image_id string, dims_equal int, npix bigint, sse bigint, "
        "max_abs_diff int, pixels_equal int, psnr_ok int, caption_equal int",
    )


def compare_summary(per_row: DataFrame, golden: DataFrame) -> DataFrame:
    """Corpus-level verdict grouped by golden fmt: counts of images,
    exact matches, PSNR passes, caption passes + worst-case evidence.
    All-integer, map-side combined."""
    fmts = golden.select("image_id", "fmt")
    return (
        per_row.join(fmts, "image_id")
        .groupBy("fmt")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.sum("pixels_equal").cast("bigint").alias("n_exact"),
            F.sum("psnr_ok").cast("bigint").alias("n_psnr_ok"),
            F.sum("caption_equal").cast("bigint").alias("n_caption_ok"),
            F.max("max_abs_diff").cast("bigint").alias("worst_abs_diff"),
            F.max("sse").cast("bigint").alias("worst_sse"),
        )
    )


def oracle_compare_reencode(n: int, max_i: int) -> str:
    """DuckDB replica of compare_rows(golden, reencode(golden,
    'jpeg')): candidate pixel = floor(val/4)*4 + 2 (the fake-jpeg
    quantizer over the DECODED golden value), so golden jpeg images
    round-trip exactly (their decoded values are already bucket
    centers) and golden png images take the lossy path (max abs diff
    2, PSNR ~46 dB)."""
    val = synth.pixel_val_sql()
    return (
        f"WITH px AS (SELECT image_id, i.i AS i, w, h, fmt, x, y, ch, "
        f"({val}) - ((({val}) // 4) * 4 + 2) AS d "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, range(0, 256) tx(x), "
        f"range(0, 256) ty(y), range(0, 3) tc(ch) "
        f"WHERE i.i < {max_i} AND x < i.w AND y < i.h) "
        f"SELECT image_id, 1 AS dims_equal, "
        f"cast(count(*) as bigint) AS npix, "
        f"cast(sum(d * d) as bigint) AS sse, "
        f"cast(max(abs(d)) as int) AS max_abs_diff, "
        f"cast(cast(sum(d * d) as bigint) = 0 as int) AS pixels_equal, "
        f"cast(cast(sum(d * d) as bigint) * {PSNR_SCALE} "
        f"  <= {PEAK_SQ} * count(*) as int) AS psnr_ok, "
        f"1 AS caption_equal "
        f"FROM px GROUP BY image_id"
    )
