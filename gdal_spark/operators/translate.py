"""gdal_translate + gdal_calc as DataFrame stages.

- ``translate``: the -srcwin window crop + -scale linear rescale +
  -outsize combo of apps/gdal_translate_lib.cpp (window crop in pixel
  space, linear [src_min,src_max]->[dst_min,dst_max] mapping with
  clamping, optional nearest resize). Per-image mapInPandas; the
  whole option struct is a plain broadcast dict.
- ``calc``: osgeo_utils/gdal_calc.py — evaluate a numpy expression
  over the image's bands (A = ch0, B = ch1, C = ch2). The expression
  is compiled once per batch and applied to whole arrays (the
  vectorized-Python-UDF contract of VRT derived bands,
  frmts/vrt/vrtderivedrasterband.cpp Python pixel functions).

Both emit per-channel GDAL checksums so the DuckDB oracle can
recompute the exact output from the synthetic pixel function.

Scale note: -scale uses GDAL's formula
  dst = (src - src_min) * (dst_max - dst_min) / (src_max - src_min)
        + dst_min
rounded half-up and clamped to the byte range
(apps/gdal_translate_lib.cpp:683 scale params).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .. import codecs, synth
from .rowstage import per_row
from .stats import (
    CHECKSUM_PRIMES, channel_checksums, checksum_sql, gdal_checksum,
    per_image,
)

SAFE_FUNCS = {
    "abs": np.abs, "minimum": np.minimum, "maximum": np.maximum,
    "sqrt": np.sqrt, "where": np.where,
}


def translate(
    images: DataFrame,
    srcwin: tuple[int, int, int, int] | None = None,
    scale: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Crop + rescale; output per-channel checksums + dims."""

    def run(arr):
        arr = arr.astype(np.float64)
        if srcwin is not None:
            x0, y0, w_, h_ = srcwin
            arr = arr[y0 : y0 + h_, x0 : x0 + w_, :]
        if scale is not None:
            s0, s1, d0, d1 = scale
            arr = (arr - s0) * (d1 - d0) / (s1 - s0) + d0
        out = np.floor(np.clip(arr, 0.0, 255.0) + 0.5).astype(np.uint8)
        for c in range(out.shape[2]):
            yield c, gdal_checksum(out[:, :, c]), out.shape[1], out.shape[0]

    return per_image(
        images, run,
        "image_id string, channel bigint, cks bigint, "
        "out_w bigint, out_h bigint",
    )


def oracle_translate(
    n: int,
    max_i: int,
    srcwin: tuple[int, int, int, int],
    scale: tuple[float, float, float, float],
) -> str:
    x0, y0, cw, chh = srcwin
    s0, s1, d0, d1 = scale
    fl = synth.flit
    scaled = (
        f"cast(floor(least(greatest((cast(val as double) - {fl(s0)}) "
        f"* ({fl(d1)} - {fl(d0)}) / ({fl(s1)} - {fl(s0)}) + {fl(d0)}, "
        f"0.0E0), 255.0E0) + 0.5E0) as bigint)"
    )
    cks_sql = checksum_sql(
        scaled, f"(y - {y0}) * least(w - {x0}, {cw}) + (x - {x0})"
    )
    return (
        f"WITH px AS (SELECT * FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) "
        f"WHERE x >= {x0} AND x < {x0} + {cw} AND y >= {y0} AND y < {y0} + {chh}) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks, "
        f"least(min(w) - {x0}, {cw}) AS out_w, "
        f"least(min(h) - {y0}, {chh}) AS out_h "
        f"FROM px GROUP BY 1, 2"
    )


_CALC_ALLOWED_NODES = (
    "Expression", "BinOp", "UnaryOp", "Call", "Name", "Load", "Constant",
    "Add", "Sub", "Mult", "Div", "FloorDiv", "Mod", "Pow", "USub", "UAdd",
    "Compare", "Lt", "LtE", "Gt", "GtE", "Eq", "NotEq", "Tuple",
)


def _validate_calc_expr(expr: str) -> None:
    """AST whitelist: only arithmetic, comparisons, band names and
    calls to SAFE_FUNCS — no attributes, subscripts, lambdas or
    comprehensions, so attribute-chain sandbox escapes can't parse."""
    import ast

    tree = ast.parse(expr, mode="eval")
    allowed_names = {"A", "B", "C", *SAFE_FUNCS}
    for node in ast.walk(tree):
        kind = type(node).__name__
        if kind not in _CALC_ALLOWED_NODES:
            raise ValueError(f"calc expr: disallowed syntax {kind!r}")
        if isinstance(node, ast.Name) and node.id not in allowed_names:
            raise ValueError(f"calc expr: unknown name {node.id!r}")
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) or node.func.id not in SAFE_FUNCS:
                raise ValueError("calc expr: only SAFE_FUNCS calls allowed")
        if isinstance(node, ast.Constant) and not isinstance(
            node.value, (int, float)
        ):
            raise ValueError("calc expr: only numeric literals allowed")


def calc(images: DataFrame, expr: str) -> DataFrame:
    """gdal_calc: evaluate ``expr`` over bands A/B/C (numpy arrays),
    output clamp-rounded byte + checksum. The expression is validated
    against an AST whitelist (arithmetic + SAFE_FUNCS only) before
    evaluation, so untrusted strings cannot escape the namespace."""
    _validate_calc_expr(expr)
    code = compile(expr, "<calc>", "eval")

    def run(arr):
        arr = arr.astype(np.float64)
        ns = {"A": arr[:, :, 0], "B": arr[:, :, 1], "C": arr[:, :, 2],
              **SAFE_FUNCS}
        res = eval(code, {"__builtins__": {}}, ns)
        yield (gdal_checksum(np.floor(np.clip(res, 0.0, 255.0) + 0.5)
                             .astype(np.uint8)),)

    return per_image(images, run, "image_id string, cks bigint")


def oracle_calc_halfsum(n: int, max_i: int) -> str:
    """Oracle for expr '(A + B) / 2 + C / 4': recomputed from the
    pixel function with the identical fp op sequence."""
    v = synth.pixel_val_sql()

    def ch(c):
        return f"cast(({v.replace('ch', str(c))}) as double)"

    formula = (
        f"cast(floor(least(greatest(({ch(0)} + {ch(1)}) / 2.0E0 "
        f"+ {ch(2)} / 4.0E0, 0.0E0), 255.0E0) + 0.5E0) as bigint)"
    )
    cks_sql = checksum_sql(formula, "y * w + x")
    return (
        f"WITH g AS (SELECT image_id, i.i AS i, w, h, fmt, x, y "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 256) a(x), range(0, 256) b(y) "
        f"WHERE i.i < {max_i} AND x < i.w AND y < i.h) "
        f"SELECT image_id, {cks_sql} "
        f"AS cks FROM g GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# -projwin: georeferenced window crop (apps/gdal_translate_lib.cpp
# projwin -> srcwin conversion: floor((ULX - gt[0]) / gt[1] + 0.001),
# size = floor(span / res + 0.5)). Windows partially outside the
# raster are CLIPPED here (the reference warns and pads); images
# completely outside are dropped (the reference errors per file — a
# layer-level filter is the DataFrame analog).


def translate_projwin(
    images: DataFrame, ulx: float, uly: float, lrx: float, lry: float
) -> DataFrame:
    """(image_id, channel, cks, out_w, out_h) for every image whose
    footprint intersects the geo window."""

    def run(image_id, payload, lon, lat, w, h):
        lon, lat = float(lon), float(lat)
        w, h = int(w), int(h)
        res = 0.1 / w
        x0 = int(np.floor((ulx - lon) / res + 0.001))
        y0 = int(np.floor((lat - uly) / res + 0.001))
        cw = int(np.floor((lrx - ulx) / res + 0.5))
        chh = int(np.floor((uly - lry) / res + 0.5))
        xs, ys = max(x0, 0), max(y0, 0)
        xe, ye = min(x0 + cw, w), min(y0 + chh, h)
        if xe <= xs or ye <= ys:
            return
        arr = codecs.decode_image(bytes(payload))[ys:ye, xs:xe, :]
        for c in range(arr.shape[2]):
            yield image_id, c, gdal_checksum(arr[:, :, c]), xe - xs, ye - ys

    return per_row(
        images, ["image_id", "bytes", "lon", "lat", "w", "h"], run,
        "image_id string, channel bigint, cks bigint, "
        "out_w bigint, out_h bigint",
    )


def oracle_translate_projwin(
    n: int, max_i: int, ulx: float, uly: float, lrx: float, lry: float
) -> str:
    fl = synth.flit
    win = (
        f"SELECT image_id, w, h, "
        f"cast(floor(({fl(ulx)} - lon) / (0.1E0 / w) + 0.001E0) as bigint) AS x0, "
        f"cast(floor((lat - {fl(uly)}) / (0.1E0 / w) + 0.001E0) as bigint) AS y0, "
        f"cast(floor(({fl(lrx)} - {fl(ulx)}) / (0.1E0 / w) + 0.5E0) as bigint) AS cw, "
        f"cast(floor(({fl(uly)} - {fl(lry)}) / (0.1E0 / w) + 0.5E0) as bigint) AS chh "
        f"FROM ({synth.images_cte(n, 'duckdb')}) WHERE i < {max_i}"
    )
    cks_sql = checksum_sql("val", "(y - ys) * (xe - xs) + (x - xs)")
    return (
        f"WITH win AS MATERIALIZED (SELECT image_id, w, h, "
        f"greatest(x0, 0) AS xs, greatest(y0, 0) AS ys, "
        f"least(x0 + cw, w) AS xe, least(y0 + chh, h) AS ye FROM ({win})), "
        f"px AS (SELECT p.image_id, p.ch, p.x, p.y, p.val, "
        f"win.xs, win.ys, win.xe, win.ye "
        f"FROM ({synth.pixels_cte(n, max_i, 'duckdb')}) p "
        f"JOIN win ON win.image_id = p.image_id "
        f"AND win.xe > win.xs AND win.ye > win.ys "
        f"AND p.x >= win.xs AND p.x < win.xe "
        f"AND p.y >= win.ys AND p.y < win.ye) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks, "
        f"cast(min(xe - xs) as bigint) AS out_w, "
        f"cast(min(ye - ys) as bigint) AS out_h "
        f"FROM px GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdal_calc with TWO input rasters (-A a.tif -B b.tif --calc "(A+B)/2"
# — osgeo_utils/gdal_calc.py multi-dataset mode). The DataFrame shape
# is a raster-raster equi-join on the pairing key before the
# vectorized compute; synth images i and i+5 share (w, h), so they
# form valid aligned pairs.


def calc_two(images: DataFrame, offset: int = 5) -> DataFrame:
    """(image_id, channel, cks): per-channel checksum of
    (A + B) / 2 over image pairs (i, i + offset). ``images`` must
    carry i/bytes/w/h."""

    a = images.selectExpr("i", "image_id", "bytes AS bytes_a")
    b = images.selectExpr(f"i - {offset} AS i", "bytes AS bytes_b")
    pair = a.join(b, "i")

    def half_sum(pa, pb):
        arr_a = codecs.decode_image(bytes(pa)).astype(np.float64)
        arr_b = codecs.decode_image(bytes(pb)).astype(np.float64)
        return np.floor(
            np.clip((arr_a + arr_b) / 2.0, 0.0, 255.0) + 0.5
        ).astype(np.uint8)

    return channel_checksums(pair, ["bytes_a", "bytes_b"], half_sum)


def oracle_calc_two(n: int, max_i: int, offset: int = 5) -> str:
    """Two pixel tables joined on (pair key, x, y, ch) — the SQL
    twin of the raster-raster join — then the same clamp-round."""
    formula = (
        "cast(floor(least(greatest((cast(va as double) + cast(vb as double)) "
        "/ 2.0E0, 0.0E0), 255.0E0) + 0.5E0) as bigint)"
    )
    cks_sql = checksum_sql(formula, "y * w + x")
    return (
        f"WITH pa AS MATERIALIZED (SELECT image_id, i, w, h, x, y, ch, "
        f"val AS va FROM ({synth.pixels_cte(n, max_i, 'duckdb')})), "
        f"pb AS MATERIALIZED (SELECT i - {offset} AS i, x, y, ch, "
        f"val AS vb FROM ({synth.pixels_cte(n, max_i + offset, 'duckdb')}) "
        f"WHERE i >= {offset}), "
        f"j AS (SELECT pa.image_id, pa.w, pa.x, pa.y, pa.ch, va, vb "
        f"FROM pa JOIN pb ON pb.i = pa.i AND pb.x = pa.x AND pb.y = pa.y "
        f"AND pb.ch = pa.ch) "
        f"SELECT image_id, cast(ch as bigint) AS channel, "
        f"{cks_sql} AS cks "
        f"FROM j GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# VRT registered pixel functions (frmts/vrt/pixelfunctions.cpp:1554 —
# 26 C-registered functions; the real-valued core is exercised here
# as one suite). Per image x function: the 1e4-floored sum of the
# function applied to every pixel (floored per pixel BEFORE summing —
# order-free; the ~1-2 ulp log/exp/pow drift between numpy and DuckDB
# is absorbed by the 1e-6 nudge, 1000x margin).

PIXELFN_SCALE = 10_000.0
PIXELFN_NUDGE = 1.0e-6

_PIXELFNS = [
    # (name, numpy lambda over (v0, v1, v2) float64 arrays, sql over val0/1/2)
    ("sqrt", lambda v0, v1, v2: np.sqrt(v0), "sqrt(v0)"),
    ("log10", lambda v0, v1, v2: np.log10(v0 + 1.0), "log10(v0 + 1.0E0)"),
    ("dB", lambda v0, v1, v2: 20.0 * np.log10(v0 + 1.0),
     "20.0E0 * log10(v0 + 1.0E0)"),
    ("exp", lambda v0, v1, v2: np.exp(v0 / 64.0), "exp(v0 / 64.0E0)"),
    ("pow", lambda v0, v1, v2: np.power(v0, 1.5), "power(v0, 1.5E0)"),
    ("inv", lambda v0, v1, v2: 1.0 / (v0 + 1.0), "1.0E0 / (v0 + 1.0E0)"),
    ("sum", lambda v0, v1, v2: v0 + v1 + v2, "v0 + v1 + v2"),
    ("diff", lambda v0, v1, v2: v0 - v1, "v0 - v1"),
    ("mul", lambda v0, v1, v2: v0 * v1, "v0 * v1"),
    ("intensity", lambda v0, v1, v2: v0 * v0, "v0 * v0"),
    ("scale", lambda v0, v1, v2: v0 * 0.5 + 10.0, "v0 * 0.5E0 + 10.0E0"),
    ("interpolate_linear", lambda v0, v1, v2: v0 + 0.25 * (v1 - v0),
     "v0 + 0.25E0 * (v1 - v0)"),
]


# The complex-domain half of the registered table
# (pixelfunctions.cpp:1546-1587): bands interpreted as complex pairs —
# A = v0 + i*v1, B = v1 + i*v2 (CMul takes A * conj(B)), polar reads
# (amplitude, phase). Complex outputs contribute BOTH parts to the
# key (floor each part separately, then sum — order-free).
# Guards that keep the probe total on byte-valued bands (documented
# deviations, not semantic ones): div regularizes the denominator by
# +1 (as the real suite's inv does), interpolate_exp shifts by +1
# before ln (GDAL assumes positive samples), replace_nodata uses
# nodata=0 -> 255.
_PIXELFNS_CPLX = [
    # (name, numpy -> (re, im|None), (sql_re, sql_im|None))
    ("real", lambda v0, v1, v2: (v0, None), ("v0", None)),
    ("imag", lambda v0, v1, v2: (v1, None), ("v1", None)),
    ("complex", lambda v0, v1, v2: (v0, v1), ("v0", "v1")),
    ("conj", lambda v0, v1, v2: (v0, -v1), ("v0", "-v1")),
    ("mod", lambda v0, v1, v2: (np.sqrt(v0 * v0 + v1 * v1), None),
     ("sqrt(v0 * v0 + v1 * v1)", None)),
    ("phase", lambda v0, v1, v2: (np.arctan2(v1, v0), None),
     ("atan2(v1, v0)", None)),
    ("cmul", lambda v0, v1, v2: (v0 * v1 + v1 * v2, v1 * v1 - v0 * v2),
     ("v0 * v1 + v1 * v2", "v1 * v1 - v0 * v2")),
    ("div", lambda v0, v1, v2: (v0 / (v1 + 1.0), None),
     ("v0 / (v1 + 1.0E0)", None)),
    ("polar", lambda v0, v1, v2: (v0 * np.cos(v1), v0 * np.sin(v1)),
     ("v0 * cos(v1)", "v0 * sin(v1)")),
    # dB inputs are re-centered to [-64, 63.5] dB ((v0-128)/2) so the
    # 1e4-scaled key stays far inside int64 (raw byte dB would reach
    # 10^25.5 * 1e4 and overflow the sum)
    ("dB2amp", lambda v0, v1, v2: (np.power(10.0, (v0 - 128.0) / 40.0), None),
     ("power(10.0E0, (v0 - 128.0E0) / 40.0E0)", None)),
    ("dB2pow", lambda v0, v1, v2: (np.power(10.0, (v0 - 128.0) / 20.0), None),
     ("power(10.0E0, (v0 - 128.0E0) / 20.0E0)", None)),
    ("interpolate_exp",
     lambda v0, v1, v2: (
         np.exp(np.log(v0 + 1.0)
                + 0.25 * (np.log(v1 + 1.0) - np.log(v0 + 1.0))), None),
     ("exp(ln(v0 + 1.0E0) + 0.25E0 * (ln(v1 + 1.0E0) - ln(v0 + 1.0E0)))",
      None)),
    ("replace_nodata",
     lambda v0, v1, v2: (np.where(v0 == 0.0, 255.0, v0), None),
     ("CASE WHEN v0 = 0.0E0 THEN 255.0E0 ELSE v0 END", None)),
]


def pixel_functions_complex(images: DataFrame) -> DataFrame:
    """(image_id, fn, key_sum) for the complex-domain pixel-function
    half of the registered table (real/imag/complex/conj/mod/phase/
    cmul/div/polar/dB2amp/dB2pow/interpolate_exp/replace_nodata)."""

    def run(arr):
        arr = arr.astype(np.float64)
        v0, v1, v2 = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        for name, f, _ in _PIXELFNS_CPLX:
            re, im = f(v0, v1, v2)
            key = int(np.floor(re * PIXELFN_SCALE + PIXELFN_NUDGE).sum())
            if im is not None:
                key += int(np.floor(im * PIXELFN_SCALE + PIXELFN_NUDGE).sum())
            yield name, key

    return per_image(images, run, "image_id string, fn string, key_sum bigint")


def oracle_pixel_functions_complex(n: int, max_i: int) -> str:
    val = synth.pixel_val_sql()

    def ch(c):
        return f"cast(({val.replace('ch', str(c))}) as double)"

    def fl(sql):
        return (
            f"cast(floor(({sql}) * {synth.flit(PIXELFN_SCALE)}"
            f" + {synth.flit(PIXELFN_NUDGE)}) as bigint)"
        )

    branches = " ".join(
        f"WHEN '{name}' THEN {fl(sql_re)}"
        + (f" + {fl(sql_im)}" if sql_im else "")
        for name, _, (sql_re, sql_im) in _PIXELFNS_CPLX
    )
    fn_list = ", ".join(f"'{name}'" for name, _, _ in _PIXELFNS_CPLX)
    return (
        f"WITH g AS MATERIALIZED (SELECT image_id, "
        f"{ch(0)} AS v0, {ch(1)} AS v1, {ch(2)} AS v2 "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 256) a(x), range(0, 256) b(y) "
        f"WHERE i.i < {max_i} AND x < i.w AND y < i.h) "
        f"SELECT image_id, fn, cast(sum(CASE fn {branches} END) as bigint) "
        f"AS key_sum "
        f"FROM g, (SELECT unnest([{fn_list}]) AS fn) f GROUP BY 1, 2"
    )


def pixel_functions(images: DataFrame) -> DataFrame:
    """(image_id, fn, key_sum) for the registered-pixel-function
    suite over the decoded bands."""

    def run(arr):
        arr = arr.astype(np.float64)
        v0, v1, v2 = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        for name, f, _ in _PIXELFNS:
            out = f(v0, v1, v2)
            yield name, int(np.floor(out * PIXELFN_SCALE + PIXELFN_NUDGE).sum())

    return per_image(images, run, "image_id string, fn string, key_sum bigint")


def oracle_pixel_functions(n: int, max_i: int) -> str:
    val = synth.pixel_val_sql()

    def ch(c):
        return f"cast(({val.replace('ch', str(c))}) as double)"

    branches = " ".join(
        f"WHEN '{name}' THEN cast(floor(({sql}) * {synth.flit(PIXELFN_SCALE)}"
        f" + {synth.flit(PIXELFN_NUDGE)}) as bigint)"
        for name, _, sql in _PIXELFNS
    )
    fn_list = ", ".join(f"'{name}'" for name, _, _ in _PIXELFNS)
    return (
        f"WITH g AS MATERIALIZED (SELECT image_id, "
        f"{ch(0)} AS v0, {ch(1)} AS v1, {ch(2)} AS v2 "
        f"FROM ({synth.images_cte(n, 'duckdb')}) i, "
        f"range(0, 256) a(x), range(0, 256) b(y) "
        f"WHERE i.i < {max_i} AND x < i.w AND y < i.h) "
        f"SELECT image_id, fn, cast(sum(CASE fn {branches} END) as bigint) "
        f"AS key_sum "
        f"FROM g, (SELECT unnest([{fn_list}]) AS fn) f GROUP BY 1, 2"
    )


# ---------------------------------------------------------------------------
# gdal_create (apps/gdal_create.cpp): create a blank dataset of a
# given size/band count with per-band -burn values. The Spark analog
# materializes nothing: a constant raster's GDALChecksumImage
# (alg/gdalchecksum.cpp:66, sum of val % primes[(y*w+x) % 11] masked
# to 16 bits) collapses to counting pixels per prime-residue class,
# which is closed-form PER ROW — so the whole creation+checksum plan
# is a pure-Catalyst explode over (band, row, residue) with one
# map-side-combined aggregate. At a 10^6-row raster this is h*11*b
# tiny rows, no pixel bytes ever shuffled.

_JRES_PRIME_CASE = "CASE " + " ".join(
    f"WHEN jres = {j} THEN {p}" for j, p in enumerate(CHECKSUM_PRIMES)
) + " END"


def gdal_create(
    spark, w: int = 512, h: int = 512, burn: tuple[int, ...] = (10, 200, 37)
) -> DataFrame:
    """(band, width, height, burn, n_px, checksum) for a constant
    -burn raster; checksum is bit-parity with GDALChecksumImage
    (pinned against stats.gdal_checksum in tests)."""
    bands = len(burn)
    burn_case = "CASE " + " ".join(
        f"WHEN band = {i} THEN {v}" for i, v in enumerate(burn)
    ) + " END"
    # pixels in row y with (y*w + x) % 11 == jres, x in [0, w):
    # full cycles + the partial cycle's hit
    cnt = (
        f"(cast({w} div 11 as bigint) + CASE WHEN "
        f"(jres - (cast(y as bigint) * {w}) % 11 + 11) % 11 < {w} % 11 "
        f"THEN 1 ELSE 0 END)"
    )
    rows = (
        spark.range(bands)
        .selectExpr("cast(id as int) AS band")
        .selectExpr("band", f"explode(sequence(0, {h - 1})) AS y")
        .selectExpr("band", "y", "explode(sequence(0, 10)) AS jres")
        .selectExpr(
            "band",
            f"({burn_case}) % ({_JRES_PRIME_CASE}) * {cnt} AS contrib",
        )
    )
    agg = rows.groupBy("band").agg(
        F.expr("cast(sum(contrib) % 65536 as bigint)").alias("checksum")
    )
    return agg.selectExpr(
        "band",
        f"cast({w} as bigint) AS width",
        f"cast({h} as bigint) AS height",
        f"cast({burn_case} as bigint) AS burn",
        f"cast({w} as bigint) * {h} AS n_px",
        "checksum",
    )


def oracle_gdal_create(
    w: int = 512, h: int = 512, burn: tuple[int, ...] = (10, 200, 37)
) -> str:
    bands = len(burn)
    burn_case = "CASE " + " ".join(
        f"WHEN band = {i} THEN {v}" for i, v in enumerate(burn)
    ) + " END"
    cnt = (
        f"(cast({w} // 11 as bigint) + CASE WHEN "
        f"(jres - (cast(y as bigint) * {w}) % 11 + 11) % 11 < {w} % 11 "
        f"THEN 1 ELSE 0 END)"
    )
    return (
        f"WITH rows_ AS (SELECT cast(b as int) AS band, y, jres, "
        f"({burn_case}) % ({_JRES_PRIME_CASE}) * {cnt} AS contrib "
        f"FROM range(0, {bands}) tb(b), range(0, {h}) ty(y), "
        f"range(0, 11) tj(jres)), "
        f"agg AS (SELECT band, cast(sum(contrib) % 65536 as bigint) "
        f"AS checksum FROM rows_ GROUP BY band) "
        f"SELECT band, cast({w} as bigint) AS width, "
        f"cast({h} as bigint) AS height, "
        f"cast({burn_case} as bigint) AS burn, "
        f"cast({w} as bigint) * {h} AS n_px, checksum FROM agg"
    )


# ---------------------------------------------------------------------------
# gdal_lut (osgeo_utils/samples/gdal_lut.py): direct value lookup —
# pixel values inside the table map through it, values past the end
# pass through unaltered ("Values not mapped by the lut file ... will
# be left unaltered"). The table is a tiny constant -> both engines
# get it as a folded literal array (Spark: Catalyst constant-folds
# element_at over a literal; at 10^12 rows this is a map-only
# projection fused into the scan, zero Python).

# default table: squared-contrast stretch for the dark range 0..63
DEFAULT_LUT = tuple((v * v) // 16 for v in range(64))


def _lut_sql(dialect: str, lut) -> str:
    vals = ", ".join(str(int(v)) for v in lut)
    if dialect == "spark":
        arr = f"array({vals})"
        pick = f"element_at({arr}, cast(val + 1 as int))"
    else:
        pick = f"list_extract([{vals}], val + 1)"
    return (
        f"(CASE WHEN val < {len(lut)} THEN cast({pick} as bigint) "
        f"ELSE val END)"
    )


def lut_apply(spark, n: int, max_i: int, lut=DEFAULT_LUT) -> DataFrame:
    """(image_id, ch, y, n, out_sum) per scanline after LUT mapping —
    pure Catalyst over the synth pixel CTE."""
    px = synth.pixels_cte(n, max_i, "spark")
    return spark.sql(
        f"SELECT image_id, ch, y, count(*) AS n, "
        f"cast(sum({_lut_sql('spark', lut)}) as bigint) AS out_sum "
        f"FROM ({px}) GROUP BY 1, 2, 3"
    )


def oracle_lut_apply(n: int, max_i: int, lut=DEFAULT_LUT) -> str:
    px = synth.pixels_cte(n, max_i, "duckdb")
    return (
        f"SELECT image_id, ch, y, count(*) AS n, "
        f"cast(sum({_lut_sql('duckdb', lut)}) as bigint) AS out_sum "
        f"FROM ({px}) GROUP BY 1, 2, 3"
    )


# ---------------------------------------------------------------------------
# gdal_edit -a_ullr (osgeo_utils/gdal_edit.py): rewrite the
# georeferencing WITHOUT touching pixels — the whole point of the
# utility is that it is a metadata-only operation (no raster IO), and
# the Spark shape mirrors that: a pure-Catalyst projection over the
# metadata columns, zero decode, zero shuffle at 10^12 rows. The
# edit rule here is the common "snap the footprint to a 0.1-degree
# anchor grid" fix-up; derived per-pixel resolutions follow
# (lrx-ulx)/w exactly as gdal_edit recomputes gt[1]/gt[5].


def edit_georef_ullr(images_meta: DataFrame) -> DataFrame:
    """(image_id, ulx_nano, uly_nano, lrx_nano, lry_nano, xres_nano,
    yres_nano): post-edit georeferencing, nano-degree keyed."""
    snap = "(floor(lon * 10.0E0) / 10.0E0)"
    snapy = "(ceil(lat * 10.0E0) / 10.0E0)"
    exprs = {
        "ulx": snap,
        "uly": snapy,
        "lrx": f"({snap} + 0.1E0)",
        "lry": f"({snapy} - 0.1E0)",
    }
    nano = {k: f"cast(floor({v} * 1000000000.0E0) as bigint)"
            for k, v in exprs.items()}
    return images_meta.selectExpr(
        "image_id",
        f"{nano['ulx']} AS ulx_nano",
        f"{nano['uly']} AS uly_nano",
        f"{nano['lrx']} AS lrx_nano",
        f"{nano['lry']} AS lry_nano",
        f"cast(floor((({exprs['lrx']}) - ({exprs['ulx']})) "
        f"/ cast(w as double) * 1000000000.0E0) as bigint) AS xres_nano",
        f"cast(floor((({exprs['uly']}) - ({exprs['lry']})) "
        f"/ cast(h as double) * 1000000000.0E0) as bigint) AS yres_nano",
    )


def oracle_edit_georef_ullr(n: int) -> str:
    from .. import synth as _s

    snap = "(floor(lon * 10.0E0) / 10.0E0)"
    snapy = "(ceil(lat * 10.0E0) / 10.0E0)"
    return (
        f"WITH img AS ({_s.images_cte(n, 'duckdb')}) "
        f"SELECT image_id, "
        f"cast(floor({snap} * 1000000000.0E0) as bigint) AS ulx_nano, "
        f"cast(floor({snapy} * 1000000000.0E0) as bigint) AS uly_nano, "
        f"cast(floor(({snap} + 0.1E0) * 1000000000.0E0) as bigint) "
        f"AS lrx_nano, "
        f"cast(floor(({snapy} - 0.1E0) * 1000000000.0E0) as bigint) "
        f"AS lry_nano, "
        f"cast(floor((({snap} + 0.1E0) - {snap}) / cast(w as double) "
        f"* 1000000000.0E0) as bigint) AS xres_nano, "
        f"cast(floor(({snapy} - ({snapy} - 0.1E0)) / cast(h as double) "
        f"* 1000000000.0E0) as bigint) AS yres_nano "
        f"FROM img"
    )
