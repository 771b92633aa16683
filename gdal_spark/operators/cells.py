"""Cell/tile assignment stage — the engine's "H3/S2 cell assignment".

``assign_cells`` adds grid-tile columns to any DataFrame with lon/lat
columns as pure Catalyst expressions (JVM, whole-stage codegen, no
Python worker): ``merc_tile_sql`` / ``geodetic_tile_sql`` emit the
tile math as SQL text valid in both Spark SQL and DuckDB, so the
DuckDB oracle recomputes assignments from the same expressions.
``env_cell_explode`` covers envelopes with the same encoder, so a
point inside an envelope always lands in one of its cells.

Semantics = reference tile grids (osgeo_utils/gdal2tiles.py
GlobalMercator:337 / GlobalGeodetic:556). The numpy encoders in
``grid.py`` are the reference: tests/test_grid.py pins them to
reference goldens and asserts the SQL path equal to them at the Spark
level. ``engine="pandas"`` runs those numpy encoders in one
Arrow-batched pandas UDF — an oracle path only; it measured 3x slower
than the SQL path on the same rows, the cost of moving every row
across the Python/Arrow boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import grid
from ..synth import flit


# ---------------------------------------------------------------------------
# SQL-expression variants (Spark SQL + DuckDB compatible)


def merc_tile_sql(lon: str, lat: str, zoom: int, axis: str) -> str:
    """TMS mercator tile index as a SQL expression (clipped)."""
    res = grid.INITIAL_RESOLUTION / (2.0**zoom)  # exact: division by 2^z
    n = 2**zoom
    shift = flit(grid.ORIGIN_SHIFT)
    if axis == "x":
        m = f"({lon} * {shift} / 180.0E0)"
    else:
        m = (
            f"(ln(tan((90.0E0 + {lat}) * pi() / 360.0E0)) / (pi() / 180.0E0) "
            f"* {shift} / 180.0E0)"
        )
    return _clip_tile_sql(f"(({m} + {shift}) / {flit(res)})", n - 1)


def geodetic_tile_sql(lon: str, lat: str, zoom: int, axis: str) -> str:
    """TMS-compatible geodetic tile index as a SQL expression (clipped)."""
    res = 180.0 / grid.TILE_SIZE / (2.0**zoom)
    if axis == "x":
        px = f"((180.0E0 + {lon}) / {flit(res)})"
        hi = 2 * 2**zoom - 1
    else:
        px = f"((90.0E0 + {lat}) / {flit(res)})"
        hi = 2**zoom - 1
    return _clip_tile_sql(px, hi)


def _clip_tile_sql(px: str, hi: int) -> str:
    """Tile index of pixel coordinate ``px``, clipped to [0, hi]. The
    -1 is taken inside ``ceil``: ceil(-inf) saturates to
    Long.MIN_VALUE, so subtracting after it overflows under ANSI."""
    t = f"cast(ceil({px} / 256.0E0 - 1.0E0) as bigint)"
    return f"greatest(0, least({hi}, {t}))"


def cell_id_sql(tx: str, ty: str, zoom: int) -> str:
    """Pack (zoom, tx, ty) into the int64 cell id in SQL — matches
    grid.pack_cell."""
    return f"(cast({zoom} as bigint) * {1 << 58} + {tx} * {1 << 29} + {ty})"


def env_cell_explode(
    env_df: DataFrame, prefix: str, pad: float, zoom: int
) -> DataFrame:
    """Explode an envelope table (``{prefix}x0/y0/x1/y1`` columns) to
    the geodetic ``zoom`` cells its pad-expanded envelope covers, as a
    ``cell_id`` column: corner tiles from ``geodetic_tile_sql`` (the
    point encoder, so a point inside the envelope always lands in one
    of these cells), then a sequence explode per axis."""
    p = flit(pad)
    tx0 = geodetic_tile_sql(f"({prefix}x0 - {p})", "0", zoom, "x")
    tx1 = geodetic_tile_sql(f"({prefix}x1 + {p})", "0", zoom, "x")
    ty0 = geodetic_tile_sql("0", f"({prefix}y0 - {p})", zoom, "y")
    ty1 = geodetic_tile_sql("0", f"({prefix}y1 + {p})", zoom, "y")
    return (
        env_df.withColumn(
            "ctx", F.expr(f"explode(sequence({tx0}, {tx1}))")
        )
        .withColumn("cty", F.expr(f"explode(sequence({ty0}, {ty1}))"))
        .withColumn("cell_id", F.expr(cell_id_sql("ctx", "cty", zoom)))
        .drop("ctx", "cty")
    )


# ---------------------------------------------------------------------------
# numpy-oracle variant


def _make_tile_udf(zoom: int, grid_kind: str):
    encode = (
        grid.lonlat_to_tile_merc if grid_kind == "mercator"
        else grid.lonlat_to_tile_geodetic
    )

    @F.pandas_udf("tile_x long, tile_y long")
    def tile_xy(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        tx, ty = encode(lon.values, lat.values, zoom)
        return pd.DataFrame({"tile_x": tx, "tile_y": ty})

    return tile_xy


def assign_cells(
    df: DataFrame,
    zoom: int,
    grid_kind: str = "mercator",
    engine: str = "sql",
    with_quadkey: bool = False,
) -> DataFrame:
    """Add ``tile_x, tile_y`` (TMS) and packed ``cell_id`` columns
    from the ``lon, lat`` columns.

    engine="sql":    pure Catalyst expressions (JVM, codegen) — the
                     runtime path.
    engine="pandas": the ``grid.py`` numpy encoders in one pandas UDF —
                     the reference the SQL path is tested against.
    """
    if engine == "sql":
        fn = merc_tile_sql if grid_kind == "mercator" else geodetic_tile_sql
        df = df.withColumn("tile_x", F.expr(fn("lon", "lat", zoom, "x")))
        df = df.withColumn("tile_y", F.expr(fn("lon", "lat", zoom, "y")))
    elif engine == "pandas":
        xy = _make_tile_udf(zoom, grid_kind)(F.col("lon"), F.col("lat"))
        # one UDF call: its struct lands in tile_x, then splits in two
        df = df.withColumn("tile_x", xy)
        df = df.withColumns(
            {"tile_y": F.col("tile_x").tile_y, "tile_x": F.col("tile_x").tile_x}
        )
    else:
        raise ValueError(f"unknown engine {engine!r}")
    df = df.withColumn("cell_id", F.expr(cell_id_sql("tile_x", "tile_y", zoom)))
    if with_quadkey:
        if grid_kind != "mercator":
            raise ValueError("quadkey is defined on the mercator grid")

        @F.pandas_udf(T.StringType())
        def qk(tx: pd.Series, ty: pd.Series) -> pd.Series:
            return pd.Series(grid.quadkey(tx.values, ty.values, zoom))

        df = df.withColumn("quadkey", qk(F.col("tile_x"), F.col("tile_y")))
    return df


def oracle_tile_xyz_quadkey(n: int, zoom: int) -> str:
    """DuckDB twin of the gdal2tiles --xyz flip + quadkey build: the
    quadkey digit at depth k is bit (zoom-k) of tx plus twice that bit
    of the y-flipped (google) row."""
    from .. import synth

    digits = " || ".join(
        f"cast(((tile_x >> {zoom - k}) & 1) + "
        f"2 * ((y_xyz >> {zoom - k}) & 1) as varchar)"
        for k in range(1, zoom + 1)
    )
    flip = 2**zoom - 1
    return (
        f"WITH t AS (SELECT image_id, "
        f"{merc_tile_sql('lon', 'lat', zoom, 'x')} AS tile_x, "
        f"{merc_tile_sql('lon', 'lat', zoom, 'y')} AS tile_y "
        f"FROM ({synth.images_cte(n, 'duckdb')})), "
        f"f AS (SELECT image_id, tile_x, tile_y, "
        f"cast({flip} - tile_y as bigint) AS y_xyz FROM t) "
        f"SELECT image_id, tile_x, tile_y, y_xyz, {digits} AS quadkey "
        f"FROM f"
    )
