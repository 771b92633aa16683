"""One row-at-a-time Python stage, one banded scanline stage, and one
envelope stage.

Most per-image and per-feature operators have the same Python shape:
take one input row, yield zero or more output rows. ``per_row`` is the
one place that shape meets Arrow: one ``mapInPandas`` whose batches
become one positional ``pd.DataFrame`` each. pyspark assigns columns
of a frame with non-string labels by position, so the output column
names are spelled once, in the schema.

``bands`` is the one banded scanline stage: the raster's rows split
into bands of ``band_px`` scanlines, one ``mapInPandas`` partition per
band, each band computing its own scanlines' output rows (viewshed,
the gridders, sieve). Bands own disjoint scanlines, so the band
frames are the output: no ``Exchange`` and no re-aggregation.

``envelopes`` is the one stage that appends a geometry's envelope to
its row, for every envelope-prefiltered join (overlay's candidate
pairs, rasterize's and zonal_stats' tile joins).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from .. import wkb


def per_row(df: DataFrame, cols, fn, schema: str) -> DataFrame:
    """mapInPandas over ``df.select(*cols)``: for each input row,
    ``fn(*values)`` yields output tuples in ``schema``'s column order.
    A batch that yields no rows emits nothing."""

    def run(batches):
        for pdf in batches:
            rows = [
                out
                for vals in pdf.itertuples(index=False, name=None)
                for out in fn(*vals)
            ]
            if rows:
                yield pd.DataFrame(rows)

    return df.select(*cols).mapInPandas(run, schema=schema)


def bands(spark, height: int, band_px: int, run, schema: str) -> DataFrame:
    """One partition per band of ``band_px`` scanlines (the last band
    may be shorter). ``run(y0, h)`` returns the band's columns after
    ``schema``'s leading ``y`` column, in schema order, each holding
    one value per scanline ``y0 .. y0 + h - 1``. The bands come from a
    range with one slice per band, so there is no shuffle for AQE to
    coalesce into one task and the bands run in parallel."""

    def stage(batches):
        for pdf in batches:
            for band in pdf["id"]:
                y0 = int(band) * band_px
                h = min(band_px, height - y0)
                ys = np.arange(y0, y0 + h, dtype=np.int64)
                yield pd.DataFrame(dict(enumerate([ys, *run(y0, h)])))

    nb = -(-height // band_px)
    return spark.range(0, nb, 1, nb).mapInPandas(stage, schema=schema)


def envelopes(
    df: DataFrame, wkb_col: str, names=("minx", "miny", "maxx", "maxy")
) -> DataFrame:
    """``df`` plus the ``wkb.envelope`` of ``wkb_col`` as four double
    columns ``names`` (in minx, miny, maxx, maxy order), each geometry
    decoded once, in one mapInPandas. A struct-returning pandas UDF
    would be evaluated twice, because Catalyst pushes the inferred
    not-null filters on its fields below the projection."""
    schema = T.StructType(
        df.schema.fields + [T.StructField(c, T.DoubleType(), False) for c in names]
    )

    def decode(batches):
        for pdf in batches:
            env = np.array([wkb.envelope(bytes(g)) for g in pdf[wkb_col]])
            yield pdf.assign(**dict(zip(names, env.reshape(-1, 4).T)))

    return df.mapInPandas(decode, schema=schema)
