"""The banded scanline stage (rowstage.bands) at heights that are not a
whole number of bands: every oracle-backed banded operator must still
emit one row per scanline, equal to its DuckDB oracle at the same size.
The registered queries all run at 64x64, a whole number of bands."""

import duckdb
import pandas as pd
import pytest

from gdal_spark.operators import raster_misc as rm
from gdal_spark.operators import sieve
from gdal_spark.operators import viewshed as vs

W, H = 40, 37  # 37 = 2*16 + 5 = 32 + 5 scanlines
OX, OY = 31, 29
OBSERVERS = ((31, 29), (8, 8))  # CUM_OBSERVERS' third lies outside 40x37


def _grid(fn, points=rm.GRID_POINTS):
    return lambda spark, w, h: fn(spark, pd.DataFrame(points), w, h)


# name -> (Spark stage at (w, h), its DuckDB oracle at (w, h) or None)
BANDED_STAGES = {
    "viewshed": (
        lambda spark, w, h: vs.viewshed_rows(spark, w, h, OX, OY),
        lambda w, h: vs.oracle_viewshed(w, h, OX, OY),
    ),
    "viewshed_ground": (
        lambda spark, w, h: vs.viewshed_ground_rows(spark, w, h, OX, OY),
        lambda w, h: vs.oracle_viewshed_ground(w, h, OX, OY),
    ),
    "viewshed_cumulative": (
        lambda spark, w, h: vs.viewshed_cumulative_rows(spark, w, h, OBSERVERS),
        lambda w, h: vs.oracle_viewshed_cumulative(w, h, OBSERVERS),
    ),
    "viewshed_curved": (
        lambda spark, w, h: vs.viewshed_curved_rows(spark, w, h, OX, OY),
        lambda w, h: vs.oracle_viewshed_curved(w, h, OX, OY),
    ),
    "viewshed_maxdist": (
        lambda spark, w, h: vs.viewshed_maxdist_rows(spark, w, h, OX, OY, 5),
        lambda w, h: vs.oracle_viewshed_maxdist(w, h, OX, OY, 5),
    ),
    # IDW's per-node sums drift by summation order across engines; its
    # parity is pinned by the brute-force test and the 64x64 gate
    "grid_idw": (_grid(rm.grid_idw), None),
    "grid_nearest": (_grid(rm.grid_nearest), rm.oracle_grid_nearest),
    "grid_average": (_grid(rm.grid_average), rm.oracle_grid_average),
    "grid_average_ellipse": (
        _grid(rm.grid_average_ellipse), rm.oracle_grid_average_ellipse,
    ),
    "grid_metrics": (_grid(rm.grid_metrics), rm.oracle_grid_metrics),
    "grid_linear": (_grid(rm.grid_linear, rm.LINEAR_POINTS), rm.oracle_grid_linear),
    "grid_idwnn": (_grid(rm.grid_idwnn), rm.oracle_grid_idwnn),
    "sieve_blocks": (sieve.sieve_blocks, sieve.oracle_sieve_blocks),
}

# sieve bands are its 24-px block rows: 100 = 4*24 + 4
SIZES = {"sieve_blocks": (96, 100)}


def _rows(pdf: pd.DataFrame):
    pdf = pdf[sorted(pdf.columns)]
    return list(pdf.columns), sorted(pdf.astype("int64").itertuples(index=False))


@pytest.mark.parametrize(
    "name", [n for n, (_, oracle) in BANDED_STAGES.items() if oracle]
)
def test_partial_band_matches_oracle(spark, name):
    stage, oracle = BANDED_STAGES[name]
    w, h = SIZES.get(name, (W, H))
    got = stage(spark, w, h).toPandas()
    want = duckdb.sql(oracle(w, h)).df()
    assert len(got) == h
    assert _rows(got) == _rows(want)
