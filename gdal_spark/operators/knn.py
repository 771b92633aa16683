"""kNN via cell-ring expansion — distributed nearest-neighbor search.

Reference semantics: GDALGridNearestNeighbor / IDW-NN search the
CPLQuadTree outward from the query point until enough points are found
(alg/gdalgrid.cpp:259-375, CPLQuadTreeSearch :294). The distributed
analog replaces the quadtree with the geodetic cell grid: candidate
cells expand in Chebyshev rings around each query site's cell until

  (a) >= k candidates are found, AND
  (b) the k-th candidate distance <= distance from the site to the
      boundary of the covered cell square (so no closer point can
      exist outside the searched region).

Distance metric: squared planar degree distance (exact IEEE arithmetic
-> reproducible in the DuckDB oracle bit-for-bit). Ranking ties broken
by point id for determinism.

Scale shape: sites (queries) are the tiny side — each round builds a
(site, cell) table of only the NEW ring cells for still-unsatisfied
sites and broadcast-joins it against the big points table on cell_id.
The big table is scanned per round but never shuffled; rounds are
O(log) because the radius doubles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .. import grid
from .cells import assign_cells

DEFAULT_KNN_ZOOM = 4
MAX_ROUNDS = 12  # ring rounds; the radius doubles each round
# squared planar degree distance from a point (lon, lat) to its site
D2_SQL = "(lon - slon) * (lon - slon) + (lat - slat) * (lat - slat)"


def _ring_cells(scx: int, scy: int, r_lo: int, r_hi: int, zoom: int):
    """Cells with Chebyshev distance in (r_lo, r_hi] of (scx, scy),
    clipped to the geodetic grid. r_lo=-1 includes the center."""
    nx, ny = 2 ** (zoom + 1), 2**zoom
    out = []
    for dx in range(-r_hi, r_hi + 1):
        for dy in range(-r_hi, r_hi + 1):
            ch = max(abs(dx), abs(dy))
            if ch <= r_lo:
                continue
            x, y = scx + dx, scy + dy
            if 0 <= x < nx and 0 <= y < ny:
                out.append((x, y))
    return out


DF_PATH_THRESHOLD = 512  # sites above this use the DataFrame-native merge


def knn(
    points: DataFrame,
    sites_pdf: pd.DataFrame,
    k: int,
    zoom: int = DEFAULT_KNN_ZOOM,
) -> DataFrame:
    """k nearest points for each site.

    ``sites_pdf``: pandas frame (site_id, slon, slat) — the query
    side. Tiny site sets (<= DF_PATH_THRESHOLD) merge the per-round
    top-k driver-side (fewer jobs); larger ones route through
    :func:`knn_df`, which keeps the running top-k distributed so the
    driver never materializes candidates. Returns
    (site_id, rank, i, d2) — identical either way (same
    metric, tie-break, and disjoint-round merge).
    """
    spark = points.sparkSession
    if len(sites_pdf) > DF_PATH_THRESHOLD:
        sites_df = spark.createDataFrame(
            sites_pdf[["site_id", "slon", "slat"]]
        )
        return knn_df(points, sites_df, k, zoom=zoom)
    pts = assign_cells(
        points.select("i", "lon", "lat"), zoom, grid_kind="geodetic"
    ).select("i", "lon", "lat", "tile_x", "tile_y")
    pts = pts.persist()
    try:
        scx, scy = grid.lonlat_to_tile_geodetic(
            sites_pdf["slon"].values, sites_pdf["slat"].values, zoom
        )
        sites = sites_pdf.assign(scx=scx, scy=scy)
        cell_deg = 180.0 / (2.0**zoom)  # tile width in degrees (tms geodetic)

        # Running top-k per site is merged DRIVER-side (sites are the
        # tiny query side by contract — pandas in, k small). Each round
        # runs ONE Spark job over only the NEW ring cells, collects at
        # most k rows per unsatisfied site, and never re-executes
        # earlier rounds' candidates (a point lives in exactly one
        # cell, so rounds are disjoint and a per-round top-k loses
        # nothing).
        best: dict = {}  # site_id -> DataFrame(i, d2) sorted, <= k rows
        unsat = sites
        r_prev, r_cur = -1, 1
        for _ in range(MAX_ROUNDS):
            ring_rows = []
            for rec in unsat.itertuples(index=False):
                for x, y in _ring_cells(int(rec.scx), int(rec.scy), r_prev, r_cur, zoom):
                    ring_rows.append((rec.site_id, float(rec.slon), float(rec.slat), x, y))
            if ring_rows:
                ring_df = spark.createDataFrame(
                    pd.DataFrame(
                        ring_rows, columns=["site_id", "slon", "slat", "tile_x", "tile_y"]
                    )
                )
                cand = pts.join(
                    F.broadcast(ring_df), ["tile_x", "tile_y"], "inner"
                ).select("site_id", "i", F.expr(D2_SQL).alias("d2"))
                win = Window.partitionBy("site_id").orderBy("d2", "i")
                round_topk = (
                    cand.withColumn("rank", F.row_number().over(win))
                    .filter(F.col("rank") <= k)
                    .select("site_id", "i", "d2")
                ).toPandas()
                for site_id, g in round_topk.groupby("site_id"):
                    prev = best.get(site_id)
                    merged = (
                        g[["i", "d2"]]
                        if prev is None
                        else pd.concat([prev, g[["i", "d2"]]])
                    )
                    best[site_id] = merged.sort_values(
                        ["d2", "i"], kind="mergesort"
                    ).head(k)

            # satisfaction: kth distance within the guaranteed-covered
            # square around each site
            still = []
            for rec in sites.itertuples(index=False):
                b = best.get(rec.site_id)
                if b is None or len(b) < k:
                    still.append(rec.site_id)
                    continue
                lon_min = (int(rec.scx) - r_cur) * cell_deg - 180.0
                lon_max = (int(rec.scx) + r_cur + 1) * cell_deg - 180.0
                lat_min = (int(rec.scy) - r_cur) * cell_deg - 90.0
                lat_max = (int(rec.scy) + r_cur + 1) * cell_deg - 90.0
                bound = min(
                    rec.slon - lon_min,
                    lon_max - rec.slon,
                    rec.slat - lat_min,
                    lat_max - rec.slat,
                )
                whole = (
                    lon_min <= -180.0
                    and lon_max >= 180.0
                    and lat_min <= -90.0
                    and lat_max >= 90.0
                )
                if not whole and float(b["d2"].iloc[-1]) > bound * bound:
                    still.append(rec.site_id)
            if not still:
                break
            unsat = sites[sites["site_id"].isin(still)]
            r_prev, r_cur = r_cur, r_cur * 2

        rows = []
        for site_id in sorted(best):
            b = best[site_id].reset_index(drop=True)
            for rank, rec in enumerate(b.itertuples(index=False), start=1):
                rows.append((site_id, rank, rec.i, float(rec.d2)))
        out_pdf = pd.DataFrame(rows, columns=["site_id", "rank", "i", "d2"])
        out_pdf["rank"] = out_pdf["rank"].astype("int32")
        out_pdf["i"] = out_pdf["i"].astype("int64")
        return spark.createDataFrame(
            out_pdf, schema="site_id string, rank int, i bigint, d2 double"
        )
    finally:
        pts.unpersist()


def knn_df(
    points: DataFrame,
    sites_df: DataFrame,
    k: int,
    zoom: int = DEFAULT_KNN_ZOOM,
) -> DataFrame:
    """DataFrame-native cell-ring kNN for LARGE site tables: the
    running per-site top-k lives in a localCheckpointed DataFrame and
    is re-ranked with a window after each disjoint ring round; the
    driver only checks round emptiness. Ring fan-out is pure Catalyst
    (explode(sequence)), candidate matching is an equi-join on
    (tile_x, tile_y) — both sides arbitrarily large, no driver
    materialization anywhere.

    sites_df: (site_id, slon, slat). Returns (site_id, rank, i, d2).
    """
    from .cells import geodetic_tile_sql

    nx, ny = 2 ** (zoom + 1), 2**zoom
    cell_deg = 180.0 / (2.0**zoom)
    pts = assign_cells(
        points.select("i", "lon", "lat"), zoom, grid_kind="geodetic"
    ).select("i", "lon", "lat", "tile_x", "tile_y").persist()
    try:
        sites = sites_df.selectExpr(
            "site_id",
            "slon",
            "slat",
            f"{geodetic_tile_sql('slon', 'slat', zoom, 'x')} AS scx",
            f"{geodetic_tile_sql('slon', 'slat', zoom, 'y')} AS scy",
        ).localCheckpoint(eager=True)
        spark = points.sparkSession
        best = spark.createDataFrame(
            [], schema="site_id string, i bigint, d2 double"
        )
        unsat = sites
        win = Window.partitionBy("site_id").orderBy("d2", "i")
        r_prev, r_cur = -1, 1
        for _ in range(MAX_ROUNDS):
            ring = (
                unsat.withColumn(
                    "dx", F.explode(F.sequence(F.lit(-r_cur), F.lit(r_cur)))
                )
                .withColumn(
                    "dy", F.explode(F.sequence(F.lit(-r_cur), F.lit(r_cur)))
                )
                .where(f"greatest(abs(dx), abs(dy)) > {r_prev}")
                .selectExpr(
                    "site_id", "slon", "slat",
                    "scx + dx AS tile_x", "scy + dy AS tile_y",
                )
                .where(
                    f"tile_x >= 0 AND tile_x < {nx} "
                    f"AND tile_y >= 0 AND tile_y < {ny}"
                )
            )
            cand = pts.join(ring, ["tile_x", "tile_y"]).select(
                "site_id", "i", F.expr(D2_SQL).alias("d2")
            )
            round_topk = (
                cand.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .select("site_id", "i", "d2")
            )
            best = (
                best.unionAll(round_topk)
                .withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .select("site_id", "i", "d2")
                .localCheckpoint(eager=True)
            )
            # satisfaction: k found AND kth distance inside the
            # guaranteed-covered square (or the ring covers the globe)
            stats = best.groupBy("site_id").agg(
                F.count("*").alias("n_found"), F.max("d2").alias("kth_d2")
            )
            whole = (
                f"((scx - {r_cur}) * {cell_deg} - 180.0E0 <= -180.0E0 "
                f"AND (scx + {r_cur} + 1) * {cell_deg} - 180.0E0 >= 180.0E0 "
                f"AND (scy - {r_cur}) * {cell_deg} - 90.0E0 <= -90.0E0 "
                f"AND (scy + {r_cur} + 1) * {cell_deg} - 90.0E0 >= 90.0E0)"
            )
            bound = (
                f"least(slon - ((scx - {r_cur}) * {cell_deg} - 180.0E0), "
                f"((scx + {r_cur} + 1) * {cell_deg} - 180.0E0) - slon, "
                f"slat - ((scy - {r_cur}) * {cell_deg} - 90.0E0), "
                f"((scy + {r_cur} + 1) * {cell_deg} - 90.0E0) - slat)"
            )
            unsat = (
                sites.join(stats, "site_id", "left")
                .where(
                    f"n_found IS NULL OR n_found < {k} "
                    f"OR (NOT {whole} AND kth_d2 > {bound} * {bound})"
                )
                .select("site_id", "slon", "slat", "scx", "scy")
                .localCheckpoint(eager=True)
            )
            if unsat.isEmpty():
                break
            r_prev, r_cur = r_cur, r_cur * 2
        return (
            best.withColumn("rank", F.row_number().over(win))
            .select(
                "site_id",
                F.col("rank").cast("int").alias("rank"),
                F.col("i").cast("bigint").alias("i"),
                "d2",
            )
        )
    finally:
        pts.unpersist()


def knn_bruteforce(
    points: DataFrame,
    sites_df: DataFrame,
    k: int,
) -> DataFrame:
    """Cross-join oracle with the same metric and tie-break."""
    cand = points.select("i", "lon", "lat").crossJoin(
        F.broadcast(sites_df.select("site_id", "slon", "slat"))
    )
    cand = cand.select("site_id", "i", F.expr(D2_SQL).alias("d2"))
    win = Window.partitionBy("site_id").orderBy("d2", "i")
    return (
        cand.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("site_id", "rank", "i", "d2")
    )
