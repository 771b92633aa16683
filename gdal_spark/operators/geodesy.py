"""Geodesic length / area of vector layers — OGR_G_GeodesicLength and
OGR_G_GeodesicArea (GDAL >= 3.9, ogr/ogrgeometry.cpp; PROJ
geod_geodesic / geod_polygonarea underneath; exercised in
autotest/ogr/ogr_geom.py test_ogr_geom_geodesic_area).

The per-feature math lives in gdal_spark/geodesic.py (quadrature
Karney formulation, validated against an independent Clairaut-ODE
integration and the analytic sphere excess in tests/test_geodesic.py).
Spark shape: pure per-row compute in one Arrow-batched mapInPandas —
no shuffle, the same posture as the other geometry measures.

Driver gate runs in SPHERE mode (f = 0, R = the WGS84 semi-major
axis): the DuckDB oracle computes great-circle edge lengths in closed
form and the polygon area by the Gauss-Bonnet angle-sum excess — an
INDEPENDENT formula (the impl integrates the Green boundary form).
numpy-vs-DuckDB trig agrees to ~1 ulp, the impl's quadrature to
~1e-13 relative, so keys are floored coarse (dm for length, km^2 for
area — the accuracy-parity pattern, see CLAUDE.md). Full-WGS84
ellipsoid mode is the default API and is golden-tested in pytest
(meridian arc, equator arc, total-area constant, RK4 shooting).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import synth, wkb
from ..geodesic import A_WGS84, F_WGS84, Geodesic
from .rowstage import per_row


def geodesic_measures_df(
    layer: DataFrame,
    a: float = A_WGS84,
    f: float = F_WGS84,
    id_col: str = "poly_id",
) -> DataFrame:
    """(poly_id, perim_dm_key, area_km2_key): per-feature geodesic
    perimeter (sum of per-edge floor(s12 * 10), exact int) and
    enclosed area (floor(area / 1e6)), shell ring only."""
    geod = Geodesic(a, f)

    def measures(fid, g):
        ring = np.asarray(wkb.polygon_rings(bytes(g))[0], dtype=np.float64)
        if len(ring) >= 2 and (ring[0] == ring[-1]).all():
            ring = ring[:-1]
        lons, lats = ring[:, 0], ring[:, 1]
        n = len(ring)
        per_key = 0
        area = 0.0
        for i in range(n):
            j = (i + 1) % n
            s12, a12, _ = geod.inverse(
                float(lats[i]), float(lons[i]),
                float(lats[j]), float(lons[j]),
            )
            per_key += int(np.floor(s12 * 10.0))
            area += a12
        yield fid, per_key, int(np.floor(-area / 1e6))

    return per_row(
        layer, [id_col, "geom_wkb"], measures,
        f"{id_col} string, perim_dm_key bigint, area_km2_key bigint",
    )


def geodesic_query(spark, m: int) -> DataFrame:
    """Sphere-mode gate over the convex synth kinds (their vertices
    are closed-form in SQL; CCW so the area comes out positive)."""
    from pyspark.sql import functions as F

    layer = synth.polygons_df(spark, m).filter(
        F.col("kind").isin("box", "triangle")
    )
    return geodesic_measures_df(layer, a=A_WGS84, f=0.0)


def oracle_geodesic(m: int) -> str:
    """Great-circle edge lengths (Vincenty sphere atan2 form) +
    Gauss-Bonnet angle-sum area: azimuths are clockwise-from-north, so
    a CCW ring accumulates negative turns and E = 2*pi + sum(turn)."""
    r = synth.flit(A_WGS84)
    tau = synth.flit(2.0 * np.pi)
    pi = synth.flit(np.pi)
    p = synth.polygons_sql_cte(m, "duckdb")
    # vertex tables: boxes CCW (4), triangles CCW (3) — same
    # construction as synth.kind_geom
    verts = (
        "SELECT j, nv, v.k AS k, "
        "radians(CASE WHEN kind = 'box' THEN "
        " CASE v.k WHEN 0 THEN cx - hw WHEN 1 THEN cx + hw "
        "  WHEN 2 THEN cx + hw ELSE cx - hw END "
        "ELSE CASE v.k WHEN 0 THEN cx - hw WHEN 1 THEN cx + hw "
        "  ELSE cx END END) AS lon, "
        "radians(CASE WHEN kind = 'box' THEN "
        " CASE v.k WHEN 0 THEN cy - hh WHEN 1 THEN cy - hh "
        "  WHEN 2 THEN cy + hh ELSE cy + hh END "
        "ELSE CASE v.k WHEN 0 THEN cy - hh WHEN 1 THEN cy - hh "
        "  ELSE cy + hh END END) AS lat "
        "FROM polys, range(0, 4) v(k) WHERE v.k < nv"
    )
    az = (
        "atan2(sin({dl}) * cos({p2}), "
        "cos({p1}) * sin({p2}) - sin({p1}) * cos({p2}) * cos({dl}))"
    )
    dist = (
        "atan2(sqrt((cos({p2}) * sin({dl})) * (cos({p2}) * sin({dl})) + "
        "(cos({p1}) * sin({p2}) - sin({p1}) * cos({p2}) * cos({dl})) * "
        "(cos({p1}) * sin({p2}) - sin({p1}) * cos({p2}) * cos({dl}))), "
        "sin({p1}) * sin({p2}) + cos({p1}) * cos({p2}) * cos({dl}))"
    )
    e_dist = dist.format(p1="a.lat", p2="b.lat", dl="b.lon - a.lon")
    az_out = az.format(p1="a.lat", p2="b.lat", dl="b.lon - a.lon")
    az_in_rev = az.format(p1="a.lat", p2="h.lat", dl="h.lon - a.lon")
    # turn = wrap(az_out - (az_in_rev + pi)) to (-pi, pi]:
    # mod(az_out - az_in_rev, 2*pi) - pi  (floor-mod handles negatives)
    d = f"(({az_out}) - ({az_in_rev}))"
    turn = f"(({d} - {tau} * floor({d} / {tau})) - {pi})"
    return (
        f"WITH polys AS MATERIALIZED (SELECT j, kind, cx, cy, hw, hh, "
        f"CASE WHEN kind = 'box' THEN 4 ELSE 3 END AS nv FROM ({p}) "
        f"WHERE kind IN ('box', 'triangle')), "
        f"verts AS MATERIALIZED ({verts}), "
        f"edges AS MATERIALIZED (SELECT a.j, "
        f"cast(floor({r} * ({e_dist}) * 10.0E0) as bigint) AS edge_dm, "
        f"{turn} AS turn "
        f"FROM verts a "
        f"JOIN verts b ON a.j = b.j AND b.k = (a.k + 1) % a.nv "
        f"JOIN verts h ON a.j = h.j AND h.k = (a.k + a.nv - 1) % a.nv) "
        f"SELECT concat('poly', lpad(cast(j as varchar), 4, '0')) AS poly_id, "
        f"cast(sum(edge_dm) as bigint) AS perim_dm_key, "
        f"cast(floor({r} * {r} * ({tau} + sum(turn)) / 1000000.0E0) "
        f"as bigint) AS area_km2_key "
        f"FROM edges GROUP BY j"
    )
