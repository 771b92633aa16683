"""GCP polynomial transformer (gdalwarp -order N semantics).

The reference fits a degree-1/2/3 bivariate polynomial to ground
control points by least squares and applies it per pixel
(alg/gdal_crs.cpp: CRS_compute_georef_equations:680 builds the
normal equations over mean-centered source coordinates, solvemat:947
eliminates, CRS_georef:611 applies; term order term():900 is
1, e, n, e^2, e*n, n^2, ...).

Spark-first shape:
- the FIT is a distributed aggregation: each partition contributes
  partial sums of term_i * term_j products (21 upper-triangle sums
  for order 2) + the RHS sums — one shuffle of O(1) rows no matter
  how many GCPs (a 10^9-GCP fit is the same plan);
- the tiny (6x6) solve runs driver-side on the collected sums;
- the APPLY is a pure-Catalyst map stage (whole-stage codegen
  polynomial, zero Python).

Oracle parity design: the synthetic GCPs are small integers, so every
normal-equation entry is an EXACT dyadic rational (mean-centering
divides by the GCP count, a power of two; all products fit in <53
bits) — summation order cannot perturb them. Both engines then run
the SAME deterministic no-pivot Gauss-Jordan elimination sequence
(python floats here, one materialized CTE per stage in the DuckDB
oracle), so the fitted coefficients are bit-identical and the applied
polynomial matches at dm quantization. (No pivoting is sound here:
the normal matrix of a well-spread GCP set is symmetric positive
definite.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .synth import flit

# deterministic synthetic GCP set: 16 points on a 32x32 pixel space,
# ground coords an integer quadratic + integer pseudo-noise (so the
# order-2 least squares is overdetermined and non-trivial)
GCP_K = 16

GCP_PX = "((k * 7) % 32)"
GCP_PY = "((k * 13) % 32)"
GCP_E2 = f"(3000 + 11 * {GCP_PX} + 23 * {GCP_PY} + {GCP_PX} * {GCP_PY} - 2 * {GCP_PX} * {GCP_PX} + ((k * 5) % 7))"
GCP_N2 = f"(-1500 + 17 * {GCP_PX} - 9 * {GCP_PY} + 3 * {GCP_PY} * {GCP_PY} + ((k * 3) % 5))"

N_TERMS = 6  # order 2: 1, e, n, e^2, e*n, n^2


def gcp_points() -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The synthetic GCP set as numpy arrays (px, py, e2, n2)."""
    k = np.arange(GCP_K, dtype=np.int64)
    px = (k * 7) % 32
    py = (k * 13) % 32
    e2 = 3000 + 11 * px + 23 * py + px * py - 2 * px * px + ((k * 5) % 7)
    n2 = -1500 + 17 * px - 9 * py + 3 * py * py + ((k * 3) % 5)
    return px, py, e2, n2


def _terms_np(e: np.ndarray, n: np.ndarray) -> list[np.ndarray]:
    """term() order for degree 2 (gdal_crs.cpp:900)."""
    return [np.ones_like(e), e, n, e * e, e * n, n * n]


def terms_sql(e: str, n: str) -> list[str]:
    return [
        "1.0E0", e, n, f"({e} * {e})", f"({e} * {n})", f"({n} * {n})"
    ]


def gauss_jordan(M: list[list[float]], a: list[float], b: list[float]):
    """Deterministic no-pivot Gauss-Jordan; mutates copies, returns
    (E, N). EXACTLY mirrored by the oracle's CTE stages — keep the
    operation sequence in sync with oracle_gcp_polynomial."""
    n = len(a)
    M = [row[:] for row in M]
    a = a[:]
    b = b[:]
    for i in range(n):
        piv = M[i][i]
        for r in range(n):
            if r == i:
                continue
            f = M[r][i] / piv
            for j in range(n):
                M[r][j] = M[r][j] - f * M[i][j]
            a[r] = a[r] - f * a[i]
            b[r] = b[r] - f * b[i]
    E = [a[i] / M[i][i] for i in range(n)]
    N = [b[i] / M[i][i] for i in range(n)]
    return E, N


def fit_gcp_poly_np() -> tuple[list[float], list[float], float, float]:
    """Pure-numpy fit (the pytest twin of the distributed fit):
    (E, N, x_mean, y_mean)."""
    px, py, e2, n2 = gcp_points()
    x_mean = float(px.sum()) / GCP_K
    y_mean = float(py.sum()) / GCP_K
    ec = px.astype(np.float64) - x_mean
    nc = py.astype(np.float64) - y_mean
    ts = _terms_np(ec, nc)
    M = [[float((ts[i] * ts[j]).sum()) for j in range(N_TERMS)] for i in range(N_TERMS)]
    a = [float((ts[i] * e2).sum()) for i in range(N_TERMS)]
    b = [float((ts[i] * n2).sum()) for i in range(N_TERMS)]
    E, N = gauss_jordan(M, a, b)
    return E, N, x_mean, y_mean


def fit_gcp_poly_spark(spark: SparkSession):
    """Distributed fit: term-product sums via a Spark aggregation
    (one O(1)-row collect), then the tiny driver-side solve. Returns
    (E, N, x_mean, y_mean) — bit-identical to fit_gcp_poly_np because
    every sum is integer-exact."""
    gcps = spark.range(GCP_K).selectExpr(
        f"cast({GCP_PX.replace('k', 'id')} as double) AS px",
        f"cast({GCP_PY.replace('k', 'id')} as double) AS py",
        f"cast({GCP_E2.replace('k', 'id')} as double) AS e2",
        f"cast({GCP_N2.replace('k', 'id')} as double) AS n2",
    )
    means = gcps.selectExpr(
        f"sum(px) / {GCP_K} AS xm", f"sum(py) / {GCP_K} AS ym"
    ).collect()[0]
    x_mean, y_mean = means["xm"], means["ym"]
    ts = terms_sql(f"(px - {flit(x_mean)})", f"(py - {flit(y_mean)})")
    aggs = []
    for i in range(N_TERMS):
        for j in range(i, N_TERMS):
            aggs.append(f"sum({ts[i]} * {ts[j]}) AS m_{i}_{j}")
        aggs.append(f"sum({ts[i]} * e2) AS a_{i}")
        aggs.append(f"sum({ts[i]} * n2) AS b_{i}")
    row = gcps.selectExpr(*aggs).collect()[0]
    M = [
        [row[f"m_{min(i, j)}_{max(i, j)}"] for j in range(N_TERMS)]
        for i in range(N_TERMS)
    ]
    a = [row[f"a_{i}"] for i in range(N_TERMS)]
    b = [row[f"b_{i}"] for i in range(N_TERMS)]
    E, N = gauss_jordan(M, a, b)
    return E, N, x_mean, y_mean


def georef_apply_sql(E, N, x_mean, y_mean, px: str, py: str) -> tuple[str, str]:
    """CRS_georef order-2 application (gdal_crs.cpp:639) as SQL over
    mean-centered pixel coords; evaluation order matches the C
    expression (left-associated sums)."""
    e1 = f"({px} - {flit(x_mean)})"
    n1 = f"({py} - {flit(y_mean)})"
    ts = terms_sql(e1, n1)

    def poly(coefs):
        parts = [flit(coefs[0])] + [
            f"{flit(c)} * {t}" for c, t in zip(coefs[1:], ts[1:])
        ]
        return "(" + " + ".join(parts) + ")"

    return poly(E), poly(N)


def georef_apply_np(E, N, x_mean, y_mean, px, py):
    """numpy twin of georef_apply_sql (same evaluation order)."""
    e1 = np.asarray(px, np.float64) - x_mean
    n1 = np.asarray(py, np.float64) - y_mean
    ts = _terms_np(e1, n1)
    e = E[0] + E[1] * ts[1] + E[2] * ts[2] + E[3] * ts[3] + E[4] * ts[4] + E[5] * ts[5]
    n = N[0] + N[1] * ts[1] + N[2] * ts[2] + N[3] * ts[3] + N[4] * ts[4] + N[5] * ts[5]
    return e, n


PROBE_W = 64
PROBE_H = 64


def gcp_polynomial_query(spark: SparkSession) -> DataFrame:
    """Driver query: fit (distributed agg + tiny solve), then apply
    to a probe pixel grid as a pure-Catalyst map stage. Output one
    row per probe pixel: dm-quantized georeferenced coords."""
    E, N, xm, ym = fit_gcp_poly_spark(spark)
    e_sql, n_sql = georef_apply_sql(E, N, xm, ym, "gx", "gy")
    grid = spark.range(PROBE_W * PROBE_H).selectExpr(
        f"cast(id % {PROBE_W} as double) AS gx",
        f"cast(id div {PROBE_W} as double) AS gy",
    )
    return grid.selectExpr(
        "cast(gx as bigint) AS gx",
        "cast(gy as bigint) AS gy",
        f"cast(floor({e_sql} * 10.0E0) as bigint) AS e_dm",
        f"cast(floor({n_sql} * 10.0E0) as bigint) AS n_dm",
    )


def oracle_gcp_polynomial() -> str:
    """DuckDB replay of the ENTIRE pipeline including the fit: GCP
    sums (integer-exact), the same no-pivot Gauss-Jordan as one
    MATERIALIZED CTE per elimination stage (CLAUDE.md: chained CTEs
    must materialize or DuckDB re-expands them exponentially), then
    the same apply."""
    # mean is integer-exact: compute it inline from the literal sum
    px_sum = sum((k * 7) % 32 for k in range(GCP_K))
    py_sum = sum((k * 13) % 32 for k in range(GCP_K))
    xm = f"(cast({px_sum} as double) / {GCP_K})"
    ym = f"(cast({py_sum} as double) / {GCP_K})"
    ts = terms_sql(f"(px - {xm})", f"(py - {ym})")
    sums = []
    for i in range(N_TERMS):
        for j in range(i, N_TERMS):
            sums.append(f"sum({ts[i]} * {ts[j]}) AS m{i}{j}")
        sums.append(f"sum({ts[i]} * e2) AS a{i}")
        sums.append(f"sum({ts[i]} * n2) AS b{i}")
    # stage 0: symmetric completion m{r}{c} for r > c
    full = ", ".join(
        f"m{min(i, j)}{max(i, j)} AS m{i}_{j}"
        for i in range(N_TERMS)
        for j in range(N_TERMS)
    ) + ", " + ", ".join(f"a{i} AS a_{i}, b{i} AS b_{i}" for i in range(N_TERMS))
    stages = []
    prev = "s0"
    for i in range(N_TERMS):
        favs = ", ".join(
            f"m{r}_{i} / m{i}_{i} AS f_{r}" for r in range(N_TERMS) if r != i
        )
        stages.append(
            f"f{i} AS MATERIALIZED (SELECT *, {favs} FROM {prev})"
        )
        cols = []
        for r in range(N_TERMS):
            if r == i:
                cols.extend([f"m{r}_{j}" for j in range(N_TERMS)])
                cols.extend([f"a_{r}", f"b_{r}"])
            else:
                cols.extend(
                    f"m{r}_{j} - f_{r} * m{i}_{j} AS m{r}_{j}"
                    for j in range(N_TERMS)
                )
                cols.append(f"a_{r} - f_{r} * a_{i} AS a_{r}")
                cols.append(f"b_{r} - f_{r} * b_{i} AS b_{r}")
        stages.append(
            f"e{i} AS MATERIALIZED (SELECT {', '.join(cols)} FROM f{i})"
        )
        prev = f"e{i}"
    coef = ", ".join(
        f"a_{i} / m{i}_{i} AS ce_{i}, b_{i} / m{i}_{i} AS cn_{i}"
        for i in range(N_TERMS)
    )
    ats = terms_sql(f"(gx - {xm})", f"(gy - {ym})")

    def poly(prefix):
        parts = [f"{prefix}_0"] + [
            f"{prefix}_{i} * {ats[i]}" for i in range(1, N_TERMS)
        ]
        return "(" + " + ".join(parts) + ")"

    return (
        f"WITH gcps AS (SELECT cast({GCP_PX} as double) AS px, "
        f"cast({GCP_PY} as double) AS py, "
        f"cast({GCP_E2} as double) AS e2, cast({GCP_N2} as double) AS n2 "
        f"FROM range(0, {GCP_K}) t(k)), "
        f"sums AS (SELECT {', '.join(sums)} FROM gcps), "
        f"s0 AS (SELECT {full} FROM sums), "
        + ", ".join(stages)
        + f", coefs AS MATERIALIZED (SELECT {coef} FROM {prev}), "
        f"grid AS (SELECT cast(id % {PROBE_W} as double) AS gx, "
        f"cast(id // {PROBE_W} as double) AS gy "
        f"FROM range(0, {PROBE_W * PROBE_H}) g(id)) "
        f"SELECT cast(gx as bigint) AS gx, cast(gy as bigint) AS gy, "
        f"cast(floor({poly('ce')} * 10.0E0) as bigint) AS e_dm, "
        f"cast(floor({poly('cn')} * 10.0E0) as bigint) AS n_dm "
        f"FROM grid, coefs"
    )


# ---------------------------------------------------------------------------
# Thin plate spline transformer (gdalwarp -tps;
# alg/thinplatespline.cpp VizGeorefSpline2D: base function
# u(P, Q) = d2 * ln(d2) with d2 the SQUARED distance
# (VizGeorefSpline2DBase_func:192), solve():440 fits the
# (n+3) system [affine part + kernel weights with the three
# moment constraints], get_point() applies).
#
# Spark shape: the fit is a tiny driver-side dense solve over the
# GCPs (O(n^3) on n GCPs — same cost model as the reference, which
# also solves on the CPU before warping); the APPLY is pure Catalyst
# (one ln() per GCP term). The fitted coefficients are plan
# constants shared verbatim with the oracle, so cross-engine drift
# is the ~1 ulp of ln(), absorbed by dm quantization.


def tps_fit(px, py, t) -> np.ndarray:
    """Solve the TPS system for one target channel: returns
    [a0, ax, ay, w_0..w_{n-1}]. Exact interpolation: f(P_i) = t_i."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    t = np.asarray(t, np.float64)
    n = len(px)
    d2 = (px[:, None] - px[None, :]) ** 2 + (py[:, None] - py[None, :]) ** 2
    with np.errstate(divide="ignore", invalid="ignore"):
        K = np.where(d2 > 0.0, d2 * np.log(d2), 0.0)
    A = np.zeros((n + 3, n + 3))
    A[:n, 0] = 1.0
    A[:n, 1] = px
    A[:n, 2] = py
    A[:n, 3:] = K
    A[n, 3:] = 1.0
    A[n + 1, 3:] = px
    A[n + 2, 3:] = py
    rhs = np.zeros(n + 3)
    rhs[:n] = t
    sol = np.linalg.solve(A, rhs)
    return sol  # [a0, ax, ay, w...]


def tps_apply_np(sol, px, py, qx, qy):
    """numpy apply (pytest twin)."""
    qx = np.asarray(qx, np.float64)
    qy = np.asarray(qy, np.float64)
    out = sol[0] + sol[1] * qx + sol[2] * qy
    for i in range(len(px)):
        d2 = (qx - px[i]) ** 2 + (qy - py[i]) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            out = out + sol[3 + i] * np.where(d2 > 0.0, d2 * np.log(d2), 0.0)
    return out


def tps_apply_sql(sol, px, py, qx: str, qy: str) -> str:
    """Apply expression (dual-dialect): affine part + one guarded
    d2*ln(d2) kernel term per GCP."""
    parts = [
        flit(float(sol[0])),
        f"{flit(float(sol[1]))} * {qx}",
        f"{flit(float(sol[2]))} * {qy}",
    ]
    for i in range(len(px)):
        d2 = (
            f"(({qx} - {flit(float(px[i]))}) * ({qx} - {flit(float(px[i]))}) "
            f"+ ({qy} - {flit(float(py[i]))}) * ({qy} - {flit(float(py[i]))}))"
        )
        parts.append(
            f"{flit(float(sol[3 + i]))} * "
            f"(CASE WHEN {d2} > 0.0E0 THEN {d2} * ln({d2}) ELSE 0.0E0 END)"
        )
    return "(" + " + ".join(parts) + ")"


def _tps_dm_sql(v: str) -> str:
    """Decimetre key of a TPS output, shared by the query and its
    oracle. TPS interpolates exactly at the GCPs, so many outputs land
    on decimetre boundaries, where the ~1 ulp ln() difference between
    engines flips a plain floor; the half-grid epsilon moves every
    output at least 1e-4 dm away from a boundary."""
    return f"cast(floor({v} * 10.0E0 + 5.0E-4) as bigint)"


def tps_transform_query(spark: SparkSession) -> DataFrame:
    """Driver query: fit TPS to the synthetic GCPs (driver-side tiny
    solve, exact interpolation), apply to the probe grid as a
    pure-Catalyst map stage; dm-quantized output."""
    px, py, e2, n2 = gcp_points()
    se = tps_fit(px, py, e2)
    sn = tps_fit(px, py, n2)
    e_sql = tps_apply_sql(se, px, py, "gx", "gy")
    n_sql = tps_apply_sql(sn, px, py, "gx", "gy")
    grid = spark.range(PROBE_W * PROBE_H).selectExpr(
        f"cast(id % {PROBE_W} as double) AS gx",
        f"cast(id div {PROBE_W} as double) AS gy",
    )
    return grid.selectExpr(
        "cast(gx as bigint) AS gx",
        "cast(gy as bigint) AS gy",
        f"{_tps_dm_sql(e_sql)} AS e_dm",
        f"{_tps_dm_sql(n_sql)} AS n_dm",
    )


def oracle_tps_transform() -> str:
    """DuckDB replay of the apply with the same coefficient plan
    constants (the fit is gated by the exact-interpolation pytest;
    injecting the solved coefficients mirrors the reference, which
    also applies a solved-on-CPU model per point)."""
    px, py, e2, n2 = gcp_points()
    se = tps_fit(px, py, e2)
    sn = tps_fit(px, py, n2)
    e_sql = tps_apply_sql(se, px, py, "gx", "gy")
    n_sql = tps_apply_sql(sn, px, py, "gx", "gy")
    return (
        f"SELECT cast(gx as bigint) AS gx, cast(gy as bigint) AS gy, "
        f"{_tps_dm_sql(e_sql)} AS e_dm, {_tps_dm_sql(n_sql)} AS n_dm FROM "
        f"(SELECT cast(id % {PROBE_W} as double) AS gx, "
        f"cast(id // {PROBE_W} as double) AS gy "
        f"FROM range(0, {PROBE_W * PROBE_H}) t(id))"
    )


# ---------------------------------------------------------------------------
# gdalwarp -refine_gcps <tolerance> (apps/gdalwarp_lib.cpp;
# alg/gdal_crs.cpp remove_outliers():1104): fit the polynomial, find
# the worst-residual GCP, and if its error exceeds the tolerance drop
# it and refit — repeat until every survivor is within tolerance (or
# the minimum-GCP floor is hit).
#
# Spark shape per round: the FIT is the same O(1)-row distributed
# partial-sum aggregate as the order-2 transformer; residuals are a
# map stage; the worst offender is a 1-row orderBy-limit collect. The
# driver only coordinates rounds (O(outliers) of them) — GCP volume
# never moves.
#
# Oracle parity: fits here skip mean-centering (conditioning only —
# the synthetic coords are small integers), so every normal-equation
# entry is INTEGER-exact (max |term_i*term_j*e2| * 18 < 2^53) and
# immune to summation order; the per-round Gauss-Jordan and residual
# comparisons then run the identical IEEE op sequence in both engines
# (the gcp_polynomial precedent). Quantization adds the half-grid
# epsilon (CLAUDE.md) before flooring.

REFINE_K = 18  # 16 clean quadratic GCPs + 2 gross outliers
REFINE_TOL2 = 100  # tolerance 10 ground units, compared squared
REFINE_ROUNDS = 3  # unrolled rounds; round 3 verifies convergence
_REFINE_OUT_E = f"(CASE WHEN k = 16 THEN 400 WHEN k = 17 THEN -350 ELSE 0 END)"
_REFINE_OUT_N = f"(CASE WHEN k = 17 THEN 250 WHEN k = 16 THEN -300 ELSE 0 END)"


def refine_gcps_sql() -> str:
    """The 18-GCP set (both dialects): the 16-point quadratic set plus
    two gross outliers injected at k=16,17."""
    return (
        f"SELECT cast(k as bigint) AS k, "
        f"cast({GCP_PX} as double) AS px, cast({GCP_PY} as double) AS py, "
        f"cast({GCP_E2} + {_REFINE_OUT_E} as double) AS e2, "
        f"cast({GCP_N2} + {_REFINE_OUT_N} as double) AS n2"
    )


def _fit_nocenter_spark(gcps_df) -> tuple[list[float], list[float]]:
    """Order-2 fit WITHOUT centering over an arbitrary GCP frame —
    one O(1)-row distributed aggregate + the tiny driver solve."""
    ts = terms_sql("px", "py")
    aggs = []
    for i in range(N_TERMS):
        for j in range(i, N_TERMS):
            aggs.append(f"sum({ts[i]} * {ts[j]}) AS m_{i}_{j}")
        aggs.append(f"sum({ts[i]} * e2) AS a_{i}")
        aggs.append(f"sum({ts[i]} * n2) AS b_{i}")
    row = gcps_df.selectExpr(*aggs).collect()[0]
    M = [
        [row[f"m_{min(i, j)}_{max(i, j)}"] for j in range(N_TERMS)]
        for i in range(N_TERMS)
    ]
    a = [row[f"a_{i}"] for i in range(N_TERMS)]
    b = [row[f"b_{i}"] for i in range(N_TERMS)]
    return gauss_jordan(M, a, b)


def _resid2_sql(E, N) -> str:
    ts = terms_sql("px", "py")

    def poly(coefs):
        parts = [flit(coefs[0])] + [
            f"{flit(c)} * {t}" for c, t in zip(coefs[1:], ts[1:])
        ]
        return "(" + " + ".join(parts) + ")"

    return (
        f"((e2 - {poly(E)}) * (e2 - {poly(E)}) + "
        f"(n2 - {poly(N)}) * (n2 - {poly(N)}))"
    )


def refine_gcps_query(spark: SparkSession) -> DataFrame:
    """(k, px, py, kept, removed_round, resid_mm): the surviving GCP
    set after outlier elimination plus every point's residual against
    the FINAL fit (mm-quantized) — removed points show their gross
    error, survivors sit within tolerance."""
    gcps = spark.sql(f"{refine_gcps_sql()} FROM range(0, {REFINE_K}) AS t(k)")
    gcps = gcps.localCheckpoint(eager=True)  # reused across rounds
    removed: dict[int, int] = {}
    E = N = None
    for rnd in range(REFINE_ROUNDS):
        kept = gcps
        if removed:
            kept = gcps.filter(f"k NOT IN ({','.join(map(str, removed))})")
        E, N = _fit_nocenter_spark(kept)
        worst = (
            kept.selectExpr("k", f"{_resid2_sql(E, N)} AS r2")
            .orderBy(F.desc("r2"), F.asc("k"))
            .limit(1)
            .collect()[0]
        )
        if worst["r2"] <= REFINE_TOL2:
            break
        removed[int(worst["k"])] = rnd
    rm_case = " ".join(
        f"WHEN k = {k} THEN {r}" for k, r in removed.items()
    ) or "WHEN false THEN 0"
    return gcps.selectExpr(
        "k", "cast(px as bigint) AS px", "cast(py as bigint) AS py",
        f"cast(k NOT IN ({','.join(map(str, removed)) or '-1'}) as int) "
        f"AS kept",
        f"cast(CASE {rm_case} ELSE -1 END as bigint) AS removed_round",
        f"cast(floor({_resid2_sql(E, N)} * 1000 + 0.0005E0) as bigint) "
        f"AS resid_mm",
    )


def _gj_stages(src: str, sfx: str) -> tuple[list[str], str]:
    """No-pivot Gauss-Jordan CTE stages over sums relation ``src``
    (upper-tri m{i}{j}, a{i}, b{i}); returns (stages, coefs_rel)."""
    full = ", ".join(
        f"m{min(i, j)}{max(i, j)} AS m{i}_{j}"
        for i in range(N_TERMS)
        for j in range(N_TERMS)
    ) + ", " + ", ".join(f"a{i} AS a_{i}, b{i} AS b_{i}" for i in range(N_TERMS))
    stages = [f"s0{sfx} AS (SELECT {full} FROM {src})"]
    prev = f"s0{sfx}"
    for i in range(N_TERMS):
        favs = ", ".join(
            f"m{r}_{i} / m{i}_{i} AS f_{r}" for r in range(N_TERMS) if r != i
        )
        stages.append(f"f{i}{sfx} AS MATERIALIZED (SELECT *, {favs} FROM {prev})")
        cols = []
        for r in range(N_TERMS):
            if r == i:
                cols.extend([f"m{r}_{j}" for j in range(N_TERMS)])
                cols.extend([f"a_{r}", f"b_{r}"])
            else:
                cols.extend(
                    f"m{r}_{j} - f_{r} * m{i}_{j} AS m{r}_{j}"
                    for j in range(N_TERMS)
                )
                cols.append(f"a_{r} - f_{r} * a_{i} AS a_{r}")
                cols.append(f"b_{r} - f_{r} * b_{i} AS b_{r}")
        stages.append(
            f"e{i}{sfx} AS MATERIALIZED (SELECT {', '.join(cols)} FROM f{i}{sfx})"
        )
        prev = f"e{i}{sfx}"
    coef = ", ".join(
        f"a_{i} / m{i}_{i} AS ce_{i}, b_{i} / m{i}_{i} AS cn_{i}"
        for i in range(N_TERMS)
    )
    stages.append(f"coefs{sfx} AS MATERIALIZED (SELECT {coef} FROM {prev})")
    return stages, f"coefs{sfx}"


def oracle_refine_gcps() -> str:
    """Fully-unrolled SQL replay of the iterative refit: per round a
    kept-set CTE, integer-exact normal-equation sums, the Gauss-Jordan
    stage chain, and a 1-row worst-offender CTE whose rm flag gates
    the next round's kept set."""
    ts = terms_sql("px", "py")

    def poly(prefix, rel):
        parts = [f"{rel}.{prefix}_0"] + [
            f"{rel}.{prefix}_{i} * {ts[i]}" for i in range(1, N_TERMS)
        ]
        return "(" + " + ".join(parts) + ")"

    def resid2(rel):
        return (
            f"((e2 - {poly('ce', rel)}) * (e2 - {poly('ce', rel)}) + "
            f"(n2 - {poly('cn', rel)}) * (n2 - {poly('cn', rel)}))"
        )

    ctes = [
        f"gcps AS MATERIALIZED ({refine_gcps_sql()} "
        f"FROM range(0, {REFINE_K}) t(k))",
        "kept0 AS (SELECT * FROM gcps)",
    ]
    coefs_rel = None
    for r in range(REFINE_ROUNDS):
        sums = []
        for i in range(N_TERMS):
            for j in range(i, N_TERMS):
                sums.append(f"sum({ts[i]} * {ts[j]}) AS m{i}{j}")
            sums.append(f"sum({ts[i]} * e2) AS a{i}")
            sums.append(f"sum({ts[i]} * n2) AS b{i}")
        ctes.append(
            f"sums{r} AS MATERIALIZED (SELECT {', '.join(sums)} FROM kept{r})"
        )
        stages, coefs_rel = _gj_stages(f"sums{r}", str(r))
        ctes.extend(stages)
        ctes.append(
            f"worst{r} AS MATERIALIZED (SELECT k, "
            f"{resid2(coefs_rel)} > {REFINE_TOL2} AS rm, {r} AS rnd "
            f"FROM kept{r}, {coefs_rel} "
            f"ORDER BY {resid2(coefs_rel)} DESC, k ASC LIMIT 1)"
        )
        ctes.append(
            f"kept{r + 1} AS (SELECT g.* FROM kept{r} g WHERE NOT EXISTS "
            f"(SELECT 1 FROM worst{r} w WHERE w.rm AND w.k = g.k))"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\n"
        f"SELECT g.k, cast(px as bigint) AS px, cast(py as bigint) AS py, "
        f"cast(EXISTS (SELECT 1 FROM kept{REFINE_ROUNDS} s "
        f"WHERE s.k = g.k) as int) AS kept, "
        f"cast(coalesce((SELECT min(w.rnd) FROM ("
        + " UNION ALL ".join(
            f"SELECT k, rm, rnd FROM worst{r}" for r in range(REFINE_ROUNDS)
        )
        + f") w WHERE w.rm AND w.k = g.k), -1) as bigint) AS removed_round, "
        f"cast(floor({resid2(coefs_rel)} * 1000 + 0.0005E0) as bigint) "
        f"AS resid_mm "
        f"FROM gcps g, {coefs_rel}"
    )


# ---------------------------------------------------------------------------
# gcps2wld — the world-file writer (osgeo_utils/samples/gcps2wld.py;
# the fit itself is GDALGCPsToGeoTransform, alg/gdaltransformer.cpp):
# a least-squares ORDER-1 (affine) geotransform from the GCP set,
# written as the six ESRI world-file lines (pixel-size / rotation
# rows, then the CENTER of the top-left pixel). The normal equations
# over integer GCPs are exact int64 sums (one map-side-combined
# aggregation, an O(1) collect), and the 3x3 solve is Cramer's rule
# on integer determinants — the only float op per coefficient is a
# single correctly-rounded division, so Spark and DuckDB agree
# bit-for-bit with no epsilon.


def _det3(m) -> int:
    """Integer 3x3 determinant, first-row cofactor expansion."""
    return (
        m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
        - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
        + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
    )


def _det3_sql(m) -> str:
    return (
        f"({m[0][0]} * ({m[1][1]} * {m[2][2]} - {m[1][2]} * {m[2][1]}) "
        f"- {m[0][1]} * ({m[1][0]} * {m[2][2]} - {m[1][2]} * {m[2][0]}) "
        f"+ {m[0][2]} * ({m[1][0]} * {m[2][1]} - {m[1][1]} * {m[2][0]}))"
    )


def gcps2wld_query(spark: SparkSession) -> DataFrame:
    """(line_no, val_key): the six world-file lines, 1e6-keyed."""
    gcps = spark.range(GCP_K).selectExpr(
        f"cast({GCP_PX.replace('k', 'id')} as bigint) AS px",
        f"cast({GCP_PY.replace('k', 'id')} as bigint) AS py",
        f"cast({GCP_E2.replace('k', 'id')} as bigint) AS e2",
        f"cast({GCP_N2.replace('k', 'id')} as bigint) AS n2",
    )
    aggs = []
    t = ["cast(1 as bigint)", "px", "py"]
    for i in range(3):
        for j in range(i, 3):
            aggs.append(f"sum({t[i]} * {t[j]}) AS m{i}{j}")
        aggs.append(f"sum({t[i]} * e2) AS a{i}")
        aggs.append(f"sum({t[i]} * n2) AS b{i}")
    r = gcps.selectExpr(*aggs).collect()[0]
    M = [[int(r[f"m{min(i, j)}{max(i, j)}"]) for j in range(3)]
         for i in range(3)]
    a = [int(r[f"a{i}"]) for i in range(3)]
    b = [int(r[f"b{i}"]) for i in range(3)]
    D = _det3(M)

    def solve(rhs):
        out = []
        for i in range(3):
            Mi = [[rhs[rr] if cc == i else M[rr][cc] for cc in range(3)]
                  for rr in range(3)]
            out.append(_det3(Mi) / D)  # the one float op
        return out

    E, N = solve(a), solve(b)
    # world-file line order: gt1, gt4, gt2, gt5, ulx_center, uly_center
    lines = [
        E[1], N[1], E[2], N[2],
        E[0] + 0.5 * E[1] + 0.5 * E[2],
        N[0] + 0.5 * N[1] + 0.5 * N[2],
    ]
    import math

    rows = [(i + 1, int(math.floor(v * 1e6))) for i, v in enumerate(lines)]
    return spark.createDataFrame(rows, "line_no int, val_key bigint")


def oracle_gcps2wld() -> str:
    """DuckDB replay: same integer sums, same Cramer determinants,
    same single division per coefficient."""
    t = ["cast(1 as bigint)", "px", "py"]
    sums = []
    for i in range(3):
        for j in range(i, 3):
            sums.append(f"cast(sum({t[i]} * {t[j]}) as bigint) AS m{i}_{j}")
        sums.append(f"cast(sum({t[i]} * e2) as bigint) AS a_{i}")
        sums.append(f"cast(sum({t[i]} * n2) as bigint) AS b_{i}")
    M = [[f"m{min(i, j)}_{max(i, j)}" for j in range(3)] for i in range(3)]
    D = _det3_sql(M)

    def coef(rhs, i):
        Mi = [[f"{rhs}_{rr}" if cc == i else M[rr][cc] for cc in range(3)]
              for rr in range(3)]
        return f"(cast({_det3_sql(Mi)} as double) / cast({D} as double))"

    e0, e1, e2c = coef("a", 0), coef("a", 1), coef("a", 2)
    n0, n1, n2c = coef("b", 0), coef("b", 1), coef("b", 2)
    lines = [
        e1, n1, e2c, n2c,
        f"({e0} + 0.5E0 * {e1} + 0.5E0 * {e2c})",
        f"({n0} + 0.5E0 * {n1} + 0.5E0 * {n2c})",
    ]
    sel = " UNION ALL ".join(
        f"SELECT {i + 1} AS line_no, "
        f"cast(floor({v} * 1000000.0E0) as bigint) AS val_key FROM sums"
        for i, v in enumerate(lines)
    )
    return (
        f"WITH gcps AS (SELECT cast({GCP_PX} as bigint) AS px, "
        f"cast({GCP_PY} as bigint) AS py, "
        f"cast({GCP_E2} as bigint) AS e2, cast({GCP_N2} as bigint) AS n2 "
        f"FROM range(0, {GCP_K}) t(k)), "
        f"sums AS MATERIALIZED (SELECT {', '.join(sums)} FROM gcps) {sel}"
    )
