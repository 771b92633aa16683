"""gdal_spark.srs — transverse mercator chain, independent checks.

The Krueger-series coefficients are validated against *independent*
math: a brute-force numerical integration of the meridian arc, the
exact conformal-latitude definition, and closed-form UTM invariants —
not against the implementation's own series.
"""

import numpy as np
import pytest

from gdal_spark import srs


def _grid(n=4000, lat_hi=84.0):
    rng = np.random.default_rng(42)
    lon0 = -75.0
    lon = lon0 + rng.uniform(-3.2, 3.2, n)
    lat = rng.uniform(-80.0, lat_hi, n)
    return lon, lat, lon0


def test_roundtrip_nanometer():
    lon, lat, lon0 = _grid()
    x, y = srs.tm_forward(lon, lat, lon0)
    lon2, lat2 = srs.tm_inverse(x, y, lon0)
    # degrees -> meters scale ~1.1e5
    err_m = np.hypot(
        (lon2 - lon) * 111320.0 * np.cos(np.radians(lat)),
        (lat2 - lat) * 110574.0,
    )
    assert err_m.max() < 1e-6  # sub-micrometer round trip


def test_central_meridian_invariants():
    lats = np.array([0.0, 10.0, 45.0, -30.0, 80.0])
    x, y = srs.tm_forward(np.full(5, -75.0), lats, -75.0)
    assert np.allclose(x, srs.FE, atol=1e-9)  # CM maps to false easting
    assert y[0] == 0.0  # equator origin
    assert y[3] < 0.0  # southern latitude, FN not applied here


def test_meridian_arc_vs_numerical_integration():
    """N on the central meridian == k0 * rectifying arc length, with
    the arc computed by brute-force quadrature of the public meridian
    radius integrand a(1-e^2)/(1-e^2 sin^2)^(3/2)."""
    for lat_deg in (13.0, 45.0, 71.5):
        phi = np.linspace(0.0, np.radians(lat_deg), 1_000_001)
        integrand = srs.A * (1 - srs.E2) / (1 - srs.E2 * np.sin(phi) ** 2) ** 1.5
        arc = np.trapz(integrand, phi)
        _, n_tm = srs.tm_forward(np.array([-75.0]), np.array([lat_deg]), -75.0)
        assert abs(n_tm[0] - srs.K0 * arc) < 1e-5


def test_conformal_latitude_definition():
    """The forward's conformal tangent t matches the textbook
    definition tan(chi), chi = 2 atan( tan(pi/4+phi/2) *
    ((1-e sin phi)/(1+e sin phi))^(e/2) ) - pi/2."""
    lat = np.linspace(-84, 84, 1001)
    phi = np.radians(lat)
    s = np.sin(phi)
    t_impl = np.sinh(np.arctanh(s) - srs.E * np.arctanh(srs.E * s))
    chi = (
        2.0
        * np.arctan(
            np.tan(np.pi / 4 + phi / 2)
            * ((1 - srs.E * s) / (1 + srs.E * s)) ** (srs.E / 2)
        )
        - np.pi / 2
    )
    assert np.max(np.abs(t_impl - np.tan(chi))) < 1e-9


def test_scale_factor_at_cm():
    """Point scale on the central meridian is exactly k0 (checked via
    a finite-difference derivative against the meridian radius)."""
    lat = 37.0
    eps = 1e-4
    _, y1 = srs.tm_forward(np.array([-75.0]), np.array([lat - eps]), -75.0)
    _, y2 = srs.tm_forward(np.array([-75.0]), np.array([lat + eps]), -75.0)
    m_radius = srs.A * (1 - srs.E2) / (1 - srs.E2 * np.sin(np.radians(lat)) ** 2) ** 1.5
    k = (y2[0] - y1[0]) / (np.radians(2 * eps) * m_radius)
    assert abs(k - srs.K0) < 1e-7


def test_zone_selection():
    lon = np.array([-75.0, -3.0, 0.0, 179.9, -179.9, 11.4])
    z = srs.utm_zone(lon, np.zeros_like(lon))
    assert z.tolist() == [18, 30, 31, 60, 1, 32]
    assert srs.utm_lon0(np.array([18])).tolist() == [-75.0]


def test_epsg_registry_chain():
    """4326 -> 32618 -> 4326 and 3857 -> 32618 round trips."""
    fwd = srs.make_transform(4326, 32618)
    inv = srs.make_transform(32618, 4326)
    lon = np.array([-74.0, -76.5])
    lat = np.array([40.7, -33.9])  # south lat through a north zone: FN=0 code path
    x, y = fwd(lon, lat)
    lon2, lat2 = inv(x, y)
    assert np.allclose(lon, lon2, atol=1e-11)
    assert np.allclose(lat, lat2, atol=1e-11)
    # southern-zone false northing
    fs = srs.make_transform(4326, 32718)
    xs, ys = fs(np.array([-76.5]), np.array([-33.9]))
    assert ys[0] > 6e6  # FN applied
    back = srs.make_transform(32718, 4326)
    lon3, lat3 = back(xs, ys)
    assert abs(lat3[0] + 33.9) < 1e-11
    # mercator leg composes through the hub
    m2u = srs.make_transform(3857, 32618)
    from gdal_spark import grid

    mx, my = grid.lonlat_to_meters(np.array([-74.0]), np.array([40.7]))
    xu, yu = m2u(mx, my)
    assert np.allclose([xu[0], yu[0]], [x[0], y[0]], atol=1e-6)


def test_unsupported_epsg():
    with pytest.raises(ValueError):
        srs.make_transform(4326, 27572)  # NTF Lambert II not registered


def test_approx_transformer_tolerance():
    """GDALApproxTransformer semantics: linearized scanline equals the
    exact transform within 0.125 px at the *target* grid resolution."""
    t = srs.make_transform(4326, 32618)
    # a scanline across 2 degrees at ~30 m output pixels
    xs = np.linspace(-76.0, -74.0, 2049)
    y = 40.0

    def px_transform(ax, ay):
        # transform to UTM then express in 30 m pixel units
        ux, uy = t(ax, ay)
        return ux / 30.0, uy / 30.0

    ex, ey = px_transform(xs, np.full_like(xs, y))
    ax_, ay_ = srs.approx_transform_scanline(px_transform, xs, y, max_err=0.125)
    assert np.max(np.abs(ax_ - ex)) <= 0.125
    assert np.max(np.abs(ay_ - ey)) <= 0.125


def test_forward_sql_twin_matches_numpy(duckdb_con=None):
    import duckdb

    con = duckdb.connect()
    n = 2000
    con.execute(
        "CREATE TABLE t AS SELECT i, "
        "-78.0E0 + 6.0E0*((i*0.6180339887498949E0)-floor(i*0.6180339887498949E0)) AS lon, "
        "-80.0E0 + 164.0E0*((i*0.41421356237309515E0)-floor(i*0.41421356237309515E0)) AS lat "
        f"FROM range(1,{n + 1}) r(i)"
    )
    ex, nx = srs.tm_forward_sql("lon", "lat", "-75.0E0")
    d = con.execute(f"SELECT lon, lat, {ex} AS e, {nx} AS n2 FROM t ORDER BY i").df()
    e_np, n_np = srs.tm_forward(d["lon"].to_numpy(), d["lat"].to_numpy(), -75.0)
    assert np.abs(d["e"].to_numpy() - e_np).max() < 1e-6
    assert np.abs(d["n2"].to_numpy() - n_np).max() < 1e-6
    cte = srs.tm_inverse_sql_cte("e", "n2", "-75.0E0", "fw", "i")
    q = (
        f"WITH fw AS (SELECT i, {ex} AS e, {nx} AS n2 FROM t),\n{cte}\n"
        "SELECT i, lon, lat FROM tminv ORDER BY i"
    )
    dinv = con.execute(q).df()
    assert np.abs(dinv["lon"].to_numpy() - d["lon"].to_numpy()).max() < 1e-11
    assert np.abs(dinv["lat"].to_numpy() - d["lat"].to_numpy()).max() < 1e-11


def test_warp_with_approx_transformer_matches_exact():
    """A UTM reprojection warped with the 0.125-px approximate
    transformer agrees with the exact chain on almost every pixel
    (nearest can flip only where the true source coordinate falls
    within the tolerance of a pixel boundary)."""
    from gdal_spark import codecs, resample

    arr = codecs.make_pixels(3, 128, 128)
    lon, lat = -74.3, 41.2
    res = 0.1 / 128
    src_gt = (lon, res, 0.0, lat, 0.0, -res)
    inv = srs.make_transform(32618, 4326)
    # a UTM dst grid over the footprint
    fwd = srs.make_transform(4326, 32618)
    ex, ny = fwd(np.array([lon, lon + 0.1]), np.array([lat, lat - 0.1]))
    dres = (ex[1] - ex[0]) / 128
    dst_gt = (ex[0], dres, 0.0, ny[0], 0.0, -dres)

    exact = resample.warp_image(arr, src_gt, dst_gt, (128, 128), "near", inv)
    approx = resample.warp_image(
        arr, src_gt, dst_gt, (128, 128), "near", inv, approx_tol=0.125
    )
    frac_diff = float(np.mean(exact != approx))
    assert frac_diff < 0.05, frac_diff
    # tol=0 forces exact control everywhere -> identical output
    approx0 = resample.warp_image(
        arr, src_gt, dst_gt, (128, 128), "near", inv, approx_tol=1e-12
    )
    assert np.array_equal(exact, approx0)


# ---------------------------------------------------------------------------
# Lambert Conformal Conic 2SP (EPSG 9802; Lambert-93 registry entry)


def test_lcc_origin_and_standard_parallel_scale():
    """Projection origin maps to (FE, FN); scale factor is 1 on BOTH
    standard parallels and <1 between them (the defining property of a
    2SP conic) — k(46.5) ~ 0.99905 is Lambert-93's published central
    scale."""
    p = srs.LCC_REGISTRY[2154]
    x, y = srs.lcc_forward(np.array([3.0]), np.array([46.5]), p)
    assert abs(x[0] - 700000.0) < 1e-6
    assert abs(y[0] - 6600000.0) < 1e-6

    def scale(lat):
        eps = 1e-7
        x1, y1 = srs.lcc_forward(np.array([3.0]), np.array([lat]), p)
        x2, y2 = srs.lcc_forward(np.array([3.0]), np.array([lat + eps]), p)
        s = np.sin(np.radians(lat))
        M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
        return float(np.hypot(x2 - x1, y2 - y1)[0]) / (M * np.radians(eps))

    assert abs(scale(49.0) - 1.0) < 1e-6
    assert abs(scale(44.0) - 1.0) < 1e-6
    assert abs(scale(46.5) - 0.9990510) < 1e-5


def test_lcc_roundtrip_submm():
    p = srs.LCC_REGISTRY[2154]
    lons = np.linspace(-60.0, 60.0, 25)
    lats = np.linspace(-20.0, 70.0, 25)
    gx, gy = np.meshgrid(lons, lats)
    gx, gy = gx.ravel(), gy.ravel()
    X, Y = srs.lcc_forward(gx, gy, p)
    lo, la = srs.lcc_inverse(X, Y, p)
    # 1e-11 deg ~ 1 micrometer
    assert np.abs(lo - gx).max() < 1e-11
    assert np.abs(la - gy).max() < 1e-11


def test_lcc_chain_through_registry():
    fwd = srs.make_transform(4326, 2154)
    inv = srs.make_transform(2154, 4326)
    lon = np.array([2.3522, -0.5792])
    lat = np.array([48.8566, 44.8378])
    X, Y = fwd(lon, lat)
    lo, la = inv(X, Y)
    assert np.abs(lo - lon).max() < 1e-11
    assert np.abs(la - lat).max() < 1e-11
    # inside the Lambert-93 usage envelope the coordinates are within
    # the published French grid bounds
    assert ((X > 0) & (X < 1.3e6)).all()
    assert ((Y > 6.0e6) & (Y < 7.2e6)).all()


def test_aea_origin_scale_and_equal_area():
    """Albers (EPSG method 9822): origin pins to (FE, FN); the
    parallel-direction scale k = n*rho/(a*m) is 1 on BOTH standard
    parallels; and h*k = 1 everywhere (the defining equal-area
    property), checked numerically at several latitudes."""
    p = srs.AEA_REGISTRY[5070]
    x, y = srs.aea_forward(np.array([-96.0]), np.array([23.0]), p)
    assert abs(x[0] - 0.0) < 1e-6
    assert abs(y[0] - 0.0) < 1e-6

    def hk(lat):
        eps = 1e-7
        # h: meridian-direction scale (numeric)
        x1, y1 = srs.aea_forward(np.array([-96.0 + 5.0]), np.array([lat]), p)
        x2, y2 = srs.aea_forward(
            np.array([-96.0 + 5.0]), np.array([lat + eps]), p
        )
        s = np.sin(np.radians(lat))
        M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
        h = float(np.hypot(x2 - x1, y2 - y1)[0]) / (M * np.radians(eps))
        # k: parallel-direction scale (numeric)
        x3, y3 = srs.aea_forward(
            np.array([-96.0 + 5.0 + eps]), np.array([lat]), p
        )
        N = p.a / np.sqrt(1 - p.e2 * s * s)
        k = float(np.hypot(x3 - x1, y3 - y1)[0]) / (
            N * np.cos(np.radians(lat)) * np.radians(eps)
        )
        return h, k

    for lat in (29.5, 45.5):
        h, k = hk(lat)
        assert abs(k - 1.0) < 1e-6, lat
        assert abs(h * k - 1.0) < 1e-6, lat
    for lat in (23.0, 37.0, 60.0, -10.0):
        h, k = hk(lat)
        assert abs(h * k - 1.0) < 1e-6, lat


def test_aea_roundtrip_submm():
    p = srs.AEA_REGISTRY[5070]
    lons = np.linspace(-170.0, 30.0, 25)
    lats = np.linspace(-40.0, 75.0, 25)
    gx, gy = np.meshgrid(lons, lats)
    gx, gy = gx.ravel(), gy.ravel()
    X, Y = srs.aea_forward(gx, gy, p)
    lo, la = srs.aea_inverse(X, Y, p)
    assert np.abs(lo - gx).max() < 1e-11
    assert np.abs(la - gy).max() < 1e-11


def test_aea_chain_through_registry():
    fwd = srs.make_transform(4326, 5070)
    inv = srs.make_transform(5070, 4326)
    # Denver + Atlanta
    lon = np.array([-104.99, -84.39])
    lat = np.array([39.74, 33.75])
    X, Y = fwd(lon, lat)
    lo, la = inv(X, Y)
    assert np.abs(lo - lon).max() < 1e-11
    assert np.abs(la - lat).max() < 1e-11
    # Conus Albers puts the continental US within published bounds
    assert ((X > -2.5e6) & (X < 2.5e6)).all()
    assert ((Y > 0.0) & (Y < 3.3e6)).all()


def test_lcc_inverse_sql_cte_matches_numpy():
    """The unrolled fixed-point CTE must match lcc_inverse to well
    below the warp oracle's 1e-10-deg sampling epsilon."""
    import duckdb

    p = srs.LCC_REGISTRY[2154]
    lon = np.linspace(-4.0, 9.0, 9)
    lat = np.linspace(41.0, 51.0, 9)
    gx, gy = np.meshgrid(lon, lat)
    ex, ny = srs.lcc_forward(gx.ravel(), gy.ravel(), p)
    lon_np, lat_np = srs.lcc_inverse(ex, ny, p)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {x!r}, {y!r})" for i, (x, y) in enumerate(zip(ex, ny)))
        + ") t(i, ec, nc)"
    )
    cte = srs.lcc_inverse_sql_cte("ec", "nc", p, "pts", "i")
    out = con.execute(
        f"WITH {cte} SELECT i, lon, lat FROM lccinv ORDER BY i"
    ).df()
    assert np.abs(out.lon.to_numpy() - lon_np).max() < 1e-11
    assert np.abs(out.lat.to_numpy() - lat_np).max() < 1e-11


def test_ps_pole_parallel_and_conformality():
    """Polar Stereographic (EPSG 9829): the pole pins to (FE, FN);
    the scale at the standard parallel is 1 (variant B definition);
    conformality: meridian and parallel scales agree everywhere
    (numerically); and the known EPSG:3031 coordinate of (0E, 71S)
    is reproduced to the cm."""
    p = srs.PS_REGISTRY[3031]
    x, y = srs.ps_forward(np.array([123.0]), np.array([-90.0]), p)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    # published EPSG:3031 value (PROJ: 0 -71 -> 0, 2082760.11)
    x, y = srs.ps_forward(np.array([0.0]), np.array([-71.0]), p)
    assert abs(x[0]) < 1e-6 and abs(y[0] - 2082760.11) < 0.02

    def scales(lon, lat):
        eps = 1e-7
        s = np.sin(np.radians(lat))
        M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
        N = p.a / np.sqrt(1 - p.e2 * s * s)
        x1, y1 = srs.ps_forward(np.array([lon]), np.array([lat]), p)
        x2, y2 = srs.ps_forward(np.array([lon]), np.array([lat + eps]), p)
        h = float(np.hypot(x2 - x1, y2 - y1)[0]) / (M * np.radians(eps))
        x3, y3 = srs.ps_forward(np.array([lon + eps]), np.array([lat]), p)
        k = float(np.hypot(x3 - x1, y3 - y1)[0]) / (
            N * np.cos(np.radians(lat)) * np.radians(eps)
        )
        return h, k

    h, k = scales(37.0, -71.0)
    assert abs(k - 1.0) < 1e-6  # standard parallel
    for lon, lat in ((0.0, -80.0), (120.0, -55.0), (-45.0, 10.0)):
        h, k = scales(lon, lat)
        assert abs(h - k) < 1e-5 * k  # conformal


def test_ps_roundtrip_submm_both_aspects():
    rng = np.random.default_rng(5)
    lon = rng.uniform(-179.9, 179.9, 200)
    lat = rng.uniform(-84.9, 84.9, 200)
    for epsg in (3031, 3413):
        p = srs.PS_REGISTRY[epsg]
        x, y = srs.ps_forward(lon, lat, p)
        lo, la = srs.ps_inverse(x, y, p)
        x2, y2 = srs.ps_forward(lo, la, p)
        assert np.abs(x2 - x).max() < 1e-3 and np.abs(y2 - y).max() < 1e-3


# ---------------------------------------------------------------------------
# sinusoidal (Snyder pp. 243-247; the MODIS grid)


def test_sinu_quarter_meridian_golden():
    # WGS84 quarter meridian is 10 001 965.7293 m (defining-constant
    # derivation, independent of this implementation)
    p = srs.SINU_REGISTRY[54008]
    m = float(srs.sinu_merid_arc(np.radians(90.0), p))
    assert abs(m - 10_001_965.7293) < 0.01
    # equator: x = a * lambda exactly
    x, y = srs.sinu_forward(np.array([90.0]), np.array([0.0]), p)
    assert abs(x[0] - p.a * np.pi / 2.0) < 1e-6 and abs(y[0]) < 1e-9


def test_sinu_equal_area_jacobian():
    # sinusoidal is equal-area: the forward Jacobian determinant over
    # the ellipsoid-authalic area element is 1 everywhere
    p = srs.SINU_REGISTRY[54008]
    eps = 1e-7
    for lon, lat in ((0.0, 0.0), (100.0, 47.0), (-140.0, -66.0)):
        x0, y0 = srs.sinu_forward(np.array([lon]), np.array([lat]), p)
        xl, yl = srs.sinu_forward(np.array([lon + eps]), np.array([lat]), p)
        xp, yp = srs.sinu_forward(np.array([lon]), np.array([lat + eps]), p)
        det = (
            (xl[0] - x0[0]) * (yp[0] - y0[0])
            - (xp[0] - x0[0]) * (yl[0] - y0[0])
        ) / np.radians(eps) ** 2
        s = np.sin(np.radians(lat))
        # dA on the ellipsoid = M * N * cos(phi) (meridional x normal
        # radii); Snyder 30-9 integrates exactly this
        M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
        N = p.a / np.sqrt(1 - p.e2 * s * s)
        area_el = M * N * np.cos(np.radians(lat))
        assert abs(det / area_el - 1.0) < 1e-5


def test_sinu_roundtrip_and_sphere():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179.9, 179.9, 200)
    lat = rng.uniform(-84.9, 84.9, 200)
    for key in (54008, 6974):
        p = srs.SINU_REGISTRY[key]
        x, y = srs.sinu_forward(lon, lat, p)
        lo, la = srs.sinu_inverse(x, y, p)
        assert np.abs(lo - lon).max() < 1e-9
        assert np.abs(la - lat).max() < 1e-9
    # spherical variant: closed form R*lam*cos(phi), R*phi
    p = srs.SINU_REGISTRY[6974]
    x, y = srs.sinu_forward(lon, lat, p)
    assert np.allclose(x, p.a * np.radians(lon) * np.cos(np.radians(lat)))
    assert np.allclose(y, p.a * np.radians(lat))


def _expr_stages(forward_sql):
    """A (easting, northing) SQL pair as a two-stage list."""

    def stages(p):
        e, n = forward_sql("lon", "lat", p)
        return [("easting", e), ("northing", n)]

    return stages


PS_INV = (srs.ps_inverse, srs.ps_inverse_sql_cte, "psinv")
SINU_INV = (srs.sinu_inverse, srs.sinu_inverse_sql_cte, "sinuinv")
SQL_TWINS = [
    pytest.param(
        srs.LCC_REGISTRY[2154], srs.lcc_forward,
        _expr_stages(srs.lcc_forward_sql), None, (-4.0, 9.0, 41.0, 51.0),
        id="lcc2154",
    ),
    pytest.param(
        srs.AEA_REGISTRY[5070], srs.aea_forward,
        _expr_stages(srs.aea_forward_sql), None, (-125.0, -67.0, 24.0, 50.0),
        id="aea5070",
    ),
    pytest.param(
        srs.PS_REGISTRY[3031], srs.ps_forward, _expr_stages(srs.ps_forward_sql),
        PS_INV, (-180.0, 180.0, -89.5, -10.0), id="ps3031",
    ),
    pytest.param(
        srs.PS_REGISTRY[3413], srs.ps_forward, _expr_stages(srs.ps_forward_sql),
        PS_INV, (-180.0, 180.0, 10.0, 89.5), id="ps3413",
    ),
    pytest.param(
        srs.SINU_REGISTRY[54008], srs.sinu_forward,
        _expr_stages(srs.sinu_forward_sql), SINU_INV,
        (-179.9, 179.9, -84.9, 84.9), id="sinu54008",
    ),
    pytest.param(
        srs.SINU_REGISTRY[6974], srs.sinu_forward,
        _expr_stages(srs.sinu_forward_sql), SINU_INV,
        (-179.9, 179.9, -84.9, 84.9), id="sinu6974",
    ),
    pytest.param(
        srs.MOLL_REGISTRY[54009], srs.moll_forward, srs.moll_stage_list, None,
        (-179.9, 179.9, -89.0, 89.0), id="moll54009",
    ),
    pytest.param(
        srs.EQE_REGISTRY[8857], srs.eqearth_forward, srs.eqearth_stage_list,
        None, (-179.9, 179.9, -89.0, 89.0), id="eqe8857",
    ),
]


@pytest.mark.parametrize("p, forward, stages, inverse, box", SQL_TWINS)
def test_projection_sql_twin_matches_numpy(p, forward, stages, inverse, box):
    """Each projection's SQL twin, run in DuckDB as the oracles run it
    (materialized stages), against its numpy kernel: forward within
    1e-6 m, inverse (fed the numpy forward) within 1e-11 deg. The
    corner gates only compare Spark with DuckDB on the same SQL text,
    so a math error shared by both engines shows up only here."""
    import duckdb
    import pandas as pd

    from gdal_spark.operators.reproject import _stage_ctes

    k = np.arange(600)
    lon = box[0] + (box[1] - box[0]) * ((k * 0.6180339887498949) % 1.0)
    lat = box[2] + (box[3] - box[2]) * ((k * 0.41421356237309515) % 1.0)
    e_np, n_np = forward(lon, lat, p)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"i": k, "lon": lon, "lat": lat}))
    ctes, rel = _stage_ctes("pts", "f", stages(p))
    out = con.execute(
        f"WITH {', '.join(ctes)} SELECT easting, northing FROM {rel} ORDER BY i"
    ).fetchnumpy()
    assert np.abs(out["easting"] - e_np).max() < 1e-6
    assert np.abs(out["northing"] - n_np).max() < 1e-6
    if inverse is None:
        return
    inverse_np, inverse_cte, inv_rel = inverse
    con.register("prj", pd.DataFrame({"i": k, "ec": e_np, "nc": n_np}))
    got = con.execute(
        f"WITH {inverse_cte('ec', 'nc', p, 'prj', 'i')} "
        f"SELECT lon, lat FROM {inv_rel} ORDER BY i"
    ).fetchnumpy()
    lon_np, lat_np = inverse_np(e_np, n_np, p)
    assert np.abs(got["lon"] - lon_np).max() < 1e-11
    assert np.abs(got["lat"] - lat_np).max() < 1e-11


def _quad_area(x, y):
    # shoelace of a 4-corner quad given as arrays of shape (4,)
    return 0.5 * abs(
        sum(
            x[i] * y[(i + 1) % 4] - x[(i + 1) % 4] * y[i]
            for i in range(4)
        )
    )


def test_moll_analytic_goldens_and_roundtrip():
    p = srs.MOLL_REGISTRY[54009]
    # equator: theta=0 exactly, x = 2*sqrt(2)/pi * a * lam -> sqrt(2)*a
    x, y = srs.moll_forward(np.array([90.0]), np.array([0.0]), p)
    assert abs(x[0] - np.sqrt(2.0) * p.a) < 1e-6
    assert abs(y[0]) < 1e-9
    # pole: Newton converges instantly (residual 0 at t0), y = sqrt(2)*a
    x, y = srs.moll_forward(np.array([0.0]), np.array([90.0]), p)
    assert abs(y[0] - np.sqrt(2.0) * p.a) < 1e-6
    # roundtrip over the domain
    lon = (np.arange(80) * 73.1) % 359.8 - 179.9
    lat = (np.arange(80) * 37.3) % 169.8 - 84.9
    x, y = srs.moll_forward(lon, lat, p)
    lon2, lat2 = srs.moll_inverse(x, y, p)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9


def test_moll_equal_area_property():
    # Mollweide is equal-area on its sphere: projected quad area ==
    # a^2 cos(phi) dlam dphi for small quads, at every latitude
    p = srs.MOLL_REGISTRY[54009]
    d = 1e-3
    for lat0 in (0.0, 22.5, 45.0, 66.6, 80.0, -37.0):
        lons = np.array([10.0, 10.0 + d, 10.0 + d, 10.0])
        lats = np.array([lat0, lat0, lat0 + d, lat0 + d])
        x, y = srs.moll_forward(lons, lats, p)
        proj_area = _quad_area(x, y)
        phi = np.radians(lat0 + d / 2.0)
        true_area = p.a**2 * np.cos(phi) * np.radians(d) ** 2
        assert abs(proj_area / true_area - 1.0) < 1e-4, lat0


def test_eqearth_equal_area_property():
    # Equal Earth via authalic latitude is equal-area on the WGS84
    # ellipsoid: quad area == a^2 (1-e2) cos(phi)/(1-e2 sin^2 phi)^2
    p = srs.EQE_REGISTRY[8857]
    d = 1e-3
    for lat0 in (0.0, 22.5, 45.0, 66.6, 80.0, -37.0):
        lons = np.array([10.0, 10.0 + d, 10.0 + d, 10.0])
        lats = np.array([lat0, lat0, lat0 + d, lat0 + d])
        x, y = srs.eqearth_forward(lons, lats, p)
        proj_area = _quad_area(x, y)
        phi = np.radians(lat0 + d / 2.0)
        s = np.sin(phi)
        true_area = (
            p.a**2
            * (1.0 - p.e2)
            * np.cos(phi)
            / (1.0 - p.e2 * s * s) ** 2
            * np.radians(d) ** 2
        )
        assert abs(proj_area / true_area - 1.0) < 1e-4, lat0


def test_eqearth_shape_properties():
    p = srs.EQE_REGISTRY[8857]
    # y is odd and strictly increasing in lat; x is even in lat, odd in lon
    lat = np.linspace(-89.9, 89.9, 101)
    _, y = srs.eqearth_forward(np.zeros_like(lat), lat, p)
    assert (np.diff(y) > 0).all()
    assert np.abs(y + y[::-1]).max() < 1e-6
    x1, _ = srs.eqearth_forward(np.full_like(lat, 30.0), lat, p)
    x2, _ = srs.eqearth_forward(np.full_like(lat, -30.0), lat, p)
    assert np.abs(x1 + x2).max() < 1e-6
    # equator scale: x = Rq * lam / (M * A1)
    x, _ = srs.eqearth_forward(np.array([1.0]), np.array([0.0]), p)
    assert abs(x[0] - p.rq * np.radians(1.0) / (srs.EQE_M * srs.EQE_A1)) < 1e-6
