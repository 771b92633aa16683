"""Grid-shift datum corrections (PROJ nadgrids semantics).

The reference never applies a bare 7-parameter Helmert when a
correction grid exists: ogr/ogrct.cpp:907 builds the PROJ operation
with proj_create_crs_to_crs, and PROJ resolves e.g. EPSG:4258 ->
EPSG:27700 through a grid file (OSTN15, nadgrids handling at
ogrct.cpp:1306) — bilinear interpolation of per-node shifts, not a
global 7-parameter fit.  The r4 Helmert path (srs.py TMD) is honest
to ~meter level; this module adds the grid path:

1. an NTv2 (.gsb) reader written fresh from the public format spec
   (the Canadian NTv2 Developer's Guide layout, also documented in
   the reference's frmts/raw/ntv2dataset.cpp and
   doc/source/drivers/raster/ntv2.rst): 11 x 16-byte overview
   records, 11 x 16-byte subfile records, then GS_COUNT nodes of
   4 x float32 (lat shift, lon shift, lat/lon accuracy, arc-seconds,
   longitudes positive WEST, rows south->north, east->west within a
   row).  Gated by the reference's own autotest goldens
   (autotest/gdrivers/ntv2.py: geotransform + band checksums of
   data/ntv2/test_ntv2_le.gsb / _be.gsb);

2. the distributed transform: the grid is a TABLE (row, col,
   shift_e_mm, shift_n_mm) — the 100 TB posture for a real OSTN15
   (701 x 1251 nodes) is a broadcast equi-join of each point's four
   surrounding nodes, NEVER a collect; all interpolation arithmetic
   is integer fixed-point (1024-step cell fractions over dm-floored
   projected coordinates), so Spark and the DuckDB oracle agree
   bit-for-bit with no float-summation hazard.

The gated query (`osgb_gridshift`) follows the published OSGM15
method shape: project ETRS89 geographic coordinates with the
Transverse Mercator on GRS80 using the British National Grid
parameters (NOT the Airy/Helmert chain — that is the r4 `osgb_corners`
path), then ADD easting/northing shifts bilinearly interpolated from
the km-resolution grid.  The real OSTN15 15 MB grid file is not in
this container, so the gated grid is synthetic-but-OSTN15-shaped
(deterministic integer node formula, ~90 m E / ~-55 m N magnitudes);
the NTv2 reader is gated against the reference's real .gsb fixtures
instead.  `grid_table_from_ntv2` turns a parsed file into a (row, col,
shift) table of lat/lon shifts in micro-arc-seconds; `osgb_gridshift`
reads E/N shifts in millimetres, so a real grid needs a lat/lon-shift
join of its own (tests/test_gridshift.py builds one).  Only NTv2
(.gsb) grid files are read.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import srs

# ---------------------------------------------------------------------------
# NTv2 reader (public spec; see module docstring).  No GDAL code is
# used — the layout below is the published record table.

_REC = 16  # every NTv2 record is 8 name bytes + 8 value bytes


def _rec_str(buf: bytes, i: int) -> tuple[str, bytes]:
    name = buf[i : i + 8].decode("ascii", "replace").strip()
    return name, buf[i + 8 : i + 16]


@dataclass
class Ntv2Grid:
    """One parsed NTv2 subfile, oriented north-up / east-positive."""

    s_lat: float  # arc-seconds
    n_lat: float
    # arc-seconds, POSITIVE EAST: the grid's west and east edges
    # (the file's positive-west E_LONG / W_LONG, negated and swapped)
    west_long: float
    east_long: float
    lat_inc: float
    long_inc: float
    # 2-D float64 (nrows, ncols), row 0 = NORTH edge, col 0 = WEST
    # edge; lon_shift converted to positive-east arc-seconds
    lat_shift: np.ndarray
    lon_shift: np.ndarray
    lat_acc: np.ndarray
    lon_acc: np.ndarray

    @property
    def shape(self) -> tuple[int, int]:
        return self.lat_shift.shape

    def geotransform(self) -> tuple[float, ...]:
        """GDAL-convention north-up geotransform: grid nodes are
        PIXEL CENTERS, so the raster origin sits half a cell out."""
        px = self.long_inc / 3600.0
        py = self.lat_inc / 3600.0
        x0 = self.west_long / 3600.0 - px / 2.0
        y0 = self.n_lat / 3600.0 + py / 2.0
        return (x0, px, 0.0, y0, 0.0, -py)

    def bilinear(self, lon_deg, lat_deg) -> tuple[np.ndarray, np.ndarray]:
        """(lat_shift_sec, lon_shift_sec) at geographic points,
        bilinear in grid space with edge clamping (the reference
        clamps identically for in-coverage edge points)."""
        nr, nc = self.shape
        lon = np.asarray(lon_deg, np.float64) * 3600.0
        lat = np.asarray(lat_deg, np.float64) * 3600.0
        gx = (lon - self.west_long) / self.long_inc  # col, west->east
        gy = (lat - self.s_lat) / self.lat_inc  # row, SOUTH->north
        ix = np.clip(np.floor(gx).astype(np.int64), 0, nc - 2)
        iy = np.clip(np.floor(gy).astype(np.int64), 0, nr - 2)
        fx = gx - ix
        fy = gy - iy
        # south-up row index -> north-up array row
        r0 = nr - 1 - iy  # row at iy (south corner of the cell)
        r1 = r0 - 1  # row at iy + 1

        def blend(a):
            v00 = a[r0, ix]
            v10 = a[r0, ix + 1]
            v01 = a[r1, ix]
            v11 = a[r1, ix + 1]
            return (
                (1 - fx) * (1 - fy) * v00
                + fx * (1 - fy) * v10
                + (1 - fx) * fy * v01
                + fx * fy * v11
            )

        return blend(self.lat_shift), blend(self.lon_shift)


def read_ntv2(path: str) -> Ntv2Grid:
    """Parse the FIRST subfile of an NTv2 .gsb file (the reference's
    driver exposes one subdataset per subfile; the autotest fixtures
    hold exactly one)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    # Endianness sniff: NUM_OREC is a 4-byte int (value 11) in the
    # first record's value field; try little then big.
    name, val = _rec_str(buf, 0)
    if name != "NUM_OREC":
        raise ValueError(f"not an NTv2 file: first record {name!r}")
    if struct.unpack("<i", val[:4])[0] == 11:
        end = "<"
    elif struct.unpack(">i", val[4:8] if val[:4] == b"\0\0\0\0" else val[:4])[
        0
    ] == 11:
        end = ">"
    else:
        raise ValueError("cannot determine NTv2 endianness")

    def _int(v: bytes) -> int:
        # ints are stored as int32 + 4 pad bytes
        if end == ">" and v[:4] == b"\0\0\0\0":
            return struct.unpack(">i", v[4:8])[0]
        return struct.unpack(end + "i", v[:4])[0]

    def _dbl(v: bytes) -> float:
        return struct.unpack(end + "d", v)[0]

    n_orec = _int(val)
    hdr: dict[str, bytes] = {}
    pos = 0
    for _ in range(n_orec):
        nm, v = _rec_str(buf, pos)
        hdr[nm] = v
        pos += _REC
    n_srec = _int(hdr["NUM_SREC"])
    sub: dict[str, bytes] = {}
    for _ in range(n_srec):
        nm, v = _rec_str(buf, pos)
        sub[nm] = v
        pos += _REC
    s_lat = _dbl(sub["S_LAT"])
    n_lat = _dbl(sub["N_LAT"])
    # file longitudes are positive WEST; negate to east
    e_long_w = _dbl(sub["E_LONG"])
    w_long_w = _dbl(sub["W_LONG"])
    lat_inc = _dbl(sub["LAT_INC"])
    long_inc = _dbl(sub["LONG_INC"])
    count = _int(sub["GS_COUNT"])
    nrows = int(round((n_lat - s_lat) / lat_inc)) + 1
    ncols = int(round((w_long_w - e_long_w) / long_inc)) + 1
    if nrows * ncols != count:
        raise ValueError(f"GS_COUNT {count} != {nrows}x{ncols}")
    raw = np.frombuffer(
        buf, dtype=end + "f4", count=count * 4, offset=pos
    ).reshape(nrows, ncols, 4).astype(np.float64)
    # File order: rows south->north, columns EAST->WEST (increasing
    # positive-west longitude).  Flip to north-up rows and
    # west->east (positive-east) columns; negate the lon shift to
    # positive east.
    arr = raw[::-1, ::-1, :]
    return Ntv2Grid(
        s_lat=s_lat,
        n_lat=n_lat,
        west_long=-w_long_w,
        east_long=-e_long_w,
        lat_inc=lat_inc,
        long_inc=long_inc,
        lat_shift=np.ascontiguousarray(arr[:, :, 0]),
        lon_shift=np.ascontiguousarray(-arr[:, :, 1]),
        lat_acc=np.ascontiguousarray(arr[:, :, 2]),
        lon_acc=np.ascontiguousarray(arr[:, :, 3]),
    )


def grid_table_from_ntv2(spark: SparkSession, path: str) -> DataFrame:
    """A parsed NTv2 grid as the (row, col, lat_shift_usec,
    lon_shift_usec) table the distributed join consumes — row 0 at
    the SOUTH edge (join-space orientation), shifts in integer
    micro-arc-seconds.  Real grids are <1M rows (OSTN15: 877k), so
    the table broadcasts; it is built driver-side from the file once
    and shipped, never collected back."""
    g = read_ntv2(path)
    nr, nc = g.shape
    rows = []
    for r in range(nr):
        for c in range(nc):
            rows.append(
                (
                    r,
                    c,
                    int(round(g.lat_shift[nr - 1 - r, c] * 1e6)),
                    int(round(g.lon_shift[nr - 1 - r, c] * 1e6)),
                )
            )
    return spark.createDataFrame(
        rows, "row INT, col INT, lat_shift_usec LONG, lon_shift_usec LONG"
    )


# ---------------------------------------------------------------------------
# ETRS89 / British National Grid TM (OSGM15 method step 1): plain
# Krueger TM on GRS80 with the OSGB projection constants. The TOWGS84
# is the identity, but the TMD datum stage still runs (WGS84 geodetic
# -> geocentric -> Helmert -> GRS80 geodetic): the WGS84 -> GRS80
# ellipsoid swap moves points by about 0.10 mm, so it is not a
# passthrough.

ETRS89_TM = srs.TMD(
    a=6378137.0,
    f=1.0 / 298.257222101,
    k0=0.9996012717,
    lat0=49.0,
    lon0=-2.0,
    fe=400000.0,
    fn=-100000.0,
    towgs84=(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
)

# Synthetic OSTN15-shaped shift grid over the projected plane.
# Real OSTN15: 1 km cells, E 0..700 km, N 0..1250 km.  The gate grid
# uses 50 km cells over a margin-padded domain so the sf0.01 oracle
# join stays light; the JOIN SHAPE (the scale-relevant part) is
# identical, the cell size is a constructor-style constant.
GS_E0_DM = -12_000_000  # grid E origin, decimeters (-1 200 km)
GS_N0_DM = -22_000_000  # grid N origin, decimeters (-2 200 km)
GS_CS_DM = 500_000  # cell size, decimeters (50 km)
GS_NC = 60  # columns -> E max +1 800 km
GS_NR = 100  # rows   -> N max +2 800 km
GS_OFF = 1_000_000  # positivity offset for exact integer division

# Node shift values, millimeters, integer formulas (smooth trend +
# deterministic rough term; OSTN15-like ~+90 m E / ~-55 m N):
SE_NODE_SQL = "(91000 + 137 * col - 89 * row + ((row * 31 + col * 17) % 211) * 9)"
SN_NODE_SQL = "(-68000 + 113 * row + 71 * col + ((row * 13 + col * 41) % 197) * 7)"


def se_node_np(row, col):
    row = np.asarray(row, np.int64)
    col = np.asarray(col, np.int64)
    return 91000 + 137 * col - 89 * row + ((row * 31 + col * 17) % 211) * 9


def sn_node_np(row, col):
    row = np.asarray(row, np.int64)
    col = np.asarray(col, np.int64)
    return -68000 + 113 * row + 71 * col + ((row * 13 + col * 41) % 197) * 7


def shift_grid_df(spark: SparkSession) -> DataFrame:
    """The synthetic shift grid as a table — built with
    explode(sequence()) (NOT crossJoin(broadcast): that is a BNLJ,
    the CLAUDE.md trap) and small enough to broadcast."""
    return spark.range(GS_NR * GS_NC).selectExpr(
        f"cast(id div {GS_NC} as int) AS row",
        f"cast(id % {GS_NC} as int) AS col",
    ).selectExpr(
        "row",
        "col",
        f"cast({SE_NODE_SQL} as bigint) AS se_node",
        f"cast({SN_NODE_SQL} as bigint) AS sn_node",
    )


# Integer cell/fraction stages shared by both engines, over dm-floored
# projected coordinates e_dm/n_dm (the proven osgb_corners
# quantization).  Everything below the floor is exact int64 in both
# engines: non-negative integer division (truncation == floor) and
# 1024-step fixed-point weights that sum to 1024^2 exactly.
_CELL_STAGES: list[tuple[str, str]] = [
    ("rel_e", f"(e_dm - ({GS_E0_DM}))"),
    ("rel_n", f"(n_dm - ({GS_N0_DM}))"),
    ("c0", f"least(greatest(rel_e // {GS_CS_DM}, 0), {GS_NC - 2})"),
    ("r0", f"least(greatest(rel_n // {GS_CS_DM}, 0), {GS_NR - 2})"),
    ("fx_k", f"least(greatest((rel_e - c0 * {GS_CS_DM}) * 1024 // {GS_CS_DM}, 0), 1024)"),
    ("fy_k", f"least(greatest((rel_n - r0 * {GS_CS_DM}) * 1024 // {GS_CS_DM}, 0), 1024)"),
]


def _cell_stages(dialect: str) -> list[tuple[str, str]]:
    if dialect == "spark":
        return [(c, e.replace("//", "div")) for c, e in _CELL_STAGES]
    return list(_CELL_STAGES)


# corner weight given (dc, dr) offsets — integer, in [0, 1024]^2
_W_SQL = (
    "cast((CASE WHEN dc = 0 THEN 1024 - fx_k ELSE fx_k END) AS bigint) * "
    "cast((CASE WHEN dr = 0 THEN 1024 - fy_k ELSE fy_k END) AS bigint)"
)


def osgb_gridshift(images: DataFrame) -> DataFrame:
    """(image_id, corner, e_dm, n_dm, se_mm, sn_mm, e_fin_mm,
    n_fin_mm): footprint corners projected ETRS89->TM(GRS80, BNG
    constants), then grid-shift corrected by the four-node bilinear
    equi-join (nadgrids dataflow, ogrct.cpp:1306).  Plan shape:
    map-only projection -> explode(4) -> BROADCAST hash equi-join on
    (row, col) -> partial-aggregated weighted sum.  No cartesian, no
    Python, no collect.  The grid table holds E/N shifts in mm, not
    the lat/lon arc-second shifts grid_table_from_ntv2 emits."""
    from .operators.reproject import (
        OSGB_DOMAIN_SQL, _staged_corners, _with_stages,
    )

    df = _with_stages(
        _staged_corners(
            images, OSGB_DOMAIN_SQL, srs.tmd_stage_list(ETRS89_TM, "spark")
        ),
        _cell_stages("spark"),
    )
    corners = df.selectExpr(
        "*",
        "explode(array(named_struct('dc', 0, 'dr', 0), "
        "named_struct('dc', 1, 'dr', 0), named_struct('dc', 0, 'dr', 1), "
        "named_struct('dc', 1, 'dr', 1))) AS off",
    ).selectExpr(
        "image_id", "corner", "e_dm", "n_dm", "fx_k", "fy_k",
        "cast(c0 + off.dc as int) AS col",
        "cast(r0 + off.dr as int) AS row",
        "off.dc AS dc", "off.dr AS dr",
    )
    joined = corners.join(
        F.broadcast(shift_grid_df(corners.sparkSession)), ["row", "col"]
    ).selectExpr(
        "image_id", "corner", "e_dm", "n_dm",
        f"({_W_SQL}) * (se_node + {GS_OFF}) AS we",
        f"({_W_SQL}) * (sn_node + {GS_OFF}) AS wn",
    )
    return (
        joined.groupBy("image_id", "corner", "e_dm", "n_dm")
        .agg(
            F.expr(f"sum(we) div 1048576 - {GS_OFF}").alias("se_mm"),
            F.expr(f"sum(wn) div 1048576 - {GS_OFF}").alias("sn_mm"),
        )
        .selectExpr(
            "image_id", "corner", "e_dm", "n_dm", "se_mm", "sn_mm",
            "e_dm * 100 + se_mm AS e_fin_mm",
            "n_dm * 100 + sn_mm AS n_fin_mm",
        )
    )


def oracle_osgb_gridshift(n: int) -> str:
    """DuckDB twin: same stage list, same integer grid join."""
    from .operators.reproject import (
        OSGB_DOMAIN_SQL, _oracle_staged_corner_ctes, _stage_ctes,
    )

    stages, prev = _oracle_staged_corner_ctes(
        n, OSGB_DOMAIN_SQL, srs.tmd_stage_list(ETRS89_TM, "duckdb")
    )
    cell, prev = _stage_ctes(prev, "g", _cell_stages("duckdb"))
    stages += cell
    stages.append(
        f"grid AS MATERIALIZED (SELECT row, col, "
        f"cast({SE_NODE_SQL} as bigint) AS se_node, "
        f"cast({SN_NODE_SQL} as bigint) AS sn_node "
        f"FROM (SELECT r.r AS row, c.c AS col FROM range(0, {GS_NR}) r(r), "
        f"range(0, {GS_NC}) c(c)))"
    )
    stages.append(
        f"crn AS MATERIALIZED (SELECT p.image_id, p.corner, p.e_dm, "
        f"p.n_dm, p.fx_k, p.fy_k, o.dc, o.dr, "
        f"cast(p.c0 + o.dc as int) AS col, cast(p.r0 + o.dr as int) AS row "
        f"FROM {prev} p, (SELECT unnest([0, 1, 0, 1]) AS dc, "
        f"unnest([0, 0, 1, 1]) AS dr) o)"
    )
    stages.append(
        f"wsum AS MATERIALIZED (SELECT image_id, corner, e_dm, n_dm, "
        f"cast(sum(({_W_SQL}) * (g.se_node + {GS_OFF})) as bigint) AS swe, "
        f"cast(sum(({_W_SQL}) * (g.sn_node + {GS_OFF})) as bigint) AS swn "
        f"FROM crn JOIN grid g USING (row, col) "
        f"GROUP BY image_id, corner, e_dm, n_dm)"
    )
    return (
        "WITH " + ", ".join(stages)
        + f" SELECT image_id, corner, e_dm, n_dm, "
        f"cast(swe // 1048576 - {GS_OFF} as bigint) AS se_mm, "
        f"cast(swn // 1048576 - {GS_OFF} as bigint) AS sn_mm, "
        f"cast(e_dm * 100 + swe // 1048576 - {GS_OFF} as bigint) AS e_fin_mm, "
        f"cast(n_dm * 100 + swn // 1048576 - {GS_OFF} as bigint) AS n_fin_mm "
        f"FROM wsum"
    )
