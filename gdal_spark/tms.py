"""OGC TileMatrixSet custom profiles (gcore/tilematrixset.cpp).

Round 1 supported only the two built-in grids (WebMercator/Geodetic,
gdal_spark.grid). This module parses the OGC TileMatrixSet JSON shape
— per-level scaleDenominator, topLeftCorner, tileWidth/Height,
matrixWidth/Height — into a vectorized tile-index function plus a
dual-dialect SQL fragment, so ANY profile (non-256 tiles, non-global
origins, arbitrary resolutions) drives the same cell machinery.

Conventions match the reference:
- resolution = scaleDenominator * 0.28e-3 / metersPerUnit
  (tilematrixset.cpp:268 — the OGC standardized 0.28 mm pixel),
- tile indices count from the topLeftCorner, y DOWN:
  tx = floor((x - tlx) / (res * tileWidth)),
  ty = floor((tly - y) / (res * tileHeight)), clipped to the matrix.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

OGC_PIXEL = 0.28e-3  # standardized rendering pixel size in meters


@dataclass(frozen=True)
class TileMatrix:
    id: str
    scale_denominator: float
    top_left: tuple[float, float]
    tile_width: int
    tile_height: int
    matrix_width: int
    matrix_height: int
    meters_per_unit: float = 1.0
    # variableMatrixWidth entries as (coalesce, min_row, max_row) —
    # TMS 2.0 polar-row coalescing (tilematrixset.cpp:283; consumed as
    # nX = (nX / coalesce) * coalesce per row,
    # gdalogcapidataset.cpp:2197 GetCoalesceFactorForRow + :2242)
    variable_matrix_widths: tuple[tuple[int, int, int], ...] = ()

    @property
    def res(self) -> float:
        return self.scale_denominator * OGC_PIXEL / self.meters_per_unit

    def coalesce_for_row(self, row: int) -> int:
        """First matching range wins, default 1 (the reference's
        GetCoalesceFactorForRow)."""
        for c, lo, hi in self.variable_matrix_widths:
            if lo <= row <= hi:
                return c
        return 1

    def tile_of(self, x, y):
        """Vectorized (x, y) CRS coords -> (tx, ty), clipped; with
        variableMatrixWidth the column snaps to its row's coalesce
        multiple (only every coalesce-th tile exists on that row)."""
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        spanx = self.res * self.tile_width
        spany = self.res * self.tile_height
        tx = np.floor((x - self.top_left[0]) / spanx).astype(np.int64)
        ty = np.floor((self.top_left[1] - y) / spany).astype(np.int64)
        tx = np.clip(tx, 0, self.matrix_width - 1)
        ty = np.clip(ty, 0, self.matrix_height - 1)
        vmw = self.variable_matrix_widths
        if vmw:  # first matching range wins, as in coalesce_for_row
            c = np.select(
                [(ty >= lo) & (ty <= hi) for _, lo, hi in vmw],
                [c for c, _, _ in vmw],
                1,
            )
            tx = (tx // c) * c
        return tx, ty

    def tile_sql(self, x_expr: str, y_expr: str, axis: str) -> str:
        """Dual-dialect SQL twin of tile_of (identical op sequence).
        Profiles with variableMatrixWidth must use tile_sql_xy (the
        column depends on the row)."""
        if axis == "x" and self.variable_matrix_widths:
            raise ValueError(
                "variableMatrixWidth profile: use tile_sql_xy"
            )
        from . import synth

        spanx = synth.flit(self.res * self.tile_width)
        spany = synth.flit(self.res * self.tile_height)
        tlx = synth.flit(self.top_left[0])
        tly = synth.flit(self.top_left[1])
        if axis == "x":
            t = f"cast(floor(({x_expr} - {tlx}) / {spanx}) as bigint)"
            hi = self.matrix_width - 1
        else:
            t = f"cast(floor(({tly} - ({y_expr})) / {spany}) as bigint)"
            hi = self.matrix_height - 1
        return f"greatest(0, least({hi}, {t}))"

    def tile_sql_xy(self, x_expr: str, y_expr: str) -> tuple[str, str]:
        """(tx_sql, ty_sql) with variableMatrixWidth snapping — the
        column expression branches on the row via CASE, first match
        wins (same order as coalesce_for_row). Integer ops only after
        the floors, so both engines agree bit-for-bit."""
        ty = self.tile_sql(x_expr, y_expr, "y")
        from . import synth

        spanx = synth.flit(self.res * self.tile_width)
        tlx = synth.flit(self.top_left[0])
        base = (
            f"greatest(0, least({self.matrix_width - 1}, "
            f"cast(floor(({x_expr} - {tlx}) / {spanx}) as bigint)))"
        )
        if not self.variable_matrix_widths:
            return base, ty
        whens = "".join(
            f"WHEN ({ty}) >= {lo} AND ({ty}) <= {hi} "
            f"THEN (({base}) - (({base}) % {c})) "
            for c, lo, hi in self.variable_matrix_widths
        )
        return f"(CASE {whens}ELSE ({base}) END)", ty


@dataclass(frozen=True)
class TileMatrixSet:
    identifier: str
    crs_epsg: int
    matrices: tuple[TileMatrix, ...]

    @classmethod
    def from_json(cls, doc: dict) -> "TileMatrixSet":
        """Parse the OGC TileMatrixSet JSON shape (the subset the
        reference reads: tilematrixset.cpp:232-290). TMS 2.0 allows
        the crs field as either a URI string or an object
        ({"uri": ...}); a missing metersPerUnit is derived from the
        CRS (geographic CRSes use the reference's semi-major-arc
        degree length, tilematrixset.cpp metersPerUnit handling)
        rather than silently defaulting to 1."""
        crs = doc.get("supportedCRS", doc.get("crs", ""))
        if isinstance(crs, dict):
            crs = crs.get("uri", crs.get("wkt", ""))
        tail = str(crs).rsplit("/", 1)[-1].rsplit(":", 1)[-1]
        # OGC:CRS84 is WGS84 with lon/lat axis order — the axis order
        # this engine already uses, so it maps onto 4326 directly
        epsg = 4326 if tail.upper() in ("CRS84", "84") else int(tail)
        if "metersPerUnit" in doc:
            mpu = float(doc["metersPerUnit"])
        elif epsg in (4326, 4258, 4269):  # geographic: degree units
            mpu = 6378137.0 * np.pi / 180.0  # 111319.49079327358 m/deg
        elif epsg in (4979,):
            mpu = 6378137.0 * np.pi / 180.0
        else:  # projected CRSes in this engine are metric
            mpu = 1.0
        mats = []
        for tm in doc["tileMatrices" if "tileMatrices" in doc else "tileMatrix"]:
            tl = tm["topLeftCorner"]
            # both spellings, as the reference accepts
            # (tilematrixset.cpp:283 variableMatrixWidth(s))
            vmw_doc = tm.get(
                "variableMatrixWidths", tm.get("variableMatrixWidth", [])
            )
            vmw = tuple(
                (
                    int(v["coalesce"]),
                    int(v["minTileRow"]),
                    int(v["maxTileRow"]),
                )
                for v in vmw_doc
            )
            mats.append(
                TileMatrix(
                    id=str(tm.get("id", tm.get("identifier"))),
                    scale_denominator=float(tm["scaleDenominator"]),
                    top_left=(float(tl[0]), float(tl[1])),
                    tile_width=int(tm["tileWidth"]),
                    tile_height=int(tm["tileHeight"]),
                    matrix_width=int(tm["matrixWidth"]),
                    matrix_height=int(tm["matrixHeight"]),
                    meters_per_unit=mpu,
                    variable_matrix_widths=vmw,
                )
            )
        return cls(doc.get("id", doc.get("identifier", "custom")), epsg, tuple(mats))


# A custom (non-WebMercatorQuad) profile used by the driver gate:
# 512-px tiles in EPSG:3857 with non-power-of-two resolutions and a
# non-global origin — nothing the built-in grids could express.
CUSTOM_PROFILE = {
    "id": "Custom512",
    "crs": "http://www.opengis.net/def/crs/EPSG/0/3857",
    "metersPerUnit": 1.0,
    "tileMatrices": [
        {
            "id": "0",
            "scaleDenominator": 250_000_000.0,
            "topLeftCorner": [-20037508.342789244, 20037508.342789244],
            "tileWidth": 512,
            "tileHeight": 512,
            "matrixWidth": 2,
            "matrixHeight": 2,
        },
        {
            "id": "1",
            "scaleDenominator": 62_500_000.0,
            "topLeftCorner": [-20037508.342789244, 20037508.342789244],
            "tileWidth": 512,
            "tileHeight": 512,
            "matrixWidth": 5,
            "matrixHeight": 5,
        },
        {
            "id": "2",
            "scaleDenominator": 15_625_000.0,
            "topLeftCorner": [-20037508.342789244, 20037508.342789244],
            "tileWidth": 512,
            "tileHeight": 512,
            "matrixWidth": 18,
            "matrixHeight": 18,
        },
    ],
}


# ---------------------------------------------------------------------------
# Profile registry (gcore/tilematrixset.cpp + gdal2tiles.py:271-294):
# the reference globs tms_*.json from its data directory and registers
# every parseable profile by identifier.  Same mechanism here over
# gdal_spark/data/tms/ — the checked-in JSONs are authored from the
# published OGC 17-083r2 constructions (WebMercatorQuad /
# WorldCRS84Quad / GoogleCRS84Quad annex definitions), not copied
# files.  Validation mirrors tilematrixset.cpp:258: a strictly
# decreasing, positive scaleDenominator series.

import glob as _glob
import json as _json
import os as _os


class InvalidTileMatrixSet(ValueError):
    pass


def validate(tms: "TileMatrixSet") -> "TileMatrixSet":
    """tilematrixset.cpp parse-time invariants."""
    if not tms.matrices:
        raise InvalidTileMatrixSet(f"{tms.identifier}: no tile matrices")
    last = float("inf")
    for m in tms.matrices:
        if m.scale_denominator <= 0 or m.scale_denominator >= last:
            raise InvalidTileMatrixSet(
                f"{tms.identifier}/{m.id}: invalid or non-decreasing "
                f"scale denominator series"
            )
        last = m.scale_denominator
        if min(m.tile_width, m.tile_height, m.matrix_width, m.matrix_height) <= 0:
            raise InvalidTileMatrixSet(
                f"{tms.identifier}/{m.id}: non-positive dimension"
            )
        for c, lo, hi in m.variable_matrix_widths:
            # gdalogcapidataset.cpp:1903: coalesce must be positive
            # and divide the matrix width
            if c <= 0 or m.matrix_width % c != 0:
                raise InvalidTileMatrixSet(
                    f"{tms.identifier}/{m.id}: coalesce {c} invalid for "
                    f"matrixWidth {m.matrix_width}"
                )
            if not (0 <= lo <= hi <= m.matrix_height - 1):
                raise InvalidTileMatrixSet(
                    f"{tms.identifier}/{m.id}: variableMatrixWidth row "
                    f"range [{lo}, {hi}] outside the matrix"
                )
    return tms


_TMS_DIR = _os.path.join(_os.path.dirname(__file__), "data", "tms")
_REGISTRY: dict[str, "TileMatrixSet"] | None = None


def registry() -> dict[str, "TileMatrixSet"]:
    """All registered profiles: every tms_*.json in the data dir plus
    the built-in custom profile.  Loaded once, validated on load."""
    global _REGISTRY
    if _REGISTRY is None:
        reg: dict[str, TileMatrixSet] = {}
        for path in sorted(_glob.glob(_os.path.join(_TMS_DIR, "tms_*.json"))):
            with open(path) as fh:
                doc = _json.load(fh)
            tms = validate(TileMatrixSet.from_json(doc))
            reg[tms.identifier] = tms
        reg["Custom512"] = validate(TileMatrixSet.from_json(CUSTOM_PROFILE))
        _REGISTRY = reg
    return _REGISTRY


def lookup(name: str) -> "TileMatrixSet":
    reg = registry()
    if name not in reg:
        raise KeyError(
            f"unknown TileMatrixSet {name!r}; registered: {sorted(reg)}"
        )
    return reg[name]
