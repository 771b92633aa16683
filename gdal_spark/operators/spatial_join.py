"""Point-in-polygon spatial join: cell-prefix equi-prefilter + exact
even-odd ray-cast refine.

Reference semantics: OGRLayer::FilterGeometry
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:1445) — envelope prefilter, then
exact geometry test — and the layer-algebra joins (ogrlayer.cpp:2278
Intersection etc.) which push the method layer's bbox into the input
layer scan. The even-odd parity rule matches GDAL's scanline fill
(alg/llrasterize.cpp:76).

Spark shape (scale-first):

1. polygons -> every geodetic cell their envelope covers at ONE
   level, ``JOIN_ZOOM``, exploded to (cell_id, poly row) in Catalyst
   (``cells.env_cell_explode``). The polygon side is usually the small
   side -> broadcast; above ``BROADCAST_MAX_ROWS`` cover rows it
   shuffles.
2. points (the big table) -> exactly one cell each, at ``JOIN_ZOOM``,
   from ``assign_cells`` — the same SQL encoder that built the cover
   corners, so a point inside a polygon's envelope lands in one of its
   cover cells by construction. No explode on the point side.
3. equi-join on cell_id -> candidate pairs.
4. exact refine, JVM-side, in two branches each joined against its
   own broadcast. Rectangle polygons, and cover rows whose cell lies
   wholly inside the polygon, pass on the envelope test alone; rows
   whose cell lies wholly outside are dropped. The rest carry two
   16-bit masks over their cell's 4 x 4 sub-cells at ``SUB_ZOOM``
   (inside / touched by an edge, built per polygon in numpy at cover
   build): a point in an inside or outside sub-cell is settled by a
   codegen'd bit test, and only a point in a boundary sub-cell runs the
   even-odd ray cast, a Catalyst higher-order expression over edge
   arrays pre-decoded at cover build (``pip_parity_expr``); each row's
   array keeps only the edges that reach its cell's row band and west
   side, the only ones a ray from the cell can cross. Exactness:
   sub-cells and the edge clip are widened by ``SUB_MARGIN``; a NULL,
   NaN or out-of-domain point (clipped by the encoder into an edge
   cell) always ray-casts; rows move or drop, and edges are clipped,
   only when the polygon's envelope lies in the domain. No Python
   worker and no Arrow transfer in the probe; the Arrow numpy kernel
   survives only in ``spatial_join_bruteforce``, the test oracle.

At 100 TB: stage 2 is map-only; the only shuffle is the equi-join
(avoided entirely when the polygon side broadcasts); AQE skew-join
splits dense cells. The build side grows with polygon area: a z6 cell
is 2.8 deg wide, so a world-sized envelope costs all 8,192 z6 cells
(replicating the small side to one level, after *Parallel Spatial Join
Processing with Adaptive Replication*, EDBT 2025; a per-polygon zoom
in [3, 6] measured 0.6% fewer cover rows on the 2048-polygon layer).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from .. import geom as geom_mod
from .. import grid, wkb
from ..synth import flit
from .cells import assign_cells, env_cell_explode, geodetic_tile_sql

JOIN_ZOOM = 6  # the one cover level; points are assigned cells here
BROADCAST_MAX_ROWS = 2_000_000  # exploded cover rows; above it, shuffle
ENV_COLS = ["env_x0", "env_y0", "env_x1", "env_y1"]
# each cover row carries inside/boundary masks over its cell's sub-cells
# at SUB_ZOOM; +2 gives 4 x 4, so both 16-bit masks pack in one bigint
SUB_ZOOM = JOIN_ZOOM + 2
SUB = 1 << (SUB_ZOOM - JOIN_ZOOM)  # sub-cells per cell side
SUB_N = SUB * SUB  # bits per mask
SUB_FULL = (1 << SUB_N) - 1
SUB_BITS = np.int64(1) << np.arange(SUB_N, dtype=np.int64)
SUB_MARGIN = 1e-9  # deg a sub-cell is widened by before the edge test
# the encoder's domain: it clips a point outside it into an edge cell
IN_DOMAIN = (
    "{x0} >= -180.0E0 AND {x1} <= 180.0E0 AND {y0} >= -90.0E0 AND {y1} <= 90.0E0"
)


def polygon_cells(polys: DataFrame) -> DataFrame:
    """Explode polygons to the geodetic cells their envelope covers at
    ``JOIN_ZOOM``. Output: polygon columns, the envelope
    (``ENV_COLS``), ``is_rect``, a pre-decoded edge array
    ([x1,y1,x2,y2] per edge, all rings — holes flip parity; NULL for
    rectangles) so the refine runs as a JVM higher-order expression
    with no WKB decode and no Arrow transfer, ``cell_id``, and the
    cell's 16-bit sub-cell masks ``sub_in`` / ``sub_edge``
    (``_cell_masks``; NULL for rectangles and non-finite polygons).
    Python decodes each polygon once and classifies its envelope cells
    in one numpy pass into a ``cell_id -> mask`` map; the per-cell rows
    come from a Catalyst explode, and ``element_at`` picks each row's
    masks out of its polygon's map."""
    out_schema = T.StructType(
        polys.schema.fields
        + [T.StructField(c, T.DoubleType(), False) for c in ENV_COLS]
        + [
            T.StructField("is_rect", T.BooleanType(), False),
            T.StructField(
                "edges", T.ArrayType(T.ArrayType(T.DoubleType())), True
            ),
            T.StructField(
                "masks", T.MapType(T.LongType(), T.LongType(), False), True
            ),
        ]
    )

    def decode(batches):
        for pdf in batches:
            geoms = [bytes(g) for g in pdf["geom_wkb"]]
            env = np.array([wkb.envelope(g) for g in geoms]).reshape(-1, 4)
            rect = [_is_rectangle(g) for g in geoms]
            edges = [None if r else _edges(g) for g, r in zip(geoms, rect)]
            with np.errstate(divide="ignore", invalid="ignore"):
                tx, ty = grid.lonlat_to_tile_geodetic(
                    env[:, [0, 2]], env[:, [1, 3]], JOIN_ZOOM
                )
                masks = [
                    None if e is None else _cell_masks(e, *tx[k], *ty[k])
                    for k, e in enumerate(edges)
                ]
            yield pdf.assign(
                **dict(zip(ENV_COLS, env.T)),
                is_rect=rect,
                edges=[None if e is None else e.tolist() for e in edges],
                masks=masks,
            )

    m = "element_at(masks, cell_id)"
    return env_cell_explode(
        polys.mapInPandas(decode, schema=out_schema), "env_", 0.0, JOIN_ZOOM
    ).withColumns(
        {
            "sub_in": F.expr(f"cast({m} & {SUB_FULL} as int)"),
            "sub_edge": F.expr(f"cast(shiftright({m}, {SUB_N}) as int)"),
        }
    ).drop("masks")


def _edges(geom_wkb: bytes) -> np.ndarray:
    """All ring edges of a polygon as an (E, 4) [x1, y1, x2, y2] array
    (rings opened; every ring contributes — even-odd parity handles
    holes)."""
    out = []
    for ring in wkb.polygon_rings(geom_wkb):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        out.append(np.concatenate([r, np.roll(r, -1, axis=0)], axis=1))
    return np.concatenate(out).reshape(-1, 4)


def _cell_masks(edges: np.ndarray, tx0, tx1, ty0, ty1) -> dict | None:
    """``cell_id -> sub_in | sub_edge << SUB_N`` for every ``JOIN_ZOOM``
    cell (tx0..tx1, ty0..ty1) of a polygon's envelope cover, each split
    into SUB x SUB sub-cells at ``SUB_ZOOM`` (bit ``sy * SUB + sx``).
    Run under ``np.errstate(divide="ignore", invalid="ignore")``: a
    horizontal edge's x-intercept divides by zero, and its ray-cast
    condition is false, as in the ray cast. A sub-cell is a
    boundary sub-cell when an edge touches it widened by
    ``SUB_MARGIN`` (separating-axis test: the edge's bbox, then its
    line); otherwise every point in it has the parity of its centre,
    ray-cast in ``pip_parity_expr``'s op order, and it is inside when
    that parity is odd. The margin keeps both answers exact for any
    point the encoder puts in the sub-cell: such a point is more than
    ``SUB_MARGIN`` from every edge, far above the ray cast's rounding
    error (about 1e-13 deg). None (ray-cast every point) for
    non-finite coordinates."""
    if not np.isfinite(edges).all():
        return None
    w = 180.0 / 2**SUB_ZOOM  # sub-cell side, deg; centres below are exact
    cx = -180.0 + (np.arange(tx0 * SUB, (tx1 + 1) * SUB)[:, None] + 0.5) * w
    cy = -90.0 + (np.arange(ty0 * SUB, (ty1 + 1) * SUB)[:, None] + 0.5) * w
    ex1, ey1, ex2, ey2 = edges.T
    h = w / 2 + SUB_MARGIN
    # (column, edge) and (row, edge) terms: bbox overlap, and each
    # axis' share of n . (c - p1) with n = (y1 - y2, x2 - x1)
    xov = (np.minimum(ex1, ex2) <= cx + h) & (np.maximum(ex1, ex2) >= cx - h)
    yov = (np.minimum(ey1, ey2) <= cy + h) & (np.maximum(ey1, ey2) >= cy - h)
    ax = (ey1 - ey2) * (cx - ex1)
    ay = (ex2 - ex1) * (cy - ey1)
    r = (np.abs(ey1 - ey2) + np.abs(ex2 - ex1)) * h
    cond = (ey1 > cy) != (ey2 > cy)
    xint = (ex2 - ex1) * (cy - ey1) / (ey2 - ey1) + ex1
    # (row, column, edge), a band of rows at a time
    ny, nx = len(cy), len(cx)
    edge = np.empty((ny, nx), dtype=bool)
    odd = np.empty((ny, nx), dtype=bool)
    step = max(1, (1 << 20) // (nx * len(edges)))
    for j in range(0, ny, step):
        s = slice(j, j + step)
        edge[s] = (
            yov[s, None] & xov & (np.abs(ay[s, None] + ax) <= r)
        ).any(axis=2)
        odd[s] = np.logical_xor.reduce(cond[s, None] & (cx < xint[s, None]), axis=2)

    def pack(a):  # bit sy * SUB + sx of each cell's (sy, sx) sub-cell
        return a.reshape(ny // SUB, SUB, nx // SUB, SUB).transpose(0, 2, 1, 3).reshape(
            ny // SUB, nx // SUB, SUB_N
        ) @ SUB_BITS

    cells = grid.pack_cell(
        JOIN_ZOOM, np.arange(tx0, tx1 + 1), np.arange(ty0, ty1 + 1)[:, None]
    )
    masks = pack(odd & ~edge) | pack(edge) << SUB_N
    return dict(zip(cells.ravel().tolist(), masks.ravel().tolist()))


def pip_parity_expr(lon_col: str, lat_col: str, edges_col: str = "edges") -> str:
    """Even-odd ray cast as a Catalyst higher-order expression over a
    pre-decoded edge array — the EXACT op sequence of
    geom.points_in_rings (cond on (y1>py)!=(y2>py); px < x-intercept),
    so results are bit-identical to the numpy kernel while staying
    entirely JVM-side (no Python workers in the hot path). A
    horizontal edge divides by zero -> NULL condition -> parity
    unchanged, matching the numpy kernel's cond mask.

    Measured alternatives (r4, 6M imgs / 8 cores, geom branch only):
    this nested-edge aggregate 8.7 s; the same walk over a FLAT
    [x1,y1,x2,y2,...] array via aggregate-over-indices 2.4x slower
    (4 element_at + index arithmetic per edge); an UNROLLED
    max_edges-wide sum-of-CASE codegen predicate 3x slower (the giant
    predicate exceeds what Janino/JIT handles and degrades to
    interpreted eval of 4*max_edges polymorphic element_ats). The
    higher-order aggregate is the fastest JVM representation."""
    return (
        f"aggregate({edges_col}, false, (acc, e) -> "
        f"CASE WHEN ((e[1] > {lat_col}) != (e[3] > {lat_col})) "
        f"AND {lon_col} < (e[2] - e[0]) * ({lat_col} - e[1]) "
        f"/ (e[3] - e[1]) + e[0] "
        f"THEN NOT acc ELSE acc END)"
    )


def _is_rectangle(geom_wkb: bytes) -> bool:
    """True iff the polygon IS its envelope (single axis-aligned
    rectangular ring) — then the bbox test is exact and the ray cast
    can be skipped (the m_bFilterIsEnvelope fast path of
    OGRLayer::FilterGeometry)."""
    rings = wkb.polygon_rings(geom_wkb)
    if len(rings) != 1:
        return False
    r = np.asarray(rings[0], dtype=np.float64)
    if len(r) >= 2 and (r[0] == r[-1]).all():
        r = r[:-1]
    if len(r) != 4:
        return False
    xs, ys = np.unique(r[:, 0]), np.unique(r[:, 1])
    if len(xs) != 2 or len(ys) != 2:
        return False
    # require axis-aligned alternating edges (dx==0 xor dy==0 per
    # edge): excludes bowtie orderings of the 4 corner points, whose
    # even-odd interior is NOT the envelope
    d = np.roll(r, -1, axis=0) - r
    return bool(np.all((d[:, 0] == 0) ^ (d[:, 1] == 0)))


def prepare_spatial_join(
    polys: DataFrame,
    poly_count_hint: int | None = None,
    poly_cols: list[str] | None = None,
) -> "PreparedSpatialJoin":
    """Build the polygon side of the PIP join ONCE (``JOIN_ZOOM`` cell
    cover with its sub-cell masks + localCheckpoint, whose job also
    counts it + broadcast hints) and return a reusable prober. The
    rectangle table holds rectangle polygons' rows and rows whose cell
    lies wholly inside their polygon; the geom table holds the other
    rows except those wholly outside, with masks and the edges a ray
    from the row's cell can cross. A row moves or drops, and its edges
    are clipped, only when its polygon's envelope lies in the domain.

    A production pipeline joins a static polygon layer against many
    point batches; preparing the layer amortizes the cover build and
    its count action across every probe. That driver-side serial
    prefix idles (cores-1)/cores of the cluster per batch — exactly
    the Amdahl term that erodes N->4N scaling on short batches
    (profiled: ~1 s of a 20 s 32-core leg before this split)."""
    poly_cols = poly_cols or [c for c in polys.columns if c != "geom_wkb"]

    # when the polygon count is known, right-size the cover build's
    # task count BEFORE the Python decode UDF: a tiny dim layer
    # inherited from a wide leaf (leafNodeDefaultParallelism) otherwise
    # lands ~16 rows per task and the stage is pure Python-worker
    # round-trip churn (profiled: 128 tasks / 83 core-s for 2048 polys
    # at 32 cores). ~128 polys per task keeps the per-task UDF work
    # well above the worker dispatch cost; coalesce is narrow (no
    # shuffle) and a genuinely large layer keeps full parallelism.
    polys_src = polys
    if poly_count_hint is not None:
        par = polys.sparkSession.sparkContext.defaultParallelism
        polys_src = polys.coalesce(max(1, min(poly_count_hint // 128 + 1, par)))
    # the exploded polygon side feeds two broadcast builds ->
    # localCheckpoint so the decode UDF runs once, not once per
    # branch; unlike persist(), the checkpoint blocks release
    # automatically when the RDD is unreferenced (no cache
    # accumulation across repeated calls). The checkpoint job also
    # counts the cover (an observed metric), which decides broadcast vs
    # shuffle without a second job.
    obs = Observation()
    pcells = (
        polygon_cells(polys_src)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    # rectangle polygons: the envelope test IS the exact test
    # (m_bFilterIsEnvelope, ogrlayer.cpp) -> a branch whose broadcast
    # carries no edge arrays and whose rows skip the ray cast
    # (A local-relation dim variant — pre-collecting the cover to the
    # driver so broadcast builds skip the distributed scan — was
    # measured 2x WORSE per pass (1.1 s vs 0.6 s fixed cost at 32
    # cores): the driver re-serializes the 42k Python-side rows into
    # every execution.  Negative result recorded in
    # BENCH/PROFILE_r4.md; the checkpointed distributed cover stays.)
    # A cover row whose cell lies wholly inside its polygon needs no
    # ray cast either (-> the rectangle table), and one wholly outside
    # pairs nothing (dropped) -- but only when the envelope lies in the
    # domain: the encoder clips an out-of-domain point into an edge
    # cell, and there the cell's in-domain class says nothing about it.
    dom = IN_DOMAIN.format(x0="env_x0", y0="env_y0", x1="env_x1", y1="env_y1")
    whole_in = f"coalesce({dom} AND sub_in = {SUB_FULL}, false)"
    whole_out = f"coalesce({dom} AND sub_in = 0 AND sub_edge = 0, false)"
    rect_cells = pcells.filter(f"is_rect OR {whole_in}").select(
        "cell_id", *ENV_COLS, *poly_cols
    )
    # A point reaches the ray cast only in its own cell, so a geom row
    # keeps only the edges a ray from that cell can cross: those
    # reaching the cell's row band and its west side, widened by
    # SUB_MARGIN (again only when the envelope lies in the domain).
    # The cell's south-west corner unpacks cell_id_sql's tile indices.
    cw = 180.0 / 2**JOIN_ZOOM
    xy = (1 << 29) - 1
    cx0 = f"(cast(shiftright(cell_id, 29) & {xy} as double) * {flit(cw)} - 180.0E0)"
    cy0 = f"(cast(cell_id & {xy} as double) * {flit(cw)} - 90.0E0)"
    m = flit(SUB_MARGIN)
    near = (
        f"filter(edges, e -> greatest(e[1], e[3]) >= {cy0} - {m} "
        f"AND least(e[1], e[3]) <= {cy0} + {flit(cw)} + {m} "
        f"AND greatest(e[0], e[2]) >= {cx0} - {m})"
    )
    geom_cells = pcells.filter(f"NOT (is_rect OR {whole_in} OR {whole_out})").select(
        "cell_id",
        F.expr(f"CASE WHEN {dom} AND sub_in IS NOT NULL THEN {near} ELSE edges END")
        .alias("edges"),
        "sub_in", "sub_edge", *ENV_COLS, *poly_cols,
    )
    if obs.get["rows"] <= BROADCAST_MAX_ROWS:
        rect_cells = F.broadcast(rect_cells)
        geom_cells = F.broadcast(geom_cells)
    return PreparedSpatialJoin(rect_cells, geom_cells, pcells, poly_cols)


def point_cells(points: DataFrame, point_cols: list[str]) -> DataFrame:
    """The probe's point side, on a narrow projection: each point's one
    cell at ``JOIN_ZOOM`` and ``sub_bit``, the mask bit of its
    ``SUB_ZOOM`` sub-cell in that cell. The sub-cell comes from the
    same encoder at a power-of-two finer scale, so it falls inside the
    cell. ``sub_bit`` is NULL (ray-cast) for a NULL, NaN or
    out-of-domain point, which the encoder clipped into an edge cell."""
    sub = {
        f"s{a}": F.expr(
            f"{geodetic_tile_sql('lon', 'lat', SUB_ZOOM, a)} - {SUB} * tile_{a}"
        )
        for a in "xy"
    }
    pt_dom = IN_DOMAIN.format(x0="lon", x1="lon", y0="lat", y1="lat")
    sub_bit = (
        f"CASE WHEN {pt_dom} AND sx BETWEEN 0 AND {SUB - 1} "
        f"AND sy BETWEEN 0 AND {SUB - 1} "
        f"THEN shiftleft(1, cast(sy * {SUB} + sx as int)) END"
    )
    pts = assign_cells(points, JOIN_ZOOM, grid_kind="geodetic").withColumns(sub)
    return pts.select(
        "lon", "lat", *point_cols, "cell_id", F.expr(sub_bit).alias("sub_bit")
    )


class PreparedSpatialJoin:
    """The polygon side of a PIP join, prepared once and probed many
    times (see ``prepare_spatial_join``). Holds the checkpointed cell
    cover ``all_cells`` (every envelope cell, masks included; the
    reference keeps its blocks alive), its one cover level
    ``zs = [JOIN_ZOOM]`` and the broadcast-hinted branch tables
    ``rect_cells`` (envelope test only) and ``geom_cells`` (mask bit
    test, ray cast in boundary sub-cells over the edges clipped to the
    cell); ``probe`` is pure plan
    construction — no driver-side actions."""

    def __init__(self, rect_cells, geom_cells, all_cells, poly_cols):
        self.rect_cells = rect_cells
        self.geom_cells = geom_cells
        self.all_cells = all_cells
        self.zs = [JOIN_ZOOM]
        self.poly_cols = poly_cols

    def probe(
        self, points: DataFrame, point_cols: list[str] | None = None
    ) -> DataFrame:
        """Inner PIP join of ``points`` (with ``lon, lat`` columns)
        against the prepared polygon layer: rows = (point, polygon)
        pairs where the point lies inside the polygon (even-odd
        rule)."""
        point_cols = point_cols or [
            c for c in points.columns if c not in ("lon", "lat")
        ]

        pts = point_cells(points, point_cols)
        # envelope reject, JVM-side (FilterGeometry's bbox fast path,
        # ogrlayer.cpp:1468) — cuts the refine input before the ray cast
        def bbox(df: DataFrame) -> DataFrame:
            return df.filter(
                (F.col("lon") >= F.col("env_x0"))
                & (F.col("lon") <= F.col("env_x1"))
                & (F.col("lat") >= F.col("env_y0"))
                & (F.col("lat") <= F.col("env_y1"))
            )

        out_cols = ["lon", "lat", *point_cols, *self.poly_cols]
        rect_out = bbox(
            pts.join(self.rect_cells, "cell_id", "inner")
        ).select(*out_cols)
        # two probes (rect codegen fast path / edge-walk refine), each
        # against its own narrow broadcast: the point generation is
        # re-run per branch but is pure codegen (cheap); keeping the
        # rectangle majority out of the interpreted refine dominates
        # (a single fused probe over one broadcast measured 1.5x
        # slower; one shared broadcast for both branches was a
        # negative result, BENCH/PROFILE_r4.md par.6). The HEAVY
        # refine branch goes first in the union: both branches run in
        # one stage in partition order, so heavy-first lets the cheap
        # rect tasks fill the scheduler tail instead of an all-heavy
        # final wave (profiled 4.5x task-duration spread in the
        # combined stage at 32 cores).
        # only a point in a boundary sub-cell runs the interpreted ray
        # cast; the mask bit settles the rest (a NULL mask or bit falls
        # through to the ray cast)
        cand = bbox(pts.join(self.geom_cells, "cell_id", "inner"))
        refined = cand.filter(
            "CASE WHEN (sub_edge & sub_bit) = 0 THEN (sub_in & sub_bit) != 0 "
            f"ELSE {pip_parity_expr('lon', 'lat')} END"
        )
        return refined.select(*out_cols).unionAll(rect_out)


def spatial_join(
    points: DataFrame,
    polys: DataFrame,
    poly_count_hint: int | None = None,
    point_cols: list[str] | None = None,
    poly_cols: list[str] | None = None,
) -> DataFrame:
    """Inner PIP join: rows = (point, polygon) pairs where the point
    lies inside the polygon (even-odd rule). The exact ray cast is a
    Catalyst higher-order expression over pre-decoded edge arrays, so
    the whole join stays JVM-side with zero Arrow traffic.

    One-shot convenience over prepare_spatial_join().probe(); repeated
    probes against the same layer should prepare once."""
    return prepare_spatial_join(
        polys, poly_count_hint=poly_count_hint, poly_cols=poly_cols
    ).probe(points, point_cols=point_cols)


def spatial_join_bruteforce(
    points: DataFrame,
    polys: DataFrame,
    point_cols: list[str] | None = None,
    poly_cols: list[str] | None = None,
) -> DataFrame:
    """Cross-join + exact refine — the oracle for tests: no cell
    prefilter, and the ray cast runs in the numpy kernel
    (geom.points_in_wkb) through a vectorized pandas UDF that
    factorizes geometries per Arrow batch, so each polygon's points
    are tested in one numpy pass."""

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series, geom: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        if len(lon):
            codes, uniques = pd.factorize(geom)
            px = lon.values.astype(np.float64)
            py = lat.values.astype(np.float64)
            for code, g in enumerate(uniques):
                mask = codes == code
                out[mask] = geom_mod.points_in_wkb(px[mask], py[mask], bytes(g))
        return pd.Series(out)

    point_cols = point_cols or [
        c for c in points.columns if c not in ("lon", "lat")
    ]
    poly_cols = poly_cols or [c for c in polys.columns if c != "geom_wkb"]
    cand = points.select("lon", "lat", *point_cols).crossJoin(
        F.broadcast(polys.select("geom_wkb", *poly_cols))
    )
    return cand.filter(pip(F.col("lon"), F.col("lat"), F.col("geom_wkb"))).select(
        "lon", "lat", *point_cols, *poly_cols
    )
