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
   own broadcast: rectangle polygons pass on the envelope test alone;
   the rest run the even-odd ray cast as a Catalyst higher-order
   expression over edge arrays pre-decoded at cover build
   (``pip_parity_expr``). No Python worker and no Arrow transfer in
   the probe; the Arrow numpy kernel survives only in
   ``spatial_join_bruteforce``, the test oracle.

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
from pyspark.sql import DataFrame, functions as F, types as T

from .. import geom as geom_mod
from .. import wkb
from .cells import assign_cells, env_cell_explode

JOIN_ZOOM = 6  # the one cover level; points are assigned cells here
BROADCAST_MAX_ROWS = 2_000_000  # exploded cover rows; above it, shuffle
ENV_COLS = ["env_x0", "env_y0", "env_x1", "env_y1"]


def polygon_cells(polys: DataFrame) -> DataFrame:
    """Explode polygons to the geodetic cells their envelope covers at
    ``JOIN_ZOOM``. Output: polygon columns, the envelope
    (``ENV_COLS``), ``is_rect``, a pre-decoded edge array
    ([x1,y1,x2,y2] per edge, all rings — holes flip parity; NULL for
    rectangles) so the refine runs as a JVM higher-order expression
    with no WKB decode and no Arrow transfer, and ``cell_id``. Python
    decodes each polygon once; the per-cell rows come from a Catalyst
    explode."""
    out_schema = T.StructType(
        polys.schema.fields
        + [T.StructField(c, T.DoubleType(), False) for c in ENV_COLS]
        + [
            T.StructField("is_rect", T.BooleanType(), False),
            T.StructField(
                "edges", T.ArrayType(T.ArrayType(T.DoubleType())), True
            ),
        ]
    )

    def decode(batches):
        for pdf in batches:
            geoms = [bytes(g) for g in pdf["geom_wkb"]]
            env = np.array([wkb.envelope(g) for g in geoms]).reshape(-1, 4)
            rect = [_is_rectangle(g) for g in geoms]
            yield pdf.assign(
                **dict(zip(ENV_COLS, env.T)),
                is_rect=rect,
                edges=[None if r else _edge_list(g) for g, r in zip(geoms, rect)],
            )

    return env_cell_explode(
        polys.mapInPandas(decode, schema=out_schema), "env_", 0.0, JOIN_ZOOM
    )


def _edge_list(geom_wkb: bytes) -> list:
    """All ring edges of a polygon as [[x1, y1, x2, y2], ...] (rings
    opened; every ring contributes — even-odd parity handles holes)."""
    out = []
    for ring in wkb.polygon_rings(geom_wkb):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]
        nxt = np.roll(r, -1, axis=0)
        out.extend(
            np.concatenate([r, nxt], axis=1).tolist()
        )
    return out


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
    cover + localCheckpoint + its row count + broadcast hints) and
    return a reusable prober.

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
    # accumulation across repeated calls)
    pcells = polygon_cells(polys_src).localCheckpoint(eager=True)
    # rectangle polygons: the envelope test IS the exact test
    # (m_bFilterIsEnvelope, ogrlayer.cpp) -> a branch whose broadcast
    # carries no edge arrays and whose rows skip the ray cast
    # (A local-relation dim variant — pre-collecting the cover to the
    # driver so broadcast builds skip the distributed scan — was
    # measured 2x WORSE per pass (1.1 s vs 0.6 s fixed cost at 32
    # cores): the driver re-serializes the 42k Python-side rows into
    # every execution.  Negative result recorded in
    # BENCH/PROFILE_r4.md; the checkpointed distributed cover stays.)
    rect_cells = pcells.filter("is_rect").select("cell_id", *ENV_COLS, *poly_cols)
    geom_cells = pcells.filter("NOT is_rect").select(
        "cell_id", "edges", *ENV_COLS, *poly_cols
    )
    # an exact count of the checkpointed cover (cheap: it reads the
    # checkpoint blocks) decides broadcast vs shuffle
    if pcells.count() <= BROADCAST_MAX_ROWS:
        rect_cells = F.broadcast(rect_cells)
        geom_cells = F.broadcast(geom_cells)
    return PreparedSpatialJoin(rect_cells, geom_cells, pcells, poly_cols)


class PreparedSpatialJoin:
    """The polygon side of a PIP join, prepared once and probed many
    times (see ``prepare_spatial_join``). Holds the checkpointed cell
    cover ``all_cells`` (the reference keeps its blocks alive), its
    one cover level ``zs = [JOIN_ZOOM]`` and the broadcast-hinted
    branch tables; ``probe`` is pure plan construction — no
    driver-side actions."""

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

        # point side: its one cell at JOIN_ZOOM, on a narrow projection
        pts = assign_cells(points, JOIN_ZOOM, grid_kind="geodetic").select(
            "lon", "lat", *point_cols, "cell_id"
        )

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
        cand = bbox(pts.join(self.geom_cells, "cell_id", "inner"))
        refined = cand.filter(F.expr(pip_parity_expr("lon", "lat")))
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
