"""The benchmark's workloads. README.md says why each was chosen.

A workload generates its inputs from the seed (``generate``), runs one
pass of public engine calls under named spans (``run_pass``, returning
the pass's exact counts), and checks a pass's counts against
independent computations (``check``).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from pathlib import Path

from pyspark.sql import Observation, functions as F

from gdal_spark import synth, tablefmt
from gdal_spark.operators import cells, tiling
from gdal_spark.operators.spatial_join import (
    prepare_spatial_join,
    spatial_join_bruteforce,
)

ASSIGN_ZOOM = 12
RENDER_ZOOM = 10
N_POLYS = 2048  # the full synth polygon layer: every polygon kind
JOIN_IMAGES = 500_000
PIPELINE_IMAGES = synth.N_IMAGES_FOR_SF["0.1"]
PIXEL_IMAGES = 1024
SAMPLE_POINTS = 64
# image ids are 'img' + lpad(i, 8): windows stay below 10**8
MAX_FIRST_ROW = 90_000_000

HEADLINE = [
    "tile_assign_merc", "spatial_join_pip", "knn_sites", "cell_density_topk",
    "pyramid_rollup", "tile_render_hot", "warp_avg_down2", "rasterize_rows",
    "dem_tiled", "minhash_lsh", "cosine_topk", "utm_corners",
    "overlay_intersection", "contour_polylines", "embedding_neardup_lsh",
    "overlay_union", "pq_topk", "grid_linear", "s2_density_topk",
    "warp_reproject_sinu", "compare_reencode", "repetition_profile",
    "exact_substring_spans", "dissolve_area", "enhance_equalize",
    "paragraph_dedup", "patchify", "semdedup", "hll_distinct", "bm25_topk",
    "str_pack", "zorder_layout", "overview_rollup_updates", "geom_buffer",
    "geodesic_measures", "dsir_select", "hex_spatial_join",
    "hex_density_topk", "hard_negatives", "dft2d", "url_canonicalize",
]
# the documents / embeddings tables of the two scale factors: the timed
# passes run at sf0.1, the oracle check at sf0.01, the only scale
# oracle_sql() is written for
HEADLINE_DATA = Path(__file__).resolve().parent / "data"


class Harness:
    """What a workload needs from the run: the session, the tracer,
    the plan guard and a work directory inside the checkout."""

    def __init__(self, spark, tracer, guard, work: Path, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.guard = guard
        self.work = work
        self.cores = cores

    def sink(self, df, checkpoint: bool = False):
        """Run ``df`` to completion, computing every column: through
        Spark's noop sink, or into an eager local checkpoint when a
        later span consumes the rows. Returns (rows, checkpointed df
        or None). The plan guard checks the execution after the pass."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        group, span = self.tracer.current_group()
        self.guard.expect(group, span, df)
        out = None
        if checkpoint:
            out = df.localCheckpoint(eager=True)
        else:
            df.write.format("noop").mode("overwrite").save()
        return obs.get["rows"], out


def image_window(spark, first: int, n: int, files: int):
    """Image metadata rows [first, first + n): synth's dual-dialect
    fragments evaluated over a seeded window of row indices."""
    return spark.range(first, first + n, 1, files).selectExpr(
        "id AS i",
        "concat('img', lpad(cast(id as string), 8, '0')) AS image_id",
    ).selectExpr(
        "i", "image_id", f"{synth.LON_EXPR} AS lon", f"{synth.LAT_EXPR} AS lat",
        f"{synth.W_EXPR} AS w", f"{synth.H_EXPR} AS h", f"{synth.FMT_EXPR} AS fmt",
        "concat('caption for ', image_id) AS caption",
    )


def check_pairs_sample(prep, imgs, polys, ids: list[int]) -> list[str]:
    """The prepared join's pairs equal the brute-force cross join's on
    a sample of points."""
    pts = imgs.filter(F.col("i").isin(ids)).select("i", "image_id", "lon", "lat")
    got = {
        (r.image_id, r.poly_id)
        for r in prep.probe(pts, point_cols=["image_id"]).collect()
    }
    want = {
        (r.image_id, r.poly_id)
        for r in spatial_join_bruteforce(
            pts, polys, point_cols=["image_id"], poly_cols=["poly_id"]
        ).collect()
    }
    if got != want:
        return [
            f"join sample: {len(got - want)} extra and {len(want - got)} "
            f"missing pairs against spatial_join_bruteforce"
        ]
    return []


class JoinBatch:
    """Tile assignment and the PIP join over a batch of images."""

    name = "join_batch"
    spans = ("cells.assign_cells", "spatial_join.prepare", "spatial_join.probe")

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.rng = random.Random(seed)
        self.n_images = self.size()
        self.first = self.rng.randrange(MAX_FIRST_ROW - self.n_images)
        self.polys = synth.polygons_df(h.spark, N_POLYS)
        self.table = self.prep = None

    @staticmethod
    def size() -> int:
        return JOIN_IMAGES

    def generate(self, dest: Path) -> None:
        image_window(self.h.spark, self.first, self.n_images, self.h.cores * 2) \
            .write.parquet(str(dest / "images"))
        self.table = str(dest / "images")

    def images(self):
        return self.h.spark.read.parquet(self.table)

    def run_pass(self) -> dict:
        h = self.h
        imgs = self.images()
        with h.tracer.span("cells.assign_cells"):
            assigned, _ = h.sink(cells.assign_cells(imgs, ASSIGN_ZOOM, "mercator"))
        with h.tracer.span("spatial_join.prepare"):
            self.prep = prep = prepare_spatial_join(
                self.polys, poly_cols=["poly_id"], poly_count_hint=N_POLYS
            )
        with h.tracer.span("spatial_join.probe"):
            pairs, _ = h.sink(prep.probe(imgs, point_cols=["image_id"]))
        return {
            "cells.rows": assigned,
            "spatial_join.pairs": pairs,
            "spatial_join.pairs_per_image": pairs / self.n_images,
            "spatial_join.zoom_levels": len(prep.zs),
        }

    def warm_up(self) -> dict:
        return self.run_pass()

    def cleanup(self) -> None:
        pass

    def check(self, counts: dict) -> tuple[list[str], dict]:
        problems = []
        if counts["cells.rows"] != self.n_images:
            problems.append(f"assign_cells wrote {counts['cells.rows']} rows")
        ids = self.rng.sample(
            range(self.first, self.first + self.n_images), SAMPLE_POINTS
        )
        problems += check_pairs_sample(self.prep, self.images(), self.polys, ids)
        # the prepared cover is the checkpointed polygon_cells output
        extra = {"spatial_join.cover_rows": self.prep.all_cells.count()}
        return problems, extra


class PipelineFull(JoinBatch):
    """assign -> PIP join -> phash dedup groups -> base tiles ->
    overview tiles -> snapshot commit -> resume pass, at sf0.1."""

    name = "pipeline_full"
    spans = JoinBatch.spans + (
        "dedup.phash_groups", "tiling.render_base_tiles",
        "tiling.overview_tiles", "tablefmt.append", "tablefmt.resume_filter",
    )

    def __init__(self, h: Harness, seed: int):
        super().__init__(h, seed)
        self.pixels = None
        self.n_pass = 0

    @staticmethod
    def size() -> int:
        return PIPELINE_IMAGES

    def generate(self, dest: Path) -> None:
        super().generate(dest)
        # the hot-cell rows (i % 4 = 0) of the window's prefix carry
        # pixels, so the render works on a few overlapping z10 tiles
        last = self.first + 4 * PIXEL_IMAGES
        hot = image_window(self.h.spark, self.first, self.n_images, self.h.cores) \
            .filter(f"i % 4 = 0 AND i < {last}").repartition(self.h.cores)
        synth.add_pixels(hot).write.parquet(str(dest / "pixels"))
        self.pixels = str(dest / "pixels")

    def planned_keys(self, px):
        """Every tile key the render plans (base zoom and one overview
        level), from the image footprints alone."""
        base = tiling.covering_tiles(px.select("lon", "lat", "w", "h"), RENDER_ZOOM) \
            .select("tx", "ty").distinct()
        return base.withColumn("z", F.lit(RENDER_ZOOM)).unionByName(
            base.selectExpr("tx div 2 AS tx", "ty div 2 AS ty").distinct()
            .withColumn("z", F.lit(RENDER_ZOOM - 1))
        )

    def run_pass(self) -> dict:
        h = self.h
        counts = super().run_pass()
        px = h.spark.read.parquet(self.pixels)
        with h.tracer.span("dedup.phash_groups"):
            dups, _ = h.sink(px.groupBy("phash").count().filter("count > 1"))
        with h.tracer.span("tiling.render_base_tiles"):
            n_tiles, tiles = h.sink(
                tiling.render_base_tiles(px, RENDER_ZOOM), checkpoint=True
            )
        with h.tracer.span("tiling.overview_tiles"):
            n_over, over = h.sink(tiling.overview_tiles(tiles), checkpoint=True)
        self.n_pass += 1
        log = tablefmt.SnapshotLog(str(h.work / "tables" / str(self.n_pass)))
        with h.tracer.span("tablefmt.append"):
            sid = log.append(
                tiles.withColumn("z", F.lit(RENDER_ZOOM)).unionByName(
                    over.withColumn("z", F.lit(RENDER_ZOOM - 1))
                ),
                op="render", metrics={"zoom": RENDER_ZOOM},
            )
        with h.tracer.span("tablefmt.resume_filter"):
            planned_obs = Observation()
            planned = self.planned_keys(px).observe(
                planned_obs, F.count(F.lit(1)).alias("rows")
            )
            left, _ = h.sink(
                tablefmt.resume_filter(planned, h.spark, log, ["z", "tx", "ty"])
            )
        summary = log.snapshot(sid)["summary"]
        planned_n = planned_obs.get["rows"]
        counts.update({
            "dedup.dup_groups": dups,
            "tiling.tiles": n_tiles,
            "tiling.overview_rows": n_over,
            "tablefmt.rows_committed": summary["added_rows"],
            "tablefmt.files": summary["added_files"],
            "tablefmt.bytes_written_mb": sum(
                os.path.getsize(f) for f in log.files_as_of(sid)
            ) / (1 << 20),
            "tablefmt.resume_left": left,
            "tablefmt.resume_skip_ratio": (planned_n - left) / planned_n,
        })
        return counts

    def cleanup(self) -> None:
        shutil.rmtree(self.h.work / "tables", ignore_errors=True)

    def check(self, counts: dict) -> tuple[list[str], dict]:
        problems, extra = super().check(counts)
        px = self.h.spark.read.parquet(self.pixels)
        cov = tiling.covering_tiles(px.select("lon", "lat", "w", "h"), RENDER_ZOOM)
        base = cov.select("tx", "ty").distinct().count()
        parents = cov.selectExpr("tx div 2", "ty div 2").distinct().count()
        phash = px.select("phash").toPandas()["phash"]
        dups = int((phash.value_counts() > 1).sum())
        want = {
            "tiling.tiles": base,
            "tiling.overview_rows": parents,
            "dedup.dup_groups": dups,
            "tablefmt.rows_committed": base + parents,
            "tablefmt.resume_left": 0,
        }
        for k, v in want.items():
            if counts[k] != v:
                problems.append(f"{k}: pass {counts[k]}, independent {v}")
        extra["tiling.fanout"] = cov.count() / len(phash)
        return problems, extra


class Headline41:
    """The 41 headline queries at sf0.1, each once per pass."""

    name = "headline41"
    spans = tuple(f"entry.{q}" for q in HEADLINE)

    def __init__(self, h: Harness, seed: int):
        import __spark_entry__ as entry

        self.h = h
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf_dir = str(HEADLINE_DATA / "sf0.1")
        self.n_images = synth.n_images(self.sf_dir)
        self.problems: list[str] = []

    def generate(self, dest: Path) -> None:
        pass

    def warm_up(self) -> dict:
        """Compare every query, collected at sf0.01, with its DuckDB
        oracle the way tools/check_oracle.py does; then run one pass,
        whose row counts every timed pass must reproduce."""
        import duckdb

        sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
        from check_oracle import compare

        small = HEADLINE_DATA / "sf0.01"
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{small / t}.parquet')"
            )
        for q in HEADLINE:
            sdf = self.queries[q](self.h.spark, str(small)).toPandas()
            tbl = con.execute(self.oracles[q]).fetch_arrow_table()
            types = {f.name: f.type for f in tbl.schema}
            self.problems += [
                f"{q}: {p}" for p in compare(q, sdf, tbl.to_pandas(), types)
            ]
        con.close()
        return self.run_pass()

    def run_pass(self) -> dict:
        counts = {}
        for q in HEADLINE:
            with self.h.tracer.span(f"entry.{q}"):
                counts[q], _ = self.h.sink(self.queries[q](self.h.spark, self.sf_dir))
        return counts

    def cleanup(self) -> None:
        pass

    def check(self, counts: dict) -> tuple[list[str], dict]:
        return self.problems, {}


WORKLOADS = {w.name: w for w in (JoinBatch, PipelineFull, Headline41)}
