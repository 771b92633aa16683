"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default: the CPUs
this process may run on) and print ONE JSON line: {"metric", "value"
(total seconds), "unit": "sec", "queries": {name: sec}, "sf", plus
throughput extras}.

Scaling mode (--scaling): run the tile-assignment + PIP-join job at
two core counts, cores/4 and cores, each leg in its own process pinned
to that many CPUs, and print ONE JSON line with both legs' throughput
and the scaling efficiency. Writes no file.

The maintained benchmark with per-layer counters is perfbench/.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    # geospatial core (north-rule metric: assign + join)
    "tile_assign_merc",
    "spatial_join_pip",
    "knn_sites",
    "cell_density_topk",
    "pyramid_rollup",
    # raster engine
    "tile_render_hot",
    "warp_avg_down2",
    "rasterize_rows",
    "dem_tiled",
    # training-data pipeline
    "minhash_lsh",
    "cosine_topk",
    # round-2 operators
    "utm_corners",
    "overlay_intersection",
    "contour_polylines",
    "embedding_neardup_lsh",
    # round-3 operators
    "overlay_union",
    "pq_topk",
    "grid_linear",
    "s2_density_topk",
    # round-4 operators
    "warp_reproject_sinu",
    "compare_reencode",
    "repetition_profile",
    "exact_substring_spans",
    "dissolve_area",
    "enhance_equalize",
    "paragraph_dedup",
    "patchify",
    # round-4 second-half operators
    "semdedup",
    "hll_distinct",
    "bm25_topk",
    "str_pack",
    "zorder_layout",
    "overview_rollup_updates",
    # round-4 closing operators (bpe_* excluded: 12 driver-loop
    # rounds make them a multi-job training op, not a query)
    "geom_buffer",
    "geodesic_measures",
    "dsir_select",
    # round-4 final-session operators: the hex-keyed H3 join (the
    # north-star composition on the hexagonal index) + image curation
    "hex_spatial_join",
    "hex_density_topk",
    "hard_negatives",
    # round-4 final-stretch operators: the distributed 2-D DFT (the
    # transpose-shuffle pattern) + web-corpus URL dedup prep
    "dft2d",
    "url_canonicalize",
]


REPS = 2  # best-of-N shots per headline query and per pipeline pass


def run_bench(sf_dir: str, cores: int) -> dict:
    import __spark_entry__ as entrymod
    from gdal_spark import synth
    from gdal_spark.session import get_spark

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    qs = entrymod.queries()
    times: dict[str, float] = {}

    # window-quality instrumentation: hypervisor steal during the
    # timed section. The shared host's steal bursts (measured 15%+
    # in otherwise-quiet windows, invisible to loadavg) are the
    # dominant cross-run variance — recording the in-window figure
    # lets any recorded run be judged against BENCH/HEADLINE_r4.md's
    # low-steal reference totals.
    def _cpu_snap():
        try:
            v = list(map(int, open("/proc/stat").readline().split()[1:]))
            return v[7], sum(v)
        except OSError:  # pragma: no cover
            return 0, 0

    steal0, total0 = _cpu_snap()
    # warm the JVM once (excluded from timings)
    qs["tile_assign_merc"](spark, sf_dir).count()
    # ... and the Python/Arrow worker pool: the warmup query above is
    # pure codegen, so without this the FIRST pandas-UDF query in the
    # list pays the one-time worker spawn (~3-8 s at 32 cores) — that, not operator code, was the
    # r02 dem_tiled/rasterize_rows "regression". On a long-lived
    # cluster workers are resident; warming them reflects steady
    # state.
    spark.range(cores * 4).repartition(cores).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    single: dict[str, float] = {}
    for name in HEADLINE:
        # best-of-N: the shared host's neighbor bursts inflate single
        # shots by 2x between back-to-back identical runs; the min is
        # the reproducible engine cost. The FIRST shot is kept too so
        # cross-round tables can compare either methodology without
        # footnotes.
        best = None
        for rep in range(REPS):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()  # full execution, no collect
            dt = time.perf_counter() - t0
            if rep == 0:
                single[name] = round(dt, 3)
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
    total = round(sum(times.values()), 3)
    steal1, total1 = _cpu_snap()
    steal_pct = (
        round(100.0 * (steal1 - steal0) / (total1 - total0), 2)
        if total1 > total0 else None
    )
    n_img = synth.n_images(sf_dir)
    result = {
        "metric": "headline_total",
        "value": total,
        "value_single_shot": round(sum(single.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_single_shot": single,
        "sf": synth.sf_name(sf_dir),
        "cores": cores,
        "n_images": n_img,
        "steal_pct": steal_pct,
        "images_per_sec": round(
            n_img / (times["tile_assign_merc"] + times["spatial_join_pip"]), 1
        ),
    }
    # north-star composition as a tracked metric (r4 verdict task 10):
    # the submit_job --pipeline full stages — assign -> PIP join ->
    # phash dedup -> hot-cell tile render -> snapshot-log commit with
    # per-partition lineage — timed inline on the warm session, both
    # methodologies, a FRESH table root per shot (so the commit never
    # degenerates into a resume no-op on the repeat).
    pipe_shots = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        run_pipeline_full(spark, sf_dir)
        pipe_shots.append(round(time.perf_counter() - t0, 3))
    result["pipeline_full"] = min(pipe_shots)
    result["pipeline_full_single_shot"] = pipe_shots[0]
    spark.stop()
    return result


def run_pipeline_full(spark, sf_dir: str, render_cap: int = 512,
                      render_zoom: int = 10) -> dict:
    """One pass of the tools/submit_job.py --pipeline full composition
    (assign -> join -> dedup -> render -> commit), returning its
    counters.  Kept in lockstep with submit_job so the bench number
    tracks the cluster entrypoint's actual stages."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gdal_spark import synth, tablefmt
    from gdal_spark.operators import cells, tiling
    from gdal_spark.operators.spatial_join import spatial_join

    n = synth.n_images(sf_dir)
    imgs = synth.images_df(spark, n)
    polys = synth.polygons_df(spark, synth.n_polygons(sf_dir))
    assigned = cells.assign_cells(imgs, 12, "mercator")
    n_cells = assigned.select(F.countDistinct("cell_id")).collect()[0][0]
    pairs = spatial_join(
        imgs, polys, point_cols=["image_id"], poly_cols=["poly_id"]
    ).count()
    px_imgs = synth.add_pixels(
        imgs.filter(f"i % 4 = 0 AND i < {render_cap}")
    ).localCheckpoint(eager=True)
    dup_groups = px_imgs.groupBy("phash").count().filter("count > 1").count()
    root = tempfile.mkdtemp(prefix="gdal_spark_bench_tbl_")
    try:
        log = tablefmt.SnapshotLog(root)
        tiles = tiling.render_base_tiles(px_imgs, render_zoom)
        tiles = tiles.localCheckpoint(eager=True)
        n_tiles = tiles.count()
        sid = log.append(
            tiles.drop("bytes"), op="render",
            metrics={"zoom": render_zoom, "resumed": False},
        )
        snap = log.snapshot(sid)["summary"]
        return {
            "n_distinct_cells": n_cells,
            "join_pairs": pairs,
            "phash_dup_groups": dup_groups,
            "tiles_rendered": n_tiles,
            "committed_rows": snap["added_rows"],
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


IMAGES_PER_CORE = 1_000_000  # scaling-job size per core of the high
# leg: keeps the job's fixed cost (broadcast build + scheduling) a small
# share of the high leg's time
SCALING_POLYS = 2048


def run_scaling_job(cores: int, n: int) -> dict:
    """The scaling job: tile assignment (z12) + full PIP spatial join
    over ``n`` synthesized images vs the full polygon layer. The
    polygon layer is prepared once (prepare_spatial_join) and the
    probe plan built once — the steady-state shape of a pipeline
    probing a static layer — then a small warm-up pass spins the
    Python worker pools, compiles codegen and builds broadcasts; the
    timed passes measure steady-state batch execution. Broadcast
    construction is NOT amortized: Spark rebuilds broadcast exchanges
    per execution, so each timed pass still pays it, as each batch on
    a cluster would."""
    from pyspark.sql import functions as F

    from gdal_spark import synth
    from gdal_spark.operators import cells
    from gdal_spark.operators.spatial_join import prepare_spatial_join
    from gdal_spark.session import get_spark

    # 4 tasks/core for the leaf range stages of THIS long job: one
    # straggler in a 1-task-per-core stage idles the other cores for
    # its whole tail. Short queries lose 2x to the extra task
    # dispatches (session.py note), so it is not a session default.
    spark = get_spark(
        "bench_scaling", cores=cores, shuffle_partitions=cores,
        extra_conf={"spark.sql.leafNodeDefaultParallelism": str(cores * 4)},
    )
    polys = synth.polygons_df(spark, SCALING_POLYS)
    prep = prepare_spatial_join(
        polys, poly_cols=["poly_id"], poly_count_hint=SCALING_POLYS
    )

    def make_job(n):
        imgs = synth.images_df(spark, n)
        assign_df = cells.assign_cells(imgs, 12, "mercator").select(F.sum("tile_x"))
        return assign_df, prep.probe(imgs, point_cols=["image_id"])

    # warm-up: worker pools + codegen compile + broadcast build
    wa, wj = make_job(50_000)
    wa.collect()
    wj.count()
    # the timed plans, built once: pass 1 pays their one-time Catalyst
    # analysis, pass 2 is pure execution; best-of-2 picks the clean pass
    assign_df, join_df = make_job(n)
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        assign_df.collect()
        t1 = time.perf_counter()
        n_pairs = join_df.count()
        t2 = time.perf_counter()
        if best is None or t2 - t0 < best:
            best = t2 - t0
            phases = {"assign": round(t1 - t0, 2), "join": round(t2 - t1, 2)}
    spark.stop()
    return {
        "cores": cores,
        "sec": round(best, 2),
        "images_per_sec": round(n / best, 1),
        "n_images": n,
        "n_pairs": n_pairs,
        "phases": phases,
    }


def run_scaling(cores: int) -> dict:
    """The scaling job at cores/4 and at cores, each leg in a fresh
    process pinned (taskset) to that many of this process's CPUs so
    local[c] is a faithful c-core machine."""
    lo, hi = max(1, cores // 4), cores
    n = IMAGES_PER_CORE * hi
    cpus = sorted(os.sched_getaffinity(0))
    legs = {}
    for c in (hi, lo):
        cmd = [sys.executable, __file__, "--scaling-worker", str(c), str(n)]
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["/usr/bin/taskset", "-c", ",".join(map(str, cpus[:c]))] + cmd
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        legs[c] = json.loads(
            [line for line in out.stdout.splitlines() if line.startswith("{")][-1]
        )
    thr_lo = legs[lo]["images_per_sec"]
    thr_hi = legs[hi]["images_per_sec"]
    return {
        "metric": "scaling_efficiency",
        "value": round((thr_hi / thr_lo) / (hi / lo), 3),
        "unit": "ratio",
        "pair": f"{lo}x{hi}",
        "lo": legs[lo],
        "hi": legs[hi],
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(
        os.sched_getaffinity(0)
    )

    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        c, n = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        print(json.dumps(run_scaling_job(c, n)))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling(cores)))
    else:
        print(json.dumps(run_bench(sf_dir, cores)))


if __name__ == "__main__":
    main()
