"""spark-submit entry point for the north-rule job.

Usage (cluster or local):

    zip -r /tmp/gdal_spark.zip gdal_spark
    spark-submit --py-files /tmp/gdal_spark.zip \
        tools/submit_job.py --n-images 6000000 --n-polys 2048 [--zoom 12]

Runs tile assignment + the PIP spatial join over the synthesized
image table and prints one JSON result line. On a real cluster the
same command with --master yarn/k8s and N vs 4N executors produces
the two scaling measurements; `python bench.py` is the local[N]
proxy. Checkpoint/lineage parquet paths are accepted so interrupted
runs resume via the anti-join (gdal2tiles --resume semantics)."""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=1_000_000)
    ap.add_argument("--n-polys", type=int, default=2048)
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument(
        "--pipeline", choices=["join", "full"], default="join",
        help="'join' = the north-rule scaling job; 'full' = the whole "
        "north-star pipeline: assign -> PIP join -> phash dedup -> "
        "hot-cell tile render -> snapshot-log commit with per-"
        "partition lineage (resumable via --resume)",
    )
    ap.add_argument("--render-cap", type=int, default=512,
                    help="full mode: images entering the pixel stages")
    ap.add_argument("--render-zoom", type=int, default=10)
    ap.add_argument("--table-root", default="/tmp/gdal_spark_table")
    ap.add_argument("--resume", action="store_true",
                    help="full mode: anti-join tiles already committed "
                    "to --table-root instead of re-rendering them")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    # spark-submit provides the session config (master, executors)
    spark = SparkSession.builder.appName("gdal_spark_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from gdal_spark import synth
    from gdal_spark.operators import cells
    from gdal_spark.operators.spatial_join import spatial_join

    t0 = time.time()
    imgs = synth.images_df(spark, args.n_images)
    polys = synth.polygons_df(spark, args.n_polys)
    assigned = cells.assign_cells(imgs, args.zoom, "mercator")
    n_cells = assigned.select(F.countDistinct("cell_id")).collect()[0][0]
    pairs = spatial_join(
        imgs, polys, point_cols=["image_id"], poly_cols=["poly_id"]
    ).count()
    out = {
        "n_images": args.n_images,
        "n_distinct_cells": n_cells,
        "join_pairs": pairs,
        "sec": round(time.time() - t0, 2),
    }
    out["images_per_sec"] = round(args.n_images / out["sec"], 1)

    if args.pipeline == "full":
        from gdal_spark import tablefmt
        from gdal_spark.operators import tiling

        t1 = time.time()
        px_imgs = synth.add_pixels(
            imgs.filter(f"i % 4 = 0 AND i < {args.render_cap}")
        ).localCheckpoint(eager=True)
        # pixel-stage 1: exact perceptual-hash dedup groups
        dup_groups = (
            px_imgs.groupBy("phash").count().filter("count > 1").count()
        )
        # pixel-stage 2: hot-cell tile render -> snapshot-log commit
        # with per-partition lineage; --resume anti-joins the tiles
        # already committed (gdal2tiles --resume / Iceberg restart)
        log = tablefmt.SnapshotLog(args.table_root)
        tiles = tiling.render_base_tiles(px_imgs, args.render_zoom)
        if args.resume and log.current_snapshot() is not None:
            tiles = tablefmt.resume_filter(
                tiles, spark, log, ["tx", "ty"]
            )
        tiles = tiles.localCheckpoint(eager=True)
        n_tiles = tiles.count()
        sid = log.append(
            tiles.drop("bytes"), op="render",
            metrics={"zoom": args.render_zoom, "resumed": args.resume},
        )
        snap = log.snapshot(sid)["summary"]
        out.update(
            {
                "phash_dup_groups": dup_groups,
                "tiles_rendered": n_tiles,
                "snapshot_id": sid,
                "lineage_partitions": len(snap["partition_rows"]),
                "committed_rows": snap["added_rows"],
                "pipeline_sec": round(time.time() - t1, 2),
            }
        )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
