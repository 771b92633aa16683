"""Scaling benchmark: the north rule's N -> 4N efficiency proxy.

    python bench.py

Runs the tile-assignment + PIP-join job at two core counts, cores/4
and cores (cores = $SPARK_GRAFT_CPUS, default: the CPUs this process
may run on), each leg in its own process pinned to that many CPUs, and
prints ONE JSON line with both legs' throughput and the scaling
efficiency. Writes no file.

The maintained benchmark, with the pipeline and the 41-query headline
timed through the noop sink and per-layer counters, is perfbench/.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

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
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        c, n = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        print(json.dumps(run_scaling_job(c, n)))
    else:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(
            os.sched_getaffinity(0)
        )
        print(json.dumps(run_scaling(cores)))


if __name__ == "__main__":
    main()
