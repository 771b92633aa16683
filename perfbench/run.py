"""spark-geotile benchmark.

    python3 perfbench/run.py --workload join_batch --seed 1 --seconds 10 --trace 0

One closed-loop client: a single driver process at local[nproc] runs
passes back to back, each starting when the previous one ends, and
every timed pass writes through Spark's noop sink. Set-up (session
start, seeded input generation, three warm-up passes) is timed apart
from the passes. With ``--trace 0`` the last stdout line reports the
end-to-end metrics; with ``--trace 1`` Spark's event log is on and it
reports the per-layer metrics instead. The line before it is the run's
host-noise context. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3  # input generation is repeated; set-up counts the median
# passes keep getting faster for about three passes (JIT tiers, Python
# worker pools); timing starts after them
WARMUP_PASSES = 3
MIN_PASSES = 3
DRIVER_HEAP = "2g"
SPAN_SPLIT = (  # spans whose engine counters are also reported alone
    "cells.assign_cells", "spatial_join.prepare", "spatial_join.probe",
    "dedup.phash_groups", "tiling.render_base_tiles", "tiling.overview_tiles",
    "tablefmt.append", "tablefmt.resume_filter",
)


def metric_units(workload: str | None = None) -> dict[str, dict[str, str]]:
    """Every metric name with its unit: ``end_to_end`` and
    ``per_layer`` (the names BENCHMARK.json lists), plus the per-query
    spans only the headline41 workload reports."""
    from workloads import HEADLINE

    from tracing import SPAN_COUNTERS, WORKLOAD_COUNTERS

    e2e = {"setup_s": "s", "wall_s": "s", "images_per_s": "1/s", "peak_rss_mb": "MB"}
    layer = {f"{s}_s": "s" for s in SPAN_SPLIT}
    layer.update({
        "spatial_join.pairs": "count", "spatial_join.pairs_per_image": "ratio",
        "spatial_join.cover_rows": "count", "spatial_join.zoom_levels": "count",
        "tiling.tiles": "count", "tiling.fanout": "ratio",
        "dedup.dup_groups": "count", "tablefmt.rows_committed": "count",
        "tablefmt.files": "count", "tablefmt.bytes_written_mb": "MB",
        "tablefmt.resume_skip_ratio": "ratio",
    })
    units = {"jobs": "count", "tasks": "count", "core_util": "ratio"}
    for k in WORKLOAD_COUNTERS:
        layer[f"spark.{k}"] = units.get(k, "MB" if k.endswith("_mb") else "s")
    for s in SPAN_SPLIT:
        for k in SPAN_COUNTERS:
            layer[f"{s}.{k}"] = "MB" if k.endswith("_mb") else "s"
    layer["trace.wall_s"] = "s"
    layer["trace.unspanned_s"] = "s"
    if workload == "headline41":
        layer.update({f"entry.{q}_s": "s" for q in HEADLINE})
    return {"end_to_end": e2e, "per_layer": layer}


def start_session(cores: int, work: Path, traced: bool):
    from gdal_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        # the whole heap is touched at start, so peak RSS moves with
        # memory outside the heap (Python workers, Arrow, metaspace)
        # rather than with when the collector last ran
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the plan guard reads executions back from the status store
        "spark.sql.ui.retainedExecutions": "100000",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM behind the Python gateway, and wait for
    it to exit (its Python workers end with the SparkContext)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def int_counts(counts: dict) -> dict:
    return {k: v for k, v in counts.items() if isinstance(v, int)}


def run(args, work: Path) -> tuple[dict, dict]:
    from probes import PlanGuard, PlanPruned, RssSampler, alu_probe, cpu_times, steal_pct
    from tracing import Tracer, engine_counters, fold_event_log
    from workloads import WORKLOADS, Harness

    cores = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_session(cores, work, traced)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext)
        guard = PlanGuard(spark)
        h = Harness(spark, tracer, guard, work, cores)
        wl = WORKLOADS[args.workload](h, args.seed)
        gen_s = []
        for k in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(work / f"input{k}")
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        for k in range(WARMUP_PASSES):
            tracer.pass_id = f"warmup{k}"
            with tracer.span("pass"):
                reference = wl.warm_up() if k == 0 else wl.run_pass()
            guard.verify()
            wl.cleanup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        sampler = RssSampler()
        cpu0, alu0 = cpu_times(), alu_probe()
        sampler.start()
        walls, pass_ids, failed, pass_counts = [], [], 0, None
        deadline = time.perf_counter() + args.seconds
        while len(pass_ids) < MIN_PASSES or time.perf_counter() < deadline:
            tracer.pass_id = len(pass_ids)
            pass_ids.append(tracer.pass_id)
            try:
                with tracer.span("pass") as rec:
                    counts = wl.run_pass()
                walls.append(rec["end"] - rec["start"])
                guard.verify()
                pass_counts = counts
                if int_counts(counts) != int_counts(reference):
                    failed += 1
                    print(f"pass {tracer.pass_id}: counts {int_counts(counts)} "
                          f"!= warm-up {int_counts(reference)}", file=sys.stderr)
            except PlanPruned:
                raise
            except Exception:  # a failed pass counts against the run
                failed += 1
                traceback.print_exc()
            finally:
                wl.cleanup()
        peak_mb = sampler.stop()
        cpu1, alu1 = cpu_times(), alu_probe()

        t = time.perf_counter()
        problems, extra = wl.check(pass_counts or reference)
        check_s = time.perf_counter() - t
        for p in problems:
            print(f"check: {p}", file=sys.stderr)
    finally:
        t = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t

    if not walls:
        raise RuntimeError(f"all {len(pass_ids)} timed passes failed")
    wall = statistics.median(walls)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "passes": len(pass_ids), "guarded_sinks": guard.checked,
        "steal_pct": round(steal_pct(cpu0, cpu1), 3),
        "alu_probe_ms": [round(alu0, 3), round(alu1, 3)],
        "pass_walls_s": [round(w, 4) for w in walls],
        "phases_s": {
            "session": round(session_s, 3), "generate": [round(g, 3) for g in gen_s],
            "warmup": round(warmup_s, 3), "check": round(check_s, 3),
            "stop": round(stop_s, 3),
        },
    }
    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(pass_ids),
        "failed": failed,
    }
    units = metric_units(args.workload)
    e2e = {
        "setup_s": setup_s, "wall_s": wall,
        "images_per_s": wl.n_images / wall, "peak_rss_mb": peak_mb,
    }
    if not traced:
        result["metrics"] = {
            k: {"value": e2e[k], "unit": u} for k, u in units["end_to_end"].items()
        }
        return context, result
    # the same end-to-end figures with tracing on: their difference from
    # an untraced run of the same seed is the tracing overhead
    context["end_to_end"] = e2e

    # traced: fold the event log (complete once the session stopped)
    logs = list((work / "eventlog").iterdir())
    groups, jobs = fold_event_log(logs[0])
    spans_dir = HERE / ".work" / "spans"
    spans_dir.mkdir(parents=True, exist_ok=True)
    tracer.dump(spans_dir / f"{args.workload}-seed{args.seed}.jsonl")
    timed = [p for p in pass_ids if p in {s["pass"] for s in tracer.passes()}]
    values = engine_counters(tracer, groups, jobs, timed, list(SPAN_SPLIT), cores)
    self_times = [tracer.self_times(p) for p in timed]
    for name in set(SPAN_SPLIT) | set(wl.spans):
        values[f"{name}_s"] = statistics.median(st.get(name, 0.0) for st in self_times)
    values["trace.wall_s"] = wall
    values["trace.unspanned_s"] = statistics.median(st["pass"] for st in self_times)
    final = {**(pass_counts or reference), **extra}
    for k, u in units["per_layer"].items():
        values.setdefault(k, final.get(k, 0))
    result["metrics"] = {
        k: {"value": values[k], "unit": u} for k, u in units["per_layer"].items()
    }
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload",
                    choices=["join_batch", "pipeline_full", "headline41"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric name with its unit and exit")
    args = ap.parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    if args.list_metrics:
        print(json.dumps(metric_units(args.workload), indent=1))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "gdal_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources (gdal_spark/) in {ROOT}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout, and let the workers import the engine
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    try:
        context, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(HERE / ".work" / "runs.jsonl", "a") as fh:
        fh.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
