"""Smoke test of the benchmark at tiny sizes (about two minutes):

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def spec_units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def child_pids() -> list[int]:
    me = str(os.getpid())
    out = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[1] == me:
                    out.append(int(entry))
        except OSError:
            pass
    return out


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "JOIN_IMAGES", 20_000)
    monkeypatch.setattr(workloads, "PIPELINE_IMAGES", 8_192)
    monkeypatch.setattr(workloads, "PIXEL_IMAGES", 64)
    monkeypatch.setattr(workloads, "SAMPLE_POINTS", 32)
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    monkeypatch.setattr(run, "MIN_PASSES", 1)
    monkeypatch.setattr(run, "WARMUP_PASSES", 1)
    saved = dict(os.environ)  # run.main points TMPDIR etc. at its work dir
    yield
    os.environ.clear()
    os.environ.update(saved)


def run_once(workload: str, trace: int) -> tuple[dict, dict]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "7",
                       "--seconds", "0", "--trace", str(trace)])
    assert rc == 0
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def test_listed_metrics_match_benchmark_json():
    units = run.metric_units()
    assert units["end_to_end"] == spec_units("end_to_end")
    assert units["per_layer"] == spec_units("per_layer")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_runs_emit_every_metric(tiny, workload):
    ctx0, plain = run_once(workload, 0)
    ctx1, traced = run_once(workload, 1)
    for res in (plain, traced):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == spec_units("end_to_end")
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == spec_units("per_layer")
    # traced and untraced runs report the same end-to-end names
    assert set(ctx1["end_to_end"]) == set(plain["metrics"])
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    assert traced["metrics"]["tablefmt.resume_skip_ratio"]["value"] in (0, 1.0)
    assert child_pids() == []


def test_count_pruned_plan_trips_guard():
    from pyspark.sql import SparkSession

    from gdal_spark.operators import cells

    spark = SparkSession.builder.master("local[2]").config(
        "spark.ui.enabled", "false").getOrCreate()
    try:
        guard = probes.PlanGuard(spark)
        pts = spark.range(1000).selectExpr(
            "cast(id % 360 - 180 AS double) AS lon", "cast(id % 170 - 85 AS double) AS lat"
        )
        df = cells.assign_cells(pts, 12, "mercator", engine="pandas")
        sc = spark.sparkContext
        sc.setJobGroup("0:noop", "0:noop")
        guard.expect("0:noop", "assign", df)
        df.write.format("noop").mode("overwrite").save()
        guard.verify()
        sc.setJobGroup("1:count", "1:count")
        guard.expect("1:count", "assign", df)
        df.count()  # Catalyst prunes the unused UDF columns
        with pytest.raises(probes.PlanPruned, match="ArrowEvalPython"):
            guard.verify()
    finally:
        run.stop_session(spark)


def test_fails_without_engine_sources(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__", "data"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "join_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
