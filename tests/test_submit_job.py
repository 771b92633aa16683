"""tools/submit_job.py through its real launch path: spark-submit with
the package zipped onto --py-files, a full pipeline run, then a
resumed run against the same table that commits nothing new."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyspark

from gdal_spark import synth
from gdal_spark.operators.spatial_join import spatial_join_bruteforce

ROOT = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = Path(pyspark.__file__).parent / "bin" / "spark-submit"
N_IMAGES, N_POLYS = 20_000, 64


def submit(tmp_path, *extra):
    cmd = [
        str(SPARK_SUBMIT), "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(tmp_path / "gdal_spark.zip"),
        str(ROOT / "tools" / "submit_job.py"),
        "--pipeline", "full", "--n-images", str(N_IMAGES),
        "--n-polys", str(N_POLYS), "--render-cap", "128",
        "--table-root", str(tmp_path / "table"), *extra,
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    out = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(
        [line for line in out.stdout.splitlines() if line.startswith("{")][-1]
    )


def test_submit_job_full_pipeline_and_resume(spark, tmp_path):
    shutil.make_archive(
        str(tmp_path / "gdal_spark"), "zip", root_dir=ROOT, base_dir="gdal_spark"
    )
    first = submit(tmp_path)
    resumed = submit(tmp_path, "--resume")

    assert first["tiles_rendered"] > 0
    assert first["committed_rows"] == first["tiles_rendered"]
    assert resumed["tiles_rendered"] == 0
    assert resumed["committed_rows"] == 0

    brute = spatial_join_bruteforce(
        synth.images_df(spark, N_IMAGES), synth.polygons_df(spark, N_POLYS)
    ).count()
    assert first["join_pairs"] == resumed["join_pairs"] == brute
