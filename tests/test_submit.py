"""End-to-end spark-submit packaging test (north_rule: the job must run
as a spark-submit --py-files job). Slow (fresh JVM); marked so the quick
loop can deselect it (-m 'not slow')."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.slow


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_extract_job(tmp_path):
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "out")

    # build the --py-files zip exactly as the wrapper script does
    sys.path.insert(0, os.path.join(REPO, "src"))
    from sparkextract.spark.session import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path))

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be sufficient on its own
    res = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            os.path.join(REPO, "scripts", "run_extract.py"),
            "--input", inp,
            "--output", out,
            "--generate-docs", "300",
            "--num-buckets", "8",
            "--run-id", "submit-e2e",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),  # NOT the repo root: no src/ fallback on sys.path
    )
    assert res.returncode == 0, res.stderr[-2000:]
    metrics = json.loads(res.stdout.strip().splitlines()[-1])
    assert metrics["docs"] == 300 and metrics["spans"] > 0

    # committed output is readable and consistent
    from sparkextract.spark.manifest import read_extracted
    from sparkextract.spark.session import get_spark

    spark = get_spark("submit-check", master="local[4]")
    got = read_extracted(spark, out)
    assert got.count() == metrics["spans"]
