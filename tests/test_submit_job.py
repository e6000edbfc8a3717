"""The north rule's submission path, end to end: package the engine with
tools/make_pyfiles.sh, launch jobs/crawl_job.py through REAL spark-submit
with --py-files (a fresh JVM + fresh Python, importing the engine ONLY
from the zip), and check the crawl ran, committed snapshots, and is
resumable from its manifest."""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_crawl_job(tmp_path):
    import pyspark

    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert os.path.exists(spark_submit)
    subprocess.run(["sh", os.path.join(ROOT, "tools", "make_pyfiles.sh")], check=True, cwd=ROOT)
    zip_path = os.path.join(ROOT, "dist", "texting_robots_spark.zip")
    assert os.path.exists(zip_path)

    store = str(tmp_path / "frontier")
    # cwd OUTSIDE the repo so the job can only import from the zip
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "crawl_job.py"),
            "--store", store,
            "--steps", "2",
            "--n-docs", "300",
            "--n-hosts", "8",
            "--n-seeds", "12",
            "--bloom-partitions", "4",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert len(res["steps"]) == 2
    assert res["snapshot"] >= 2  # seed snapshot + 2 delta commits
    assert sum(m["scheduled"] for m in res["steps"]) > 0
    # the store is a valid resumable checkpoint: manifest + snapshots
    with open(os.path.join(store, "manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["current"] == res["snapshot"]
    assert os.path.isdir(os.path.join(store, "snapshots", f"v{manifest['base']:06d}", "frontier"))
    # resume: run ONE more step against the same store (same submit path)
    out2 = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "crawl_job.py"),
            "--store", store,
            "--steps", "1",
            "--n-docs", "300",
            "--n-hosts", "8",
            "--n-seeds", "12",
            "--bloom-partitions", "4",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=420,
    )
    assert out2.returncode == 0, out2.stderr[-3000:]
    res2 = json.loads([l for l in out2.stdout.strip().splitlines() if l.startswith("{")][-1])
    assert res2["steps"][0]["step"] == len(res["steps"])  # resumed, not reseeded
    assert res2["snapshot"] > res["snapshot"]
    shutil.rmtree(os.path.join(ROOT, "dist"), ignore_errors=True)
