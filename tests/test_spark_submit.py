"""spark-submit --py-files packaging smoke test (north_rule run-shape).

Proves the production invocation works end to end: the job script is copied
OUT of the repo and submitted from a scratch cwd, so the only way driver or
executors can import ala_name_matching_spark is the --py-files zip built by
jobs/package_pyfiles.py — exactly the cluster deployment path.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if not found:
        pytest.skip("spark-submit binary not found")
    return found


def _build(dest_dir) -> str:
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    from package_pyfiles import build

    return build(str(dest_dir))


def test_committed_zip_matches_sources(tmp_path):
    """dist/ala_er_pyfiles.zip is committed for deployment; it must be
    byte-identical to a fresh build of the package sources (the build is
    deterministic), so a source change without a rebuild fails here.
    Rebuild with: python jobs/package_pyfiles.py"""
    with open(_build(tmp_path), "rb") as fresh, open(
        os.path.join(REPO, "dist", "ala_er_pyfiles.zip"), "rb"
    ) as committed:
        assert fresh.read() == committed.read(), "stale dist zip: rebuild it"


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    # built under tmp_path: the test must not rewrite the committed zip
    zip_path = _build(tmp_path / "dist")
    job = tmp_path / "run_er.py"
    shutil.copyfile(os.path.join(REPO, "jobs", "run_er.py"), job)
    out = tmp_path / "clusters"
    ck = tmp_path / "ck"

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            str(job),
            "--synthesize", "1500",
            "--output", str(out),
            "--checkpoint-dir", str(ck),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "er_pipeline done" in proc.stdout
    # phase checkpoints + lineage metrics committed (resume contract)
    assert (ck / "p1_features" / "_SUCCESS").exists()
    assert (ck / "_metrics.json").exists()

    import duckdb

    n, n_clusters = duckdb.sql(
        f"SELECT count(*), count(DISTINCT cluster_id) FROM '{out}/*.parquet'"
    ).fetchone()
    assert n == 1500
    assert 1 < n_clusters < 1500
