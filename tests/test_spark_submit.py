"""The north-rule deployment shape, actually executed: package the
library with scripts/package_pyfiles.py and run a real crawl through
``spark-submit --py-files`` — from OUTSIDE the repo, with the repo
stripped from PYTHONPATH, so every import (driver side and the python
workers unpickling the mapInPandas closures) must resolve from the
shipped zip. This is the line of BASELINE.json's north_rule ("run via
spark-submit --py-files on a multi-executor cluster") that a unit test
can witness on one host; the multi-executor half needs a real cluster."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_spark_submit_py_files_crawl(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):  # pragma: no cover - sandbox has it
        import pytest

        pytest.skip("spark-submit not installed")
    # 1. package the library
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert zip_path.endswith("news_crawler_spark.zip")
    # 2. stage the entrypoint outside the repo so its sys.path handling
    # cannot fall back to the source tree
    script = tmp_path / "run_crawl.py"
    shutil.copyfile(os.path.join(REPO, "scripts", "run_crawl.py"), script)
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    workdir = tmp_path / "wd"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zip_path,
            str(script),
            "--master", "inherit",
            "--workdir", str(workdir),
            "--seeds", "300",
            "--rounds", "8",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["rounds"] >= 1
    assert summary["fetched"] > 0
    # the catalog committed real crawl state
    assert (workdir / "docs").exists()
