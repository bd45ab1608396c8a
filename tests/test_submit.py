"""Ship-mode evidence (north rule: "run via spark-submit --py-files"):
launch the real spark-submit with the packaged zip and an EMPTY
PYTHONPATH, so the package must come from --py-files alone."""

from __future__ import annotations

import os
import shutil
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def test_spark_submit_ships_with_pyfiles(tmp_path):
    from glean_cetaf_rdfs_spark.session import host_facts, package_zip

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = package_zip(str(tmp_path))
    out = str(tmp_path / "graph")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [submit, "--master", "local[4]",
         "--py-files", zip_path,
         "--conf", f"spark.driver.memory={host_facts()['heap_mb']}m",
         "--conf", "spark.sql.shuffle.partitions=8",
         str(REPO / "tools" / "submit_job.py"), "40", out],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "SUBMIT_OK" in r.stdout
    assert any(p.name.startswith("graph=") for p in Path(out).iterdir())
