"""Session builder: the master a launcher chose is kept."""

from __future__ import annotations

import os
import subprocess

from pyspark.find_spark_home import _find_spark_home

from .conftest import REPO

_JOB = f"""
import sys
sys.path.insert(0, {REPO!r})
from readability_py_spark.session import build_session
print("PARALLELISM", build_session().sparkContext.defaultParallelism)
"""


def test_build_session_keeps_spark_submit_master(tmp_path):
    """Under ``spark-submit --master local[2]`` a master-less
    build_session() runs at local[2], not at local[$SPARK_GRAFT_CPUS]."""
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", str(job)],
        env={**os.environ, "SPARK_GRAFT_CPUS": "3"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "PARALLELISM 2" in out.stdout.splitlines()
