"""tools/profile.py: one in-process profile of a small query (Spark),
and --diff on hand-made profiles (no Spark)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_module():
    spec = importlib.util.spec_from_file_location(
        "rps_profile", os.path.join(REPO, "tools", "profile.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_entry_fields(spark):
    entry = _profile_module().profile(spark, ["dedup_exact"], SF_SMOKE)["dedup_exact"]
    assert set(entry) == {
        "wall_s", "builder_s", "catalyst", "jobs", "stages", "top_nodes",
        "steal_pct", "layers", "reconcile",
    }
    assert entry["jobs"] >= 1 and entry["stages"] and entry["top_nodes"]
    assert set(entry["catalyst"]) == {"analysis_s", "optimization_s", "planning_s"}
    assert set(entry["stages"][0]) == {
        "id", "tasks", "wall_s", "run_s", "cpu_s", "gc_s",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    }
    layers = entry["layers"]
    parts = ("driver_s", "catalyst_s", "job_overhead_s", "stages_s")
    assert all(layers[p] >= 0 for p in parts)
    assert layers["job_count"] == entry["jobs"] >= 1
    assert 0 < entry["builder_s"] < entry["wall_s"]
    rec = entry["reconcile"]
    assert rec["wall_s"] == entry["wall_s"]
    assert abs(rec["parts_s"] - sum(layers[p] for p in parts)) < 1e-3
    assert abs(rec["wall_s"] - rec["parts_s"] - rec["residual_s"]) < 1e-3
    assert abs(rec["residual_s"]) <= 0.1 * entry["wall_s"]


def _entry(wall: float, **layers) -> dict:
    base = {
        "driver_s": 0.2, "catalyst_s": 0.03, "job_overhead_s": 0.01,
        "stages_s": 0.3, "task_s": 0.4, "gc_s": 0.0, "python_s": 0.0,
        "exchange_mb": 0.2, "spill_mb": 0.0, "job_count": 3, "stage_count": 3,
    }
    return {"wall_s": wall, "steal_pct": 0.5, "layers": {**base, **layers}}


def test_diff_names_the_layer_that_moved():
    prof = _profile_module()
    a = {"targets": {
        "shuffled": _entry(0.55),
        "replanned": _entry(1.0, catalyst_s=0.05),
        "steady": _entry(2.0, stages_s=1.5),
        "old_only": _entry(1.0),
    }}
    b = {"targets": {
        # one more exchange: 50x the shuffle bytes, one more stage and job,
        # a little more stage time
        "shuffled": _entry(0.7, exchange_mb=10.1, stage_count=4, job_count=4,
                           stages_s=0.45),
        "replanned": _entry(1.6, catalyst_s=0.65),
        # run-to-run noise only
        "steady": _entry(2.1, stages_s=1.6, driver_s=0.25),
        "new_only": _entry(1.0),
    }}
    lines = prof.diff(a, b)
    assert lines[0].startswith("shuffled:") and "exchange_mb 0.2 -> 10.1" in lines[0]
    assert lines[1].startswith("replanned:") and "catalyst_s" in lines[1]
    assert lines[2].startswith("steady:")
    assert lines[3:] == ["only in A: old_only", "only in B: new_only"]


def test_tools_directory_keeps_the_stdlib_profile_module():
    """Scripts under tools/ run with that directory first on sys.path,
    where tools/profile.py would shadow the standard library's
    `profile`; cProfile, which pyspark imports, needs the real one."""
    code = (
        f"import sys; sys.path.insert(0, {os.path.join(REPO, 'tools')!r}); "
        "import cProfile, profile; assert profile.Profile and cProfile.run"
    )
    subprocess.run([sys.executable, "-c", code], check=True)
