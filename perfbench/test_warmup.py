"""Warm-up sufficiency: a run's timed passes must not still trend.

Runs each workload of BENCHMARK.json once with a long window, so that
it makes several timed passes, and fails when the pass times still
drift from first to last, i.e. when the workload's warm-up passes
(``warm_passes`` in perfbench/workloads.py) are too few. Takes a few
minutes; run from the repository root:

    python3 -m pytest perfbench/test_warmup.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
MIN_PASSES = 5
# window long enough for MIN_PASSES timed passes of each workload
WINDOW_S = {"extract_mixed": 35, "dedup_family": 80}
# host noise alone moves single passes by up to ~10%; a fitted drift
# beyond this over the window is warm-up still in progress
MAX_DRIFT = 0.10


def drift(times: list[float]) -> float:
    """Least-squares change from the first to the last pass, as a share
    of the median pass time (negative: passes are getting faster)."""
    n = len(times)
    mx, my = (n - 1) / 2, statistics.fmean(times)
    slope = sum((x - mx) * (y - my) for x, y in enumerate(times)) / sum(
        (x - mx) ** 2 for x in range(n)
    )
    return slope * (n - 1) / statistics.median(times)


def test_drift_sees_a_trend_and_not_noise():
    assert drift([10.0, 9.0, 8.0, 7.5, 7.0]) < -MAX_DRIFT
    assert abs(drift([5.0, 5.3, 4.8, 5.1, 5.0])) < MAX_DRIFT


# Measured drift the warm-up does not remove, with the reason; once the
# warm-up suffices the case reports XPASS and the entry can go.
KNOWN_DRIFT = {
    "dedup_family": (
        "JIT warm-up of the pass is not over after eight more passes (~85 s), "
        "far more than the per-run budget (README.md, Run budget) leaves; timed passes "
        "after the check-table and timed-table warm passes: "
        "12.1 10.7 10.7 11.4 9.8 10.4 8.4 9.3 s (drift -27%)"
    ),
}


def _workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    return [
        pytest.param(n, marks=pytest.mark.xfail(reason=KNOWN_DRIFT[n]))
        if n in KNOWN_DRIFT else n
        for n in names
    ]


@pytest.mark.parametrize("workload", _workloads())
def test_warmup_is_sufficient(workload):
    window = WINDOW_S.get(workload, 80)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", str(window), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"]
    path = os.path.join(ROOT, "perfbench", "out", f"{workload}-seed{SEED}-trace0.json")
    with open(path) as fh:
        passes = json.load(fh)["pass_s"]
    assert len(passes) >= MIN_PASSES - 1, passes
    d = drift(passes)
    assert abs(d) <= MAX_DRIFT, f"timed passes drift {d:+.1%} over the window: {passes}"
