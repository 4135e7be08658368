from __future__ import annotations

import os
import shutil
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# the python2 reference implementation the oracle-comparing tests run
REFERENCE_PY = "/root/reference/readability.py"


def python2_oracle_missing() -> str | None:
    """Why the python2 reference oracle cannot run, or None if it can."""
    if shutil.which("python2") is None:
        return "python2 oracle unavailable"
    if not os.path.exists(REFERENCE_PY):
        return f"python2 oracle source {REFERENCE_PY} missing"
    return None


def executed_plan(df) -> str:
    """The executed-plan tree string of ``df`` with every
    ``== Initial Plan ==`` section removed: that header line and every
    line indented deeper beneath it. Adaptive plans print their
    initial plan after the final or current one, at the top level once
    the query ran and inside every eagerly built cache; without the
    cut, assertions over the plan also read the plans that did not
    run."""
    out: list[str] = []
    cut_below = None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        indent = len(line) - len(line.lstrip(" "))
        if cut_below is not None and indent > cut_below:
            continue
        cut_below = None
        if line.lstrip(" ").startswith("+- == Initial Plan =="):
            cut_below = indent
            continue
        out.append(line)
    return "\n".join(out)


@pytest.fixture(scope="session")
def spark():
    from readability_py_spark.session import build_session

    s = build_session(
        app_name="rps-tests",
        master="local[4]",
        shuffle_partitions="4",
    )
    yield s
    s.stop()
