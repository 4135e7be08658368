#!/usr/bin/env python3
"""Where the time of each headline query and of the extraction pass
goes, read from Spark's own job, stage and SQL-node metrics.

Usage:
    python tools/profile.py <query ...|all|extraction> --sf DIR
    python tools/profile.py --diff A.json B.json

A target is a ``merged_queries(include_retired=True)`` name,
``extraction`` (bench.py's extras-row plan: ``extraction_plan`` over
``build_pages_df(spark, 8000)``) or ``all`` (bench.py's HEADLINE plus
``extraction``), run at local[$SPARK_GRAFT_CPUS] (default: every core).
A rep is the builder call and a noop-sink write under one job group,
so the builder's own jobs (eager persists, counts) count too; the
faster of 2 reps is kept, and caches are released after each. Each
entry of ``.data/profile_<basename of DIR>.json`` holds the wall and
builder time, the write's Catalyst phases, the job count, per-stage
metrics, the top SQL nodes by time, the host's steal, and ``layers``:
the wall split into ``catalyst_s`` (analysis + optimization + planning
of every SQL execution of the rep), ``stages_s`` (the union of the
stage intervals), ``job_overhead_s`` (inside a job, no stage running)
and ``driver_s`` (no job running, less Catalyst), plus task totals and
volumes. ``reconcile`` sets the four parts against the wall; the
residual is Catalyst time that ran while a job did. ``extraction``
also carries perfbench's per-document phase split over the corpus'
first 1,000 pages.

``--diff`` prints, per target in both files, the layer that changed
most; targets whose largest change is largest come first.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import sys
import threading
import time
from pathlib import Path

if __name__ == "profile":
    # Scripts here run with this directory first on sys.path, where the
    # stdlib `profile` that cProfile (so pyspark) imports resolves to
    # this file; the import returns what sys.modules then holds.
    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(os.path.dirname(os.__file__), "profile.py")
    )
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import bench  # noqa: E402
from perfbench import hoststat  # noqa: E402
from perfbench import sparkmetrics as sm  # noqa: E402

REPS = 2
EXTRACT_DOCS = 8000
PHASE_PAGES = 1000
TOP_NODES = 5
CATALYST_PHASES = ("analysis", "optimization", "planning")
# the SQL function name Spark reports for bench.force's noop write
WRITE_FUNC = "overwrite"


class CatalystListener:
    """Catalyst phase times of each finished SQL execution. Spark calls
    it from its listener bus, in execution order, after the action has
    returned."""

    def __init__(self):
        self._done: list[tuple[str, dict]] = []
        self._cv = threading.Condition()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        tracked = qe.tracker().phases()
        phases = {}
        for p in CATALYST_PHASES:
            s = tracked.get(p)
            phases[p] = s.get().durationMs() / 1000.0 if s.isDefined() else 0.0
        with self._cv:
            self._done.append((func_name, phases))
            self._cv.notify_all()

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    def take_through_write(self, timeout: float = 60.0) -> list[tuple[str, dict]]:
        """Every execution up to and including the next noop write."""
        with self._cv:
            if not self._cv.wait_for(
                lambda: any(f == WRITE_FUNC for f, _ in self._done), timeout
            ):
                raise RuntimeError("the write's Catalyst phases never arrived")
            n = [f for f, _ in self._done].index(WRITE_FUNC) + 1
            taken, self._done = self._done[:n], self._done[n:]
        return taken

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _job_spans(jobs: list[dict]) -> list[dict]:
    return [
        {"t0": sm._ts(j["submissionTime"]), "t1": sm._ts(j["completionTime"])}
        for j in jobs
        if "completionTime" in j
    ]


def _node_times(sql: list[dict]) -> list[tuple[float, str]]:
    """(seconds, node name) per SQL plan node: the sum of its time
    metrics."""
    out = []
    for e in sql:
        for n in e["nodes"]:
            s = sum(
                sm.metric_total(m["value"])
                for m in n["metrics"]
                if "time" in m["name"] or "duration" in m["name"]
            )
            if s > 0:
                out.append((s, n["nodeName"]))
    return sorted(out, reverse=True)


def _python_s(sql: list[dict]) -> float:
    return sum(
        sm.metric_total(m["value"])
        for e in sql
        for n in e["nodes"]
        for m in n["metrics"]
        if m["name"] == "time to run Python workers"
    )


def _r(x: float) -> float:
    return round(x, 4)


def entry_of_rep(wall: float, builder: float, executions, g: dict, steal: float) -> dict:
    """One target's profile entry from a rep's timings, its Catalyst
    phases (builder executions first, the write last) and its Spark
    job group."""
    stages = g["stages"]
    in_jobs = sm.stage_busy_s(_job_spans(g["jobs"]))
    stage_busy = sm.stage_busy_s(stages)
    catalyst = sum(sum(p.values()) for _, p in executions)
    parts = {
        "driver_s": max(0.0, wall - in_jobs - catalyst),
        "catalyst_s": catalyst,
        "job_overhead_s": in_jobs - stage_busy,
        "stages_s": stage_busy,
    }
    totals = sm.stage_totals(stages)
    nodes = _node_times(g["sql"])
    return {
        "wall_s": _r(wall),
        "builder_s": _r(builder),
        "catalyst": {f"{p}_s": _r(executions[-1][1][p]) for p in CATALYST_PHASES},
        "jobs": len(g["jobs"]),
        "stages": [
            {
                "id": s["stageId"],
                "tasks": s["numTasks"],
                "wall_s": _r(s["t1"] - s["t0"]),
                "run_s": _r(s["executorRunTime"] / 1e3),
                "cpu_s": _r(s["executorCpuTime"] / 1e9),
                "gc_s": _r(s["jvmGcTime"] / 1e3),
                "shuffle_read_mb": _r(s["shuffleReadBytes"] / 2**20),
                "shuffle_write_mb": _r(s["shuffleWriteBytes"] / 2**20),
                "spill_mb": _r((s["diskBytesSpilled"] + s["memoryBytesSpilled"]) / 2**20),
            }
            for s in sorted(stages, key=lambda s: s["stageId"])
        ],
        "top_nodes": [{"node": name, "time_s": _r(t)} for t, name in nodes[:TOP_NODES]],
        "steal_pct": _r(steal),
        "layers": {
            **{k: _r(v) for k, v in parts.items()},
            "task_s": _r(sum(s["executorRunTime"] for s in stages) / 1e3),
            "gc_s": _r(totals["gc_s"]),
            "python_s": _r(_python_s(g["sql"])),
            "exchange_mb": _r(totals["shuffle_write_mb"]),
            "spill_mb": _r(totals["spill_mb"]),
            "job_count": len(g["jobs"]),
            "stage_count": len(stages),
        },
        "reconcile": {
            "wall_s": _r(wall),
            "parts_s": _r(sum(parts.values())),
            "residual_s": _r(wall - sum(parts.values())),
        },
    }


def _profile_target(spark, rest, listener, name: str, build) -> dict:
    from readability_py_spark.operators.dedup import release_caches

    best = None
    for rep in range(REPS):
        group = f"profile-{name}-{rep}"
        spark.sparkContext.setJobGroup(group, f"profile {name} rep {rep}")
        ticks = hoststat.cpu_ticks()
        t0 = time.time()
        df = build()
        t1 = time.time()
        bench.force(df)
        t2 = time.time()
        steal = hoststat.steal_pct(ticks, hoststat.cpu_ticks())
        executions = listener.take_through_write()
        release_caches()
        if best is None or t2 - t0 < best[0]:
            best = (t2 - t0, t1 - t0, executions, rest.group(group), steal)
    return entry_of_rep(*best)


def _profile_extraction(spark, rest, listener) -> dict:
    from perfbench.layers import phase_profile
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import extraction_plan
    from readability_py_spark.sources.fixtures import generate_pages_rows

    pages = build_pages_df(spark, EXTRACT_DOCS).persist()
    bench.force(pages)  # materialize the input outside the reps
    listener.take_through_write()
    try:
        entry = _profile_target(spark, rest, listener, "extraction", lambda: extraction_plan(pages))
    finally:
        pages.unpersist()
    rows = generate_pages_rows(PHASE_PAGES, seed=42)
    entry["phases"] = phase_profile([(r["url"], r["html"]) for r in rows if r["lang"]])
    return entry


def profile(spark, targets: list[str], sf_dir: str) -> dict[str, dict]:
    """Profile entries by target name; ``all`` expands to bench.py's
    HEADLINE plus ``extraction``."""
    from pyspark.java_gateway import ensure_callback_server_started

    from readability_py_spark.operators import merged_queries

    if "all" in targets:
        targets = [*bench.HEADLINE, "extraction"]
    qmap, _ = merged_queries(include_retired=True)
    unknown = [t for t in targets if t not in qmap and t != "extraction"]
    if unknown:
        raise KeyError(f"unknown targets: {unknown}")

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = CatalystListener()
    listeners = spark._jsparkSession.listenerManager()
    listeners.register(listener)
    rest = sm.SparkRest(spark.sparkContext)
    out = {}
    try:
        # the first write passes every execution queued before it
        bench.force(spark.range(1))
        listener.take_through_write()
        for t in targets:
            if t == "extraction":
                out[t] = _profile_extraction(spark, rest, listener)
            else:
                out[t] = _profile_target(
                    spark, rest, listener, t, lambda fn=qmap[t]: fn(spark, sf_dir)
                )
            e = out[t]
            print(f"{t}: wall {e['wall_s']:.3f} s, residual "
                  f"{e['reconcile']['residual_s']:+.3f} s", file=sys.stderr, flush=True)
    finally:
        listeners.unregister(listener)
    return out


# -- diff --------------------------------------------------------------


def layer_change(layer: str, a: float, b: float, wall: float) -> float:
    """How far a layer moved: |log| of the after/before ratio, each side
    padded by a floor. On a shared host a time moves with the wall
    (steal stretches every part), so times get a floor of 10% of the
    wall + 10 ms; byte volumes and counts do not, so they get 10 KB
    and one."""
    if layer.endswith("_s"):
        floor = 0.1 * wall + 0.01
    elif layer.endswith("_mb"):
        floor = 0.01
    else:
        floor = 1.0
    return abs(math.log((b + floor) / (a + floor)))


def diff(a: dict, b: dict) -> list[str]:
    """One line per target present in both profiles: its wall and the
    layer that moved most, largest move first."""
    rows = []
    for t in sorted(set(a["targets"]) & set(b["targets"])):
        ea, eb = a["targets"][t], b["targets"][t]
        la, lb = ea["layers"], eb["layers"]
        wall = max(ea["wall_s"], eb["wall_s"])
        score, layer = max((layer_change(k, la[k], lb[k], wall), k) for k in la if k in lb)
        rows.append((score, t, layer, ea, eb))
    rows.sort(key=lambda r: -r[0])
    lines = [
        f"{t}: wall {ea['wall_s']:.3f} -> {eb['wall_s']:.3f} s "
        f"(steal {ea['steal_pct']:.0f}% -> {eb['steal_pct']:.0f}%); "
        f"moved most: {layer} {ea['layers'][layer]:g} -> {eb['layers'][layer]:g}"
        for _, t, layer, ea, eb in rows
    ]
    for side, p, q in (("A", a, b), ("B", b, a)):
        only = sorted(set(p["targets"]) - set(q["targets"]))
        if only:
            lines.append(f"only in {side}: {', '.join(only)}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("targets", nargs="*")
    ap.add_argument("--sf")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.diff:
        a, b = (json.loads(Path(p).read_text()) for p in args.diff)
        print("\n".join(diff(a, b)))
        return 0
    if not args.targets or not args.sf:
        ap.error("give targets and --sf, or --diff A B")

    from readability_py_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = build_session(
        app_name="rps-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(cpus, 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        targets = profile(spark, args.targets, args.sf)
    finally:
        spark.stop()
    path = os.path.join(REPO, ".data", f"profile_{os.path.basename(os.path.normpath(args.sf))}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"sf": args.sf, "cpus": cpus, "reps": REPS, "targets": targets}, fh, indent=1)
    walls = sum(e["wall_s"] for e in targets.values())
    worst = max(abs(e["reconcile"]["residual_s"]) / e["wall_s"] for e in targets.values())
    print(f"{len(targets)} targets, {walls:.1f} s of wall, largest |residual| "
          f"{100 * worst:.1f}% of its wall -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
