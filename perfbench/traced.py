"""The traced run: per-layer metrics, after the untraced timed passes.

Spans are recorded around the benchmark's calls into each layer; after
each traced pass the pass's stages and SQL executions are pulled from
Spark's REST API. Metrics of a layer the workload does not exercise
read 0 and are listed under ``not_exercised`` in the side-car JSON.
"""

from __future__ import annotations

import os
import statistics

from . import sparkmetrics as sm
from .layers import batch_ms_per_doc, phase_profile
from .trace import Tracer

# name -> unit; BENCHMARK.json's per_layer list mirrors this table
PER_LAYER = {
    "parser.parse_ms_per_doc": "ms",
    "parser.parse_ms_max": "ms",
    "arc90.template_ms_per_doc": "ms",
    "arc90.process_ms_per_doc": "ms",
    "arc90.process_ms_max": "ms",
    "arc90.article_render_ms_per_doc": "ms",
    "arc90.full_render_ms_per_doc": "ms",
    "arc90.retries_per_doc": "count",
    "arc90.candidates_per_doc": "count",
    "extract_job.batch_ms_per_doc": "ms",
    "boundary.python_run_s": "s",
    "boundary.python_boot_s": "s",
    "boundary.python_init_s": "s",
    "boundary.mb_to_python": "MB",
    "boundary.mb_from_python": "MB",
    "boundary.overhead_ms_per_doc": "ms",
    "spark.map_stage_s": "s",
    "spark.udf_stage_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.sched_gap_s": "s",
    "spark.parallel_efficiency": "ratio",
    "catalog.write_extracted_s": "s",
    "catalog.manifest_s": "s",
    "catalog.stats_s": "s",
    "catalog.mb_written": "MB",
    "catalog.files_written": "count",
    "operators.dedup_exact_s": "s",
    "operators.dedup_incremental_s": "s",
    "operators.dedup_groups_s": "s",
    "operators.pipeline_dedup_groups_s": "s",
    "operators.winnow_dup_candidates_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.gc_s": "s",
    "operators.task_skew": "ratio",
    "operators.persist_s": "s",
    "process.driver_cpu_s": "s",
    "process.jvm_cpu_s": "s",
    "process.python_worker_cpu_s": "s",
    "process.jvm_peak_rss_mb": "MB",
    "trace.docs_per_s_traced": "1/s",
    "trace.overhead_frac": "ratio",
}


def _dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under a catalog directory."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(d, n))
    return size / 2**20, files


def _boundary(mip: dict) -> dict:
    """Arrow/Python boundary totals of a pass's MapInPandas nodes."""
    return {
        "boundary.python_run_s": mip.get("time to run Python workers", 0.0),
        "boundary.python_boot_s": mip.get("time to start Python workers", 0.0),
        "boundary.python_init_s": mip.get("time to initialize Python workers", 0.0),
        "boundary.mb_to_python": mip.get("data sent to Python workers", 0.0) / 2**20,
        "boundary.mb_from_python": mip.get("data returned from Python workers", 0.0) / 2**20,
    }


def _extract_pass(g: dict, tracer: Tracer, i: int, wall: float, batch_ms: float) -> dict:
    """Layer numbers of one traced extraction pass."""
    mip = sm.node_metrics(g["sql"], "MapInPandas")
    udf_exec = [e for e in g["sql"] if any(n["nodeName"] == "MapInPandas" for n in e["nodes"])]
    udf_jobs = {j for e in udf_exec for j in e["successJobIds"]}
    udf_stage_ids = {s for j in g["jobs"] if j["jobId"] in udf_jobs for s in j["stageIds"]}
    stages = [s for s in g["stages"] if s["stageId"] in udf_stage_ids]
    udf_stage = max(stages, key=lambda s: s["executorRunTime"])
    map_stages = [s for s in stages if s["shuffleWriteBytes"] > 0]
    rows = mip["number of output rows"]
    appends = {
        t: sum(tracer.durations("catalog.append", table=t, pass_id=i))
        for t in ("extracted", "done_manifest")
    }
    return {
        **_boundary(mip),
        "boundary.overhead_ms_per_doc": (udf_stage["executorRunTime"] - batch_ms * rows) / rows,
        "spark.map_stage_s": sum(s["t1"] - s["t0"] for s in map_stages),
        "spark.udf_stage_s": udf_stage["t1"] - udf_stage["t0"],
        "spark.task_skew": sm.task_skew(udf_stage),
        "catalog.write_extracted_s": appends["extracted"],
        "catalog.manifest_s": appends["done_manifest"],
        "catalog.stats_s": wall - sum(appends.values()),
    }


def _dedup_pass(g: dict, query_s: dict) -> dict:
    totals = sm.stage_totals(g["stages"])
    # the groups queries' union-find runs in a MapInPandas node
    out = _boundary(sm.node_metrics(g["sql"], "MapInPandas"))
    out.update({f"operators.{q}_s": wall for q, (_, wall) in query_s.items()})
    out.update({
        "operators.shuffle_write_mb": totals["shuffle_write_mb"],
        "operators.spill_mb": totals["spill_mb"],
        "operators.gc_s": totals["gc_s"],
        "operators.task_skew": sm.task_skew(max(g["stages"], key=lambda s: s["executorRunTime"])),
        "operators.persist_s": sum(build for build, _ in query_s.values()),
    })
    return out


def traced_run(spark, wl, side: dict, cores: int, docs_per_s: float):
    """Traced passes plus in-process layer profiles; returns
    (metrics, attempted, failed) where metrics maps name -> (value, unit)."""
    from readability_py_spark.sources.catalog import LocalTableCatalog

    tracer = Tracer()
    rest = sm.SparkRest(spark.sparkContext)
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    with tracer.span("layers.batch"):
        batch_ms = batch_ms_per_doc(wl.profile_pages, batch_rows)
    with tracer.span("layers.phases"):
        phases = phase_profile(wl.profile_pages)

    current = {"pass_id": None}
    undo = tracer.wrap(
        LocalTableCatalog, "append", "catalog.append",
        label=lambda _self, _df, name, **_kw: {"table": name, "pass_id": current["pass_id"]},
    )
    per_pass, walls, rest_dump = [], [], []
    attempted = failed = 0
    try:
        for j in range(wl.traced_passes):
            i = 1000 + j
            current["pass_id"] = i
            group = f"traced-{j}"
            spark.sparkContext.setJobGroup(group, f"traced pass {j}")
            with tracer.span("pass", pass_id=i):
                wall = wl.run_pass(i)
            walls.append(wall)
            a, f = wl.check_pass(i)
            attempted, failed = attempted + a, failed + f
            with tracer.span("rest.pull", pass_id=i):
                g = rest.group(group)
            rest_dump.append({"group": group, "stages": len(g["stages"]), "sql": len(g["sql"])})
            totals = sm.stage_totals(g["stages"])
            layer = {
                "spark.shuffle_write_mb": totals["shuffle_write_mb"],
                "spark.gc_s": totals["gc_s"],
                "spark.sched_gap_s": wall - sm.stage_busy_s(g["stages"]),
            }
            if wl.name == "dedup_family":
                layer.update(_dedup_pass(g, wl.last_query_s))
            else:
                layer.update(_extract_pass(g, tracer, i, wall, batch_ms))
                mb, files = _dir_size(wl.catalog_dir(i))
                layer.update({"catalog.mb_written": mb, "catalog.files_written": files})
            per_pass.append(layer)
            wl.drop_pass(i)
    finally:
        undo()

    values = {k: 0.0 for k in PER_LAYER}
    values.update(phases)
    values["extract_job.batch_ms_per_doc"] = batch_ms
    for k in per_pass[0]:
        values[k] = statistics.median(p[k] for p in per_pass)
    if wl.name != "dedup_family":
        values["spark.parallel_efficiency"] = docs_per_s / (cores * 1000.0 / batch_ms)
    cpu = side["cpu_s_by_role"]
    values["process.driver_cpu_s"] = cpu.get("driver", 0.0)
    values["process.jvm_cpu_s"] = cpu.get("jvm", 0.0)
    values["process.python_worker_cpu_s"] = cpu.get("python_worker", 0.0)
    values["process.jvm_peak_rss_mb"] = side["jvm_peak_rss_mb"]
    traced_rate = statistics.median(wl.rows / w for w in walls)
    values["trace.docs_per_s_traced"] = traced_rate
    values["trace.overhead_frac"] = docs_per_s / traced_rate - 1.0

    exercised = set(phases) | {"extract_job.batch_ms_per_doc"} | set(per_pass[0])
    exercised |= {k for k in PER_LAYER if k.startswith(("process.", "trace."))}
    if wl.name != "dedup_family":
        exercised.add("spark.parallel_efficiency")
    side["not_exercised"] = sorted(set(PER_LAYER) - exercised)
    side["traced_pass_s"] = walls
    side["rest"] = rest_dump
    side["spans"] = tracer.spans
    return {k: (values[k], u) for k, u in PER_LAYER.items()}, attempted, failed
