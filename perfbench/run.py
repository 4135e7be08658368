#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. Spark runs at local[nproc] inside this
process. The run writes its inputs, catalog output and a side-car JSON
(diagnostics, pass times, spans) under perfbench/out/, and prints as its
last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
LATENCY_WARMUP_PAGES = 100  # extracted untimed before the latency sample


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def start_spark(work: str, cores: int):
    from readability_py_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # gateway handshake files, Python workers
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=str(max(cores, 8)),
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "readability_py_spark")):
        print(f"perfbench: no readability_py_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import hoststat
    from perfbench.layers import serial_latency
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = start_spark(work, cores)
    setup = {"session_s": time.time() - t_start}
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        side = {"workload": args.workload, "seed": args.seed, "cores": cores,
                "parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "arrow_batch_rows": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")}
        t0 = time.time()
        side.update(wl.make_inputs())
        setup["inputs_s"] = time.time() - t0

        setup.update(wl.warm_up())
        setup_s = time.time() - t_start
        side["setup"] = setup

        calib = [hoststat.calibration_ms()]
        walls, steal, cpu_roles = [], [], {}
        attempted = failed = i = 0
        # keep starting passes while the passes so far, plus half a
        # pass, fit in --seconds; at least one pass
        while not walls or sum(walls) + walls[-1] / 2 < args.seconds:
            ticks = hoststat.cpu_ticks()
            cpu0 = hoststat.cpu_by_role(hoststat.process_tree())
            spark.sparkContext.setJobGroup(f"pass-{i}", f"timed pass {i}")
            walls.append(wl.run_pass(i))
            for role, s1 in hoststat.cpu_by_role(hoststat.process_tree()).items():
                cpu_roles[role] = cpu_roles.get(role, 0.0) + s1 - cpu0.get(role, 0.0)
            steal.append(hoststat.steal_pct(ticks, hoststat.cpu_ticks()))
            a, f = wl.check_pass(i)
            attempted, failed = attempted + a, failed + f
            if i > 0:
                wl.drop_pass(i - 1)
            i += 1
        last = i - 1
        calib.append(hoststat.calibration_ms())

        tree = hoststat.process_tree()
        side.update(pass_s=walls, steal_pct=steal, calibration_ms=calib,
                    cpu_s_by_role=cpu_roles,
                    jvm_peak_rss_mb=hoststat.peak_rss_mb(tree, "jvm"))
        py_rss = hoststat.peak_rss_mb(tree, "python_worker")

        t0 = time.time()
        if wl.latency:
            # serial library-path latency of the sample, in this
            # process; its digests against the last timed pass's output
            lat = serial_latency(wl.sample, LATENCY_WARMUP_PAGES)
            a, f = wl.check_sample(last, lat)
            attempted, failed = attempted + a, failed + f
            ms = [x[1] for x in lat]
            # printed and kept in the side-car, not metrics: see README.md
            side.update(latency_samples=len(ms), doc_p50_ms=percentile(ms, 0.50),
                        doc_p99_ms=percentile(ms, 0.99))
        a, f = wl.check_results()
        attempted, failed = attempted + a, failed + f
        side["checks_s"] = time.time() - t0

        docs_per_s = statistics.median(wl.rows / w for w in walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (docs_per_s, "1/s"),
            "cpu_s_per_kdoc": (sum(cpu_roles.values()) / (wl.rows * len(walls) / 1000.0), "s"),
            "py_worker_peak_rss_mb": (py_rss, "MB"),
        }
        if args.trace:
            from perfbench.traced import traced_run

            metrics, a, f = traced_run(spark, wl, side, cores, docs_per_s)
            attempted, failed = attempted + a, failed + f
        wl.drop_pass(last)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    side.update(attempted=attempted, failed=failed, failed_frac=failed / attempted,
                metrics={k: v for k, (v, _) in metrics.items()})
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(side, fh, indent=1, default=str)
    for name, (value, unit) in metrics.items():
        print(f"{name:<36} {value:>14.4f} {unit}")
    for name in ("doc_p50_ms", "doc_p99_ms"):
        if name in side:
            print(f"{name:<36} {side[name]:>14.4f} ms (side-car only)")
    print(f"{'failed_frac':<36} {side['failed_frac']:>14.4f} ratio "
          f"({failed}/{attempted}, reported as failed/attempted)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
