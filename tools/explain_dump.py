#!/usr/bin/env python3
"""Dump .explain("formatted") for queries() entries to files.

Usage:
    python tools/explain_dump.py <outdir> <suffix> <query> [...]
e.g.
    python tools/explain_dump.py plans/r07 before embedding_near_dups

Writes <outdir>/<query>_<suffix>.txt. Uses the same session shape as
bench.py (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus). Plans
are captured WITHOUT executing the query (explain is plan-only), but
eager persists inside query builders still run their materialization
jobs — callers should expect a few seconds per cached query.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session

    spark = build_session(
        app_name="rps-explain",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus), 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    q, _ = merged_queries(include_retired=True)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = q[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
