#!/usr/bin/env python3
"""Run the oracle pairs (full surface, include_retired=True) against
DuckDB at an arbitrary SF dir — the assurance sweep for SF-dependent
divergence (the IEEE -0.0 class only ever appeared at sf0.01+; this
runs the whole surface at sf0.1, which no routine harness covers).

Only a run with named pairs is quick. The whole surface at sf0.1 is
not: the `dedup_groups` DuckDB oracle (a recursive reachability CTE)
alone took 1,117 s on 4 cores.

Usage: python tools/oracle_sweep.py [SF_DIR [name ...]]   (default sf0.1, every pair)
Prints one line per pair with its elapsed seconds (Spark query plus
oracle) and a final tally; exit 1 on any mismatch or on a name without
an oracle pair.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    from oracle_harness import compare  # tests/oracle_harness.py

    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session

    spark = build_session(
        app_name="rps-oracle-sweep",
        master="local[8]",
        shuffle_partitions="8",
    )
    spark.sparkContext.setLogLevel("ERROR")
    q, o = merged_queries(include_retired=True)
    ok = bad = err = 0
    for name in names or sorted(o):
        if name not in o:
            err += 1
            print(f"ERR  {name}: no oracle pair", flush=True)
            continue
        t0 = time.monotonic()
        try:
            res = compare(q[name](spark, sf_dir), o[name], sf_dir)
        except Exception as e:  # noqa: BLE001 — report and continue
            err += 1
            print(f"ERR  {name} {time.monotonic() - t0:.1f}s: {e}", flush=True)
            release_caches()
            continue
        release_caches()
        secs = f"{time.monotonic() - t0:.1f}s"
        if res.get("cols_match") and res.get("rows_match") and res.get(
            "values_match"
        ):
            ok += 1
            print(f"ok   {name} {secs}", flush=True)
        else:
            bad += 1
            print(f"FAIL {name} {secs}: {json.dumps(res)[:400]}", flush=True)
    print(
        f"oracle sweep @ {sf_dir}: {ok} match / {bad} mismatch / {err} error "
        f"of {len(names or o)} pairs"
    )
    spark.stop()
    sys.exit(1 if (bad or err) else 0)


if __name__ == "__main__":
    main()
