#!/usr/bin/env python3
"""Extra benchmarks for the optimization round (guide §1.4): noop-sink
isolation of sub-plans inside the expensive queries, so changes target
the operator that actually costs, not the query wrapper. bench.py is
FROZEN for measurement; numbers from here are cited in
OPTIMIZATION_r07.md only.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [probe ...]

Each probe runs twice (min), with job descriptions for the UI.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def probes(spark, sf_dir):
    from readability_py_spark.operators.textstats import (
        DECON_N,
        DECON_SLICE,
        gram_array,
        words_of,
    )
    from readability_py_spark.session import load_table, maybe_parallelize

    def docs():
        return load_table(spark, sf_dir, "documents")

    def decon_gram_build():
        corpus = maybe_parallelize(docs(), spark).select(
            "doc_id",
            F.array_distinct(gram_array(words_of(F.col("text")), DECON_N)).alias("g"),
        )
        return corpus.select("doc_id", F.size("g").alias("n"))

    def decon_eval_side():
        ev = (
            docs()
            .filter(F.col("doc_id") % DECON_SLICE == 0)
            .select(F.explode(gram_array(words_of(F.col("text")), DECON_N)).alias("g"))
            .distinct()
        )
        return ev.agg(F.array_sort(F.collect_set("g")).alias("evg"))

    def near_dup_tb():
        from readability_py_spark.operators.similarity import (
            NEAR_DUP_TABLES,
            _bucket_col,
            _near_dup_planes,
            _normed,
        )

        n = _normed(spark, sf_dir)
        buckets = F.array(
            *[_bucket_col(_near_dup_planes(t)) for t in range(NEAR_DUP_TABLES)]
        )
        return n.select("vec_id", "label", F.posexplode(buckets).alias("t", "bucket"))

    def near_dup_cand():
        tb = near_dup_tb()
        a, b = tb.alias("a"), tb.alias("b")
        return (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.t") == F.col("b.t"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
            .distinct()
        )

    def winnow_fp():
        from readability_py_spark.operators.textstats import q_winnow_fingerprint

        return q_winnow_fingerprint(spark, sf_dir)

    def minhash_sig_prod():
        from readability_py_spark.operators.dedup import (
            MINHASH_BAND_SIZE_PROD,
            MINHASH_K_PROD,
            _band_signatures,
            _shingled,
        )

        return _band_signatures(
            _shingled(spark, sf_dir),
            k=MINHASH_K_PROD,
            band_size=MINHASH_BAND_SIZE_PROD,
        )

    return {
        "decon_gram_build": decon_gram_build,
        "decon_eval_side": decon_eval_side,
        "near_dup_tb": near_dup_tb,
        "near_dup_cand": near_dup_cand,
        "winnow_fp": winnow_fp,
        "minhash_sig_prod": minhash_sig_prod,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session

    spark = build_session(
        app_name="rps-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus), 8)),
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(
        100
    ).write.format("noop").mode("overwrite").save()

    table = probes(spark, sf_dir)
    names = sys.argv[1:] or list(table)
    out = {}
    for name in names:
        fn = table[name]
        best = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
            release_caches()
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s", flush=True)
    print(json.dumps({"sf": sf_dir, "probes": out}))
    spark.stop()


if __name__ == "__main__":
    main()
