#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall-clock of the headline query set; once the
extraction core lands, the primary extraction throughput (docs/sec) is
reported alongside under "extras". Each query is forced with a noop
sink (full compute, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_cust",
    "dedup_latest_event",
    "resume_anti_join",
    "rollup_source_lang",
    "events_daily",
    "salted_lang_agg",
    "string_stats",
    "candidate_scores",
    "dedup_exact",
    "dedup_incremental",
    "minhash_signatures_fast",
    "minhash_lsh_dups",
    "minhash_lsh_capped",
    "minhash_lsh_capped_fast",
    "simhash_docs",
    "simhash_pairs_capped",
    "tfidf_cosine_pairs",
    "knn_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_near_dups",
    "token_stats",
    "quality_score",
    "quality_gopher",
    "quality_classifier",
    "gopher_lines",
    "repetition_stats",
    "url_normalize",
    "pipeline_gate",
    "decontaminate",
    "dedup_groups",
    "pipeline_dedup_groups",
    "doc_fingerprint",
    "cube_orders",
    "price_quartiles",
    "price_quartiles_approx",
    "sessionize_events",
    "events_asof_join",
    "range_count_join",
    "events_rollup_multires",
    "events_pivot",
    "top_parts_by_revenue",
    "media_decode_stub",
    "media_decode_headers",
    "pack_sequences",
    "sample_stratified",
    "pii_scrub",
    "winnow_dup_candidates",
    "kmeans_refine",
    "snapshot_diff",
    "decontaminate_bloom",
    "ngram_lm_score",
    "shuffle_shards",
    "boilerplate_lines",
    "dsir_importance",
    "bm25_search",
    "domain_mixture",
    "semdedup",
    "bpe_merge_step",
    "url_blocklist",
    "unicode_nfc",
    "vocab_cardinality",
    "vocab_cardinality_approx",
    "pdf_text_extract",
    "extract_articles",
]


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from readability_py_spark.operators import merged_queries
    from readability_py_spark.session import build_session

    spark = build_session(
        app_name="rps-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus), 8)),
    )
    spark.sparkContext.setLogLevel("WARN")
    # include_retired: the bench keeps timing driver-retired sub-plan
    # queries (e.g. media_decode_stub) for round-over-round continuity
    qmap, _ = merged_queries(include_retired=True)

    # Warm up codegen/scan machinery once so the first timed query
    # isn't charged JVM JIT + noop-sink classloading.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        1000
    ).write.format("noop").mode("overwrite").save()
    # ...and the Python workers, so the first mapInPandas query isn't
    # charged 32 interpreter spawns (a long-running cluster amortizes
    # worker start to zero; same convention as tools/scaling.py).
    import pandas as _pd

    def _noop(it):
        for pdf in it:
            yield _pd.DataFrame({"n": [len(pdf)]})

    (
        spark.range(10000)
        .repartition(int(cpus))
        .mapInPandas(_noop, "n long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # Min-of-N per query (default 2): this box's hypervisor steal
    # spikes to 60% without warning, and a single cold rep per query
    # let one spike inflate a whole round's record (observed 277s vs
    # 74s totals for identical code minutes apart). The minimum of two
    # reps is a far better estimator of the code's cost; raise
    # SPARK_GRAFT_BENCH_REPS for manual runs.
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    # Wall-budget guard: under a sustained steal spike two reps of
    # everything could blow the driver's bench timeout (worst observed
    # single-rep total: 277s), so past this point remaining queries
    # drop to one rep. The budget is spent on the queries, not startup.
    budget_sec = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "400"))
    bench_start = time.monotonic()
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    from readability_py_spark.operators.dedup import release_caches

    for name in HEADLINE:
        fn = qmap[name]
        best = None
        for rep in range(n_reps):
            # re-check the elapsed budget before every NON-FIRST rep
            # (advisor r4: deciding reps once per query let a steal
            # spike during a slow first rep still run the second rep
            # un-gated, overshooting the budget by up to a full rep)
            if rep > 0 and (time.monotonic() - bench_start) >= budget_sec:
                break
            t0 = time.monotonic()
            force(fn(spark, sf_dir))
            wall = time.monotonic() - t0
            best = wall if best is None else min(best, wall)
            # release per-query persisted relations (advisor r2: the
            # dedup queries cache shingle/signature tables for their
            # self-joins; a sequential bench session must not
            # accumulate them)
            release_caches()
        timings[name] = round(best, 3)

    # Extraction throughput (flagship plan); becomes the primary
    # metric once the byte-faithful extractor is wired in.
    from readability_py_spark.plans.bench_extract import bench_extraction

    extras.update(bench_extraction(spark, sf_dir))

    # include the latest two-parallelism scaling evidence if present
    scaling_path = os.path.join(REPO, "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            s = json.load(fh)
        extras["scaling"] = {
            "docs_per_sec_local8": s["local8"]["docs_per_sec"],
            "docs_per_sec_local32": s["local32"]["docs_per_sec"],
            "efficiency": s["scaling_efficiency"],
            "hw_ceiling_efficiency": s.get("hw_ceiling_efficiency"),
        }

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": int(cpus),
        "extras": extras,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
