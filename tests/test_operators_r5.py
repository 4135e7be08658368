"""Round-5 operator tests: the gated single-split repartition
(VERDICT r4 "What's wrong" #1), connected-component cluster
resolution, eval-set decontamination, the group-aware composed
pipeline, and the fps-consuming frame sampler."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE, executed_plan


# ---------------------------------------------------------------------------
# maybe_parallelize gating
# ---------------------------------------------------------------------------


def test_maybe_parallelize_gates_on_split_count(spark):
    from readability_py_spark.session import load_table, maybe_parallelize

    n = spark.sparkContext.defaultParallelism
    # single-split testdata scan → repartitioned to n
    docs = load_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() < n
    assert maybe_parallelize(docs, spark).rdd.getNumPartitions() == n
    # pre-split input → passthrough, identical object
    wide = spark.range(1000).repartition(2 * n)
    assert maybe_parallelize(wide, spark) is wide


def test_repetition_stats_presplit_input_is_exchange_free(spark, tmp_path):
    """On a multi-split input the gated repartition must NOT fire: the
    map-only operator's plan has zero exchanges (at 100 TB the old
    unconditional form round-robin-shuffled 1× the corpus text)."""
    from readability_py_spark.operators.textstats import q_repetition_stats
    from readability_py_spark.session import load_table

    sf = str(tmp_path)
    (
        load_table(spark, SF_SMOKE, "documents")
        .repartition(32)
        .write.parquet(f"{sf}/documents.parquet")
    )
    df = q_repetition_stats(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    assert "exchange" not in plan, plan
    # same answer as the single-split path
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, q_repetition_stats(spark, SF_SMOKE).collect()))
    assert a == b


def test_simhash_presplit_input_has_no_repartition(spark, tmp_path):
    """The generated-SQL operators read a documents view built by
    maybe_parallelize, so a multi-split scan passes through with no
    exchange (the old hardcoded /*+ REPARTITION(32) */ would COALESCE
    a many-split scan)."""
    from readability_py_spark.operators.dedup import q_simhash_docs
    from readability_py_spark.session import load_table

    sf = str(tmp_path)
    (
        load_table(spark, SF_SMOKE, "documents")
        .repartition(32)
        .write.parquet(f"{sf}/documents.parquet")
    )
    df = q_simhash_docs(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    assert "exchange" not in executed_plan(df).lower()


# ---------------------------------------------------------------------------
# connected components (dedup_groups)
# ---------------------------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a_id long, b_id long"
    )


CC_TEST_PAIRS = (
    # chain + pair + triangle + a 21-vertex path (exercises pointer
    # jumping: diameter 20 must converge well inside CC_MAX_ITER)
    [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    + [(i, i + 1) for i in range(100, 120)]
)


def _cc_expected():
    exp = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    exp.update({i: 100 for i in range(100, 121)})
    return exp


def test_connected_components_resolves_transitive_chains(spark):
    """Both strategies — the single-task union-find fast path (default
    at this size) and the iterative label-propagation loop (forced via
    threshold=0) — produce the identical component-minimum labelling."""
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.groups import connected_components

    edges = _edges_df(spark, CC_TEST_PAIRS)
    for thr in (1_000_000, 0):
        got = {
            r["doc_id"]: r["cluster_rep"]
            for r in connected_components(
                edges, small_graph_threshold=thr
            ).collect()
        }
        release_caches()
        assert got == _cc_expected(), thr


def test_cc_union_find_plan_is_one_task_over_cached_pairs(spark):
    """Fast-path plan: one round-robin single-partition exchange of the
    (tiny, cached) pair table feeding mapInPandas — a repartition, NOT
    a coalesce, so upstream candidate generation keeps its parallelism."""
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.groups import connected_components

    df = connected_components(_edges_df(spark, CC_TEST_PAIRS))
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    release_caches()
    assert "mapinpandas" in plan, plan
    assert "singlepartition" in plan, plan
    assert "coalesce" not in plan, plan


def test_cc_step_plan_is_keyed_joins_plus_one_agg(spark):
    """Per-iteration cost: equi-joins + one min-agg only — no
    cartesian/quadratic step (the label table is one row per vertex)."""
    from readability_py_spark.operators.groups import _cc_step

    edges = _edges_df(spark, [(1, 2), (2, 3)])
    sym = edges.selectExpr("a_id AS src", "b_id AS dst").union(
        edges.selectExpr("b_id AS src", "a_id AS dst")
    )
    labels = sym.selectExpr("src AS v").distinct().withColumn("lbl", F.col("v"))
    # core propagation (no jump): exactly one equi-join + one min-agg
    step = _cc_step(sym, labels, jump=False)
    step.write.format("noop").mode("overwrite").save()
    plan = executed_plan(step).lower()
    assert "cartesianproduct" not in plan, plan
    assert "broadcastnestedloop" not in plan, plan
    n_joins = sum(plan.count(j) for j in ("sortmergejoin", "broadcasthashjoin", "shuffledhashjoin"))
    assert n_joins == 1, plan
    assert plan.count("hashaggregate") >= 1 or plan.count("sortaggregate") >= 1
    # with the pointer jump: still keyed-only, and the propagated label
    # table is CACHED so the jump's self-join does not recompute it
    from readability_py_spark.operators.dedup import release_caches

    stepj = _cc_step(sym, labels, jump=True)
    stepj.write.format("noop").mode("overwrite").save()
    planj = executed_plan(stepj).lower()
    release_caches()
    assert "cartesianproduct" not in planj, planj
    assert "broadcastnestedloop" not in planj, planj
    assert "inmemorytablescan" in planj or "tablecachequerystage" in planj, planj


def test_dedup_groups_reps_are_component_minima(spark):
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.groups import q_dedup_groups

    rows = q_dedup_groups(spark, SF_SMOKE).collect()
    release_caches()
    by_doc = {r["doc_id"]: r["cluster_rep"] for r in rows}
    assert len(by_doc) == len(rows)  # one row per vertex
    for doc, rep in by_doc.items():
        assert rep <= doc
        assert by_doc.get(rep, rep) == rep  # reps are their own reps


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------


def test_decontaminate_flags_eval_slice_and_stays_broadcast(spark):
    from readability_py_spark.operators.textstats import (
        DECON_N,
        DECON_SLICE,
        q_decontaminate,
    )

    df = q_decontaminate(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    rows = {r["doc_id"]: r for r in df.collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(rows) == docs
    # every eval-slice doc with >= DECON_N words is trivially
    # contaminated (it IS in the eval set); short ones have no grams
    hit = 0
    for doc_id, r in rows.items():
        if doc_id % DECON_SLICE == 0 and r["n_grams"] > 0:
            assert r["contaminated"] and r["overlap_cnt"] == r["n_grams"]
            hit += 1
        if r["n_grams"] == 0:
            assert not r["contaminated"] and r["overlap_cnt"] == 0
    assert hit >= 1
    # plan (r7 shape): per-doc grams EXPLODE and probe the broadcast
    # eval-gram set via a BroadcastHashJoin (the old in-row
    # array_intersect rebuilt an O(|eval|) hash set per corpus row);
    # the per-doc re-aggregation's exchange must sit ABOVE a partial
    # HashAggregate — i.e. gram rows collapse to one row per doc
    # map-side BEFORE they shuffle — and the gram relation itself
    # never hash-exchanges
    plan = executed_plan(df).lower()
    assert "broadcasthashjoin" in plan, plan
    assert "hashpartitioning(g#" not in plan, plan  # grams never shuffle
    assert "partial_max" in plan and "partial_sum" in plan, plan
    # the doc_id exchange consumes the partial aggregate's output, so
    # its shuffled width is O(docs), not O(grams)
    assert "hashpartitioning(doc_id" in plan, plan
    # (on the single-split testdata the gated round-robin parallelizer
    # fires for the CPU-heavy gram projection; the pre-split shape is
    # asserted below)


def test_decontaminate_presplit_corpus_side_is_exchange_free(spark, tmp_path):
    """On a multi-split input the gate is off: the corpus side of the
    decontamination join is scan → project → explode → broadcast-join
    → partial agg with NO round-robin repartition; the only exchanges
    are the tiny eval side's distinct and the O(docs) re-aggregation
    of already-collapsed partial rows."""
    from readability_py_spark.operators.textstats import q_decontaminate
    from readability_py_spark.session import load_table

    sf = str(tmp_path)
    (
        load_table(spark, SF_SMOKE, "documents")
        .repartition(32)
        .write.parquet(f"{sf}/documents.parquet")
    )
    df = q_decontaminate(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    assert "roundrobin" not in plan, plan
    assert "hashpartitioning(g#" not in plan, plan  # grams never shuffle
    assert "partial_max" in plan and "partial_sum" in plan, plan


# ---------------------------------------------------------------------------
# pipeline_dedup_groups
# ---------------------------------------------------------------------------


def test_pipeline_dedup_groups_invariants(spark):
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.groups import q_pipeline_dedup_groups
    from readability_py_spark.operators.pipeline import q_pipeline_gate

    out = q_pipeline_dedup_groups(spark, SF_SMOKE).collect()
    n_surv = q_pipeline_gate(spark, SF_SMOKE).count()
    release_caches()
    assert len(out) == n_surv  # one row per url-dedup survivor
    by_doc = {r["doc_id"]: r for r in out}
    for r in out:
        assert r["cluster_rep"] <= r["doc_id"]
        assert r["is_keeper"] == (r["cluster_rep"] == r["doc_id"])
        rep = by_doc.get(r["cluster_rep"])
        if rep is not None:
            assert rep["is_keeper"]


# ---------------------------------------------------------------------------
# frame sampler consumes fps
# ---------------------------------------------------------------------------


def test_frame_sample_batch_snaps_and_dedupes_on_frame_grid():
    import pandas as pd

    from readability_py_spark.operators.multimodal import frame_sample_batch

    pdf = pd.DataFrame(
        {
            "doc_id": [7],
            "payload": [b"\x00" * 8],
            "duration_ms": [200],
            "fps": [25],  # 40 ms frame interval
        }
    )
    # every_ms=20 is below the frame interval: samples at 0,20,40,...
    # collapse pairwise onto frames 0..4
    out = pd.concat(list(frame_sample_batch(20)([pdf])))
    assert list(out["frame_idx"]) == [0, 1, 2, 3, 4]
    assert list(out["ts_ms"]) == [0, 40, 80, 120, 160]
    assert out["frame"].map(len).eq(16).all()


# ---------------------------------------------------------------------------
# driver budget bookkeeping
# ---------------------------------------------------------------------------


# retired queries that nothing ran any more (neither the driver, bench.py
# nor a surviving query), deleted together with their oracles
DELETED_QUERIES = (
    "ann_lsh_buckets",
    "explode_words",
    "media_meta",
    "minhash_signatures",
    "ngram_jaccard_dups",
    "set_intersect",
    "set_union",
    "simhash_dup_pairs",
)


def test_r5_driver_dict_composition():
    from readability_py_spark.operators import merged_queries

    q, o = merged_queries()
    assert len(q) == 50
    for name in ("dedup_groups", "decontaminate", "pipeline_dedup_groups"):
        assert name in q and name in o
    qa, oa = merged_queries(include_retired=True)
    for name in DELETED_QUERIES:  # the driver dicts are subsets of these
        assert name not in qa and name not in oa


def test_every_retired_query_is_benched():
    """A retiree leaves the driver dict but must stay timed by bench.py;
    a query that nothing runs is deleted instead of retired."""
    import bench
    from readability_py_spark.operators import RETIRED

    assert RETIRED <= set(bench.HEADLINE), RETIRED - set(bench.HEADLINE)


# ---------------------------------------------------------------------------
# corpus-preparation family (operators/packing.py, LOCAL_ONLY)
# ---------------------------------------------------------------------------


def test_pack_sequences_accounting_matches_serial_replay(spark):
    """Replay one bucket's concat-and-chunk stream serially in Python
    and check every doc's (seq_id, seq_offset, n_windows) against the
    window-function plan."""
    from readability_py_spark.operators.packing import (
        PACK_BUCKETS,
        PACK_WINDOW,
        q_pack_sequences,
    )

    rows = q_pack_sequences(spark, SF_SMOKE).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_bucket: dict = {}
    for r in rows:
        assert r["bucket"] == r["doc_id"] % PACK_BUCKETS
        assert 0 <= r["seq_offset"] < PACK_WINDOW
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket_rows in by_bucket.values():
        cum = 0
        for r in sorted(bucket_rows, key=lambda r: r["doc_id"]):
            assert r["seq_id"] == cum // PACK_WINDOW
            assert r["seq_offset"] == cum % PACK_WINDOW
            end = cum + r["n_tokens"] - 1
            assert r["n_windows"] == end // PACK_WINDOW - cum // PACK_WINDOW + 1
            cum += r["n_tokens"]


def test_pack_sequences_plan_one_bucket_shuffle_no_global_sort(spark):
    """Exactly one hash exchange (on the pack bucket); the in-bucket
    window sorts per partition — no rangepartitioning (global sort)."""
    from readability_py_spark.operators.packing import q_pack_sequences

    df = q_pack_sequences(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    assert plan.count("hashpartitioning(bucket") == 1, plan
    assert "rangepartitioning" not in plan, plan
    assert "roundrobin" not in plan, plan


def test_sample_stratified_rates_and_determinism(spark):
    """Kept fraction lands near the stratum target (md5 uniformity)
    and the kept set is identical across runs (no RNG state)."""
    from readability_py_spark.operators.packing import q_sample_stratified

    rows = q_sample_stratified(spark, SF_SMOKE).collect()
    again = q_sample_stratified(spark, SF_SMOKE).collect()
    assert {(r["doc_id"], r["keep"]) for r in rows} == {
        (r["doc_id"], r["keep"]) for r in again
    }
    by_lang: dict = {}
    for r in rows:
        tot, kept = by_lang.get(r["lang"], (0, 0))
        by_lang[r["lang"]] = (tot + 1, kept + bool(r["keep"]))
    en_tot, en_kept = by_lang["en"]
    assert abs(en_kept / en_tot - 0.5) < 0.2
    other = [(t, k) for lang, (t, k) in by_lang.items() if lang != "en"]
    o_tot, o_kept = sum(t for t, _ in other), sum(k for _, k in other)
    assert abs(o_kept / o_tot - 0.2) < 0.15


def test_pii_scrub_redacts_exactly_the_decorated_docs(spark):
    from readability_py_spark.operators.packing import q_pii_scrub

    rows = q_pii_scrub(spark, SF_SMOKE).collect()
    for r in rows:
        did = r["doc_id"]
        assert r["n_emails"] == (1 if did % 7 == 0 else 0), r
        assert r["n_phones"] == (1 if did % 11 == 0 else 0), r
        assert r["n_ips"] == (1 if did % 13 == 0 else 0), r
        assert ("<EMAIL>" in r["scrubbed"]) == (did % 7 == 0)
        assert ("<PHONE>" in r["scrubbed"]) == (did % 11 == 0)
        assert ("<IP>" in r["scrubbed"]) == (did % 13 == 0)
        assert "@" not in r["scrubbed"]


def test_sampling_and_scrub_plans_are_map_only(spark, tmp_path):
    """Both are pure projections that fuse into the scan stage.
    sample_stratified is exchange-free at any split count; pii_scrub's
    six regexp passes go through the gated parallelizer (r7), so on
    the single-split testdata its ONLY exchange is the round-robin
    gate, and on a pre-split input it is exchange-free."""
    from readability_py_spark.operators.packing import (
        q_pii_scrub,
        q_sample_stratified,
    )
    from readability_py_spark.session import load_table

    df = q_sample_stratified(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    assert "exchange" not in executed_plan(df).lower()

    df = q_pii_scrub(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    assert "hashpartitioning" not in plan, plan
    assert plan.count("exchange roundrobin") <= 1, plan

    sf = str(tmp_path)
    (
        load_table(spark, SF_SMOKE, "documents")
        .repartition(32)
        .write.parquet(f"{sf}/documents.parquet")
    )
    df = q_pii_scrub(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    assert "exchange" not in executed_plan(df).lower()


def test_tfidf_cosine_pairs_shape_and_semantics(spark):
    """The pruned-inverted-index APSS query: candidates only meet
    through a shared surviving term (equi-join — no cartesian), the
    df-cap actually prunes, emitted cosines are in (0.6, 1], and the
    pair set is symmetric-free (a_id < b_id). Cross-checks one pair's
    cosine against a NumPy dense computation of the same tf-idf
    weighting."""
    import numpy as np

    from readability_py_spark.operators.dedup import (
        TFIDF_COS_THRESHOLD,
        TFIDF_DF_CAP,
        TFIDF_DF_MIN,
        TFIDF_N,
        q_tfidf_cosine_pairs,
    )
    from readability_py_spark.operators.textstats import gram_array, words_of
    from readability_py_spark.session import load_table

    df = q_tfidf_cosine_pairs(spark, SF_SMOKE)
    plan = executed_plan(df).lower()
    assert "cartesianproduct" not in plan
    rows = df.collect()
    assert rows, "no near-dup pairs at smoke SF"
    assert all(r.a_id < r.b_id for r in rows)
    assert all(TFIDF_COS_THRESHOLD <= r.cosine <= 1.0 + 1e-9 for r in rows)

    # dense recomputation of one emitted pair's cosine
    a_id, b_id = rows[0].a_id, rows[0].b_id
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", gram_array(words_of(F.col("text")), TFIDF_N).alias("g"))
        .collect()
    )
    n_total = len(docs)
    from collections import Counter

    tf = {r.doc_id: Counter(r.g) for r in docs}
    dfc = Counter(t for c in tf.values() for t in c)
    terms = sorted(
        t for t, d in dfc.items() if TFIDF_DF_MIN <= d <= TFIDF_DF_CAP
    )
    idx = {t: i for i, t in enumerate(terms)}

    def vec(doc_id):
        v = np.zeros(len(terms))
        for t, c in tf[doc_id].items():
            if t in idx:
                v[idx[t]] = c * math.log((n_total + 1.0) / dfc[t])
        return v / np.linalg.norm(v)

    expect = float(vec(a_id) @ vec(b_id))
    assert abs(round(expect, 4) - rows[0].cosine) <= 1e-4


def test_minhash_lsh_capped_fast_matches_md5_pipeline(spark):
    """The production-hash (xxhash64) capped LSH pipeline emits the
    SAME (a_id, b_id, jaccard) set as the driver-hash-green md5
    pipeline: hashed-shingle Jaccard equals string-shingle Jaccard up
    to 64-bit collisions, banding differs only in which hash family
    names the buckets, and the corpus' true near-dup pairs (replica
    Jaccard >= threshold) collide in >=1 of 16 bands under either
    family at this SF."""
    from readability_py_spark.operators.dedup import (
        q_minhash_lsh_capped,
        q_minhash_lsh_capped_fast,
        release_caches,
    )

    sf = "/root/testdata/sf0.01"
    md5_rows = {
        (r.a_id, r.b_id, r.jaccard)
        for r in q_minhash_lsh_capped(spark, sf).collect()
    }
    release_caches()
    fast_rows = {
        (r.a_id, r.b_id, r.jaccard)
        for r in q_minhash_lsh_capped_fast(spark, sf).collect()
    }
    release_caches()
    assert md5_rows, "md5 capped pipeline found no pairs at sf0.01"
    assert fast_rows == md5_rows


# ---------------------------------------------------------------------------
# Time-series joins (operators/timeseries.py)
# ---------------------------------------------------------------------------


def test_events_asof_join_plan_is_single_exchange_no_join(spark):
    """The as-of join must be the union+window rewrite: exactly one
    hash exchange (the user_id shuffle) and NO join operator — the
    naive inequality-join formulation would plan a nested-loop and be
    quadratic at scale."""
    from readability_py_spark.operators.timeseries import q_events_asof_join

    plan = executed_plan(q_events_asof_join(spark, SF_SMOKE)).lower()
    assert "join" not in plan
    assert plan.count("exchange hashpartitioning") == 1
    assert "window" in plan


def test_events_asof_join_semantics(spark):
    """Every purchase matches the max-ts click at-or-before it (ties
    by max event_id), or (-1, -1) when the user has no prior click —
    checked against an independent in-memory replay."""
    from readability_py_spark.operators.timeseries import q_events_asof_join
    from readability_py_spark.session import load_table

    got = {
        r.p_event_id: (r.c_event_id, r.gap_sec)
        for r in q_events_asof_join(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").collect()
    clicks_by_user: dict = {}
    for r in ev:
        if r.event_type == "click":
            clicks_by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    for v in clicks_by_user.values():
        v.sort()
    import bisect

    for r in ev:
        if r.event_type != "purchase":
            continue
        clicks = clicks_by_user.get(r.user_id, [])
        i = bisect.bisect_right(clicks, (r.ts, float("inf")))
        if i == 0:
            assert got[r.event_id] == (-1, -1)
        else:
            ts, _ = clicks[i - 1]
            # max event_id among clicks sharing the winning timestamp
            eid = max(e for t, e in clicks if t == ts)
            gap = int(r.ts.timestamp()) - int(ts.timestamp())
            assert got[r.event_id] == (eid, gap)


def test_range_count_join_is_equi_join_not_nested_loop(spark):
    """The bucketed range join must plan as an equi-join on
    (user_id, bucket): no BroadcastNestedLoopJoin / CartesianProduct
    (what Spark gives the naive inequality predicate)."""
    from readability_py_spark.operators.timeseries import q_range_count_join

    plan = executed_plan(q_range_count_join(spark, SF_SMOKE)).lower()
    assert "broadcastnestedloop" not in plan
    assert "cartesian" not in plan
    assert any(
        j in plan
        for j in ("broadcasthashjoin", "sortmergejoin", "shuffledhashjoin")
    )


def test_range_count_join_counts_match_naive_replay(spark):
    """Bucketing is invisible: counts equal a direct per-window scan
    replay (windows at bucket boundaries must not double-count)."""
    from readability_py_spark.operators.timeseries import (
        RANGE_WINDOW_SEC,
        q_range_count_join,
    )
    from readability_py_spark.session import load_table

    got = {
        (r.w_event_id, r.user_id): r.n_errors
        for r in q_range_count_join(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").collect()
    errors = [(r.user_id, r.ts) for r in ev if r.event_type == "error"]
    expect = {}
    for r in ev:
        if r.event_type != "signup":
            continue
        n = sum(
            1
            for u, ts in errors
            if u == r.user_id
            and ts >= r.ts
            and (ts - r.ts).total_seconds() < RANGE_WINDOW_SEC
        )
        if n:
            expect[(r.event_id, r.user_id)] = n
    assert got == expect


def test_winnow_dup_candidates_plan_and_semantics(spark):
    """Cross-doc substring-dup candidates: equi-join on fingerprint
    (never nested-loop/cartesian), and the containment threshold holds
    for every emitted pair (integer arithmetic, so no float boundary).
    Also guards the Catalyst hazard this operator documents: the query
    must finish fast — without the eager persist below the explode,
    CollapseProject inlines the winnow selection tree into every
    consumer and the plan never finishes compiling."""
    import time

    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.textstats import (
        WINNOW_PAIR_PCT,
        q_winnow_dup_candidates,
    )

    t0 = time.monotonic()
    df = q_winnow_dup_candidates(spark, SF_SMOKE)
    plan = executed_plan(df).lower()
    assert "broadcastnestedloop" not in plan
    assert "cartesian" not in plan
    rows = df.collect()
    release_caches()
    assert time.monotonic() - t0 < 120
    assert rows, "no substring-dup candidates at sf0.001"
    for r in rows:
        assert r.a_id < r.b_id
        assert 0 < r.containment <= 1.0
        # shared*100 >= PCT*mn  ⇒  containment >= PCT/100 (up to round)
        assert r.containment >= WINNOW_PAIR_PCT / 100 - 1e-4


def test_quality_classifier_is_map_only_and_integer_exact(spark):
    """The hashed linear quality model must stay an in-row fold: no
    exchange beyond the gated single-split parallelizer, no join, no
    generate — and its score is exact integer algebra (milli-weights),
    reproducible bit-for-bit."""
    from readability_py_spark.operators.textstats import (
        QC_DIM,
        QC_WEIGHTS,
        q_quality_classifier,
    )

    assert len(QC_WEIGHTS) == QC_DIM
    assert all(-500 <= w <= 500 for w in QC_WEIGHTS)
    df = q_quality_classifier(spark, SF_SMOKE)
    plan = executed_plan(df).lower()
    assert "join" not in plan
    assert "generate" not in plan
    # only the split-starvation repartition may appear, never a hash
    # exchange (no aggregation/shuffle in a per-doc scorer)
    assert "exchange hashpartitioning" not in plan
    rows = df.collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r.keep == (r.score_milli > 0)


def test_events_rollup_multires_reuses_partials(spark):
    """The continuous-aggregate shape: raw events are scanned for the
    HOURLY rollup only; daily and monthly aggregate the cached finer
    partials (InMemoryTableScan), never the raw table again."""
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.operators.timeseries import (
        q_events_rollup_multires,
    )

    df = q_events_rollup_multires(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    # the three output branches must all read the hourly cache —
    # hourly projection, daily rollup, monthly rollup — so
    # InMemoryTableScan appears >= 3 times and no branch rescans raw
    # events
    plan = executed_plan(df).lower()
    release_caches()
    assert plan.count("inmemorytablescan") >= 3, plan
    rows = q_events_rollup_multires(spark, SF_SMOKE).collect()
    release_caches()
    by_res = {}
    for r in rows:
        by_res.setdefault(r.resolution, []).append(r)
    # conservation: every resolution accounts for all events
    totals = {k: sum(r.n for r in v) for k, v in by_res.items()}
    assert totals["hour"] == totals["day"] == totals["month"]
