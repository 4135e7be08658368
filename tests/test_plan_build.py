"""Building a dedup-family query costs few py4j round trips once warm:
the wide Column builders are memoized per JVM (session.jvm_memo),
load_table infers each file version's schema once, and a pass's
generated classes stay in the codegen cache."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE

# py4j round trips of a warm builder call, eager-persist jobs included.
# Without the memo, dedup_incremental, dedup_groups and
# pipeline_dedup_groups each took 3,600-5,500 on the perfbench table.
ROUND_TRIP_BUDGET = {
    "dedup_exact": 150,
    "dedup_incremental": 800,
    "dedup_groups": 1600,
    "pipeline_dedup_groups": 1300,
    "winnow_dup_candidates": 800,
}


def _round_trips(monkeypatch, fn) -> int:
    """py4j commands Python sends while ``fn`` runs."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        fn()
    return sent[0]


@pytest.mark.parametrize("name", sorted(ROUND_TRIP_BUDGET))
def test_warm_builder_round_trips(spark, monkeypatch, name):
    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches

    build = merged_queries()[0][name]
    try:
        build(spark, SF_SMOKE)
        release_caches()
        n = _round_trips(monkeypatch, lambda: build(spark, SF_SMOKE))
    finally:
        release_caches()
    assert 0 < n <= ROUND_TRIP_BUDGET[name], n


def test_second_pass_compiles_no_new_classes(spark):
    """A dedup-family pass generates about twice as many classes as
    Spark's stock 100-entry codegen cache holds, which then evicted
    each before its next use; the session's cache keeps a pass."""
    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches

    queries = merged_queries()[0]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        n = compiles.getCount()
        for name in sorted(ROUND_TRIP_BUDGET):
            queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            release_caches()
        return compiles.getCount() - n

    one_pass()
    assert one_pass() <= 10


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    from readability_py_spark.session import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert _jobs(spark, "load-twice", lambda: [load_table(spark, str(tmp_path), "t")
                                              for _ in range(2)]) == 1
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_hoisted_encode_fold_gives_the_same_minhashes(spark):
    """The md5 fold over pre-encoded shingles equals the fold that
    encodes "i:" + shingle per permutation, on every doc."""
    from readability_py_spark.operators.dedup import (
        MINHASH_BAND_SIZE_PROD,
        MINHASH_K_PROD,
        _doc_tokens,
        _minhash_bands,
        _shingle_sets,
    )

    k = MINHASH_K_PROD
    per_permutation = F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(None).cast("string"), k),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.md5(F.encode(F.concat(F.lit(f"{i}:"), s), "utf-8"))
                      for i in range(k)]),
            lambda a, b: F.least(a, b),
        ),
    ).alias("m")
    sh = _shingle_sets(_doc_tokens(spark, SF_SMOKE)).cache()
    try:
        hoisted = sh.select("doc_id", _minhash_bands(k, MINHASH_BAND_SIZE_PROD, "md5")[0])
        old = sh.select("doc_id", per_permutation)
        assert hoisted.count() == old.count() > 0
        assert hoisted.exceptAll(old).isEmpty() and old.exceptAll(hoisted).isEmpty()
    finally:
        sh.unpersist()


def test_memo_is_dropped_for_a_new_gateway(spark, monkeypatch):
    from pyspark import SparkContext

    from readability_py_spark.operators.dedup import _jaccard

    first = _jaccard("a", "b")
    assert _jaccard("a", "b") is first
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        rebuilt = _jaccard("a", "b")
        assert rebuilt is not first and _jaccard("a", "b") is rebuilt
    assert _jaccard("a", "b") is not rebuilt
