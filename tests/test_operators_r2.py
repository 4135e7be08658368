"""Round-2 operator tests: capped LSH (hot-bucket side channel),
approx-percentile error bound, and plan-shape guards for the
zero-shuffle SimHash build and the single-exchange extraction plan."""

from __future__ import annotations

import os
import re

import pytest

from .conftest import SF_SMOKE, executed_plan
from .oracle_harness import compare


def test_simhash_signature_build_is_mapside(spark):
    """The signature build must not shuffle: the only exchange allowed
    is the parallelism repartition of the single-file test scan — no
    HashAggregate (round 1 exploded tokens into a shuffled 32-column
    groupBy; round 2 folds in-row arrays)."""
    from readability_py_spark.operators.dedup import q_simhash_docs

    plan = executed_plan(q_simhash_docs(spark, SF_SMOKE))
    assert "HashAggregate" not in plan, plan
    assert len(re.findall(r"Exchange", plan)) <= 1, plan


def test_extraction_plan_single_exchange(spark):
    """Dedup-latest must stay single-exchange (two full-payload
    shuffles was the round-1 shape and the main 8→32-core scaling
    overhead): REPARTITION_BY_NUM (AQE-coalescing-exempt, even tasks)
    + partition-local window with the top-1 limit pushed below the
    sort."""
    from readability_py_spark.plans.extract_job import (
        extraction_plan,
        pages_from_documents,
    )

    pages = pages_from_documents(spark, SF_SMOKE)
    plan = executed_plan(extraction_plan(pages, num_partitions=8))
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_bucketed_extraction_zero_exchange(spark, tmp_path):
    """Over a url-bucketed table (the production Iceberg layout) the
    whole extraction plan — filter, dedup-latest window, mapInPandas —
    must contain ZERO exchanges: dedup rides the bucket clustering."""
    from pyspark.sql import functions as F

    from readability_py_spark.plans.extract_job import (
        extraction_plan,
        pages_from_documents,
    )

    tbl = "pages_bucketed_zx"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    pages_from_documents(spark, SF_SMOKE).write.bucketBy(4, "url").format(
        "parquet"
    ).mode("overwrite").saveAsTable(tbl)
    try:
        plan = executed_plan(
            extraction_plan(spark.table(tbl), assume_clustered=True)
        )
        assert len(re.findall(r"Exchange", plan)) == 0, plan
        assert "MapInPandas" in plan, plan
        # and it still extracts correctly
        out = extraction_plan(spark.table(tbl), assume_clustered=True)
        n = out.filter(F.col("metrics.parse_ok")).count()
        assert n == 500
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_price_quartiles_approx_close_to_exact(spark):
    """approx_percentile at accuracy=10000 must sit within 1% relative
    of the exact interpolated percentile on every cell (the production
    path has no oracle twin — this bounds its error instead)."""
    from readability_py_spark.operators.relational import (
        q_price_quartiles,
        q_price_quartiles_approx,
    )

    exact = {r["l_returnflag"]: r for r in q_price_quartiles(spark, SF_SMOKE).collect()}
    approx = {r["l_returnflag"]: r for r in q_price_quartiles_approx(spark, SF_SMOKE).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        for col in ("p25", "p50", "p75", "p90"):
            rel = abs(a[col] - e[col]) / max(abs(e[col]), 1e-9)
            assert rel <= 0.01, (flag, col, e[col], a[col])


@pytest.fixture(scope="module")
def boilerplate_dir(spark, tmp_path_factory):
    """Synthetic corpus where one boilerplate text is mass-duplicated
    (15 copies > LSH_BUCKET_CAP=10) — the Common Crawl failure mode the
    bucket cap exists for — plus a near-dup pair and unique filler."""
    d = str(tmp_path_factory.mktemp("hotbucket"))
    boiler = "cookie notice please accept our terms and conditions to continue reading this site"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [(i, boiler, "en", "s0", len(boiler)) for i in range(15)]
    rows += [
        (100, near_a, "en", "s0", len(near_a)),
        (101, near_b, "en", "s0", len(near_b)),
    ]
    rows += [
        (200 + i, f"unique document number {i} with its own distinct words w{i}a w{i}b w{i}c", "en", "s0", 60)
        for i in range(5)
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


def test_minhash_lsh_capped_hot_bucket(spark, boilerplate_dir):
    """Both channels fire and match the DuckDB oracle: the 15-copy
    boilerplate routes through the exact side channel (jaccard 1.0,
    paired with the group min — LINEAR, never a 15x15 self-join), the
    near-dup pair survives the small-bucket verify join."""
    from readability_py_spark.operators.dedup import (
        ORACLE_MINHASH_LSH_CAPPED,
        q_minhash_lsh_capped,
    )

    df = q_minhash_lsh_capped(spark, boilerplate_dir)
    rows = df.collect()
    exact_pairs = [r for r in rows if r["jaccard"] == 1.0]
    near_pairs = [r for r in rows if 0.5 <= r["jaccard"] < 1.0]
    # exact channel: every dup pairs with the group min (doc_id 0)
    assert {(r["a_id"], r["b_id"]) for r in exact_pairs} == {
        (0, i) for i in range(1, 15)
    }
    assert {(r["a_id"], r["b_id"]) for r in near_pairs} == {(100, 101)}
    result = compare(df, ORACLE_MINHASH_LSH_CAPPED, boilerplate_dir)
    assert result["cols_match"] and result["rows_match"], result
    assert result["values_match"], result["first_diff"]
