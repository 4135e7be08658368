"""Spark extraction job: end-to-end plan, metrics, and resume protocol."""

from __future__ import annotations

import base64
import json
import os

from .conftest import SF_SMOKE
from .test_extractor_goldens import CASES


def test_flagship_entry(spark):
    from readability_py_spark.plans.extract_job import flagship

    rows = flagship(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1
    total = sum(r["docs"] for r in rows)
    ok = sum(r["parse_ok_docs"] for r in rows)
    assert total == 500 and ok == total


def test_spark_extraction_matches_goldens(spark):
    """The Arrow-batch path must produce the same bytes as the plain
    core on the golden fixtures (UDF wiring adds no drift)."""
    from readability_py_spark.plans.extract_job import extraction_plan

    cases = [c for c in CASES if c["ok"] and not c["settings"]][:30]
    data = [
        (
            c["url"] or f"http://none.example.com/{c['id']}",
            None,
            base64.b64decode(c["html_b64"]),
            "",
            "en",
        )
        for c in cases
    ]
    pages = spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("warc_ts", __import__("pyspark").sql.functions.lit("2026-01-01").cast("timestamp"))
    out = {r["url"]: r for r in extraction_plan(pages).collect()}
    assert len(out) == len(cases)
    for c in cases:
        url = c["url"] or f"http://none.example.com/{c['id']}"
        row = out[url]
        assert row["metrics"]["parse_ok"], c["id"]
        assert row["article_text"].encode("utf-8") == base64.b64decode(
            c["text_b64"]
        ), c["id"]
        assert row["title"].encode("utf-8") == base64.b64decode(
            c["title_b64"]
        ), c["id"]


def _repartition_widths(df) -> list[int]:
    """numPartitions of every RepartitionByExpression in the optimized
    logical plan."""
    widths, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "RepartitionByExpression":
            widths.append(node.numPartitions())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return widths


def test_extraction_plan_one_task_per_core(spark):
    """The UDF stage defaults to one task per core (each Python task
    pays a fixed worker setup); an explicit num_partitions still wins."""
    from readability_py_spark.plans.extract_job import (
        extraction_plan,
        pages_from_documents,
    )

    pages = pages_from_documents(spark, SF_SMOKE)
    cores = spark.sparkContext.defaultParallelism
    assert _repartition_widths(extraction_plan(pages)) == [cores]
    assert _repartition_widths(extraction_plan(pages, num_partitions=8)) == [8]


def test_dedup_latest_picks_newest_html(spark):
    """Two crawls of the same url: extraction must use the LATER
    warc_ts's html (and the choice is deterministic under ties via the
    xxhash64 tie-break)."""
    from pyspark.sql import functions as F

    from readability_py_spark.plans.extract_job import extraction_plan

    page = "<html><head><title>%s</title></head><body><div class='article-content'><p>" \
        "Content body with plenty of words, commas, and characters to score well, " \
        "clearly, and deterministically in every engine run.</p></div></body></html>"
    rows = [
        ("http://x.example.com/a.html", "2026-01-01 00:00:00", (page % "OLD").encode(), "", "en"),
        ("http://x.example.com/a.html", "2026-02-01 00:00:00", (page % "NEW").encode(), "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = extraction_plan(pages).collect()
    assert len(out) == 1
    assert out[0]["title"] == "NEW"


def test_resume_anti_join_protocol(spark, tmp_path):
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import run_extract_job

    out_dir = str(tmp_path / "job")
    pages = build_pages_df(spark, 60)
    # the generator appends dup urls with later warc_ts: unique url count
    expected = (
        pages.filter("lang != ''").select("url").distinct().count()
    )

    # first partial run: only half the corpus "arrives"
    first = pages.limit(40)
    r1 = run_extract_job(spark, first, out_dir)
    assert r1["parse_errors"] == 0

    # resumed full run: already-done urls must not re-extract
    r2 = run_extract_job(spark, pages, out_dir)
    from readability_py_spark.sources.catalog import LocalTableCatalog

    catalog = LocalTableCatalog(out_dir)
    extracted = catalog.read(spark, "extracted")
    urls = [r["url"] for r in extracted.select("url").collect()]
    assert len(urls) == len(set(urls)), "url double-extracted on resume"
    assert len(set(urls)) == expected

    # snapshot lineage: two commits, second marked resumed
    snaps = catalog.snapshots("extracted")
    assert len(snaps) == 2
    assert snaps[0]["lineage"]["resumed"] is False
    assert snaps[1]["lineage"]["resumed"] is True
    assert snaps[1]["parent_id"] == snaps[0]["snapshot_id"]
    assert r2["snapshot_id"] == snaps[1]["snapshot_id"]

    # per-run metrics count ONLY this run's rows (not prior snapshots)
    assert r1["docs"] + r2["docs"] == expected
    # O(snapshot) commit accounting: totals are derived, not rescanned
    assert snaps[0]["added_rows"] == r1["docs"]
    assert snaps[1]["added_rows"] == r2["docs"]
    assert snaps[1]["total_rows"] == expected

    # incremental snapshot read returns exactly one run's rows
    inc = catalog.read_snapshot(spark, "extracted", snaps[1]["snapshot_id"])
    assert inc.count() == r2["docs"]


def test_catalog_orphan_snapshot_invisible(spark, tmp_path):
    """Crash between parquet write and commit-log append must leave the
    table unchanged: readers union only committed snapshots' dirs."""
    from readability_py_spark.sources.catalog import LocalTableCatalog

    catalog = LocalTableCatalog(str(tmp_path / "wh"))
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    catalog.append(df, "t", lineage={"run": 1})
    # simulate a crashed writer: data lands, commit never happens
    orphan = os.path.join(str(tmp_path / "wh"), "t", "data", "deadbeef")
    spark.range(5).selectExpr("id", "id * 3 AS v").write.parquet(orphan)
    assert catalog.read(spark, "t").count() == 10
    snaps = catalog.snapshots("t")
    assert len(snaps) == 1 and snaps[0]["total_rows"] == 10


def test_done_manifest_rows_are_unique_urls(spark, tmp_path):
    """The manifest takes each run's extracted urls as they are: the
    plan keeps one row per url and anti-joins the manifest first, so
    duplicate crawls and resumed runs still leave one row per url."""
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import run_extract_job
    from readability_py_spark.sources.catalog import LocalTableCatalog

    out_dir = str(tmp_path / "job")
    pages = build_pages_df(spark, 60)
    live = pages.filter("lang != ''")
    distinct_urls = live.select("url").distinct().count()
    assert live.count() > distinct_urls, "corpus must hold duplicate crawls"

    run_extract_job(spark, pages.limit(40), out_dir)
    run_extract_job(spark, pages, out_dir)

    catalog = LocalTableCatalog(out_dir)
    manifest = catalog.read(spark, "done_manifest")
    assert manifest.count() == distinct_urls
    assert manifest.select("url").distinct().count() == distinct_urls
    assert catalog.read(spark, "extracted").count() == distinct_urls
