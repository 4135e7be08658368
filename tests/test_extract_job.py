"""Spark extraction job: end-to-end plan, metrics, and resume protocol."""

from __future__ import annotations

import base64
import json
import os
import shutil

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


def test_extracted_rows_are_unique_urls(spark, tmp_path):
    """A run extracts only urls no committed snapshot holds, one row
    per url, so duplicate crawls and a resumed run still leave exactly
    one row per url in ``extracted``."""
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

    extracted = LocalTableCatalog(out_dir).read(spark, "extracted")
    assert extracted.count() == distinct_urls
    assert extracted.select("url").distinct().count() == distinct_urls


def test_resume_from_committed_output_alone(spark, tmp_path):
    """The committed ``extracted`` snapshots are the whole resume
    state: with everything else in the job directory gone (what a
    crash right after the commit leaves), a rerun extracts nothing."""
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import run_extract_job
    from readability_py_spark.sources.catalog import LocalTableCatalog

    out_dir = tmp_path / "job"
    pages = build_pages_df(spark, 60)
    r1 = run_extract_job(spark, pages, str(out_dir))
    for entry in out_dir.iterdir():
        if entry.name != "extracted":
            shutil.rmtree(entry) if entry.is_dir() else entry.unlink()

    r2 = run_extract_job(spark, pages, str(out_dir))
    assert r1["docs"] > 0
    assert r2["docs"] == 0 and r2["partitions"] == 0
    urls = [r["url"] for r in LocalTableCatalog(str(out_dir)).read(spark, "extracted").collect()]
    assert len(urls) == len(set(urls)) == r1["docs"]


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action`` submits, counted in a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_extract_pass_is_one_write(spark, tmp_path):
    """A fresh run_extract_job pass submits exactly the jobs of a bare
    write of its extraction plan: no read-back, no second table, no
    stats job."""
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import (
        extraction_plan,
        run_extract_job,
    )

    pages = build_pages_df(spark, 200).persist()
    try:
        pages.count()
        bare = _jobs_in_group(
            spark, "bare-write",
            lambda: extraction_plan(pages).write.parquet(str(tmp_path / "bare")),
        )
        run = _jobs_in_group(
            spark, "extract-pass",
            lambda: run_extract_job(spark, pages, str(tmp_path / "job")),
        )
    finally:
        pages.unpersist()
    assert run == bare


def test_resumed_pass_reads_committed_schema(spark, tmp_path):
    """Catalog reads take the schema committed with the snapshot, so
    they start no schema-inference job, and a resumed pass submits
    exactly the jobs of a bare write of its plan over the committed
    urls."""
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import (
        extraction_plan,
        run_extract_job,
    )
    from readability_py_spark.sources.catalog import LocalTableCatalog

    out_dir = str(tmp_path / "job")
    catalog = LocalTableCatalog(out_dir)
    pages = build_pages_df(spark, 200).persist()
    try:
        pages.count()
        run_extract_job(spark, pages.limit(100), out_dir)
        snap_id = catalog.snapshots("extracted")[0]["snapshot_id"]
        reads = _jobs_in_group(
            spark, "catalog-reads",
            lambda: (
                catalog.read(spark, "extracted"),
                catalog.read_snapshot(spark, "extracted", snap_id),
            ),
        )
        done = catalog.read(spark, "extracted")
        bare = _jobs_in_group(
            spark, "bare-resumed-write",
            lambda: extraction_plan(pages, done_urls=done).write.parquet(
                str(tmp_path / "bare")
            ),
        )
        run = _jobs_in_group(
            spark, "resumed-pass",
            lambda: run_extract_job(spark, pages, out_dir),
        )
    finally:
        pages.unpersist()
    assert reads == 0
    assert run == bare


def _footer_rows(catalog, table: str, snap_id: str) -> int:
    """Rows of one snapshot by its parquet footers."""
    import pyarrow.parquet as pq

    sdir = catalog._snap_dir(table, snap_id)
    return sum(
        pq.ParquetFile(os.path.join(sdir, f)).metadata.num_rows
        for f in os.listdir(sdir)
        if f.endswith(".parquet")
    )


def test_commit_counts_equal_parquet_footers(spark, tmp_path):
    """append's added_rows / total_rows and compact's total_rows, both
    observed on the write, equal the rows the snapshot's files hold."""
    from pyspark.sql import functions as F

    from readability_py_spark.sources.catalog import LocalTableCatalog

    cat = LocalTableCatalog(str(tmp_path))
    total = 0
    for n in (17, 0, 40):
        df = spark.range(n).filter(F.col("id") % 3 != 0).repartition(3)
        rec = cat.append(df, "t")
        added = _footer_rows(cat, "t", rec["snapshot_id"])
        total += added
        assert rec["added_rows"] == added
        assert rec["total_rows"] == total
    assert total == 11 + 0 + 26
    rec = cat.compact(spark, "t")
    assert rec["total_rows"] == _footer_rows(cat, "t", rec["snapshot_id"]) == total


def test_html_inside_another_element_parses():
    """Pages whose <html> sits inside another element and which have no
    <body> extract: the <body> made for them must not take an ancestor
    of that <html> (which made the tree cyclic)."""
    import pandas as pd

    from readability_py_spark.plans.extract_job import extract_batch

    para = "<p>" + "Words, words, and more words to score. " * 10 + "</p>"
    pages = [
        "<div><html><head><title>T</title></head>" + para + "</html></div>",
        "<table><tr><td><html>" + para + "</html></td></tr></table>",
        "<style><html>",
    ]
    batch = pd.DataFrame(
        {"url": [f"http://x.example.com/{i}" for i in range(3)],
         "html": [p.encode() for p in pages]}
    )
    (out,) = extract_batch(iter([batch]))
    assert [m["parse_ok"] for m in out["metrics"]] == [True, True, True]
    assert out["title"][0] == "T"
    assert out["article_text"][0].startswith("Words, words")
