"""JSONL/CSV pages sources: schema-enforced round-trip, corrupt-record
quarantine, and extraction over a JSONL drop end-to-end."""

from __future__ import annotations

import base64
import json


def test_jsonl_round_trip_and_quarantine(spark, tmp_path):
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.sources.pages_io import (
        read_pages_jsonl,
        write_pages_jsonl,
    )

    src = build_pages_df(spark, 25)
    out = str(tmp_path / "drop")
    write_pages_jsonl(src, out)

    # corrupt the drop: append one mangled line and one schema-violating
    # line to a new part file
    bad = tmp_path / "drop" / "part-bad.json"
    bad.write_text(
        "this is not json at all\n"
        + json.dumps({"url": "http://x/y.html", "warc_ts": "not-a-time",
                      "html_b64": "!!!", "text": "t", "lang": "en"})
        + "\n"
    )

    pages, quarantine = read_pages_jsonl(spark, out)

    def _key(r):
        return (r["url"], r["warc_ts"], bytes(r["html"] or b""), r["lang"])

    got = sorted(_key(r) for r in pages.collect() if r["url"] != "http://x/y.html")
    want = sorted(_key(r) for r in src.collect())
    # the corpus contains duplicate urls with distinct warc_ts (dedup
    # fixture rows) — compare the full multiset, bit-exact html included
    assert got == want
    qt = [r["raw_line"] for r in quarantine.collect()]
    assert any("not json at all" in (l or "") for l in qt)


def test_jsonl_drop_feeds_extraction(spark, tmp_path):
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.plans.extract_job import extraction_plan
    from readability_py_spark.sources.pages_io import (
        read_pages_jsonl,
        write_pages_jsonl,
    )

    src = build_pages_df(spark, 20)
    out = str(tmp_path / "drop2")
    write_pages_jsonl(src, out)
    pages, _ = read_pages_jsonl(spark, out)
    extracted = extraction_plan(pages, num_partitions=4)
    rows = extracted.collect()
    assert rows and all(r["metrics"]["parse_ok"] for r in rows)


def test_crawl_manifest_csv(spark, tmp_path):
    from readability_py_spark.sources.pages_io import read_crawl_manifest_csv

    p = tmp_path / "manifest.csv"
    p.write_text(
        "url,warc_ts,lang,n_bytes\n"
        "http://a/1.html,2026-01-01T00:00:00,en,1234\n"
        "http://a/2.html,2026-01-01T00:00:01,de,99\n"
        "totally,broken,row,not_a_number\n"
    )
    df = read_crawl_manifest_csv(spark, str(p))
    rows = df.collect()
    ok = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(ok) == 2 and len(bad) == 1
    assert ok[0]["n_bytes"] in (1234, 99)


def test_jsonl_cache_release_hook(spark, tmp_path):
    """The cached JSONL scan joins the one cache registry: after a drop
    is read and both outputs are counted, operators.dedup's
    release_caches() leaves the session's cache manager empty — a
    long-lived bench/driver session ingesting many drops must not
    accumulate cached relations (advisor r3)."""
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.sources import pages_io

    out = str(tmp_path / "drop3")
    pages_io.write_pages_jsonl(build_pages_df(spark, 5), out)
    spark.catalog.clearCache()  # start from an empty cache manager
    cache = spark._jsparkSession.sharedState().cacheManager()
    pages, quarantine = pages_io.read_pages_jsonl(spark, out)
    pages.count()
    quarantine.count()
    assert not cache.isEmpty()
    release_caches()
    assert cache.isEmpty()


def _b64(s: bytes) -> str:
    return base64.b64encode(s).decode()


def test_orc_pages_roundtrip_and_pushdown(spark, tmp_path):
    """ORC round-trips the canonical pages schema byte-for-byte
    (binary html included) and behaves like parquet at the scan:
    filters reach the ORC relation as pushed filters."""
    from readability_py_spark.plans.bench_extract import build_pages_df
    from readability_py_spark.sources.pages_io import (
        read_pages_orc,
        write_pages_orc,
    )

    pages = build_pages_df(spark, 40).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    out = str(tmp_path / "pages_orc")
    write_pages_orc(pages, out)
    back = read_pages_orc(spark, out)
    assert back.schema == pages.schema
    key = lambda r: (r.url, r.warc_ts, bytes(r.html or b""))
    a = sorted(pages.collect(), key=key)
    b = sorted(back.collect(), key=key)
    assert a == b
    # predicate pushdown into the ORC scan
    plan = (
        back.filter(back.lang == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "lang" in plan.split(
        "PushedFilters:"
    )[1].split("]")[0], plan
