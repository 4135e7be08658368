"""Flagship extraction job plan (SURVEY.md §3.4).

Logical plan:
  scan(pages) → filter(lang/nonempty) → left-anti join(urls already
  committed to ``extracted``, broadcast) → dedup-latest(url, warc_ts)
  over a SINGLE hash(url) exchange (partition-local window, see
  extraction_plan) → mapInPandas(extract_batch, Arrow) →
  observe(row, parse-error and partition counts) → sink(parquet
  snapshot). A pass is that one write; nothing reads it back.

Scale design notes (100 TB / 1000 executors):
- the only Python crossing is the single mapInPandas stage; everything
  else is JVM-side and Catalyst-optimized (filter + column pruning push
  into the scan).
- repartition on hash(url) into P partitions gives uniform work
  distribution regardless of host skew (a Zipf-hot host spreads across
  all P partitions because the key is the url, not the host). P
  defaults to defaultParallelism, one UDF task per core: every Python
  task pays a fixed worker setup, so tasks beyond one per core repeat
  that cost without buying balance the url-hashed split lacks (see
  extraction_plan).
- the resume set is the url column of the committed output, small
  relative to the corpus → broadcast anti-join; at 10^12 rows it
  becomes a bucketed sort-merge anti-join (AQE picks this
  automatically once it exceeds the broadcast threshold).
- resumability is data-level: the catalog's commit log is the only
  record of done work, so a rerun anti-joins what committed and only
  extracts the remainder.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import load_table

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("article_html", T.StringType()),
        T.StructField("article_text", T.StringType()),
        T.StructField(
            "footnotes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("href", T.StringType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "metrics",
            T.StructType(
                [
                    T.StructField("candidate_count", T.IntegerType()),
                    T.StructField("top_score", T.DoubleType()),
                    T.StructField("link_density", T.DoubleType()),
                    T.StructField("retries", T.IntegerType()),
                    T.StructField("parse_ok", T.BooleanType()),
                ]
            ),
        ),
        T.StructField("part_id", T.IntegerType()),
    ]
)


def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batch extraction UDF: one fresh Arc90 pipeline per document
    (the reference's retry cascade mutates its settings, so state can
    never be reused across documents — readability.py:762-777)."""
    yield from _extract_batches(batches, {})


def make_extract_batch(settings: dict):
    """Extraction UDF with job-level settings (footnote_links etc);
    the settings dict is captured by cloudpickle and applied per doc."""

    def _fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from _extract_batches(batches, settings)

    return _fn


def _extract_batches(
    batches: Iterator[pd.DataFrame], settings: dict
) -> Iterator[pd.DataFrame]:
    from pyspark import TaskContext

    from ..core.arc90 import extract_document

    tc = TaskContext.get()
    part_id = tc.partitionId() if tc is not None else -1

    for pdf in batches:
        out = {k.name: [] for k in EXTRACT_SCHEMA.fields}
        for url, html in zip(pdf["url"], pdf["html"]):
            raw = bytes(html) if html is not None else b""
            try:
                res = extract_document(raw, url=url, **settings)
                out["url"].append(url)
                out["title"].append(res["title"])
                out["article_html"].append(res["article_html"])
                out["article_text"].append(res["article_text"])
                out["footnotes"].append(
                    [{"href": h, "text": t} for h, t in res["footnotes"]]
                )
                m = res["metrics"]
                out["metrics"].append(
                    {
                        "candidate_count": int(m["candidate_count"]),
                        "top_score": float(m["top_score"]),
                        "link_density": float(m["link_density"]),
                        "retries": int(m["retries"]),
                        "parse_ok": True,
                    }
                )
            except Exception:
                out["url"].append(url)
                out["title"].append(None)
                out["article_html"].append(None)
                out["article_text"].append(None)
                out["footnotes"].append([])
                out["metrics"].append(
                    {
                        "candidate_count": 0,
                        "top_score": 0.0,
                        "link_density": 0.0,
                        "retries": 0,
                        "parse_ok": False,
                    }
                )
            out["part_id"].append(part_id)
        yield pd.DataFrame(out)


def extraction_plan(
    pages: DataFrame,
    done_urls: DataFrame | None = None,
    num_partitions: int | None = None,
    settings: dict | None = None,
    assume_clustered: bool = False,
) -> DataFrame:
    """Build the full logical plan over a pages DataFrame
    (url, warc_ts, html, text, lang).

    ``assume_clustered=True`` declares the input already hash-clustered
    on url (an Iceberg/parquet table bucketed by url at ingest — the
    production layout). The plan then skips its repartition entirely:
    the dedup window rides the bucketed scan's HashPartitioning and
    the WHOLE extraction job runs with ZERO exchanges (verified by
    tests/test_operators_r2.py::test_bucketed_extraction_zero_exchange).
    At 10^12 rows this converts the one full-payload shuffle into a
    one-time ingest cost amortized over every downstream extraction.

    Dedup-latest is a SINGLE full-payload exchange (zero when
    assume_clustered): repartition(n, url) [REPARTITION_BY_NUM —
    exempt from AQE coalescing, so the CPU-bound UDF stage keeps n
    perfectly even tasks] → partition-local row_number window (the
    hash partitioning satisfies the window's distribution → no second
    exchange). Duplicates cross the wire; on the bench corpus (0%
    dups) a map-side max_by aggregate cost +23% at 8 cores and +80% at
    32, mostly from AQE coalescing its exchange unevenly.

    ``n`` (the UDF-stage width) is ``num_partitions`` when given, else
    defaultParallelism: one Python task per core. Each Python task
    pays a fixed worker setup of ~0.2 s CPU whatever its row count
    (the worker's per-task importlib.invalidate_caches re-reads the
    directory of every cached zipimporter: pyspark.zip, the
    spark-core jar). The former 4 × defaultParallelism paid it four
    times per core for straggler tolerance that did not show: on
    local[4] a skew corpus (8 of 8,000 pages at 1-2 MB) ran 8.6 / 8.4
    / 7.5 s at 16 / 8 / 4 tasks, the mixed corpus 4.6 / 3.8 / 3.3 s
    (BENCH.md "Per-task Python setup floor").

    Equal warc_ts tie-break on xxhash64(html) (deterministic at any
    partitioning; xxhash64, not md5 — ~10x cheaper JVM-side).
    Never hand-roll pmod(hash(url), n) partitioning: repartition
    hashes the expression AGAIN and the 0..n-1 bucket ids collide —
    observed 18 skewed tasks instead of 32."""
    spark = pages.sparkSession
    p = pages.filter(
        (F.col("lang") != "") & F.col("html").isNotNull()
        & (F.octet_length("html") > 0)
    ).select("url", "warc_ts", "html")
    if done_urls is not None:
        # broadcast anti-join BEFORE the exchange: already-done urls
        # never pay shuffle bytes
        p = p.join(F.broadcast(done_urls.select("url")), "url", "left_anti")
    if not assume_clustered:
        n = num_partitions or spark.sparkContext.defaultParallelism
        p = p.repartition(n, F.col("url"))
    p = (
        p.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy(
                    F.desc("warc_ts"), F.desc(F.xxhash64(F.col("html")))
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        # column pruning: the UDF only ever sees (url, html)
        .select("url", "html")
    )
    fn = make_extract_batch(settings) if settings else extract_batch
    return p.mapInPandas(fn, EXTRACT_SCHEMA)


def run_extract_job(spark: SparkSession, pages: DataFrame, out_dir: str) -> dict:
    """Resumable run: anti-join the urls already committed to the
    ``extracted`` table, extract the rest, and append them as one
    snapshot (with lineage). The pass is that one write: the run's
    counts are observed on it, never read back from its files.

    A killed run resumes from the committed output alone: urls in a
    committed snapshot (compaction baselines included) are anti-joined
    away, and the remainder re-extracts (idempotent — extraction is
    deterministic per url). A crash before the commit leaves an orphan
    dir that neither reads nor the resume set see."""
    from ..sources.catalog import LocalTableCatalog

    catalog = LocalTableCatalog(out_dir)
    resumed = catalog.exists("extracted")
    done = catalog.read(spark, "extracted") if resumed else None
    obs = Observation()
    extracted = extraction_plan(pages, done_urls=done).observe(
        obs,
        F.count_if(~F.col("metrics.parse_ok")).alias("parse_errors"),
        F.size(F.collect_set("part_id")).alias("partitions"),
    )
    snap = catalog.append(
        extracted,
        "extracted",
        lineage={"job": "extract", "resumed": resumed},
    )
    counts = obs.get
    return {
        "partitions": counts["partitions"],
        "docs": snap["added_rows"],
        "parse_errors": counts["parse_errors"],
        "snapshot_id": snap["snapshot_id"],
    }


# ---------------------------------------------------------------------------
# Flagship over driver testdata: wrap documents.text in a deterministic
# page template so the full Arrow-UDF extraction path runs on sf tables.
# ---------------------------------------------------------------------------

# Constant comma-rich filler: guarantees the content div scores well and
# survives every conditional-clean rule, so extraction is exactly
# (filler + ' ' + normalized doc text) — which gives the mapInPandas
# path a closed-form DuckDB oracle.
FILLER = (
    "This synthetic page exists so that the extraction engine, with its "
    "scoring rules, comma counts, and link density checks, always picks "
    "this content division, keeps both paragraphs, and emits a stable, "
    "deterministic article body for verification, auditing, and "
    "benchmarking purposes across every engine and scale factor."
)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"),
                     F.lit(" from "), F.col("source"))
    html_str = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit("</title></head><body>"),
        F.lit('<div id="nav"><a href="/">Home</a> <a href="/x.html">More</a></div>'),
        F.lit('<div class="article-content"><p>'),
        F.lit(FILLER),
        F.lit("</p><p>"),
        F.col("text"),
        F.lit("</p></div>"),
        F.lit('<div id="footer"><p>Copyright 2026.</p></div>'),
        F.lit("</body></html>"),
    )
    return docs.select(
        F.concat(
            F.lit("http://"),
            F.col("source"),
            F.lit(".example.com/doc-"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        F.col("text"),
        F.when(F.col("lang").isNull(), "en").otherwise(F.col("lang")).alias("lang"),
        F.col("doc_id"),
    )


def extract_articles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: full mapInPandas extraction over template pages;
    oracle-checkable because the template makes extraction closed-form."""
    pages = pages_from_documents(spark, sf_dir)
    extracted = extraction_plan(pages)
    return extracted.select(
        "url",
        "title",
        "article_text",
        F.col("metrics.parse_ok").alias("parse_ok"),
    )


ORACLE_EXTRACT_ARTICLES = rf"""
SELECT concat('http://', source, '.example.com/doc-', CAST(doc_id AS VARCHAR), '.html') AS url,
       concat('Doc ', CAST(doc_id AS VARCHAR), ' from ', source) AS title,
       trim(regexp_replace(concat('{FILLER}', ' ', trim(text)), '\s+', ' ', 'g')) AS article_text,
       TRUE AS parse_ok
FROM documents
"""


def linked_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template pages with one absolute reference link per document —
    used to drive the footnote-generation path through the UDF."""
    docs = load_table(spark, sf_dir, "documents")
    ref_url = F.concat(
        F.lit("http://ref.example.org/d"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )
    html_str = F.concat(
        F.lit("<html><head><title>Linked "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body>"),
        F.lit('<div class="article-content"><p>'),
        F.lit(FILLER),
        F.lit('</p><p>See <a href="'),
        ref_url,
        F.lit('">the cited reference material</a> for details, details, details.</p></div>'),
        F.lit("</body></html>"),
    )
    return docs.select(
        F.concat(
            F.lit("http://"), F.col("source"),
            F.lit(".example.com/linked-"), F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
        F.col("doc_id"),
    )


def extract_footnotes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: footnote generation through the Arrow UDF
    (footnote_links=True), exploded to a (url, href, text) link table —
    the UDTF face of the footnotes array column."""
    pages = linked_pages_from_documents(spark, sf_dir)
    extracted = extraction_plan(pages, settings={"footnote_links": True})
    fn = extracted.select("url", F.explode("footnotes").alias("f"))
    return fn.select(
        "url",
        F.col("f.href").alias("href"),
        F.col("f.text").alias("fn_text"),
    )


ORACLE_EXTRACT_FOOTNOTES = """
SELECT concat('http://', source, '.example.com/linked-', CAST(doc_id AS VARCHAR), '.html') AS url,
       concat('http://ref.example.org/d', CAST(doc_id AS VARCHAR), '.html') AS href,
       concat('http://ref.example.org/d', CAST(doc_id AS VARCHAR), '.html') AS fn_text
FROM documents
"""


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: extraction over template pages synthesized
    from sf documents, aggregated to per-lang metrics."""
    pages = pages_from_documents(spark, sf_dir)
    extracted = extraction_plan(pages)
    langs = pages.select("url", "lang")
    return (
        extracted.join(langs, "url")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("metrics.parse_ok"), 1).otherwise(0)).alias(
                "parse_ok_docs"
            ),
            F.round(F.avg("metrics.top_score"), 4).alias("avg_top_score"),
            F.round(F.avg(F.length("article_text")), 4).alias("avg_text_len"),
        )
    )
