"""Pages-corpus source readers beyond parquet.

Crawl dumps reach a pipeline in several shapes; parquet is the
warehouse format, but the ingest edge usually sees JSONL (one page
object per line, html base64-encoded — WARC-to-JSON exporters emit
this) or CSV manifests. These readers produce the canonical pages
schema (url, warc_ts, html binary, text, lang) with an explicit
schema — never inference, which at 100 TB would (a) scan data twice
and (b) drift types between drops — and quarantine corrupt records
instead of failing the job or silently dropping rows.

Scale notes: both readers are plain Spark sources, so they split by
file/line ranges and prune columns like any scan; the base64 decode
is a JVM expression (`unbase64`). Corrupt lines land in a
`_corrupt_record` column (PERMISSIVE mode) and are split off into a
quarantine DataFrame the caller can sink for audit — the pattern a
production ingest uses so one mangled crawl record cannot kill a
10^6-file load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import _persist

# the on-disk JSONL shape: html is base64 text (JSON has no binary)
PAGES_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html_b64", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_pages_jsonl(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL pages drop → (pages, quarantine).

    ``pages`` has the canonical schema (html decoded to binary);
    ``quarantine`` holds the raw text of every line that failed the
    schema (bad JSON, wrong types) for audit/replay.

    The parsed scan is cached, and freed by
    ``operators.dedup.release_caches()`` like every other cached
    relation: Spark disallows queries that reference ONLY the corrupt
    column over a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so
    the parsed relation must be materialized first. An ingest at
    100 TB instead points `badRecordsPath` at a quarantine prefix and
    skips the cache entirely (same audit property, zero memory)."""
    raw = _persist(
        spark.read.schema(PAGES_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    pages = (
        raw.filter(F.col("_corrupt_record").isNull())
        .filter(F.col("url").isNotNull())
        .select(
            "url",
            "warc_ts",
            F.unbase64(F.col("html_b64")).alias("html"),
            "text",
            "lang",
        )
    )
    return pages, quarantine


def write_pages_jsonl(pages: DataFrame, path: str) -> None:
    """Export canonical pages to the JSONL interchange shape
    (html → base64 text)."""
    (
        pages.select(
            "url",
            "warc_ts",
            F.base64(F.col("html")).alias("html_b64"),
            "text",
            "lang",
        )
        .write.mode("overwrite")
        .json(path)
    )


PAGES_CSV_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_crawl_manifest_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a crawl MANIFEST (url, warc_ts, lang, n_bytes) — the
    payload-free listing used for partition planning and resume
    accounting before any heavy fetch. Explicit schema + PERMISSIVE
    corrupt capture, same discipline as the JSONL reader."""
    return (
        spark.read.schema(PAGES_CSV_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def write_pages_orc(pages: DataFrame, path: str) -> None:
    """Export canonical pages as ORC — the other columnar warehouse
    format Spark writes natively (zlib by default; binary html column
    travels as-is, no base64 detour needed unlike JSONL)."""
    pages.write.mode("overwrite").orc(path)


def read_pages_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read canonical pages from ORC. Same scan properties as the
    parquet path — splittable stripes, column pruning, predicate
    pushdown (min/max stripe stats) — so every operator runs on an
    ORC-backed corpus unchanged; no schema option needed because ORC
    files are self-describing (the explicit-schema discipline of the
    JSONL/CSV edge readers guards against schemaless text formats,
    not columnar ones)."""
    return spark.read.orc(path)
