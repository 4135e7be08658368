"""The composed training-data pipeline face: every gate the engine
ships is verified ALONE elsewhere; a real 100 TB ingest runs them
FUSED, and the composition is where ordering bugs live (VERDICT r3
item 4). One queries() entry chains:

    url normalization → quality gate (Gopher scalar rules) →
    repetition gate (top-2-gram / dup-5-gram) → exact dedup by url_key

Ordering rationale (the scale-correct order, stated explicitly):

- NORMALIZE BEFORE DEDUP: the two synthesized spellings of each page
  (mixed-case host + default port + tracking params vs the clean
  spelling) only collapse to one url_key after normalization —
  deduping raw urls would keep both copies.
- GATES BEFORE THE SHUFFLE: all three gates are map-only row
  predicates, so they run inside the scan stage and the single
  shuffle (groupBy url_key) moves only surviving rows. The dedup
  representative is therefore defined among PASSING docs (a url whose
  lowest-doc_id crawl fails quality is represented by its next
  passing crawl) — the semantics a pretraining ingest wants, since a
  failed crawl of a good page should not evict the good crawl.

Plan shape (asserted in tests/test_operators_r4.py): Filter sits
below the url_key hash exchange — gates run pre-shuffle; the only
other exchange is the round-robin that parallelizes the single-file
test scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import jvm_memo, load_table, maybe_parallelize
from .textstats import (
    REP_DUP5_MAX,
    REP_TOP2_MAX,
    TEST_CORPUS_STOPWORDS,
    _duck_grams,
    duck_gopher_pass,
    gopher_flag_cols,
    repetition_cols,
)
from .urls import _duck_normalize, normalize_url


def _messy_pair_url() -> Column:
    """Two deterministic SPELLINGS of one page per doc_id pair: docs
    2k and 2k+1 both point at page k (same host, same path, same id
    param) but spelled differently — mixed-case host + explicit :80 +
    adjacent tracking params vs clean + trailing tracker + fragment.
    Both normalize to http://site{k%20}.example.com/articles/{k}.html?id={k},
    so dedup-by-url_key collapses each surviving pair."""
    d = F.col("doc_id")
    page = F.floor(d / 2).cast("long").cast("string")
    host = F.concat(F.lit("site"), (F.floor(d / 2) % 20).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/articles/"), page, F.lit(".html"))
    even = F.concat(
        F.lit("HTTP://"), F.upper(host), F.lit(":80"), path,
        F.lit("?utm_source=feed&utm_medium=rss&id="), page,
    )
    odd = F.concat(
        F.lit("http://"), host, path,
        F.lit("?id="), page, F.lit("&ref=tw#frag"),
    )
    return F.when(d % 2 == 0, even).otherwise(odd)


def gated_docs(
    spark: SparkSession, sf_dir: str, with_text: bool = False
) -> DataFrame:
    """The pre-shuffle half of the fused pipeline: normalize + all
    map-only gates, emitting one (doc_id, url_key, norm_url[, text])
    row per SURVIVING document. q_pipeline_gate groups this by url_key;
    operators/groups.py's composed ingest carries `text` through so the
    url-dedup representative's text is available to the near-dup stage
    without a corpus-wide join back to the source table.

    The scan goes through maybe_parallelize (gated: fires only on the
    split-starved testdata; exchange-free on a real multi-split input).
    The gate is a Generate (inline of a conditional singleton array),
    NOT a Filter: Catalyst pushes a deterministic source-column
    Filter below the parallelizing repartition into the single-split
    test scan, which would evaluate every gate expression (both
    repetition folds included) serially on one core — measured 16 s
    vs ~2 s. A Generate cannot be pushed below the exchange, so the
    gates run in the parallel stage here; on a real multi-split scan
    (no repartition, no exchange) the Generate sits directly on the
    scan and fuses into the scan stage exactly like the Filter would."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    return docs.select(_gate(with_text))


@jvm_memo
def _gate(with_text: bool) -> Column:
    """gated_docs' Generate over a documents row: the normalized url,
    every gate and the surviving row's fields — several thousand
    expression nodes, so built once per JVM."""
    norm = normalize_url(_messy_pair_url())
    flags = gopher_flag_cols(F.col("text"), TEST_CORPUS_STOPWORDS)
    top2, dup5 = repetition_cols(F.col("text"))
    keep = flags["pass"] & (top2 <= REP_TOP2_MAX) & (dup5 <= REP_DUP5_MAX)
    fields = [
        F.col("doc_id").alias("doc_id"),
        F.md5(F.encode(norm, "utf-8")).alias("url_key"),
        norm.alias("norm_url"),
    ]
    schema = "doc_id:bigint,url_key:string,norm_url:string"
    if with_text:
        fields.append(F.col("text").alias("text"))
        schema += ",text:string"
    unit = F.struct(*fields)
    empty = F.array().cast(f"array<struct<{schema}>>")
    return F.inline(F.when(keep, F.array(unit)).otherwise(empty))


def q_pipeline_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gated_docs(spark, sf_dir).groupBy("url_key").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.min("norm_url").alias("norm_url"),  # group-constant by construction
        F.count(F.lit(1)).alias("dup_cnt"),
    )


# doc_id is QUALIFIED: the expression is used inside a join where both
# sides carry doc_id
_DUCK_PAIR = """(
  CASE WHEN documents.doc_id % 2 = 0 THEN
    'HTTP://' || upper('site' || CAST((documents.doc_id // 2) % 20 AS VARCHAR) || '.example.com')
    || ':80/articles/' || CAST(documents.doc_id // 2 AS VARCHAR)
    || '.html?utm_source=feed&utm_medium=rss&id=' || CAST(documents.doc_id // 2 AS VARCHAR)
  ELSE
    'http://site' || CAST((documents.doc_id // 2) % 20 AS VARCHAR) || '.example.com'
    || '/articles/' || CAST(documents.doc_id // 2 AS VARCHAR)
    || '.html?id=' || CAST(documents.doc_id // 2 AS VARCHAR) || '&ref=tw#frag'
  END
)"""

ORACLE_PIPELINE_GATE = rf"""
WITH d AS (SELECT doc_id, text, length(text) AS chars FROM documents),
g2 AS (SELECT doc_id, chars, unnest({_duck_grams(2)}) AS g FROM d),
top2 AS (
  SELECT doc_id, ROUND(least(1.0, CAST(MAX(c * length(g)) AS DOUBLE) / chars), 4) AS t2
  FROM (SELECT doc_id, chars, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, chars, g)
  GROUP BY doc_id, chars
),
g5 AS (SELECT doc_id, chars, unnest({_duck_grams(5)}) AS g FROM d),
dup5 AS (
  SELECT doc_id, ROUND(least(1.0, CAST(SUM(c * length(g)) AS DOUBLE) / chars), 4) AS d5
  FROM (SELECT doc_id, chars, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, chars, g)
  WHERE c >= 2
  GROUP BY doc_id, chars
),
rep AS (
  SELECT d.doc_id, COALESCE(top2.t2, 0.0) AS t2, COALESCE(dup5.d5, 0.0) AS d5
  FROM d LEFT JOIN top2 ON d.doc_id = top2.doc_id
         LEFT JOIN dup5 ON d.doc_id = dup5.doc_id
),
gated AS (
  SELECT documents.doc_id, {_duck_normalize(_DUCK_PAIR)} AS norm_url
  FROM documents JOIN rep ON documents.doc_id = rep.doc_id
  WHERE {duck_gopher_pass()}
    AND rep.t2 <= {REP_TOP2_MAX} AND rep.d5 <= {REP_DUP5_MAX}
)
SELECT md5(norm_url) AS url_key,
       MIN(gated.doc_id) AS keep_doc_id,
       MIN(norm_url) AS norm_url,
       CAST(COUNT(*) AS BIGINT) AS dup_cnt
FROM gated GROUP BY 1
"""


QUERIES = {"pipeline_gate": q_pipeline_gate}
ORACLES = {"pipeline_gate": ORACLE_PIPELINE_GATE}
