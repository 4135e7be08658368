"""URL canonicalization — the crawl-side normalization every dedup and
resume key depends on (a url is THE identity key of the extraction
pipeline: dedup-latest, the resume anti-join, and bucketing all
hash it, so two spellings of one page must collapse BEFORE any of
them run).

Rules (standard crawl canonicalization, all pure JVM regex — map-only,
no shuffle; the DuckDB twin runs byte-identical regexes):

1. lowercase scheme and host (authority only — paths stay cased)
2. strip default ports (:80 for http, :443 for https)
3. drop the fragment
4. drop tracking query params (utm_*, ref, fbclid, gclid), preserving
   the order of surviving params
5. emit md5(normalized) as the join/bucket key

The driver testdata has no url column, so the queries() entry
synthesizes deterministic MESSY urls from (source, doc_id) — mixed
host case, default ports, tracking params in several positions, and
fragments — then normalizes them; the oracle builds and normalizes
the identical strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize

TRACKING = "utm_[a-z]+|ref|fbclid|gclid"
_AUTH = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"


def normalize_url(col: Column) -> Column:
    """Canonical url from a raw url column (rules in module doc)."""
    u = F.regexp_replace(col, "#.*$", "")  # 3. fragment
    # 4a. RUN of tracking params each followed by another param: keep
    # the separator. The `(?:...)+` run matters (advisor round 3): a
    # single-match regex consumes the trailing '&', so the scan resumes
    # past the next param and only the first of adjacent tracking
    # params would be removed ('?utm_source=a&utm_medium=b&id=3' must
    # collapse to '?id=3', not '?utm_medium=b&id=3').
    u = F.regexp_replace(u, rf"([?&])(?:(?:{TRACKING})=[^&#]*&)+", "$1")
    # 4b. trailing tracking param(s): drop the leading separator too
    u = F.regexp_replace(u, rf"[?&](?:{TRACKING})=[^&#]*(?:&(?:{TRACKING})=[^&#]*)*$", "")
    # 4a can leave a lone '?&' → '?', and 4b a bare trailing '?'
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    auth = F.lower(F.regexp_extract(u, _AUTH, 0))  # 1. lowercase authority
    # 2. default ports — scheme-conditioned (advisor round 3): ':80' is
    # the default only for http, ':443' only for https; stripping the
    # wrong one conflates genuinely distinct origins (https://h:80 is
    # NOT https://h).
    auth = F.regexp_replace(auth, r"^(http://[^:/]*):80$", "$1")
    auth = F.regexp_replace(auth, r"^(https://[^:/]*):443$", "$1")
    rest = F.regexp_replace(u, _AUTH, "")
    return F.concat(auth, rest)


_DUCK_AUTH = _AUTH
_D_TRK = TRACKING


def _duck_normalize(expr: str) -> str:
    u = f"regexp_replace({expr}, '#.*$', '', 'g')"
    u = f"regexp_replace({u}, '([?&])(?:(?:{_D_TRK})=[^&#]*&)+', '\\1', 'g')"
    u = f"regexp_replace({u}, '[?&](?:{_D_TRK})=[^&#]*(?:&(?:{_D_TRK})=[^&#]*)*$', '', 'g')"
    u = f"regexp_replace({u}, '\\?&', '?', 'g')"
    u = f"regexp_replace({u}, '[?&]$', '', 'g')"
    auth = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({u}, '{_DUCK_AUTH}', 0)), "
        f"'^(http://[^:/]*):80$', '\\1'), '^(https://[^:/]*):443$', '\\1')"
    )
    rest = f"regexp_replace({u}, '{_DUCK_AUTH}', '', 'g')"
    return f"({auth} || {rest})"


def _messy_url() -> Column:
    """Deterministic messy url per doc: case-mixed host, default port,
    tracking params in first/middle/last positions, fragment."""
    d = F.col("doc_id")
    base = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.upper(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/Docs/"),
        d.cast("string"),
        F.lit(".html"),
    )
    q = (
        F.when(
            d % 3 == 0,
            # ADJACENT tracking params before the kept one — the common
            # real-world shape (advisor round 3): a run must collapse
            # in one pass, leaving just '?id=N'.
            F.concat(
                F.lit("?utm_source=feed&utm_medium=rss&id="),
                d.cast("string"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(F.lit("?id="), d.cast("string"), F.lit("&ref=tw&fbclid=z")),
        )
        .otherwise(F.lit("?utm_medium=social"))
    )
    return F.concat(base, q, F.lit("#section-2"))


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = _messy_url()
    norm = normalize_url(raw)
    return docs.select(
        "doc_id",
        raw.alias("raw_url"),
        norm.alias("norm_url"),
        F.md5(F.encode(norm, "utf-8")).alias("url_key"),
    )


_DUCK_MESSY = """(
  CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END
  || upper(source) || '.Example.COM'
  || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
  || '/Docs/' || CAST(doc_id AS VARCHAR) || '.html'
  || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
          WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&ref=tw&fbclid=z'
          ELSE '?utm_medium=social' END
  || '#section-2'
)"""

ORACLE_URL_NORMALIZE = f"""
SELECT doc_id,
       {_DUCK_MESSY} AS raw_url,
       {_duck_normalize(_DUCK_MESSY)} AS norm_url,
       md5({_duck_normalize(_DUCK_MESSY)}) AS url_key
FROM documents
"""


# ---------------------------------------------------------------------------
# URL blocklist filtering (UT1-style policy gate)
# ---------------------------------------------------------------------------

# A real ingest front-gates the crawl with host blocklists (the UT1 /
# Blacklists-UT-Capitole pattern RefinedWeb/FineWeb document: ~4M
# hosts) plus path-keyword rules. Hosts here include live synthetic
# sources so the gate has non-trivial hits at every SF.
BLOCKED_HOSTS = [
    "src3.example.com",
    "src7.example.com",
    "src13.example.com",
    "tracker.adnet.example",
    "malware.bad.example",
]
# path-keyword channel: matched against the canonical path+query
BLOCK_PATH_RE = r"/Docs/[0-9]*7\.html|/ads/|casino"
_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/:?#]+)"


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy filter over canonical urls: a doc is blocked when its
    host is on the blocklist (domain channel) or its path matches a
    keyword rule (keyword channel); domain wins the reason.

    Scale shape: normalization + host/path extraction are map-only
    regex; the blocklist joins as a BROADCAST left join on host (at
    production size — millions of hosts — it is still a few hundred MB
    of strings, the canonical broadcast-dimension case; never a
    shuffle of the corpus), and the keyword rule is an in-row rlike.
    Zero exchanges of document rows end to end on a multi-split input;
    on the single-split testdata the gated parallelizer fires (r7,
    ADVICE r6: the multi-pass regex normalize + host/path extraction
    ran serially on one core — the r5 serial-projection class)."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    norm = normalize_url(_messy_url())
    base = (
        docs.select("doc_id", norm.alias("norm_url"))
        .withColumn("host", F.regexp_extract("norm_url", _HOST_RE, 1))
        .withColumn("path", F.regexp_replace("norm_url", _AUTH, ""))
    )
    bl = spark.createDataFrame(
        [(h,) for h in BLOCKED_HOSTS], "bl_host string"
    )
    reason = F.when(F.col("bl_host").isNotNull(), F.lit("domain")).when(
        F.col("path").rlike(BLOCK_PATH_RE), F.lit("keyword")
    )
    return (
        base.join(F.broadcast(bl), base.host == F.col("bl_host"), "left")
        .select(
            "doc_id",
            "host",
            reason.isNotNull().alias("blocked"),
            reason.alias("reason"),
        )
    )


_DUCK_BL = ", ".join(f"('{h}')" for h in BLOCKED_HOSTS)

ORACLE_URL_BLOCKLIST = f"""
WITH u AS (
  SELECT doc_id, {_duck_normalize(_DUCK_MESSY)} AS norm_url FROM documents
),
b AS (
  SELECT doc_id,
         regexp_extract(norm_url, '{_HOST_RE}', 1) AS host,
         regexp_replace(norm_url, '{_DUCK_AUTH}', '', 'g') AS path
  FROM u
),
bl(bl_host) AS (VALUES {_DUCK_BL}),
j AS (SELECT b.*, bl.bl_host FROM b LEFT JOIN bl ON b.host = bl.bl_host)
SELECT doc_id, host,
       (bl_host IS NOT NULL OR regexp_matches(path, '{BLOCK_PATH_RE}'))
         AS blocked,
       CASE WHEN bl_host IS NOT NULL THEN 'domain'
            WHEN regexp_matches(path, '{BLOCK_PATH_RE}') THEN 'keyword'
       END AS reason
FROM j
"""


QUERIES = {
    "url_normalize": q_url_normalize,
    "url_blocklist": q_url_blocklist,
}
ORACLES = {
    "url_normalize": ORACLE_URL_NORMALIZE,
    "url_blocklist": ORACLE_URL_BLOCKLIST,
}
