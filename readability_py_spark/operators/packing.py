"""Corpus-preparation operators a pretraining ingest runs AFTER
filtering/dedup: sequence packing, deterministic stratified sampling,
and PII scrubbing. All three are LOCAL_ONLY oracle pairs (beyond the
driver's 50-entry budget, verified by the local typed harness via
``merged_queries(include_retired=True)``).

Reference parity note: the reference (al3xandru/readability.py) is a
single-document extraction tool with no corpus surface; these are pure
§2.3 training-data-pipeline operators, so their contract is the
published pipeline practice (concat-and-chunk packing, per-stratum
hash sampling, regex PII redaction) rather than a reference file.

Scale notes (100 TB):

- ``pack_sequences`` needs exactly ONE shuffle (hash on the pack
  bucket) and an in-bucket window — there is no global sort. Buckets
  are the unit of packing parallelism: each bucket is an independent
  concat-and-chunk stream, so the operator scales by raising
  PACK_BUCKETS, and the window's sort is per-bucket (thousands of
  docs), never corpus-wide.
- ``sample_stratified`` and ``pii_scrub`` are map-only: pure
  JVM-expression projections that fuse into the scan stage. Sampling
  is hash-deterministic (md5 over a salted doc_id), so re-running the
  job — or running it per-partition on different executors — always
  keeps the same rows: reproducible corpus subsets with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize
from .textstats import words_of

PACK_WINDOW = 2048  # tokens per packed context window
PACK_BUCKETS = 32  # independent packing streams (shuffle width)

# per-stratum keep thresholds on a 32-bit uniform hash:
# floor(rate * 2^32) — integer compares, no float-boundary ambiguity
SAMPLE_THRESHOLDS = {"en": 2_147_483_648, "_other": 858_993_459}  # 0.5 / 0.2

# shuffle_shards: train/val/test split points (floor(0.9 * 2^32),
# floor(0.95 * 2^32)) and the shard fan-out per split
SPLIT_TRAIN_LT = 3_865_470_566
SPLIT_VAL_LT = 4_080_218_931
SHUFFLE_SHARDS = 16

EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk accounting)
# ---------------------------------------------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: docs are streamed in doc_id
    order within PACK_BUCKETS independent buckets; each doc lands at
    the running token offset of its bucket and is chunked into
    PACK_WINDOW-token context windows (a doc may straddle windows —
    the standard pretraining packing). Emits, per doc: its bucket,
    token count, the window index it starts in, its offset inside that
    window, and how many windows it spans."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    c = t.withColumn(
        "cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    )
    seq_id = F.expr(f"cum_prev DIV {PACK_WINDOW}")
    return c.select(
        "doc_id",
        "bucket",
        "n_tokens",
        seq_id.alias("seq_id"),
        (F.col("cum_prev") % PACK_WINDOW).alias("seq_offset"),
        (
            F.expr(f"(cum_prev + n_tokens - 1) DIV {PACK_WINDOW}")
            - seq_id
            + F.lit(1).cast("bigint")
        ).alias("n_windows"),
    )


ORACLE_PACK_SEQUENCES = rf"""
WITH t AS (
  SELECT doc_id, doc_id % {PACK_BUCKETS} AS bucket,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_prev
  FROM t
)
SELECT doc_id, bucket, n_tokens,
       cum_prev // {PACK_WINDOW} AS seq_id,
       cum_prev % {PACK_WINDOW} AS seq_offset,
       ((cum_prev + n_tokens - 1) // {PACK_WINDOW})
         - (cum_prev // {PACK_WINDOW}) + 1 AS n_windows
FROM c
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic hash sampling: keep a doc iff the
    first 32 bits of md5('smp:' || doc_id) fall under the stratum's
    integer threshold (en 0.5, others 0.2). No RNG state — the kept
    set is a pure function of doc_id, so resumes/retries/replicas all
    agree; rates converge to the target by md5 uniformity."""
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.expr(
        "CAST(conv(substr(md5(concat('smp:', CAST(doc_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT)"
    )
    thr = F.when(
        F.col("lang") == "en", F.lit(SAMPLE_THRESHOLDS["en"])
    ).otherwise(F.lit(SAMPLE_THRESHOLDS["_other"]))
    return docs.select(
        "doc_id", "lang", (u32 < thr).alias("keep")
    )


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang,
       CAST('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT)
         < CASE WHEN lang = 'en' THEN {SAMPLE_THRESHOLDS["en"]}
                ELSE {SAMPLE_THRESHOLDS["_other"]} END AS keep
FROM documents
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


def _pii_text() -> F.Column:
    """Deterministically decorate the synthetic corpus with PII so the
    scrubber has real work: doc_id % 7 → an email, % 11 → a NANP-style
    phone number, % 13 → a dotted-quad IP (same expressions in the
    DuckDB twin)."""
    did = F.col("doc_id")
    email = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@mail.example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 13 == 0,
        F.concat(
            F.lit(" from 10.0."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails → <EMAIL>, phones → <PHONE>, IPs →
    <IP>) with per-doc redaction counts. Map-only: counts and
    replacements are JVM regexp expressions fused into the scan stage;
    scrub order is email → IP → phone so no pattern sees another's
    placeholder. Gated parallelizer (r7): six regexp passes per row ran
    serially on the single-split testdata scan; exchange-free on a
    multi-split input."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    p = _pii_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(p, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(p, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(p, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(p, F.lit(IP_RE)).cast("bigint").alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


_DUCK_PII_TEXT = """text
  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
            || '@mail.example.com' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.'
            || CAST(doc_id % 256 AS VARCHAR) || '.'
            || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END"""

ORACLE_PII_SCRUB = f"""
WITH p AS (SELECT doc_id, {_DUCK_PII_TEXT} AS pt FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(pt, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(pt, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(pt, '{IP_RE}')) AS BIGINT) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(pt, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IP_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM p
"""


# ---------------------------------------------------------------------------
# deterministic global shuffle + train/val/test sharding
# ---------------------------------------------------------------------------


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for dataloader shard prep: each doc
    is assigned a train/val/test split (90/5/5 by the first 32 hash
    bits), a shard within its split (the SECOND 32 hash bits, so shard
    routing is independent of the split decision), and its position
    inside that shard in hash order — the materialized order a
    sequential reader of the shard files would see.

    Scale shape: map-only hash derivation, then ONE hash shuffle on
    (split, shard) with a per-shard window sort of corpus/SHARDS rows —
    there is deliberately NO global row_number (a corpus-wide
    ``Window.orderBy`` collapses to a single partition). Shards are the
    parallelism unit exactly as they are the dataloader's unit; raising
    SHUFFLE_SHARDS scales the sort. RNG-free: position and split are
    pure functions of doc_id, so retries/replicas/backfills agree."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))
        ).alias("hx"),
    ).select(
        "doc_id",
        "hx",
        F.expr(
            "CAST(conv(substr(hx, 1, 8), 16, 10) AS BIGINT)"
        ).alias("u32"),
        (
            F.expr("CAST(conv(substr(hx, 9, 8), 16, 10) AS BIGINT)")
            % SHUFFLE_SHARDS
        ).alias("shard"),
    )
    split = (
        F.when(F.col("u32") < SPLIT_TRAIN_LT, F.lit("train"))
        .when(F.col("u32") < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    s = h.select("doc_id", "hx", "shard", split.alias("split"))
    w = Window.partitionBy("split", "shard").orderBy("hx", "doc_id")
    return s.select(
        "doc_id",
        "split",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


ORACLE_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
), s AS (
  SELECT doc_id, hx,
         CAST('0x' || substr(hx, 1, 8) AS BIGINT) AS u32,
         CAST('0x' || substr(hx, 9, 8) AS BIGINT) % {SHUFFLE_SHARDS} AS shard
  FROM h
), sp AS (
  SELECT doc_id, hx, shard,
         CASE WHEN u32 < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN u32 < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS split
  FROM s
)
SELECT doc_id, split, shard,
       CAST(row_number() OVER (
            PARTITION BY split, shard ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM sp
"""


# ---------------------------------------------------------------------------
# source-mixture reweighting (temperature sampling)
# ---------------------------------------------------------------------------

MIXTURE_ALPHA = 0.5  # temperature exponent: target share ∝ share^alpha


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights that rebalance the corpus mixture by
    temperature smoothing (the multilingual-sampling rule of
    Conneau & Lample 2019 / XLM-R, alpha = 0.5 — i.e. sqrt): natural
    token share p_s, smoothed target share q_s = sqrt(p_s) / Σ sqrt(p),
    and the per-doc sampling weight w_s = q_s / p_s that a downstream
    sampler (sample_stratified's md5-threshold pattern) applies.

    Scale shape: ONE partial-agg shuffle on ``source`` (map-side
    combined to one row per source per task), then unpartitioned
    windows over the REDUCED per-source relation — a handful of rows
    regardless of corpus size, so the single-partition window is on the
    already-tiny aggregate, never on doc rows. Map-only + one tiny
    shuffle at any scale.

    Float discipline: p is an exact bigint ratio cast to double;
    alpha = 0.5 is computed as sqrt() (IEEE correctly-rounded in both
    engines, unlike pow); outputs round(,4) + 0.0, validated both SFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source",
            F.size(words_of(F.col("text")))
            .cast("bigint")
            .alias("nt"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        w_all
    ).cast("double")
    shares = per.select("source", "n_docs", "n_tokens", p.alias("p"))
    q = F.sqrt(F.col("p")) / F.sum(F.sqrt(F.col("p"))).over(w_all)
    return shares.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.round(F.col("p"), 4) + F.lit(0.0)).alias("share"),
        (F.round(q, 4) + F.lit(0.0)).alias("target_share"),
        (F.round(q / F.col("p"), 4) + F.lit(0.0)).alias("weight"),
    )


ORACLE_DOMAIN_MIXTURE = r"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), shares AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(p, 4) + 0.0 AS share,
       round(sqrt(p) / SUM(sqrt(p)) OVER (), 4) + 0.0 AS target_share,
       round(sqrt(p) / SUM(sqrt(p)) OVER () / p, 4) + 0.0 AS weight
FROM shares
"""


QUERIES = {
    "pack_sequences": q_pack_sequences,
    "domain_mixture": q_domain_mixture,
    "sample_stratified": q_sample_stratified,
    "pii_scrub": q_pii_scrub,
    "shuffle_shards": q_shuffle_shards,
}

ORACLES = {
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "domain_mixture": ORACLE_DOMAIN_MIXTURE,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "pii_scrub": ORACLE_PII_SCRUB,
    "shuffle_shards": ORACLE_SHUFFLE_SHARDS,
}
