"""Full-text relevance search: BM25 top-k retrieval over the corpus.

Reference parity note: the reference (al3xandru/readability.py) is a
single-document extraction tool with no corpus surface; this is a pure
§2.3 training-data-pipeline operator whose contract is the published
BM25 ranking function (Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond"; the Lucene idf variant
ln(1 + (N - df + 0.5) / (df + 0.5))), not a reference file.

Scale notes (100 TB):

- The whole operator is map-only over the corpus plus ONE 1-row
  aggregate. Per-doc term frequencies for the (small, literal) query
  term set are computed IN-ROW — ``size(filter(ws, x -> x = term))``
  over the token array — so there is no corpus-wide explode and no
  inverted-index shuffle for an ad-hoc query. The corpus statistics
  BM25 needs (N, avgdl, per-term df) all collapse into a single
  1-row aggregate that is broadcast back; scoring then fuses into the
  scan stage.
- The final top-k is ``orderBy().limit(k)`` — Spark plans it as
  TakeOrderedAndProject (per-partition heap + driver merge of k rows),
  never a corpus-wide sort shuffle. This is the plan shape that
  survives 100 TB: two scans (stats + score), zero wide exchanges.
- A production search system with a high query rate amortizes the
  stats pass by maintaining the df table as an index (the snapshot
  catalog pattern); the ad-hoc shape here recomputes it because the
  oracle must be able to replay it exactly.

Float discipline: idf and the length normalization are float, so the
score goes through round(…, 4) + 0.0 (IEEE -0.0 rule) and the top-k
ordering is on the ROUNDED score with an explicit doc_id tie-break in
both dialects (CLAUDE.md window/top-k rule); validated at both SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize
from .textstats import words_of

QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _score_sql(tf: str, df: str) -> str:
    """One term's BM25 contribution — identical text in both dialects
    (Spark SQL and DuckDB agree on ln/CAST/arithmetic syntax here)."""
    idf = f"ln(1.0 + (n_docs - {df} + 0.5) / ({df} + 0.5))"
    norm = (
        f"({tf} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * "
        f"CAST(dl AS DOUBLE) / avgdl))"
    )
    return f"{idf} * ({tf} * {BM25_K1 + 1.0}) / {norm}"


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over ``documents`` for the literal QUERY_TERMS.

    Plan shape: per-doc (dl, tf_i) projection fused into the scan;
    one 1-row stats aggregate (N, avgdl, df_i) broadcast back via
    crossJoin; score in-row; TakeOrderedAndProject for the top-k.

    r7: the per-doc (dl, tf_i) relation is eager-persisted — it feeds
    BOTH the stats aggregate and the scoring side (the multi-reference
    rule), so the tokenize + per-term tf pass over the corpus runs
    once instead of twice; and the scan goes through maybe_parallelize
    (the split + three filter folds ran serially on the single-split
    testdata scan — the r5 serial-projection class; exchange-free on a
    multi-split input). The cached relation is five ints per doc —
    at production scale this is the df/doclen side-index a search
    system maintains anyway.
    """
    from .dedup import _persist

    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    t = docs.select(
        "doc_id",
        words_of(F.col("text")).alias("ws"),
    )
    f = _persist(
        t.select(
            "doc_id",
            F.size("ws").cast("bigint").alias("dl"),
            *[
                F.expr(
                    f"CAST(size(filter(ws, x -> x = '{q}')) AS BIGINT)"
                ).alias(f"tf{i}")
                for i, q in enumerate(QUERY_TERMS)
            ],
        ),
        eager=True,
    )
    stats = f.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    score = " + ".join(
        _score_sql(f"tf{i}", f"df{i}") for i in range(len(QUERY_TERMS))
    )
    tf_total = " + ".join(f"tf{i}" for i in range(len(QUERY_TERMS)))
    return (
        f.crossJoin(F.broadcast(stats))
        .filter(F.expr(f"{tf_total} > 0"))
        .select(
            "doc_id",
            F.expr(f"CAST({tf_total} AS BIGINT)").alias("tf_total"),
            (F.round(F.expr(score), 4) + F.lit(0.0)).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP_K)
    )


def _oracle_bm25() -> str:
    tf_exprs = ",\n         ".join(
        f"CAST(len(list_filter(ws, x -> x = '{q}')) AS BIGINT) AS tf{i}"
        for i, q in enumerate(QUERY_TERMS)
    )
    df_exprs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(QUERY_TERMS))
    )
    score = " + ".join(
        _score_sql(f"tf{i}", f"df{i}") for i in range(len(QUERY_TERMS))
    )
    tf_total = " + ".join(f"tf{i}" for i in range(len(QUERY_TERMS)))
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
), f AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
         {tf_exprs}
  FROM t
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
         {df_exprs}
  FROM f
)
SELECT doc_id,
       CAST({tf_total} AS BIGINT) AS tf_total,
       round({score}, 4) + 0.0 AS score
FROM f CROSS JOIN s
WHERE {tf_total} > 0
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_K}
"""


ORACLE_BM25_SEARCH = _oracle_bm25()


QUERIES = {
    "bm25_search": q_bm25_search,
}

ORACLES = {
    "bm25_search": ORACLE_BM25_SEARCH,
}
