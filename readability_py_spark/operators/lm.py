"""Corpus-trained statistical language-model scoring (CCNet-style
quality filtering): train an n-gram LM on the corpus itself, then
score every document by its average per-token negative log-likelihood
(the perplexity proxy used to rank web text against a trusted corpus
in CCNet / the "quality filtering" stage of most pretraining
pipelines).

Reference parity note: the reference (al3xandru/readability.py) is a
single-document extraction tool with no corpus surface; this is a pure
§2.3 training-data-pipeline operator whose contract is the published
practice (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", 2020 — n-gram LM perplexity as the
quality signal), not a reference file.

Scale notes (100 TB):

- The whole operator is TWO passes over the corpus: one to train
  (bigram + context counts — two partial-agg shuffles over the
  exploded bigram relation, map-side combined), one to score (the same
  exploded relation joined back to the model). The exploded bigram
  relation feeds three consumers (bigram counts, context counts, the
  scoring side), so it is eager-persisted — the multi-reference rule
  (a lazy persist would materialize it concurrently from each subtree
  under AQE).
- The model joins are plain equi-joins on the n-gram key. At web
  scale the trained model is itself large (it derives from the
  corpus), so neither side is broadcast — AQE broadcasts when the
  model is small, shuffles when it is not. A production deployment
  prunes the model (top-M n-grams + backoff mass) and THEN broadcasts;
  the unpruned exact model is what a DuckDB oracle can replay.
- Vocabulary size (the Laplace denominator) is a 1-row aggregate,
  broadcast into the scoring join — the same 1-row-build-side shape as
  eval-set decontamination.
- Float discipline: probabilities are exact integer ratios cast to
  double (identical in both engines); only ln() and the final avg are
  float, so the output goes through round(…, 4) + 0.0 (the IEEE -0.0
  rule, see kmeans_refine) and is validated at both SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize
from .textstats import words_of

# The exploded bigram relation is persisted through dedup's shared
# registry so bench/driver-rehearsal's existing release hook
# (dedup.release_caches) drops it once the result is materialized.
from .dedup import _persist


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with Laplace smoothing, trained on the corpus and
    scoring each document: avg_nll = mean over the doc's bigrams of
    -ln((c(w1,w2) + 1) / (c(w1·) + V)).

    The bigram relation is built IN-ROW (zip of two slices of the
    token array — ``sequence()`` would DESCEND for 1-token docs, the
    slice/zip form is empty-safe) and exploded once; docs with fewer
    than two tokens have no bigrams and drop out, matching the oracle.
    """
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select(
        "doc_id", words_of(F.col("text")).alias("t")
    )
    big = _persist(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1),"
                    " slice(t, 2, size(t) - 1),"
                    " (a, b) -> named_struct('w1', a, 'w2', b))"
                )
            ).alias("b"),
        ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")),
        eager=True,  # three consumers below — the multi-reference rule
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cc = big.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = F.broadcast(
        toks.select(F.explode("t").alias("w")).agg(
            F.countDistinct("w").alias("nv")
        )
    )
    nll = -F.log(
        (F.col("c12") + F.lit(1.0))
        / (F.col("c1").cast("double") + F.col("nv").cast("double"))
    )
    # r7: fold the context counts and the vocab scalar into the MODEL
    # relation (vocabulary-sized) before the corpus join, so the 8M-row
    # exploded bigram relation crosses ONE join on (w1, w2) instead of
    # two (the old big⋈bc⋈cc chain re-shuffled and re-sorted the full
    # bigram relation a second time just to attach c1). The per-bigram
    # nll doubles are identical; only their arrival order at the avg
    # changes, which is already run-dependent under shuffle (see the
    # float-discipline note above — ln/avg sit far above the ROUND 4
    # reporting precision).
    model = bc.join(cc, ["w1"]).crossJoin(vocab).select(
        "w1", "w2", nll.alias("nll")
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            (F.round(F.avg("nll"), 4) + F.lit(0.0)).alias("avg_nll"),
        )
    )


ORACLE_NGRAM_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
), bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
   cc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
   v AS (SELECT count(DISTINCT w) AS nv
         FROM (SELECT unnest(t) AS w FROM toks))
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((bc.c12 + 1.0) / (cc.c1 + v.nv))), 4) + 0.0 AS avg_nll
FROM big b JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public): estimate a
# hashed-n-gram bag-of-words distribution for a TARGET slice and for
# the RAW corpus, then weight every raw document by its log importance
# ratio sum_b c_doc(b) * (ln p_target(b) - ln p_raw(b)). The published
# pipeline resamples with these weights; the weight computation is the
# corpus operator (the resample itself is sample_stratified's
# md5-threshold pattern applied to the weights).
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 512  # hashed uni+bigram feature space (paper uses 10k)
DSIR_TARGET_LANG = "en"  # deterministic target slice of the corpus


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log importance weight against the lang='en'
    target slice, over md5-bucketed uni+bigram features (the same hash
    family as quality_classifier).

    Scale shape (100 TB): ONE exploded feature relation feeds four
    consumers (target bucket counts, raw bucket counts, their two
    1-row totals via grand aggregates, and the scoring side), so it is
    eager-persisted — the multi-reference rule. Both bucket
    distributions collapse to <= DSIR_BUCKETS rows, so the trained
    model is a broadcast joined back map-side: the whole operator is
    one explode + two partial-agg shuffles over bucket ids (map-side
    combined into <= B rows per task) + one final doc_id aggregation.
    Unlike ngram_lm_score the model side is FIXED-size (hashing trick),
    so the broadcast never outgrows an executor regardless of corpus
    size — that is DSIR's point.

    Float discipline: bucket probabilities are exact integer ratios;
    only ln() and the per-doc sum are float -> round(,4) + 0.0,
    validated at both SFs (CLAUDE.md float rules).
    """
    b_mod = DSIR_BUCKETS
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select(
        "doc_id",
        "lang",
        words_of(F.col("text")).alias("ws"),
    )
    bucket = f"CAST(conv(substr(md5(x), 1, 4), 16, 10) AS INT) % {b_mod}"
    bigrams = (
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),"
        " (a, b) -> concat(a, '_', b))"
    )
    feats = F.expr(
        f"concat(transform(ws, x -> {bucket}),"
        f" transform({bigrams}, x -> {bucket}))"
    )
    feat = _persist(
        toks.select("doc_id", "lang", F.explode(feats).alias("b")),
        eager=True,  # four consumers below — the multi-reference rule
    )
    tgt = feat.filter(F.col("lang") == DSIR_TARGET_LANG)
    ct = tgt.groupBy("b").agg(F.count("*").alias("ct"))
    cr = feat.groupBy("b").agg(F.count("*").alias("cr"))
    nt = tgt.agg(F.count("*").alias("nt"))
    nr = feat.agg(F.count("*").alias("nr"))
    lw = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
        / (F.col("nt") + F.lit(float(b_mod)))
    ) - F.log((F.col("cr") + F.lit(1.0)) / (F.col("nr") + F.lit(float(b_mod))))
    model = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select("b", lw.alias("lw"))
    )
    return (
        feat.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            (F.round(F.sum("lw"), 4) + F.lit(0.0)).alias("log_iw"),
        )
    )


_DSIR_BUCKET = f"(CAST('0x' || substr(md5({{t}}), 1, 4) AS INT) % {DSIR_BUCKETS})"

ORACLE_DSIR_IMPORTANCE = rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
), feat AS (
  SELECT doc_id, lang,
         unnest(list_concat(
           list_transform(ws, x -> {_DSIR_BUCKET.format(t="x")}),
           list_transform(range(1, len(ws)),
                          i -> {_DSIR_BUCKET.format(t="ws[i] || '_' || ws[i+1]")})
         )) AS b
  FROM t
), ct AS (SELECT b, count(*) AS ct FROM feat
          WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
   cr AS (SELECT b, count(*) AS cr FROM feat GROUP BY 1),
   nt AS (SELECT count(*) AS nt FROM feat WHERE lang = '{DSIR_TARGET_LANG}'),
   nr AS (SELECT count(*) AS nr FROM feat),
   model AS (
     SELECT cr.b,
            ln((COALESCE(ct, 0) + 1.0) / (nt + {DSIR_BUCKETS}.0))
            - ln((cr + 1.0) / (nr + {DSIR_BUCKETS}.0)) AS lw
     FROM cr LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN nr
   )
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       round(sum(lw), 4) + 0.0 AS log_iw
FROM feat f JOIN model USING (b)
GROUP BY f.doc_id
"""


BPE_TOP_MERGES = 50
# BPE end-of-word marker (Sennrich et al. 2016): a symbol appended to
# every word so merges can distinguish word-final from word-internal
# pairs. One non-text char keeps the substring pair math trivial.
BPE_EOW = "~"


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE merge step (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units"): the
    top-N candidate merges by corpus pair frequency, over initial
    character symbols with the end-of-word marker appended.

    This is the tokenizer-training primitive the same way
    q_kmeans_refine is the IVF-build primitive: production BPE loops
    the driver over steps, each step a pure DataFrame job — count
    adjacent symbol pairs weighted by word frequency, take the argmax,
    apply the merge to the (small) word table, repeat. The expensive
    corpus pass happens ONCE (the word-frequency aggregation); every
    subsequent step runs on the vocabulary relation, which is orders
    of magnitude smaller than the corpus and shrinks no further.

    Plan shape at 100 TB: corpus explode → one (word) partial-agg
    shuffle (map-side combined, output = the vocabulary, sublinear in
    the corpus) → in-row pair explode over the vocab → one tiny (pair)
    partial-agg shuffle → TakeOrderedAndProject top-N (never a global
    sort). Deterministic tie-break: count desc, pair asc."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    toks = docs.select(
        F.explode(words_of(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 1)
    words = (
        toks.select(F.concat(F.col("w"), F.lit(BPE_EOW)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(BPE_TOP_MERGES)
    )


ORACLE_BPE_MERGE_STEP = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
words AS (
  SELECT w || '{BPE_EOW}' AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE len(w) >= 1 GROUP BY w || '{BPE_EOW}'
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair,
         freq
  FROM words
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_TOP_MERGES}
"""


QUERIES = {
    "ngram_lm_score": q_ngram_lm_score,
    "dsir_importance": q_dsir_importance,
    "bpe_merge_step": q_bpe_merge_step,
}

ORACLES = {
    "ngram_lm_score": ORACLE_NGRAM_LM_SCORE,
    "dsir_importance": ORACLE_DSIR_IMPORTANCE,
    "bpe_merge_step": ORACLE_BPE_MERGE_STEP,
}
