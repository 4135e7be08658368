"""Deduplication operators for the training-data pipeline.

Three families, each a `queries()` entry with a DuckDB oracle twin:

- exact:        md5 fingerprint groupBy (one shuffle on the hash key)
- MinHash+LSH:  shingle → k md5-minhashes → band signatures → bucket
                join → Jaccard verify (the scale path: candidate pairs
                come from equi-join on band signature, never O(n²))
- SimHash:      32-bit sign-of-sums signature per doc + banded
                hamming-distance pair search

Hash discipline: all hashing is md5-over-utf8 (identical in Spark and
DuckDB), so even the MinHash/SimHash pipelines are oracle-checkable.
MinHash "hash family" h_i(s) = md5(i || ':' || s) compared as hex
strings (lexicographic min == numeric min on fixed-width hex).

One pipeline per family: ``_doc_tokens`` — the documents scan through
``maybe_parallelize``, split into words — is the one source shape.
The standalone capped queries run ``minhash_lsh_capped_from`` /
``simhash_pairs_capped_from`` over it, and groups.q_dedup_groups runs
the same two over its persisted copy. Candidates are verified by one
step, ``minhash_lsh_dups_from`` (the capped tail calls it on the
buckets under the cap), with one Jaccard expression, ``_jaccard``.
The generated SimHash SQL reads temp views registered over those
relations; it carries no repartition hint of its own.

Scale notes (100 TB): exact dedup shuffles once on the fingerprint;
MinHash shuffles shingles (explode factor ~#shingles × k, bounded by
distinct-shingle cap) then joins on band signature, which is uniform by
construction; Jaccard verify touches only candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import jvm_memo, load_table, maybe_parallelize

MINHASH_K = 12
MINHASH_BAND_SIZE = 3  # 4 bands of 3
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
# Production-scale LSH parameters (the capped path): realistic
# signature width + a bucket-size cap so a degenerate band signature
# (mass-duplicated boilerplate — the dominant Common Crawl case) can
# never go quadratic inside one bucket.
MINHASH_K_PROD = 64
MINHASH_BAND_SIZE_PROD = 4  # 16 bands of 4
LSH_BUCKET_CAP = 10

# The one cache registry: queries persist intermediate relations
# (shingle sets, signatures) that both sides of a self-join reuse, and
# sources.pages_io caches its parsed JSONL scan; long-lived sessions
# running many queries back-to-back (bench, driver) release them all
# with release_caches() once the result is materialized.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """persist(), optionally forcing materialization NOW (one count()
    over the freshly built cache).

    ``eager=True`` is required whenever the SAME query references the
    cached relation from more than one subtree: a lazy persist leaves
    the first action to populate the cache, and under AQE the
    independent subtrees materialize CONCURRENTLY — each first-touch
    recomputes every partition from scratch (first block writer wins,
    the rest is discarded) while contending on the memory-store lock.
    Measured on the 320k-doc scaling corpus: minhash_lsh_capped's five
    cache references launched five concurrent full shingle+signature
    builds (~2× total core-seconds at local[32] vs local[8], half the
    dominant stage blocked on the store) — the direct cause of the
    0.438 scaling-pair efficiency. Eager materialization runs the
    build exactly once, in dependency order, at full parallelism."""
    df = df.persist()
    _PERSISTED.append(df)
    if eager:
        df.count()
    return df


def release_caches() -> None:
    """Unpersist every DataFrame cached through ``_persist`` (call after
    materializing a query's result; safe to call repeatedly)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist(blocking=False)


def _shingles(toks: Column) -> Column:
    """Distinct bigram word-shingle set of a token-array expression."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


@jvm_memo
def shingles_from_tokens(toks: str) -> Column:
    """Distinct bigram word-shingle set of the already-split token
    array column ``toks`` — so a shared persisted (doc_id, toks)
    relation can feed the MinHash shingle build AND the SimHash token
    hash without a second scan + split (VERDICT r5 item 5)."""
    return _shingles(F.col(toks))


@jvm_memo
def shingles_of(text: str) -> Column:
    """Distinct bigram word-shingle set of the text column ``text`` —
    the shared shingle definition for every MinHash family (and the
    composed pipeline in operators/groups.py, which shingles url-dedup
    survivors rather than the raw table)."""
    return _shingles(F.split(F.col(text), " "))


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks): the documents scan split into words, the one
    source shape of both LSH families (MinHash shingles the tokens,
    SimHash hashes them).

    The scan goes through maybe_parallelize: the testdata tables are
    single parquet files (one input split), and shingle+minhash work is
    CPU-bound — without a repartition the whole map stage runs on one
    core there. At 100 TB the input has thousands of splits, the gate
    does not fire, and the plan is genuinely map-only (VERDICT r4
    "What's wrong" #1: the unconditional form round-robin-shuffled 1×
    the corpus text for nothing)."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    return docs.select("doc_id", F.split("text", " ").alias("toks"))


def _shingle_sets(toks: DataFrame) -> DataFrame:
    """(doc_id, sh): the bigram shingle set of each token array."""
    return toks.select(
        "doc_id", shingles_from_tokens("toks").alias("sh")
    )


@jvm_memo
def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of the ``sh`` sets of the relations aliased ``a``
    and ``b``, unrounded: each caller rounds and filters in the order
    its oracle fixes."""
    inter = F.size(F.array_intersect(F.col(f"{a}.sh"), F.col(f"{b}.sh")))
    union = F.size(F.col(f"{a}.sh")) + F.size(F.col(f"{b}.sh")) - inter
    return inter.cast("double") / union


_SH_DUCK = """
  SELECT doc_id, lang, n_chars,
         list_distinct(
           CASE WHEN len(string_split(text,' ')) >= 2 THEN
             list_transform(range(1, len(string_split(text,' '))), i ->
               string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
           ELSE [] END) AS sh
  FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on md5(text); keeps the smallest doc_id
    as the representative (deterministic at any partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", F.md5(F.encode(F.col("text"), "utf-8")))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_cnt
FROM documents GROUP BY 1
"""


def _band_signatures(
    d: DataFrame,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    family: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_sig) for k minhashes of the ``sh`` shingle
    sets in bands of band_size — map-only signature build (no explode
    of shingles, no shuffle). ``family`` picks the permutation h_i(s)
    whose min over the shingles is minhash i: ``"md5"`` is
    md5(i || ':' || s) as hex, the oracle-parity default;
    ``"xxhash64"`` is xxhash64(i, s), the production family.

    Empty-shingle docs are dropped AFTER the generate, by their empty
    band_sig (array_min over [] is null; concat_ws skips nulls), NOT
    by a `filter(size(sh) > 0)` on the input: a source-column filter
    is pushed below the parallelizing repartition into the single-
    split test scan, and since its predicate inlines the shingle
    expression, the WHOLE shingle build ran serially there (and then
    again, in parallel, for the signatures) — measured as a full
    serial corpus pass. A predicate on the generator's output cannot
    cross the Generate, so it stays in the parallel stage; with a
    real multi-split scan both forms fuse into the scan stage."""
    if family not in ("md5", "xxhash64"):
        raise ValueError(f"unknown MinHash family {family!r}")
    mins, bands, cols, nonempty = _minhash_bands(k, band_size, family)
    return (
        d.select("doc_id", mins)
        .select("doc_id", bands)
        .select("doc_id", *cols)
        .filter(nonempty)
    )


@jvm_memo
def _minhash_bands(k: int, band_size: int, family: str):
    """The Columns _band_signatures applies, in order: the k mins
    ``m``, the exploded band structs ``bs``, their (band, band_sig)
    fields, and the non-empty band_sig test. A k=64 fold is thousands
    of expression nodes, each a py4j round trip to build, so it is
    built once per JVM.

    r7: the k mins come from ONE aggregate pass over the shingle array
    (acc = k-vector of running mins, null-initialized; ``least`` skips
    nulls exactly as ``array_min`` does) instead of k independent
    ``array_min(transform(sh, …))`` traversals. Hash count is
    unchanged — k hashes per shingle either way, and the hash is the
    oracle-pinned family — but the interpreted higher-order-function
    machinery runs |sh| outer iterations instead of k·|sh| (measured
    9.7 → 8.6 s on the k=64 md5 build at sf1.0; output set-identical
    by construction and by the A/B in OPTIMIZATION_r07.md). An
    empty/1-token doc folds to an all-null vector → concat_ws skips
    nulls → band_sig '' → dropped by the caller's filter, matching
    array_min's null on empty input.

    The md5 family encodes each shingle to UTF-8 once, before the
    fold, and hashes the bytes of the ASCII prefix "i:" followed by
    them: the same bytes as md5(encode(concat('i:', s))), without k
    encodes per shingle."""
    fast = family == "xxhash64"
    if fast:
        sh = F.col("sh")

        def hashes_of(s: Column) -> Column:
            return F.array(*[F.xxhash64(F.lit(i), s) for i in range(k)])

    else:
        sh = F.transform(F.col("sh"), lambda s: F.encode(s, "utf-8"))

        def hashes_of(s: Column) -> Column:
            return F.array(
                *[F.md5(F.concat(F.lit(f"{i}:".encode()), s)) for i in range(k)]
            )

    init = F.array_repeat(F.lit(None).cast("bigint" if fast else "string"), k)
    mins = F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(acc, hashes_of(s), lambda a, b: F.least(a, b)),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(F.col("m"), b * band_size + j + 1)
                        for j in range(band_size)
                    ],
                ).alias("band_sig"),
            )
            for b in range(k // band_size)
        ]
    )
    return (
        mins.alias("m"),
        F.explode(bands).alias("bs"),
        (F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")),
        F.col("band_sig") != "",
    )


def _duck_minhash_sig(
    k: int = MINHASH_K, band_size: int = MINHASH_BAND_SIZE, src: str = "d"
) -> str:
    n_bands = k // band_size
    band_exprs = []
    for b in range(n_bands):
        mins = " || ',' || ".join(
            f"list_min(list_transform(sh, s -> md5('{i}:' || s)))"
            for i in range(b * band_size, (b + 1) * band_size)
        )
        band_exprs.append(f"SELECT doc_id, {b} AS band, {mins} AS band_sig FROM {src} WHERE len(sh) > 0")
    return "\nUNION ALL\n".join(band_exprs)


def q_minhash_signatures_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-HASH MinHash band signatures: xxhash64 k-permutations
    (VERDICT r3 item 7). Which path production runs: THIS one — at
    100 TB the signature build dominates LSH dedup cost, md5 is forced
    elsewhere only because it is the one hash both Spark and DuckDB
    implement (the oracle-parity constraint), and xxhash64 is ~35×
    cheaper per permutation JVM-side (steal-gated sf0.1 A/B in
    BENCH.md: k64−k12 build-time delta 0.56s md5 vs ~0.015s xxhash64;
    end-to-end k=64 build 1.18s vs 0.42s — at production k and doc
    length the hash term, which scales with shingles×k, dominates).
    Driver check is rows-only (DuckDB has no xxhash64);
    collision/equivalence behavior vs the md5 family is pytest-pinned
    (tests/test_operators_r4.py): identical shingle sets ⇒ identical
    signatures, and the full LSH dedup pipeline over either family
    verifies to the same near-dup pair set at test SF."""
    return _band_signatures(
        _shingle_sets(_doc_tokens(spark, sf_dir)), family="xxhash64"
    )


def minhash_lsh_dups_from(sig: DataFrame, sh: DataFrame) -> DataFrame:
    """LSH dedup given a signature relation and a shingle relation:
    band equi-join candidates → exact-Jaccard verify. Split out so the
    md5 and xxhash64 signature families run the identical downstream
    pipeline (used by q_minhash_lsh_dups and the fast-path tests), and
    so the capped tail runs it over the signatures at or under the
    bucket cap."""
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    da = sh.alias("da")
    db = sh.alias("db")
    return (
        cand.join(da, cand.a_id == F.col("da.doc_id"))
        .join(db, cand.b_id == F.col("db.doc_id"))
        .select(
            "a_id", "b_id", F.round(_jaccard("da", "db"), 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup: candidates = equi-join on band signature
    (uniform shuffle key — no quadratic blowup), then exact-Jaccard
    verify at JACCARD_THRESHOLD.

    The signature and shingle-set relations are cached: both sides of
    the candidate self-join and the verify join reuse them (at corpus
    scale these would be persisted index tables, not recomputed)."""
    d = _persist(_shingle_sets(_doc_tokens(spark, sf_dir)), eager=True)
    sig = _persist(_band_signatures(d), eager=True)
    return minhash_lsh_dups_from(sig, d)


ORACLE_MINHASH_LSH_DUPS = f"""
WITH d AS ({_SH_DUCK}),
sig AS (
{_duck_minhash_sig()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.a_id, c.b_id,
         ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
               / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) AS jaccard
  FROM cand c JOIN d da ON c.a_id = da.doc_id JOIN d db ON c.b_id = db.doc_id
)
SELECT a_id, b_id, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_capped_from(spark, sf_dir, _doc_tokens(spark, sf_dir))


def minhash_lsh_capped_from(
    spark: SparkSession, sf_dir: str, toks: DataFrame
) -> DataFrame:
    """Production-parameter MinHash-LSH dedup with a bucket-size cap —
    the 100 TB path (VERDICT item 4).

    Two scale hazards the toy query tolerates are closed here:

    - realistic signature width: 64 minhashes in 16 bands of 4
      (MINHASH_K_PROD), not the oracle twin's 12/4;
    - bucket cap: a band signature shared by more than LSH_BUCKET_CAP
      docs (mass-duplicated boilerplate — the dominant Common Crawl
      failure mode) is EXCLUDED from the quadratic candidate self-join.
      Its members route to an exact-dup side channel instead: group by
      md5(text) inside the hot buckets and pair each doc with its
      group's min doc_id — linear in bucket size. Near-dups (not
      byte-identical) inside a hot bucket are deliberately dropped:
      bounded work beats perfect recall on boilerplate.

    Output matches minhash_lsh_dups' shape: (a_id, b_id, jaccard);
    exact-channel pairs carry jaccard 1.0 (identical text ⇒ identical
    shingle sets ⇒ true Jaccard 1.0, so the two channels agree).

    ``toks`` is a (doc_id, toks) token relation: the standalone query
    passes ``_doc_tokens``; groups.q_dedup_groups passes its persisted
    one, which the SimHash branch reads too — one scan + split feeds
    both pair families (VERDICT r5 item 5)."""
    d = _persist(_shingle_sets(toks), eager=True)
    sig = _band_signatures(
        d, k=MINHASH_K_PROD, band_size=MINHASH_BAND_SIZE_PROD
    )
    return _capped_tail(
        spark, sf_dir, d, sig, F.md5(F.encode(F.col("text"), "utf-8"))
    )


def q_minhash_lsh_capped_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-HASH capped LSH dedup — the exact pipeline
    q_minhash_lsh_capped runs, with every hash swapped from the
    md5-hex oracle family to JVM-native xxhash64:

    - shingles are hashed to LONGs once at shingle time
      (``xxhash64(bigram)``) so the cached shingle relation, the k=64
      permutation loop, AND the Jaccard verify all operate on
      fixed-width longs instead of variable-length strings — Jaccard
      over distinct hashed shingles equals Jaccard over the strings up
      to 64-bit collisions (~n²/2⁶⁴, negligible at any corpus size);
    - permutations are ``xxhash64(i, shingle_hash)`` (no per-shingle
      string concat + utf-8 encode + hex materialization — the md5
      family allocates three transient objects per shingle×permutation,
      and at 32 concurrent cores that churn is the measured scaling
      limiter of the md5 path on the 320k-doc corpus);
    - the hot-bucket exact channel fingerprints with ``xxhash64(text)``.

    No oracle (DuckDB has no xxhash64): LOCAL_ONLY; correctness is
    pinned by pytest equality of the emitted pair set against the
    driver-hash-green md5 pipeline at test SF
    (tests/test_operators_r5.py)."""
    d = _persist(
        _doc_tokens(spark, sf_dir).select(
            "doc_id",
            F.transform(
                shingles_from_tokens("toks"), lambda s: F.xxhash64(s)
            ).alias("sh"),
        ),
        eager=True,
    )
    sig = _band_signatures(
        d,
        k=MINHASH_K_PROD,
        band_size=MINHASH_BAND_SIZE_PROD,
        family="xxhash64",
    )
    return _capped_tail(spark, sf_dir, d, sig, F.xxhash64(F.col("text")))


def _capped_tail(
    spark: SparkSession,
    sf_dir: str,
    d: DataFrame,
    sig: DataFrame,
    fp_col: Column,
) -> DataFrame:
    """Shared tail of the capped LSH pipelines: window bucket-count,
    cap split, minhash_lsh_dups_from over the buckets at or under the
    cap, hot-bucket exact channel. ``d`` is the (doc_id, sh) relation
    (string or hashed shingles), ``fp_col`` the exact-channel text
    fingerprint."""
    # Bucket size via a window count, not groupBy + join-back: one hash
    # shuffle on the band key gives every signature row its bucket size
    # directly, where the join formulation cost two extra shuffles (the
    # aggregate + an SMJ re-join) for both the small and hot splits.
    # The bucket-count relation is O(corpus × bands) at 100 TB — never
    # broadcastable — so removing the join entirely beats hinting it.
    # Cache the WINDOW OUTPUT (not the raw signatures): all three
    # downstream consumers (both self-join sides, the hot-doc split)
    # need the bucket count, so caching upstream of the window paid the
    # band-key shuffle + count three times over.
    sig_c = _persist(
        sig.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy("band", "band_sig"))
        ),
        eager=True,
    )
    verified = minhash_lsh_dups_from(
        sig_c.filter(F.col("c") <= LSH_BUCKET_CAP), d
    )
    # hot buckets → exact-dup side channel (linear: pair with group min)
    hot_docs = (
        sig_c.filter(F.col("c") > LSH_BUCKET_CAP).select("doc_id").distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fp_col.alias("fp")
    )
    hot_fp = hot_docs.join(docs, "doc_id")
    wfp = Window.partitionBy("fp")
    exact = (
        hot_fp.withColumn("mn", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") != F.col("mn"))
        .select(
            F.col("mn").alias("a_id"),
            F.col("doc_id").alias("b_id"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return verified.union(exact).distinct()


ORACLE_MINHASH_LSH_CAPPED = f"""
WITH d AS ({_SH_DUCK}),
sig AS (
{_duck_minhash_sig(MINHASH_K_PROD, MINHASH_BAND_SIZE_PROD)}
),
cnt AS (SELECT band, band_sig, COUNT(*) AS c FROM sig GROUP BY 1, 2),
small AS (
  SELECT s.doc_id, s.band, s.band_sig FROM sig s
  JOIN cnt ON s.band = cnt.band AND s.band_sig = cnt.band_sig
  WHERE cnt.c <= {LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM small a JOIN small b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.a_id, c.b_id,
         ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
               / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4) AS jaccard
  FROM cand c JOIN d da ON c.a_id = da.doc_id JOIN d db ON c.b_id = db.doc_id
),
hot_docs AS (
  SELECT DISTINCT s.doc_id FROM sig s
  JOIN cnt ON s.band = cnt.band AND s.band_sig = cnt.band_sig
  WHERE cnt.c > {LSH_BUCKET_CAP}
),
hot_fp AS (
  SELECT h.doc_id, md5(documents.text) AS fp,
         MIN(h.doc_id) OVER (PARTITION BY md5(documents.text)) AS mn
  FROM hot_docs h JOIN documents ON h.doc_id = documents.doc_id
),
exact AS (
  SELECT mn AS a_id, doc_id AS b_id, CAST(1 AS DOUBLE) AS jaccard
  FROM hot_fp WHERE doc_id <> mn
)
SELECT DISTINCT a_id, b_id, jaccard FROM (
  SELECT a_id, b_id, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
  UNION ALL
  SELECT a_id, b_id, jaccard FROM exact
)
"""


def _simhash_sql(dialect: str, source_table: str = "doc_tokens") -> str:
    """Generate the 32-bit SimHash query for either dialect.

    Signature = for each bit b: sign of Σ_tokens (±1 by bit b of
    md5-32(token)); identical token hashing in both engines via
    hex-prefix of md5. Dialect differences: hex→int cast, shift ops,
    and array-fold syntax.

    Scale design (round-2 rewrite, VERDICT item 5): the signature is
    built entirely MAP-SIDE — each doc's distinct tokens are hashed
    ONCE into an in-row bigint array, then the 32 bit-sums are
    ``aggregate`` folds over that array. Zero explode, zero shuffle:
    at 100 TB nothing moves until the banded pair join. (Round 1
    exploded every distinct token into a shuffled groupBy over 32
    SUM(CASE) columns — one shuffled row per token occurrence.)

    The Spark dialect reads the (doc_id, toks) view ``source_table``
    (see ``_doc_tokens``); the DuckDB dialect splits documents.text.
    """
    if dialect == "spark":
        # one md5 per distinct token, materialized as an in-row array
        hs = (
            "transform(array_distinct(toks), "
            "tok -> CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT))"
        )
        bit_sums = ",\n         ".join(
            f"aggregate(hs, 0L, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1L ELSE -1L END)) AS s{b}"
            for b in range(SIMHASH_BITS)
        )
        hashed = f"SELECT doc_id, {hs} AS hs FROM {source_table}"
    else:
        hs = (
            "list_transform(list_distinct(string_split(text, ' ')), "
            "tok -> CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT))"
        )
        bit_sums = ",\n         ".join(
            f"list_sum(list_transform(hs, h -> "
            f"CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END)) AS s{b}"
            for b in range(SIMHASH_BITS)
        )
        hashed = f"SELECT doc_id, {hs} AS hs FROM documents"
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH hashed AS ({hashed}),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _doc_tokens(spark, sf_dir).createOrReplaceTempView("doc_tokens")
    return spark.sql(_simhash_sql("spark"))


ORACLE_SIMHASH_DOCS = _simhash_sql("duckdb")


def _simhash_pairs_capped_sql(dialect: str) -> str:
    """SimHash near-dup pairs with a hot-bucket cap — the 100 TB path
    (round-3; mirrors q_minhash_lsh_capped's guard, VERDICT r2 item 1).

    Banding on the high 16 bits makes the pair join an equi-join, but a
    boilerplate-heavy corpus concentrates near-identical signatures
    into one hi16 bucket and the pair join inside it goes quadratic.
    Here a hi16 bucket holding more than LSH_BUCKET_CAP docs is
    EXCLUDED from the pair join; its members route to an exact-dup
    side channel instead (group by md5(text) inside the hot buckets,
    pair each doc with its group's min doc_id — linear in bucket
    size). Identical text ⇒ identical SimHash ⇒ hamming 0, so the
    exact channel emits hamming 0 and the two channels agree on
    semantics. Near-dups that are not byte-identical inside a hot
    bucket are deliberately dropped: bounded work beats perfect
    recall on boilerplate."""
    if dialect == "spark":
        # The Spark dialect references the CACHED signature relation by
        # name and expands every stage as an inline subquery instead of
        # CTEs: a multi-referenced CTE becomes WithCTE/CTERelationRef
        # in the analyzed plan, and cache substitution runs BEFORE CTE
        # inlining — the persisted view underneath never matches and
        # the md5-per-token signature build would recompute 4x (cnt,
        # both pair-join sides, hot). At corpus scale sig is a
        # persisted index table, which this cached relation models.
        shr16 = "shiftright(simhash, 16)"
        ham = "bit_count(a.simhash ^ b.simhash)"
        fp = "md5(encode(d.text, 'utf-8'))"
        banded = f"(SELECT doc_id, simhash, {shr16} AS hi16 FROM simhash_sig_cached)"
        # bucket size via a window count over the cached signature
        # relation (one hash shuffle on hi16), not a GROUP BY + SMJ
        # join-back — same rationale as q_minhash_lsh_capped
        bandc = (
            f"(SELECT doc_id, simhash, hi16, "
            f"COUNT(*) OVER (PARTITION BY hi16) AS c FROM {banded} cb)"
        )
        small = (
            f"(SELECT s.doc_id, s.simhash, s.hi16 FROM {bandc} s "
            f"WHERE s.c <= {LSH_BUCKET_CAP})"
        )
        hot = (
            f"(SELECT h.doc_id FROM {bandc} h WHERE h.c > {LSH_BUCKET_CAP})"
        )
        return f"""
SELECT a_id, b_id, hamming FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST({ham} AS INT) AS hamming
  FROM {small} a JOIN {small} b ON a.hi16 = b.hi16 AND a.doc_id < b.doc_id
  WHERE {ham} <= 6
)
UNION
SELECT a_id, b_id, hamming FROM (
  SELECT mn AS a_id, doc_id AS b_id, CAST(0 AS INT) AS hamming FROM (
    SELECT hf.doc_id, MIN(hf.doc_id) OVER (PARTITION BY hf.fp) AS mn FROM (
      SELECT h.doc_id AS doc_id, {fp} AS fp
      FROM {hot} h JOIN documents d ON h.doc_id = d.doc_id
    ) hf
  ) hm WHERE doc_id <> mn
)
"""
    base = _simhash_sql(dialect).strip()
    shr16 = "(simhash >> 16)"
    ham = "bit_count(xor(a.simhash, b.simhash))"
    fp = "md5(d.text)"
    return f"""
WITH sig AS ({base}),
banded AS (SELECT doc_id, simhash, {shr16} AS hi16 FROM sig),
cnt AS (SELECT hi16, COUNT(*) AS c FROM banded GROUP BY hi16),
small AS (
  SELECT b.doc_id, b.simhash, b.hi16 FROM banded b
  JOIN cnt ON b.hi16 = cnt.hi16 WHERE cnt.c <= {LSH_BUCKET_CAP}
),
verified AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST({ham} AS INT) AS hamming
  FROM small a JOIN small b ON a.hi16 = b.hi16 AND a.doc_id < b.doc_id
  WHERE {ham} <= 6
),
hot AS (
  SELECT b.doc_id FROM banded b
  JOIN cnt ON b.hi16 = cnt.hi16 WHERE cnt.c > {LSH_BUCKET_CAP}
),
hot_fp AS (
  SELECT h.doc_id AS doc_id, {fp} AS fp
  FROM hot h JOIN documents d ON h.doc_id = d.doc_id
),
hot_mn AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS mn FROM hot_fp
),
exact AS (
  SELECT mn AS a_id, doc_id AS b_id, CAST(0 AS INT) AS hamming
  FROM hot_mn WHERE doc_id <> mn
)
SELECT a_id, b_id, hamming FROM verified
UNION
SELECT a_id, b_id, hamming FROM exact
"""


def q_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    _doc_tokens(spark, sf_dir).createOrReplaceTempView("doc_tokens")
    return simhash_pairs_capped_from(spark, sf_dir, "doc_tokens")


def simhash_pairs_capped_from(
    spark: SparkSession, sf_dir: str, toks_view: str
) -> DataFrame:
    """q_simhash_pairs_capped's pipeline over a registered (doc_id,
    toks) token view: the standalone query registers ``_doc_tokens``;
    groups.q_dedup_groups registers its persisted one, which the
    MinHash branch reads too (VERDICT r5 item 5).

    The hot-bucket exact channel fingerprints raw text through the
    `documents` view, registered here over the plain scan: it reads
    only the hot rows, and a round-robin exchange under it would
    shuffle the whole table for them."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sig = _persist(spark.sql(_simhash_sql("spark", toks_view)), eager=True)
    sig.createOrReplaceTempView("simhash_sig_cached")
    return spark.sql(_simhash_pairs_capped_sql("spark"))


ORACLE_SIMHASH_PAIRS_CAPPED = _simhash_pairs_capped_sql("duckdb")


# ---------------------------------------------------------------------------
# TF-IDF cosine all-pairs similarity via a pruned inverted index
# ---------------------------------------------------------------------------

TFIDF_N = 3  # word-trigram terms (whitespace tokens are too hot here:
# the synthetic corpus has a ~31-token vocabulary with df ≈ 0.8N, so
# token postings degenerate; trigrams give discriminative posting lists)
TFIDF_DF_MIN = 2  # singleton terms cannot contribute to any pair
TFIDF_DF_CAP = 64  # posting-list cap: the scale guard (see docstring)
TFIDF_COS_THRESHOLD = 0.6


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity over tf-idf weighted
    word-trigram vectors, computed through a df-pruned inverted index
    (the Bayardo et al. all-pairs-similarity shape) — the lexical
    complement of the MinHash/SimHash families: those estimate set
    Jaccard, this computes exact weighted cosine, and it is the scoring
    most retrieval-style near-dup audits ask for.

    Plan shape (and why it survives 100 TB):
    - postings: explode word-trigrams → groupBy (doc_id, term) tf —
      one shuffle keyed by (doc_id, term), partial-aggregated map-side;
    - df + idf: groupBy term (small, vocabulary-sized), then a term-key
      join back onto the postings. Terms with df < TFIDF_DF_MIN are
      dropped (can't pair); terms with df > TFIDF_DF_CAP are dropped —
      that cap is THE scale bound: the candidate join's fan-out is
      Σ_term df(term)², so capping df bounds it by |vocab|·cap²
      (linear in corpus size), exactly the stop-term pruning of the
      pruned-inverted-index APSS literature. Dropping ubiquitous terms
      also loses almost no signal — their idf ≈ 0 already;
    - idf is smoothed, ln((N+1)/df) > 0, so every surviving posting
      has positive weight and per-doc norms are never zero (at tiny SF
      the cap can exceed N and unsmoothed ln(N/df) would hit 0);
    - unit-normalize per doc (one window over doc_id), self-join on
      term (equi-join — candidates only ever meet through a shared
      term), groupBy (a,b) summing weight products = cosine, filter at
      the threshold BEFORE rounding.

    Float discipline: cosine is round(Σ, 4) + 0.0 in both dialects
    (CLAUDE.md: IEEE -0.0 + typed-hash rules); the corpus' cosine
    distribution is bimodal (near-dup replicas ≥ ~0.8, unrelated docs
    ≤ ~0.2), so the 0.6 threshold is robust to summation order."""
    from .textstats import gram_array, words_of

    docs = maybe_parallelize(
        load_table(spark, sf_dir, "documents"), spark
    ).select("doc_id", "text")
    n_total = docs.agg(F.count("*").cast("double").alias("n_total"))
    # tf (the expensive explode + groupBy stage) feeds BOTH dfv and the
    # join-back in w: eager-persist per the multi-reference rule
    # (advisor r5 — lazily it recomputed once per subtree)
    tf = _persist(
        docs.select(
            "doc_id",
            F.explode(gram_array(words_of(F.col("text")), TFIDF_N)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf")),
        eager=True,
    )
    dfv = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(
            (F.col("df") >= TFIDF_DF_MIN) & (F.col("df") <= TFIDF_DF_CAP)
        )
    )
    w = (
        tf.join(dfv, "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "w", F.col("tf") * F.log((F.col("n_total") + 1.0) / F.col("df"))
        )
    )
    norm_w = Window.partitionBy("doc_id")
    # both sides of the candidate self-join read the unit-vector
    # postings: persist EAGERLY (CLAUDE.md round-5 rule — a lazily
    # persisted multi-referenced relation materializes concurrently
    # under AQE, recomputing every partition per subtree)
    u = _persist(
        w.select(
            "doc_id",
            "term",
            (
                F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(norm_w))
            ).alias("uw"),
        ),
        eager=True,
    )
    a, b = u.alias("a"), u.alias("b")
    pairs = (
        a.join(b, "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.sum(F.col("a.uw") * F.col("b.uw")).alias("cos"))
        .filter(F.col("cos") >= TFIDF_COS_THRESHOLD)
        .select(
            "a_id", "b_id", (F.round(F.col("cos"), 4) + 0.0).alias("cosine")
        )
    )
    return pairs


def _oracle_tfidf() -> str:
    from .textstats import _duck_grams

    return f"""
WITH t AS (
  SELECT doc_id, unnest({_duck_grams(TFIDF_N)}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t GROUP BY doc_id, term
),
dfv AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
  HAVING count(*) BETWEEN {TFIDF_DF_MIN} AND {TFIDF_DF_CAP}
),
n AS (SELECT count(*)::DOUBLE AS n_total FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(((SELECT n_total FROM n) + 1.0) / dfv.df) AS w
  FROM tf JOIN dfv USING (term)
),
u AS (
  SELECT doc_id, term,
         w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS uw
  FROM w
),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.uw * b.uw) AS cos
  FROM u a JOIN u b USING (term)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, round(cos, 4) + 0.0 AS cosine
FROM p WHERE cos >= {TFIDF_COS_THRESHOLD}
"""


ORACLE_TFIDF_COSINE_PAIRS = _oracle_tfidf()


QUERIES = {
    "dedup_exact": q_dedup_exact,
    # rows-only driver entry (no DuckDB xxhash64): the production hash
    # path; equivalence vs the md5 family is pytest-pinned
    "minhash_signatures_fast": q_minhash_signatures_fast,
    "minhash_lsh_dups": q_minhash_lsh_dups,
    "minhash_lsh_capped": q_minhash_lsh_capped,
    # LOCAL_ONLY (no DuckDB xxhash64): the production-hash capped
    # pipeline; pair-set equality vs the md5 path is pytest-pinned
    "minhash_lsh_capped_fast": q_minhash_lsh_capped_fast,
    "simhash_docs": q_simhash_docs,
    "simhash_pairs_capped": q_simhash_pairs_capped,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
}

ORACLES = {
    "minhash_lsh_capped": ORACLE_MINHASH_LSH_CAPPED,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "minhash_lsh_dups": ORACLE_MINHASH_LSH_DUPS,
    "simhash_docs": ORACLE_SIMHASH_DOCS,
    "simhash_pairs_capped": ORACLE_SIMHASH_PAIRS_CAPPED,
    "tfidf_cosine_pairs": ORACLE_TFIDF_COSINE_PAIRS,
}
