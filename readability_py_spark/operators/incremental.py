"""Incremental-ingest dedup: a NEW crawl snapshot against the STORED
index of the existing corpus (VERDICT r5 "Next round" #3).

Every other dedup operator in this engine is batch self-dedup of one
snapshot. The recurring job of a 100 TB pipeline is asymmetric: each
incoming snapshot must be checked against the corpus that is already
ingested, WITHOUT recomputing anything on the old side — at scale the
old side is petabytes, and its index (exact fingerprints + MinHash
band signatures + shingle sets) was persisted when those documents
were ingested (see ``build_corpus_index`` — the relations a snapshot
job appends to the catalog alongside the data, and
tests/test_operators_r6.py's catalog round-trip).

Channels, in priority order per new document:

- **exact**:   equi-join new md5(text) fingerprints against the stored
               fingerprint table → verdict ``exact_dup`` with the
               smallest matching old doc_id.
- **near**:    the remaining new docs are shingled (new side ONLY),
               their band signatures probe the stored signature table
               (equi-join on (band, band_sig) — the LSH probe, never
               O(new × old)), and candidates verify exact Jaccard
               against the stored shingle sets → verdict ``near_dup``
               with the best match (max Jaccard, then min old doc_id —
               an explicit deterministic tie-break).
- **unique**:  everything else (match_id -1, jaccard 0.0).

Scale shape: the old side appears ONLY as stored-relation scans feeding
equi-joins (fingerprint join, band-signature probe, shingle lookup of
candidate old docs) — ``dedup_incremental_from`` never even receives
old text, so re-shingling the corpus is impossible by construction
(plan-asserted: no tokenizer expression in the final job). Work is
O(new + matches): the new side is shingled once (eager-persisted — it
feeds both the signature build and the Jaccard verify), and every join
is keyed. The reference (a single-document extractor) has no analogue;
this is pure SURVEY.md §2.3 pipeline surface.

The driver entry ``dedup_incremental`` bootstraps the "stored" index
in-query from a deterministic snapshot split of the documents table
(doc_id % 5: ~80% old corpus, ~20% new snapshot), because a driver
query must be self-contained; the DuckDB oracle recomputes the same
asymmetric dedup independently from raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import jvm_memo, load_table, maybe_parallelize
from .dedup import (
    JACCARD_THRESHOLD,
    MINHASH_BAND_SIZE,
    MINHASH_K,
    _band_signatures,
    _duck_minhash_sig,
    _jaccard,
    _persist,
    shingles_of,
)

# deterministic snapshot split for the self-contained driver query:
# doc_id % NEW_MOD == 0 → the incoming snapshot, everything else is
# the already-ingested corpus
NEW_MOD = 5


def build_corpus_index(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The per-snapshot index relations an ingest job persists next to
    the data (catalog tables ``corpus_fps`` / ``corpus_sigs`` /
    ``corpus_shingles``): exact fingerprints, MinHash band signatures,
    and shingle sets. The shingle relation is eager-persisted — it
    feeds both the signature build here and, conceptually, later
    verify probes; fps/sigs are map-only over it."""
    c = _incremental_cols()
    fps = docs.select("doc_id", c["fp"])
    sh = _persist(docs.select("doc_id", c["sh"]), eager=True)
    sigs = _band_signatures(sh, k=MINHASH_K, band_size=MINHASH_BAND_SIZE)
    return fps, sigs, sh


@jvm_memo
def _incremental_cols() -> dict:
    """The wide Columns of the incremental job that do not depend on
    its inputs — fingerprint, shingles, probe join, Jaccard, best-match
    rank, verdict projection — built once per JVM."""
    best_w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id").asc()
    )
    return {
        "fp": F.md5(F.encode(F.col("text"), "utf-8")).alias("fp"),
        "sh": shingles_of("text").alias("sh"),
        "probe_on": (F.col("n.band") == F.col("o.band"))
        & (F.col("n.band_sig") == F.col("o.band_sig")),
        "cand": (
            F.col("n.doc_id").alias("doc_id"),
            F.col("o.doc_id").alias("old_id"),
        ),
        "jaccard": _jaccard("na", "ob").alias("jaccard"),
        "rn": F.row_number().over(best_w),
        "verdict": (
            "doc_id",
            F.when(F.col("e.match_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("nr.old_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.coalesce("e.match_id", "nr.old_id", F.lit(-1).cast("long")).alias(
                "match_id"
            ),
            F.when(F.col("e.match_id").isNotNull(), F.lit(1.0))
            .when(
                F.col("nr.old_id").isNotNull(), F.round(F.col("nr.jaccard"), 4)
            )
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        ),
    }


def dedup_incremental_from(
    new_docs: DataFrame,
    old_fps: DataFrame,
    old_sigs: DataFrame,
    old_sh: DataFrame,
) -> DataFrame:
    """The incremental job proper: (doc_id, text) of the NEW snapshot
    against the stored index relations. Old text never enters; the old
    side is consumed by three keyed equi-joins only."""
    c = _incremental_cols()
    new_fp = new_docs.select("doc_id", c["fp"])
    # r7: eager-persist the exact channel — it feeds BOTH the near-dup
    # probe's anti-join AND the final verdict join (the multi-reference
    # rule), and un-persisted it re-ran the full fingerprint join
    # (md5 over every text + the fp equi-join + groupBy) once per
    # consumer. The relation is at most one row per new doc.
    exact = _persist(
        new_fp.join(
            old_fps.select(F.col("doc_id").alias("old_id"), "fp"), "fp"
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("match_id")),
        eager=True,
    )
    # near-dup channel probes only docs with no exact match
    probe = new_docs.join(exact.select("doc_id"), "doc_id", "left_anti")
    # new-side shingles feed the signature build AND the verify join:
    # eager persist per the multi-reference rule
    new_sh = _persist(probe.select("doc_id", c["sh"]), eager=True)
    new_sigs = _band_signatures(new_sh, k=MINHASH_K, band_size=MINHASH_BAND_SIZE)
    cand = (
        new_sigs.alias("n")
        .join(old_sigs.alias("o"), c["probe_on"])
        .select(*c["cand"])
        .distinct()
    )
    na, ob = new_sh.alias("na"), old_sh.alias("ob")
    verified = (
        cand.join(na, cand.doc_id == F.col("na.doc_id"))
        .join(ob, cand.old_id == F.col("ob.doc_id"))
        .select(cand.doc_id.alias("doc_id"), "old_id", c["jaccard"])
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    near = (
        verified.withColumn("rn", c["rn"])
        .filter(F.col("rn") == 1)
        .select("doc_id", "old_id", "jaccard")
    )
    e, nr = exact.alias("e"), near.alias("nr")
    return (
        new_docs.select("doc_id")
        .join(e, "doc_id", "left")
        .join(nr, "doc_id", "left")
        .select(*c["verdict"])
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: bootstrap the stored index from the old split of
    the documents table (what a prior ingest would have persisted —
    see the catalog round-trip test for the actually-stored form),
    then run the incremental job on the new split."""
    docs = maybe_parallelize(load_table(spark, sf_dir, "documents"), spark)
    new_docs = docs.filter(F.col("doc_id") % NEW_MOD == 0).select(
        "doc_id", "text"
    )
    old_docs = docs.filter(F.col("doc_id") % NEW_MOD != 0).select(
        "doc_id", "text"
    )
    old_fps, old_sigs, old_sh = build_corpus_index(old_docs)
    return dedup_incremental_from(new_docs, old_fps, old_sigs, old_sh)


_DUCK_SH_OF = """
  SELECT doc_id, list_distinct(
    CASE WHEN len(string_split(text,' ')) >= 2 THEN
      list_transform(range(1, len(string_split(text,' '))), i ->
        string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
    ELSE [] END) AS sh
"""

ORACLE_DEDUP_INCREMENTAL = f"""
WITH newd AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {NEW_MOD} = 0
),
old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {NEW_MOD} <> 0
),
exact AS (
  SELECT n.doc_id, MIN(o.doc_id) AS match_id
  FROM newd n JOIN old o ON md5(n.text) = md5(o.text)
  GROUP BY n.doc_id
),
probe AS (
  SELECT * FROM newd WHERE doc_id NOT IN (SELECT doc_id FROM exact)
),
nsh AS ({_DUCK_SH_OF} FROM probe),
osh AS ({_DUCK_SH_OF} FROM old),
nsig AS (
  SELECT doc_id, band, band_sig FROM (
{_duck_minhash_sig(src="nsh")}
  )
),
osig AS (
  SELECT doc_id, band, band_sig FROM (
{_duck_minhash_sig(src="osh")}
  )
),
cand AS (
  SELECT DISTINCT n.doc_id, o.doc_id AS old_id
  FROM nsig n JOIN osig o ON n.band = o.band AND n.band_sig = o.band_sig
),
verified AS (
  SELECT c.doc_id, c.old_id,
         CAST(len(list_intersect(na.sh, ob.sh)) AS DOUBLE)
           / (len(na.sh) + len(ob.sh) - len(list_intersect(na.sh, ob.sh)))
           AS jaccard
  FROM cand c JOIN nsh na ON c.doc_id = na.doc_id
              JOIN osh ob ON c.old_id = ob.doc_id
  WHERE CAST(len(list_intersect(na.sh, ob.sh)) AS DOUBLE)
          / (len(na.sh) + len(ob.sh) - len(list_intersect(na.sh, ob.sh)))
        >= {JACCARD_THRESHOLD}
),
near AS (
  SELECT doc_id, old_id, jaccard FROM (
    SELECT doc_id, old_id, jaccard,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY jaccard DESC, old_id ASC
           ) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT n.doc_id,
       CASE WHEN e.match_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.old_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       COALESCE(e.match_id, nr.old_id, CAST(-1 AS BIGINT)) AS match_id,
       CASE WHEN e.match_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
            WHEN nr.old_id IS NOT NULL THEN ROUND(nr.jaccard, 4)
            ELSE CAST(0.0 AS DOUBLE) END AS jaccard
FROM newd n
LEFT JOIN exact e ON n.doc_id = e.doc_id
LEFT JOIN near nr ON n.doc_id = nr.doc_id
"""


# snapshot_diff's deterministic two-snapshot synthesis: snapshot A =
# doc_id % 3 != 0, snapshot B = doc_id % 3 != 1 (so %3==0 is "added",
# %3==1 "removed", %3==2 present in both), and B's text gains a
# revision marker when doc_id % SNAP_REV_MOD == 0 (so some shared docs
# are "changed", the rest "unchanged")
SNAP_REV_MOD = 7


def snapshot_diff_from(old_snap: DataFrame, new_snap: DataFrame) -> DataFrame:
    """Crawl-delta between two snapshots of (doc_id, text): per
    document key, ``added`` / ``removed`` / ``changed`` / ``unchanged``
    plus both content fingerprints — the recurring freshness job of a
    continuously re-crawled corpus (what decides which documents
    re-enter the extraction/dedup pipeline).

    Scale shape: each side reduces to a map-only (key, md5) projection
    BEFORE the join, so document text never moves; the diff is one
    full-outer sort-merge equi-join on the key (two key shuffles, or
    ZERO when both snapshots are stored bucketed by doc key — the
    catalog layout, same argument as the bucketed extraction path).
    Output is O(|A| + |B|) with no post-join aggregation."""
    a = old_snap.select(
        "doc_id", F.md5(F.encode(F.col("text"), "utf-8")).alias("old_fp")
    )
    b = new_snap.select(
        "doc_id", F.md5(F.encode(F.col("text"), "utf-8")).alias("new_fp")
    )
    return a.join(b, "doc_id", "full").select(
        "doc_id",
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        F.coalesce("old_fp", F.lit("")).alias("old_fp"),
        F.coalesce("new_fp", F.lit("")).alias("new_fp"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: synthesize the two snapshots deterministically
    from the documents table (header comment above SNAP_REV_MOD),
    then diff them."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old_snap = docs.filter(F.col("doc_id") % 3 != 0)
    new_snap = docs.filter(F.col("doc_id") % 3 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % SNAP_REV_MOD == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff_from(old_snap, new_snap)


ORACLE_SNAPSHOT_DIFF = f"""
WITH a AS (
  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 3 <> 0
),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % {SNAP_REV_MOD} = 0 THEN text || ' [rev2]'
                  ELSE text END) AS new_fp
  FROM documents WHERE doc_id % 3 <> 1
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.old_fp = b.new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       COALESCE(old_fp, '') AS old_fp,
       COALESCE(new_fp, '') AS new_fp
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


QUERIES = {
    "dedup_incremental": q_dedup_incremental,
    "snapshot_diff": q_snapshot_diff,
}

ORACLES = {
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
}
