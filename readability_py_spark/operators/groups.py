"""Near-dup CLUSTER resolution — the consumption side of the dedup
families (VERDICT r4 "Next round" #1 and #7).

Every near-dup family in operators/dedup.py stops at PAIRS
((a_id, b_id, jaccard/hamming)); a pretraining ingest consumes
CLUSTERS — "keep one representative per connected component", because
near-duplication is transitive in practice (A≈B, B≈C ⇒ drop two of
the three even when A,C never surfaced as a candidate pair).

Transitive closure here is the canonical iterative DataFrame job:
min-label propagation with pointer jumping, driver-looped exactly like
q_kmeans_refine loops Lloyd steps (similarity.py). Per iteration:

- neighbor step: one equi-join of the label table with the symmetric
  edge list + one min-aggregation (label(v) ← min over v's neighbors);
- pointer jump:  one self-equi-join of the label table
  (label(v) ← label(label(v))), which halves chain depth and bounds
  convergence at O(log diameter) — without it an adversarial
  boilerplate CHAIN of length d needs d iterations, and at corpus
  scale d is unbounded.

No step is quadratic: every join is an equi-join on a key, the label
table is one row per vertex (only docs that appear in some near-dup
pair — a small fraction of the corpus), and shuffle volume per
iteration is O(edges + vertices). At 100 TB you would additionally
checkpoint the label table every few iterations to truncate lineage;
at test SF the loop converges in a handful of iterations and each
iteration's relation is persisted (released via dedup.release_caches).

The DuckDB oracle is an independent algorithm: a recursive CTE
computing full reachability (reach(v) = every vertex whose label can
flow to v) then MIN per vertex — O(Σ component²) work that is fine at
test SF and would be wrong to run at corpus scale, which is exactly
why the Spark side exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    JACCARD_THRESHOLD,
    ORACLE_MINHASH_LSH_CAPPED,
    ORACLE_SIMHASH_PAIRS_CAPPED,
    _band_signatures,
    _doc_tokens,
    _duck_minhash_sig,
    _persist,
    minhash_lsh_capped_from,
    minhash_lsh_dups_from,
    shingles_of,
    simhash_pairs_capped_from,
)
from .pipeline import ORACLE_PIPELINE_GATE, gated_docs

CC_MAX_ITER = 30
# Edge graphs at or below this size are resolved by a SINGLE-TASK
# union-find instead of the iterative loop. The pairs table after
# capped LSH is orders of magnitude smaller than the corpus (0.1%
# of docs at test SF), and a 1M-edge union-find is ~1 s of CPU and
# O(2·edges) dict memory in one executor task — versus O(log d)
# shuffle ROUNDS of the loop, each paying full stage latency. The
# same hybrid lives in production CC implementations (GraphX/
# GraphFrames fall back to local resolution below a threshold);
# above it the iterative label-propagation path runs.
CC_SMALL_EDGES = 1_000_000


def _cc_step(sym: DataFrame, labels: DataFrame, jump: bool = True) -> DataFrame:
    """One label-propagation iteration: neighbor min + pointer jump.
    Plan shape (asserted in tests/test_operators_r5.py): equi-joins
    only (no cartesian), one min-aggregation; everything keyed."""
    prop = sym.join(labels, sym["src"] == labels["v"]).select(
        F.col("dst").alias("v"), F.col("lbl")
    )
    cand = labels.union(prop).groupBy("v").agg(F.min("lbl").alias("lbl"))
    if not jump:
        return cand
    # persist before the self-join: both sides of the jump reuse the
    # propagated labels (without this the propagation join + agg would
    # compute twice per iteration — observed as 3 joins in the plan)
    cand = _persist(cand, eager=True)
    x, y = cand.alias("x"), cand.alias("y")
    # label(v) ← min(label(v), label(label(v))): labels are always
    # vertex ids of the same component, so the self-join always matches
    return x.join(y, F.col("x.lbl") == F.col("y.v")).select(
        F.col("x.v").alias("v"),
        F.least(F.col("x.lbl"), F.col("y.lbl")).alias("lbl"),
    )


def _union_find_batches(batches):
    """The union-find kernel (union-by-min root + path halving) as a
    module-level mapInPandas generator — importable without Spark, so
    the property test can drive it on raw pandas batches against a
    BFS reference (tests/test_property_r5.py)."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for pdf in batches:
        for a, b in zip(pdf["a_id"], pdf["b_id"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                # union by MIN root: every root is the minimum of
                # all ids merged under it, so the final root IS the
                # component-minimum doc_id (the cluster_rep contract)
                parent[rb] = ra
    verts = list(parent)
    yield pd.DataFrame(
        {"doc_id": verts, "cluster_rep": [find(v) for v in verts]}
    )


def _cc_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: exact union-find over the whole edge
    list in ONE task. `edges` is persisted and already materialized by
    the caller's count(), so the repartition(1) reads the tiny cached
    pair table — the expensive candidate-generation stages upstream
    keep their full parallelism (a coalesce(1) here would collapse
    them; same trap as the single-split filter pushdown, see
    CLAUDE.md)."""
    return edges.repartition(1).mapInPandas(
        _union_find_batches, "doc_id long, cluster_rep long"
    )


def connected_components(
    edges: DataFrame, small_graph_threshold: int = CC_SMALL_EDGES
) -> DataFrame:
    """(doc_id, cluster_rep) for every vertex of `edges` (a_id, b_id),
    where cluster_rep is the minimum doc_id of the vertex's connected
    component. One materializing count() picks the strategy: at or
    below `small_graph_threshold` edges a single-task union-find
    resolves the graph in one pass (the common case — capped LSH pairs
    are a sliver of the corpus); above it the iterative min-label
    propagation loop runs, driver-looped to a fixpoint: labels only
    ever decrease, so an unchanged label-sum between iterations proves
    convergence (one cheap scalar agg per iteration, no extra join).
    Both paths produce identical output (equivalence pinned in
    tests/test_operators_r5.py)."""
    edges = _persist(edges.select("a_id", "b_id").distinct())
    if edges.count() <= small_graph_threshold:
        return _cc_union_find(edges)
    sym = _persist(
        edges.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    )
    labels = _persist(
        sym.select(F.col("src").alias("v")).distinct().withColumn(
            "lbl", F.col("v")
        )
    )
    prev_sum: object = object()
    for _ in range(CC_MAX_ITER):
        # localCheckpoint truncates lineage every iteration: the jump
        # self-join references the previous label table TWICE, so
        # without truncation the logical plan DOUBLES per iteration
        # (observed: a 2 GB plan string and minutes of analysis time by
        # ~iteration 10). Lazy (eager=False): the convergence agg below
        # is the action that materializes it — one job per iteration,
        # not two. On a real cluster use checkpoint() to reliable
        # storage instead — same role, failure-tolerant.
        labels = _cc_step(sym, labels).localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITER} iterations"
        )
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_rep")
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair→cluster resolution over the UNION of both capped near-dup
    families (MinHash-LSH capped + SimHash capped — the two 100 TB
    candidate generators): (doc_id, cluster_rep) with cluster_rep the
    component-minimum doc_id. A row with doc_id == cluster_rep is the
    kept representative; every other row is a drop.

    Both families feed off ONE eager-persisted (doc_id, toks) token
    relation (VERDICT r5 item 5): the MinHash branch builds its bigram
    shingles and the SimHash branch its distinct-token hashes from the
    same cached split — one documents scan + one tokenize, where the
    standalone queries each paid their own."""
    toks = _persist(_doc_tokens(spark, sf_dir), eager=True)
    toks.createOrReplaceTempView("dedup_toks_cached")
    mh = minhash_lsh_capped_from(spark, sf_dir, toks).select("a_id", "b_id")
    sp = simhash_pairs_capped_from(spark, sf_dir, "dedup_toks_cached").select(
        "a_id", "b_id"
    )
    return connected_components(mh.union(sp))


ORACLE_DEDUP_GROUPS = f"""
WITH RECURSIVE mh AS (SELECT * FROM ({ORACLE_MINHASH_LSH_CAPPED})),
sp AS (SELECT * FROM ({ORACLE_SIMHASH_PAIRS_CAPPED})),
edges AS (
  SELECT a_id, b_id FROM mh
  UNION
  SELECT a_id, b_id FROM sp
),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM edges
  UNION ALL
  SELECT b_id, a_id FROM edges
),
verts AS (SELECT DISTINCT src AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.v
)
SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v
"""


# DuckDB twin of dedup.shingles_of over the url-dedup survivors
_DUCK_SURV_SH = """
  SELECT doc_id, list_distinct(
    CASE WHEN len(string_split(text,' ')) >= 2 THEN
      list_transform(range(1, len(string_split(text,' '))), i ->
        string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])
    ELSE [] END) AS sh
  FROM surv
"""


def q_pipeline_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUP-AWARE fused ingest (VERDICT r4 item 7) — what a real
    pretraining pipeline materializes in ONE job:

        normalize → quality/repetition gates (map-only, pre-shuffle) →
        url-exact dedup (one groupBy(url_key) shuffle of survivors,
        carrying the representative's text via min_by — no join back
        to the source table) → MinHash band signatures over the
        survivors (map-only) → band equi-join candidates → Jaccard
        verify → connected components → one cluster representative
        per near-dup group.

    Output: (doc_id, norm_url, cluster_rep, is_keeper) for every
    url-dedup survivor; is_keeper marks the component-minimum doc the
    ingest keeps (singletons keep themselves). Gates stay pre-shuffle
    (pipeline.gated_docs' Generate trick); the near-dup stage reuses
    the oracle-width MinHash machinery end to end."""
    surv = _persist(
        gated_docs(spark, sf_dir, with_text=True)
        .groupBy("url_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("norm_url").alias("norm_url"),
            F.min_by("text", "doc_id").alias("text"),
        )
    )
    sh = _persist(
        surv.select("doc_id", shingles_of(F.col("text")).alias("sh")), eager=True
    )
    sig = _persist(_band_signatures(sh), eager=True)
    pairs = minhash_lsh_dups_from(sig, sh).select("a_id", "b_id")
    labels = connected_components(pairs)
    s, l = surv.alias("s"), labels.alias("l")
    return (
        s.join(l, F.col("s.doc_id") == F.col("l.doc_id"), "left")
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.norm_url").alias("norm_url"),
            F.coalesce(F.col("l.cluster_rep"), F.col("s.doc_id")).alias(
                "cluster_rep"
            ),
        )
        .withColumn("is_keeper", F.col("cluster_rep") == F.col("doc_id"))
    )


ORACLE_PIPELINE_DEDUP_GROUPS = f"""
WITH RECURSIVE gate AS ({ORACLE_PIPELINE_GATE}),
surv AS (
  SELECT g.keep_doc_id AS doc_id, g.norm_url AS norm_url, dd.text AS text
  FROM gate g JOIN documents dd ON g.keep_doc_id = dd.doc_id
),
d AS ({_DUCK_SURV_SH}),
sig AS (
{_duck_minhash_sig()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN d da ON c.a_id = da.doc_id JOIN d db ON c.b_id = db.doc_id
  WHERE ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
              / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 4)
        >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM edges
  UNION ALL
  SELECT b_id, a_id FROM edges
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.v
),
cc AS (SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v)
SELECT s.doc_id, s.norm_url, cc.cluster_rep,
       cc.cluster_rep = s.doc_id AS is_keeper
FROM surv s JOIN cc ON s.doc_id = cc.doc_id
"""


QUERIES = {
    "dedup_groups": q_dedup_groups,
    "pipeline_dedup_groups": q_pipeline_dedup_groups,
}

ORACLES = {
    "dedup_groups": ORACLE_DEDUP_GROUPS,
    "pipeline_dedup_groups": ORACLE_PIPELINE_DEDUP_GROUPS,
}
