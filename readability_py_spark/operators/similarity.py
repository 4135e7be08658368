"""Similarity search over the embeddings table (array<float>, 64-dim).

- brute-force cosine top-k: the correctness baseline (query set × full
  candidate scan). At 100 TB this is the per-bucket inner loop only.
- LSH-bucketed ANN: sign-random-projection buckets from a fixed, seeded
  hyperplane set (embedded as literals so the DuckDB oracle runs the
  identical math), then top-k within bucket — candidate generation is
  an equi-join on bucket id, which shuffles uniformly and never goes
  quadratic.
- embedding near-dup: pair filter at high cosine inside label blocks.

Float discipline: all math is done after casting the float32 vectors to
double; ordering keys round to 9 decimals (ties then break on vec_id)
and reported cosines round to 4, so both engines select and emit
identical rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize

DIM = 64
N_PLANES = 4
TOPK = 5
QUERY_SET_SIZE = 20
NEAR_DUP_COS = 0.42
# Near-dup candidate routing (round-3, VERDICT r2 item 2): multi-table
# sign-random-projection LSH. Collision prob for one plane at cosine c
# is 1 - acos(c)/π ≈ 0.655 at the 0.42 threshold, so with k=2 planes
# per table and T=8 tables recall at threshold is
# 1 - (1 - 0.655²)^8 ≈ 0.99. k is the bucket-size knob: E[bucket] =
# n/2^k per (label, table); production near-dup thresholds (cos ≥ 0.9,
# p = 0.856) support k = 8-16 for much finer buckets.
NEAR_DUP_TABLES = 8
NEAR_DUP_PLANES = 2

_rng = np.random.RandomState(1234)
# 16 planes from one seeded stream; the first N_PLANES are the ANN
# bucket planes (unchanged from round 2 — same RNG prefix), and
# near-dup table t uses planes [2t, 2t+2).
HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.randn(DIM)]
    for _ in range(NEAR_DUP_TABLES * NEAR_DUP_PLANES)
]


def _vec(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in vals])


def _duck_lit(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]"


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + double-cast vector + norm. The scan goes through
    maybe_parallelize (r7): every consumer stacks CPU-heavy vector
    expressions (64-dim dot folds per hyperplane/centroid) directly on
    this projection, and the testdata embeddings parquet is one
    unsplittable split — without the gate the whole build ran on one
    core (the r5 serial-projection class; measured as the bulk of
    embedding_near_dups' 29 s at sf1.0). On a multi-split production
    scan the gate is off and the projection fuses into the scan."""
    emb = maybe_parallelize(load_table(spark, sf_dir, "embeddings"), spark)
    return emb.select(
        "vec_id",
        "label",
        _vec().alias("v"),
        F.sqrt(_dot(_vec(), _vec())).alias("nrm"),
    )


_DUCK_NORMED = """
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
"""


def q_knn_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a query set — the ANN recall baseline."""
    n = _normed(spark, sf_dir)
    q = n.filter(F.col("vec_id") < QUERY_SET_SIZE).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    pairs = (
        q.crossJoin(n)
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", F.round(cos, 9).alias("cos9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos9"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("cos9"), 4).alias("cosine"),
            "rnk",
        )
    )


ORACLE_KNN_BRUTE_TOPK = f"""
WITH n AS ({_DUCK_NORMED}),
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < {QUERY_SET_SIZE}),
pairs AS (
  SELECT q_id, vec_id, ROUND(list_dot_product(qv, v) / (qn * nrm), 9) AS cos9
  FROM q CROSS JOIN n WHERE q_id <> vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos9,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, vec_id ASC) AS rnk
  FROM pairs
)
SELECT q_id, vec_id AS neighbor_id, ROUND(cos9, 4) AS cosine, rnk
FROM ranked WHERE rnk <= {TOPK}
"""


def _bucket_col(planes: list[list[float]] | None = None) -> Column:
    planes = HYPERPLANES[:N_PLANES] if planes is None else planes
    b = F.lit(0)
    for p, plane in enumerate(planes):
        b = b + F.when(_dot(F.col("v"), _lit_vec(plane)) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return b.cast("int")


def _duck_bucket(planes: list[list[float]] | None = None) -> str:
    planes = HYPERPLANES[:N_PLANES] if planes is None else planes
    terms = [
        f"(CASE WHEN list_dot_product(v, {_duck_lit(plane)}) > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket —
    equi-join on bucket, then per-query window. The 100 TB plan: index
    build is one pass, lookup shuffles only bucket-mates."""
    n = _normed(spark, sf_dir).withColumn("bucket", _bucket_col())
    q = n.filter(F.col("vec_id") < QUERY_SET_SIZE).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    pairs = (
        q.join(n, q.qb == n.bucket)
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", F.round(cos, 9).alias("cos9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos9"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("cos9"), 4).alias("cosine"),
            "rnk",
        )
    )


ORACLE_ANN_LSH_TOPK = f"""
WITH n AS ({_DUCK_NORMED}),
b AS (SELECT vec_id, v, nrm, {_duck_bucket()} AS bucket FROM n),
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS qb
      FROM b WHERE vec_id < {QUERY_SET_SIZE}),
pairs AS (
  SELECT q_id, vec_id, ROUND(list_dot_product(qv, v) / (qn * nrm), 9) AS cos9
  FROM q JOIN b ON qb = bucket WHERE q_id <> vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos9,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, vec_id ASC) AS rnk
  FROM pairs
)
SELECT q_id, vec_id AS neighbor_id, ROUND(cos9, 4) AS cosine, rnk
FROM ranked WHERE rnk <= {TOPK}
"""


# IVF coarse quantizer (round-3): fixed seeded centroids embedded as
# literals so the DuckDB oracle runs identical math. At corpus scale
# the centroids come from a k-means sample pass; the assign/probe
# plan shape is what matters here — assignment is map-only argmin,
# probe restricts candidates to the query's NPROBE nearest cells.
IVF_CELLS = 8
IVF_NPROBE = 2
_ivf_rng = np.random.RandomState(4321)
IVF_CENTROIDS: list[list[float]] = [
    [round(float(x), 6) for x in v / np.linalg.norm(v)]
    for v in _ivf_rng.randn(IVF_CELLS, DIM)
]


def _near_dup_planes(t: int) -> list[list[float]]:
    return HYPERPLANES[t * NEAR_DUP_PLANES : (t + 1) * NEAR_DUP_PLANES]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    alongside the sign-LSH one (SURVEY §similarity: "IVF or LSH").

    Plan shape: cell assignment is a map-only argmax over IVF_CELLS
    centroid dot products (`array_position(dots, array_max(dots))` —
    first-max tie-break, identical in DuckDB); each query probes its
    IVF_NPROBE best cells; candidates come from an equi-join on cell.
    At 100 TB: the cell index is the partition/cluster key, a probe
    touches NPROBE/IVF_CELLS of the corpus, and the per-cell top-k is
    the brute-force kernel — no all-pairs anywhere."""
    from .dedup import _persist

    n = _normed(spark, sf_dir)
    dots = F.array(*[_dot(F.col("v"), _lit_vec(c)) for c in IVF_CENTROIDS])
    # r7: eager-persist the dots base — both the corpus cell assignment
    # and the query probe branch read it (the multi-reference rule);
    # un-persisted, the 8-centroid × 64-dim fold ran once per branch
    base = _persist(
        n.select("vec_id", "v", "nrm", dots.alias("dots")), eager=True
    )
    vec = base.select(
        "vec_id",
        "v",
        "nrm",
        F.expr("CAST(array_position(dots, array_max(dots)) AS INT)").alias(
            "cell"
        ),
    )
    qd = base.filter(F.col("vec_id") < QUERY_SET_SIZE).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.posexplode("dots").alias("idx", "dot"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("idx"))
    qcells = (
        qd.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= IVF_NPROBE)
        .select(
            "q_id", "qv", "qn", (F.col("idx") + 1).cast("int").alias("cell")
        )
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    pairs = (
        qcells.join(vec, "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", F.round(cos, 9).alias("cos9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos9"), F.asc("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("cos9"), 4).alias("cosine"),
            "rnk",
        )
    )


def _duck_ivf_dots() -> str:
    return (
        "["
        + ", ".join(
            f"list_dot_product(v, {_duck_lit(c)})" for c in IVF_CENTROIDS
        )
        + "]"
    )


def _duck_ivf_qcells() -> str:
    arms = [
        f"SELECT q_id, qv, qn, {i + 1} AS cell, dots[{i + 1}] AS dot, {i} AS idx FROM qbase"
        for i in range(IVF_CELLS)
    ]
    return "\nUNION ALL\n".join(arms)


ORACLE_ANN_IVF_TOPK = f"""
WITH n AS ({_DUCK_NORMED}),
base AS (SELECT vec_id, v, nrm, {_duck_ivf_dots()} AS dots FROM n),
vec AS (
  SELECT vec_id, v, nrm,
         CAST(list_position(dots, list_aggregate(dots, 'max')) AS INT) AS cell
  FROM base
),
qbase AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, dots
          FROM base WHERE vec_id < {QUERY_SET_SIZE}),
qcell_all AS (
{_duck_ivf_qcells()}
),
qcells AS (
  SELECT q_id, qv, qn, cell FROM (
    SELECT q_id, qv, qn, cell,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, idx ASC) AS r
    FROM qcell_all
  ) WHERE r <= {IVF_NPROBE}
),
pairs AS (
  SELECT q.q_id, vec.vec_id,
         ROUND(list_dot_product(q.qv, vec.v) / (q.qn * vec.nrm), 9) AS cos9
  FROM qcells q JOIN vec ON q.cell = vec.cell
  WHERE q.q_id <> vec.vec_id
),
ranked AS (
  SELECT q_id, vec_id, cos9,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, vec_id ASC) AS rnk
  FROM pairs
)
SELECT q_id, vec_id AS neighbor_id, ROUND(cos9, 4) AS cosine, rnk
FROM ranked WHERE rnk <= {TOPK}
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with LSH-bucket candidate routing
    (round-3 rewrite, VERDICT r2 item 2).

    Round 2 blocked on label alone — at 100 TB a popular label holds
    millions of vectors and the within-block pair join is quadratic.
    Now candidates come from a single equi-join on
    (label, table, bucket): each vector gets NEAR_DUP_TABLES
    sign-random-projection buckets (map-only posexplode), pairs that
    share a bucket in ANY table are candidates (distinct), and cosine
    is verified on candidates only. One uniform shuffle, no all-pairs;
    recall at the threshold ≈ 0.99 (see constants above), and the
    DuckDB oracle runs the identical bucket math so the recall
    characteristics are shared, not hidden.

    r7: the bucket relation is eager-persisted — it feeds BOTH sides
    of the candidate self-join (the multi-reference rule), and caching
    it keeps the 16-hyperplane × 64-dim dot-fold build to one pass
    while giving the pair-generation probe side the cache's full
    partitioning (the un-cached form put the probe side of the
    broadcast join directly on the single-split scan: the entire
    multi-million-pair generation + distinct partial aggregation ran
    in ONE task — 27.1 s of this query's 29 s at sf1.0,
    OPTIMIZATION_r07.md)."""
    from .dedup import _persist

    n = _normed(spark, sf_dir)
    buckets = F.array(
        *[_bucket_col(_near_dup_planes(t)) for t in range(NEAR_DUP_TABLES)]
    )
    tb = _persist(
        n.select(
            "vec_id", "label", F.posexplode(buckets).alias("t", "bucket")
        ),
        eager=True,
    )
    a, b = tb.alias("a"), tb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    na, nb = n.alias("na"), n.alias("nb")
    cos = _dot(F.col("na.v"), F.col("nb.v")) / (F.col("na.nrm") * F.col("nb.nrm"))
    return (
        cand.join(na, cand.a_id == F.col("na.vec_id"))
        .join(nb, cand.b_id == F.col("nb.vec_id"))
        .select("a_id", "b_id", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


def _duck_near_dup_tb() -> str:
    arms = [
        f"SELECT vec_id, label, {t} AS t, {_duck_bucket(_near_dup_planes(t))} AS bucket FROM n"
        for t in range(NEAR_DUP_TABLES)
    ]
    return "\nUNION ALL\n".join(arms)


ORACLE_EMBEDDING_NEAR_DUPS = f"""
WITH n AS ({_DUCK_NORMED}),
tb AS (
{_duck_near_dup_tb()}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM tb a JOIN tb b
    ON a.label = b.label AND a.t = b.t AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) AS cosine
FROM cand c JOIN n na ON c.a_id = na.vec_id JOIN n nb ON c.b_id = nb.vec_id
WHERE ROUND(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) >= {NEAR_DUP_COS}
"""


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) refinement step over the IVF centroids —
    the iterative-algorithm face of the index BUILD (q_ann_ivf_topk
    covers the probe side; at corpus scale a handful of these steps
    over a sample produces the production centroids, each step a pure
    DataFrame job the driver loops).

    Plan shape: map-only argmax cell assignment (identical expression
    to the probe path) → posexplode dims → one groupBy (cell, dim)
    with map-side partial aggregation — shuffle volume is
    |sample| × DIM tiny (cell, dim, partial-sum) tuples, never the
    vectors themselves twice. Output is the refined centroid table
    (cell, dim, centroid, n_members); empty cells simply emit no rows.

    Float discipline: AVG over float32-origin doubles; summation order
    differs between engines by ~1e-13 relative, far below the ROUND 4
    reporting precision. LOCAL_ONLY (beyond the driver's 50-entry
    budget); oracle-paired in the local harness."""
    n = _normed(spark, sf_dir)
    dots = F.array(*[_dot(F.col("v"), _lit_vec(c)) for c in IVF_CENTROIDS])
    base = n.select("vec_id", "v", dots.alias("dots"))
    assigned = base.select(
        "v",
        F.expr("CAST(array_position(dots, array_max(dots)) AS INT)").alias(
            "cell"
        ),
    )
    dims = assigned.select("cell", F.posexplode("v").alias("dim0", "val"))
    return (
        dims.groupBy("cell", "dim0")
        .agg(
            # + 0.0 canonicalizes IEEE negative zero (ROUND(-1e-9, 4)
            # is -0.0 in DuckDB, 0.0 in Spark — repr-distinct cells)
            (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("centroid"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cell",
            (F.col("dim0") + 1).cast("int").alias("dim"),
            "centroid",
            "n_members",
        )
    )


ORACLE_KMEANS_REFINE = f"""
WITH n AS ({_DUCK_NORMED}),
base AS (SELECT vec_id, v, {_duck_ivf_dots()} AS dots FROM n),
assigned AS (
  SELECT v, CAST(list_position(dots, list_max(dots)) AS INT) AS cell FROM base
),
dims AS (
  SELECT cell,
         unnest(list_transform(range(1, len(v) + 1),
                               i -> struct_pack(dim := i, val := v[i]))) AS dv
  FROM assigned
)
SELECT cell,
       CAST(dv.dim AS INT) AS dim,
       ROUND(AVG(dv.val), 4) + 0.0 AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM dims GROUP BY cell, dv.dim
"""


# SemDeDup (Abbas et al. 2023) knobs: candidate generation is
# within-IVF-cell only, and each doc compares against the cell's keeper
# pool (the SEMDEDUP_POOL lowest vec_ids of the cell) instead of all
# cell members — |cell| × POOL comparisons, linear in the cell, the
# same bounded-candidate discipline as the MinHash hot-bucket caps.
# POSITIVITY INVARIANT (ADVICE r6): semdedup's emitted `cosine` omits
# the `+ 0.0` negative-zero guard in both dialects, which is safe ONLY
# while SEMDEDUP_COS > 0 bounds every emitted value strictly positive
# (ROUND can only produce -0.0 from a tiny negative input). If this
# threshold is ever lowered to <= 0, add `+ 0.0` to the cosine output
# in BOTH the Spark query and the DuckDB oracle (the kmeans_refine
# rule) — in an optimization round the oracle text is frozen, so the
# comment, not a code change, is the guard.
SEMDEDUP_COS = 0.42
SEMDEDUP_POOL = 32


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication over the embedding space (the SemDeDup
    pattern): cluster the corpus by nearest IVF centroid, then inside
    each cluster drop any vector whose cosine to an earlier-id keeper
    exceeds the threshold. Output = the dropped rows with their
    (lowest-id) keeper and the cosine that condemned them.

    Scale shape: cell assignment is the map-only argmax reused from
    q_ann_ivf_topk / q_kmeans_refine; the keeper pool is found from a
    SLIM (vec_id, cell) projection — the only full-corpus exchange
    carries two ints per doc, never the vectors (round-6 rule: slim
    every exchanged column) — and the pool itself is IVF_CELLS × POOL
    rows, broadcast into the comparison join, so the corpus side of
    the verify stage never shuffles. The final keeper-selection window
    partitions only surviving candidate rows. At 100 TB the knobs are
    more cells + a bigger pool; the quadratic-within-cell variant of
    the paper is deliberately not offered.

    Determinism: keeper pool ranked by vec_id; threshold compares the
    ROUND(.,4) cosine in both dialects; keeper = min qualifying k_id.
    LOCAL_ONLY (past the 50-slot budget); oracle-paired locally."""
    from .dedup import _persist

    n = _normed(spark, sf_dir)
    dots = F.array(*[_dot(F.col("v"), _lit_vec(c)) for c in IVF_CENTROIDS])
    assigned = _persist(
        n.select("vec_id", "v", "nrm", dots.alias("dots")).select(
            "vec_id",
            "v",
            "nrm",
            F.expr("CAST(array_position(dots, array_max(dots)) AS INT)").alias(
                "cell"
            ),
        ),
        eager=True,  # multi-referenced below (pool fetch + compare side)
    )
    wcell = Window.partitionBy("cell").orderBy("vec_id")
    pool_ids = (
        assigned.select("vec_id", "cell")
        .withColumn("rn", F.row_number().over(wcell))
        .filter(F.col("rn") <= SEMDEDUP_POOL)
        .select("cell", F.col("vec_id").alias("k_id"))
    )
    # rename every pool column: both sides of the comparison join
    # descend from `assigned`, so unrenamed columns would resolve to
    # the same lineage (trivially-true cell == cell)
    # pool_ids is ≤ IVF_CELLS × POOL rows — broadcast it into the
    # vector fetch so `assigned` (which carries the vectors) never
    # exchanges on k_id
    pool = F.broadcast(
        pool_ids.select(F.col("cell").alias("p_cell"), "k_id")
    ).join(
        assigned.select(
            F.col("vec_id").alias("k_id"),
            F.col("v").alias("kv"),
            F.col("nrm").alias("kn"),
        ),
        "k_id",
    )
    cos4 = F.round(
        _dot(F.col("v"), F.col("kv")) / (F.col("nrm") * F.col("kn")), 4
    )
    hits = (
        assigned.join(
            F.broadcast(pool),
            (F.col("cell") == F.col("p_cell"))
            & (F.col("k_id") < F.col("vec_id")),
        )
        .select("vec_id", "cell", "k_id", cos4.alias("cosine"))
        .filter(F.col("cosine") >= SEMDEDUP_COS)
    )
    wkeep = Window.partitionBy("vec_id").orderBy("k_id")
    return (
        hits.withColumn("rr", F.row_number().over(wkeep))
        .filter(F.col("rr") == 1)
        .select("vec_id", "cell", F.col("k_id").alias("keeper_id"), "cosine")
    )


ORACLE_SEMDEDUP = f"""
WITH n AS ({_DUCK_NORMED}),
base AS (SELECT vec_id, v, nrm, {_duck_ivf_dots()} AS dots FROM n),
assigned AS (
  SELECT vec_id, v, nrm,
         CAST(list_position(dots, list_max(dots)) AS INT) AS cell
  FROM base
),
ranked AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM assigned
),
pool AS (
  SELECT a.cell, a.vec_id AS k_id, a.v AS kv, a.nrm AS kn
  FROM assigned a JOIN ranked r ON a.vec_id = r.vec_id
  WHERE r.rn <= {SEMDEDUP_POOL}
),
hits AS (
  SELECT a.vec_id, a.cell, p.k_id,
         ROUND(list_dot_product(a.v, p.kv) / (a.nrm * p.kn), 4) AS cosine
  FROM assigned a JOIN pool p ON a.cell = p.cell AND p.k_id < a.vec_id
  WHERE ROUND(list_dot_product(a.v, p.kv) / (a.nrm * p.kn), 4)
        >= {SEMDEDUP_COS}
),
first_keeper AS (
  SELECT vec_id, cell, k_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY k_id) AS rr
  FROM hits
)
SELECT vec_id, cell, k_id AS keeper_id, cosine
FROM first_keeper WHERE rr = 1
"""


QUERIES = {
    "knn_brute_topk": q_knn_brute_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "kmeans_refine": q_kmeans_refine,
    "semdedup": q_semdedup,
}

ORACLES = {
    "knn_brute_topk": ORACLE_KNN_BRUTE_TOPK,
    "ann_lsh_topk": ORACLE_ANN_LSH_TOPK,
    "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "embedding_near_dups": ORACLE_EMBEDDING_NEAR_DUPS,
    "kmeans_refine": ORACLE_KMEANS_REFINE,
    "semdedup": ORACLE_SEMDEDUP,
}
