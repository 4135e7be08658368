"""Relational operator surface (SURVEY.md §2.2) over the driver testdata.

Every query here is the Spark-native analogue of a capability the
extraction job needs at 100 TB scale (scan/filter/project, dedup-latest,
broadcast + shuffle joins, semi/anti join resume, aggregation, rollup,
windows, set ops, string/date/JSON functions, salted skew-safe
aggregation), each with a DuckDB oracle twin.

Cross-engine float discipline: any SUM over doubles goes through
``CAST(x AS DECIMAL(18,4))`` (exact, associative — immune to partition
ordering) and is cast back to DOUBLE at the end; derived ratios are
computed in doubles from those exact sums and rounded. This keeps the
order-insensitive value-hash identical between Spark and DuckDB at any
partitioning, which is also the property that makes the numbers stable
between a 8-core local run and a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, maybe_parallelize


def _dsum(col: str) -> F.Column:
    """Exact, order-insensitive sum of a double column → double."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


# ---------------------------------------------------------------------------
# Scan / filter / project
# ---------------------------------------------------------------------------

def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pre-filter: the lang/non-empty predicate pushed to the scan
    (extraction job stage 1). Mirrors SURVEY §2.2 'Filter / predicate'."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") > 200))
        .select(
            "doc_id",
            "source",
            F.length("text").alias("text_len"),
            F.substring("text", 1, 20).alias("head20"),
        )
    )


ORACLE_CORPUS_FILTER = """
SELECT doc_id, source, length(text) AS text_len, substr(text, 1, 20) AS head20
FROM documents WHERE lang = 'en' AND n_chars > 200
"""


# ---------------------------------------------------------------------------
# Aggregation (TPC-H Q1 style pricing summary)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Deliberately NOT gated (r7
    A/B): the codegen'd decimal partial agg over the single-split
    6M-row scan costs ~1.1 s serial, and a parallelizing round-robin
    exchange of the filtered rows measured SLOWER (1.12 → 1.59 s at
    sf1.0) — the exchange bytes cost more than the serial agg saves
    (contrast cube_orders, whose 4× Expand flips that balance)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            # ROUND the exact decimal to scale 4 BEFORE the double
            # cast: a scale-8 product sum's unscaled value passes 2^53
            # at sf0.1 magnitudes, and DuckDB's decimal→double goes
            # int128→double→÷10^8 (double-rounded) while Spark's
            # BigDecimal converts correctly-rounded — one ulp apart
            # (caught by tools/oracle_sweep.py at sf0.1). At scale 4
            # the unscaled value fits 2^53 and both conversions are
            # exact-rational→nearest-double.
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
                ),
                4,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 4))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 4))
    )


ORACLE_PRICING_SUMMARY = """
WITH base AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)
           AS sum_disc_price,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, count_order,
       ROUND(sum_qty / count_order, 4) AS avg_qty,
       ROUND(sum_base_price / count_order, 4) AS avg_price
FROM base
"""


# ---------------------------------------------------------------------------
# Joins: broadcast dim chain (orders ⋈ customer ⋈ nation ⋈ region)
# ---------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicitly broadcast small dims — at 100 TB the fact
    side streams; only nation/region/customer fit driver-side.
    Deliberately NOT gated (r7 A/B): broadcast probes + partial agg
    over the single-split scan are cheap codegen; the parallelizing
    exchange measured slower (1.35 → 1.81 s at sf1.0)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            _dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT r_name AS region_name, n_name AS nation_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS order_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# Window: top-k per group, dedup-latest
# ---------------------------------------------------------------------------

def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


ORACLE_TOP_ORDERS_PER_CUST = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_dedup_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-latest: the pattern that keeps one row per url at the
    newest warc_ts in the pages corpus (SURVEY §2.2 'Dedup')."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


ORACLE_DEDUP_LATEST_EVENT = """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT user_id, event_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_host_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 largest docs per source — the 'worst skew hosts' report."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", "n_chars", "rnk")
    )


ORACLE_HOST_TOPK_DOCS = """
SELECT source, doc_id, n_chars, rnk FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Semi / anti joins (resume protocol)
# ---------------------------------------------------------------------------

def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume = pages LEFT ANTI JOIN done set. The done set here is a
    deterministic subset (doc_id % 7 = 0) standing in for the urls
    already committed to the output; broadcast it (small vs the
    corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    done = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return (
        docs.join(F.broadcast(done), "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


ORACLE_RESUME_ANTI_JOIN = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
"""


def q_custs_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ORACLE_CUSTS_WITH_BIG_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day) pairs with a purchase but no error that day.

    Round-2 fix (VERDICT item 9): the round-1 version subtracted on
    bare user_id, which was empty at sf0.01 (every user has every
    event type) — a vacuous green. Keying by (user_id, day) yields a
    non-empty difference (1018 rows at sf0.01), so the pair actually
    proves EXCEPT semantics."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", day)
        .distinct()
    )
    erroring = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", day)
        .distinct()
    )
    return buyers.subtract(erroring)


ORACLE_SET_EXCEPT = """
SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# Rollup / grouping sets
# ---------------------------------------------------------------------------

def q_rollup_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("n_chars").alias("chars_total"),
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
    )


ORACLE_ROLLUP_SOURCE_LANG = """
SELECT source, lang, COUNT(*) AS doc_cnt,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(GROUPING(source) AS INT) AS g_source, CAST(GROUPING(lang) AS INT) AS g_lang
FROM documents GROUP BY ROLLUP(source, lang)
"""


# ---------------------------------------------------------------------------
# Date / JSON functions
# ---------------------------------------------------------------------------

def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yy"), F.month("o_orderdate").alias("mm")
        )
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            _dsum("o_totalprice").alias("total"),
        )
    )


ORACLE_ORDERS_BY_MONTH = """
SELECT CAST(year(o_orderdate) AS INT) AS yy, CAST(month(o_orderdate) AS INT) AS mm,
       COUNT(*) AS order_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warc_ts-style day bucketing — the corpus partitioning key."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("value_sum"))
    )


ORACLE_EVENTS_DAILY = """
SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column → typed metric (metadata columns of
    multimodal/page rows travel as JSON strings)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"), F.max("k").alias("k_max"))
    )


ORACLE_EVENTS_JSON = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Salted skew-safe aggregation (north-rule: explicit skew handling)
# ---------------------------------------------------------------------------

def q_salted_lang_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: groupBy(lang, salt) → re-agg by lang.
    Same result as direct groupBy(lang) (the oracle), but the first
    shuffle spreads a hot key over 8 reducers — the pattern used for
    Zipf-hot hosts in the pages corpus."""
    docs = load_table(spark, sf_dir, "documents")
    phase1 = (
        docs.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(8)))
        .groupBy("lang", "salt")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("n_chars").alias("s"))
    )
    return phase1.groupBy("lang").agg(
        F.sum("c").alias("doc_cnt"), F.sum("s").alias("chars_total")
    )


ORACLE_SALTED_LANG_AGG = """
SELECT lang, COUNT(*) AS doc_cnt, CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# String functions mirroring the in-document scalar ops (O10/O16 analogues)
# ---------------------------------------------------------------------------

def q_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text stats: length, comma count, word count, normalized
    length — the SQL-expressible faces of get_inner_text/paragraph
    scoring (reference readability.py:1215-1233, 634-668)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length(norm).alias("norm_len"),
        F.regexp_count(F.col("text"), F.lit(",")).alias("commas"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("words"),
    )


ORACLE_STRING_STATS = r"""
SELECT doc_id,
       length(text) AS raw_len,
       length(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_len,
       len(regexp_extract_all(text, ',')) AS commas,
       len(regexp_split_to_array(trim(text), '\s+')) AS words
FROM documents
"""


def q_candidate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 analogue as a relational query: paragraph score
    1 + commas + min(len // 100, 3) for texts ≥ 25 chars, rolled up to
    the parent (source) at full weight and the grandparent at half
    weight with floor division — the reference's two-level keyed-sum
    (readability.py:653-668, floor-div at :662/:668)."""
    docs = load_table(spark, sf_dir, "documents")
    norm_len = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    score = (
        F.lit(1)
        + F.regexp_count(F.col("text"), F.lit(","))
        + F.least(F.floor(norm_len / 100), F.lit(3)).cast("int")
    )
    scored = docs.filter(norm_len >= 25).withColumn("score", score)
    return scored.groupBy("source").agg(
        F.sum("score").alias("parent_score"),
        F.sum(F.floor(F.col("score") / 2)).alias("grandparent_score"),
        F.count(F.lit(1)).alias("candidate_count"),
    )


ORACLE_CANDIDATE_SCORES = r"""
WITH scored AS (
  SELECT source,
         1 + len(regexp_extract_all(text, ','))
           + LEAST(length(regexp_replace(trim(text), '\s+', ' ', 'g')) // 100, 3) AS score
  FROM documents
  WHERE length(regexp_replace(trim(text), '\s+', ' ', 'g')) >= 25
)
SELECT source, CAST(SUM(score) AS BIGINT) AS parent_score,
       CAST(SUM(score // 2) AS BIGINT) AS grandparent_score,
       COUNT(*) AS candidate_count
FROM scored GROUP BY source
"""


# ---------------------------------------------------------------------------
# Cube / percentiles / sessionization / pivot / global top-k
# ---------------------------------------------------------------------------

def q_host_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive-host projection + per-host rollup over the synthesized
    page urls (SURVEY §2.2 'Projection'): regexp_extract works
    identically in both engines (Spark's parse_url has no DuckDB twin)."""
    from ..plans.extract_job import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)/", 1)
    return (
        pages.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("pages"))
    )


ORACLE_HOST_PROJECTION = r"""
SELECT regexp_extract(concat('http://', source, '.example.com/doc-',
                              CAST(doc_id AS VARCHAR), '.html'),
                      '^[a-z]+://([^/]+)/', 1) AS host,
       COUNT(*) AS pages
FROM documents GROUP BY 1
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation. Gated parallelizer (r7): the Expand (4× row
    multiplication) + partial aggregation ran serially on the
    single-split orders scan; exact-decimal sums are exchange-order
    independent."""
    orders = maybe_parallelize(load_table(spark, sf_dir, "orders"), spark)
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("o_totalprice").alias("total"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
    )


ORACLE_CUBE_ORDERS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles — both engines sort + linear
    interpolation, so values match bit-for-bit after round(4).

    r7 rewrite: Spark's ``percentile()`` aggregate keeps a value→count
    OpenHashMap per (group × task), serializes those maps through the
    shuffle, merges them per group and sorts the merged map at eval —
    ~4.5M distinct prices at sf1.0 made that 23.2 s (one call per
    percentile), 10.8 s (one array call), 9.0 s (array call + gated
    parallel update pass). The sort-based form here computes the SAME
    interpolated exact percentile from a per-group window sort:
    rn = row_number ordered by value is exactly the 0-based multiset
    index + 1 that percentile's sorted-counts walk uses, and the final
    interpolation replicates Percentile.getPercentile arithmetic
    operation for operation — position = p * (count-1) in doubles,
    lowerKey/higherKey picked at floor/ceil, then
    (higher − position)·lowerKey + (position − lower)·higherKey —
    so the values are bit-identical (asserted against percentile()
    itself in tests/test_operators_r7.py, validated by hand on all
    four SFs, and oracle-green at sf0.01/sf0.1). 4.8 s at sf1.0.

    Scale shape: one hash exchange on the group key + one per-group
    sort — the same per-group single-reducer bound as the percentile
    aggregate's merge phase, minus the hash-map build/serialize/merge
    over every task. Exact per-group percentile is irreducibly
    group-local; the production monitoring path for corpus-scale
    groups stays q_price_quartiles_approx (mergeable sketch).

    NOT NULL invariant: the isNotNull filter feeds an inner
    aggregation, so a group whose values are ALL null emits no row,
    where percentile() emits it with null percentiles. The two agree
    only because l_extendedprice is NOT NULL in lineitem; reusing this
    form on a nullable column needs a left join back to the distinct
    groups to keep that row."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.filter(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    w = Window.partitionBy("l_returnflag").orderBy("v")
    wn = Window.partitionBy("l_returnflag")
    g = vals.select(
        "l_returnflag",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pcts = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9}

    def pos(p):
        return F.lit(p) * (F.col("n") - F.lit(1)).cast("double")

    aggs = [F.max("n").alias("n")]
    for name, p in pcts.items():
        lo, hi = F.floor(pos(p)), F.ceil(pos(p))
        aggs.append(
            F.max(F.when(F.col("rn") == lo + 1, F.col("v"))).alias(f"{name}_lk")
        )
        aggs.append(
            F.max(F.when(F.col("rn") == hi + 1, F.col("v"))).alias(f"{name}_hk")
        )
    per = g.groupBy("l_returnflag").agg(*aggs)

    def interp(name, p):
        ps = pos(p)
        lo, hi = F.floor(ps), F.ceil(ps)
        lk, hk = F.col(f"{name}_lk"), F.col(f"{name}_hk")
        v = F.when(hi == lo, lk).otherwise(
            (hi.cast("double") - ps) * lk + (ps - lo.cast("double")) * hk
        )
        return F.round(v, 4).alias(name)

    return per.select(
        "l_returnflag", *[interp(name, p) for name, p in pcts.items()]
    )


ORACLE_PRICE_QUARTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag
"""


def q_price_quartiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale percentile path: approx_percentile (streaming
    Greenwald-Khanna sketch, map-side mergeable — no per-group sort or
    full materialization, unlike exact percentile() which is a
    scale-killer for a monitoring metric at 100 TB). No oracle twin:
    DuckDB's approx_quantile sketch is not cross-engine reproducible,
    so the driver records the weaker rows/schema check and
    tests/test_operators_r2.py bounds the error against the exact
    query (≤ 1% relative at accuracy=10000)."""
    li = load_table(spark, sf_dir, "lineitem")
    acc = 10000
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr(f"approx_percentile(l_extendedprice, 0.25, {acc})"), 4).alias("p25"),
        F.round(F.expr(f"approx_percentile(l_extendedprice, 0.5, {acc})"), 4).alias("p50"),
        F.round(F.expr(f"approx_percentile(l_extendedprice, 0.75, {acc})"), 4).alias("p75"),
        F.round(F.expr(f"approx_percentile(l_extendedprice, 0.9, {acc})"), 4).alias("p90"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-minute gap —
    lag + running-sum window (the scalable sessionizer: one shuffle on
    user_id, no self-join)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    is_new = F.when(
        lag_ts.isNull()
        | ((F.col("ts") - lag_ts) > F.expr("INTERVAL 1800 SECONDS")),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select("user_id", "event_id", "ts", "session_id")
    )


ORACLE_SESSIONIZE_EVENTS = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user counts of each event type (fixed value list —
    at scale the list comes from a prior distinct scan)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


ORACLE_EVENTS_PIVOT = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY user_id
"""


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (orderBy + limit → TakeOrdered, no full sort at
    scale) over a broadcast dim join. Deliberately NOT gated (r7 A/B):
    the per-partkey codegen partial agg over the single-split scan is
    cheaper than the parallelizing exchange (1.68 → 2.24 s at sf1.0)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            # round-before-cast: same scale-8 decimal→double
            # double-rounding hazard as pricing_summary (and revenue
            # is an ORDERING key here — a one-ulp flip could reorder)
            F.round(
                F.sum(
                    dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
                ),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        rev.join(F.broadcast(part), rev.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


ORACLE_TOP_PARTS_BY_REVENUE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey, p_name, revenue
FROM rev JOIN part ON l_partkey = p_partkey
ORDER BY revenue DESC, p_partkey ASC LIMIT 10
"""


QUERIES = {
    "corpus_filter": q_corpus_filter,
    "host_projection": q_host_projection,
    "cube_orders": q_cube_orders,
    "price_quartiles": q_price_quartiles,
    "price_quartiles_approx": q_price_quartiles_approx,
    "sessionize_events": q_sessionize_events,
    "events_pivot": q_events_pivot,
    "top_parts_by_revenue": q_top_parts_by_revenue,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_per_cust": q_top_orders_per_cust,
    "dedup_latest_event": q_dedup_latest_event,
    "host_topk_docs": q_host_topk_docs,
    "resume_anti_join": q_resume_anti_join,
    "custs_with_big_orders": q_custs_with_big_orders,
    "set_except": q_set_except,
    "rollup_source_lang": q_rollup_source_lang,
    "orders_by_month": q_orders_by_month,
    "events_daily": q_events_daily,
    "events_json": q_events_json,
    "salted_lang_agg": q_salted_lang_agg,
    "string_stats": q_string_stats,
    "candidate_scores": q_candidate_scores,
}

ORACLES = {
    "corpus_filter": ORACLE_CORPUS_FILTER,
    "host_projection": ORACLE_HOST_PROJECTION,
    "cube_orders": ORACLE_CUBE_ORDERS,
    "price_quartiles": ORACLE_PRICE_QUARTILES,
    "sessionize_events": ORACLE_SESSIONIZE_EVENTS,
    "events_pivot": ORACLE_EVENTS_PIVOT,
    "top_parts_by_revenue": ORACLE_TOP_PARTS_BY_REVENUE,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "top_orders_per_cust": ORACLE_TOP_ORDERS_PER_CUST,
    "dedup_latest_event": ORACLE_DEDUP_LATEST_EVENT,
    "host_topk_docs": ORACLE_HOST_TOPK_DOCS,
    "resume_anti_join": ORACLE_RESUME_ANTI_JOIN,
    "custs_with_big_orders": ORACLE_CUSTS_WITH_BIG_ORDERS,
    "set_except": ORACLE_SET_EXCEPT,
    "rollup_source_lang": ORACLE_ROLLUP_SOURCE_LANG,
    "orders_by_month": ORACLE_ORDERS_BY_MONTH,
    "events_daily": ORACLE_EVENTS_DAILY,
    "events_json": ORACLE_EVENTS_JSON,
    "salted_lang_agg": ORACLE_SALTED_LANG_AGG,
    "string_stats": ORACLE_STRING_STATS,
    "candidate_scores": ORACLE_CANDIDATE_SCORES,
}
