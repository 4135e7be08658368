"""Round-7 (optimization round) pins: rewrites must compute EXACTLY
what the r6 queries computed. Each test here anchors an optimized
operator to an independent formulation of the same result."""

from __future__ import annotations

from .conftest import SF_ORACLE, SF_SMOKE, executed_plan


def test_price_quartiles_bitwise_matches_percentile_aggregate(spark):
    """The window-sort exact percentile must reproduce Spark's own
    percentile() aggregate BIT-FOR-BIT (repr equality on the rounded
    doubles), at more than one SF — the interpolation arithmetic
    replicates Percentile.getPercentile operation for operation."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.relational import q_price_quartiles
    from readability_py_spark.session import load_table

    for sf_dir in (SF_SMOKE, SF_ORACLE):
        mine = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p75"], r["p90"])
            for r in q_price_quartiles(spark, sf_dir).collect()
        }
        ref = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                *[
                    F.round(
                        F.expr(f"percentile(l_extendedprice, {p})"), 4
                    ).alias(name)
                    for name, p in [
                        ("p25", 0.25),
                        ("p50", 0.5),
                        ("p75", 0.75),
                        ("p90", 0.9),
                    ]
                ]
            )
        )
        refd = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p75"], r["p90"])
            for r in ref.collect()
        }
        assert set(mine) == set(refd)
        for k in refd:
            assert [repr(a) for a in mine[k]] == [repr(b) for b in refd[k]], (
                sf_dir,
                k,
                mine[k],
                refd[k],
            )


def test_price_quartiles_plan_has_no_percentile_buffer(spark):
    """The rewrite's plan shape: one hash exchange on the group key, a
    per-group sort + window, no ObjectHashAggregate percentile buffer."""
    from readability_py_spark.operators.relational import q_price_quartiles

    df = q_price_quartiles(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    plan = executed_plan(df).lower()
    assert "percentile" not in plan, plan
    assert "objecthashaggregate" not in plan, plan
    assert "hashpartitioning(l_returnflag" in plan, plan


def test_decontaminate_matches_in_row_intersect_form(spark):
    """The exploded broadcast-join overlap count equals the r6 in-row
    size(array_intersect(grams, evg)) formulation row for row."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.textstats import (
        DECON_N,
        DECON_SLICE,
        gram_array,
        q_decontaminate,
        words_of,
    )
    from readability_py_spark.session import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    grams = F.array_distinct(gram_array(words_of(F.col("text")), DECON_N))
    ev = (
        docs.filter(F.col("doc_id") % DECON_SLICE == 0)
        .select(F.explode(gram_array(words_of(F.col("text")), DECON_N)).alias("g"))
        .distinct()
    )
    evarr = ev.agg(F.array_sort(F.collect_set("g")).alias("evg")).select(
        F.lit(1).alias("k"), "evg"
    )
    corpus = docs.select("doc_id", grams.alias("grams"), F.lit(1).alias("k"))
    overlap = F.size(F.array_intersect(F.col("grams"), F.col("evg")))
    ref = {
        r["doc_id"]: (r["n_grams"], r["overlap_cnt"], r["contaminated"])
        for r in corpus.join(F.broadcast(evarr), "k")
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            overlap.alias("overlap_cnt"),
            (overlap > 0).alias("contaminated"),
        )
        .collect()
    }
    mine = {
        r["doc_id"]: (r["n_grams"], r["overlap_cnt"], r["contaminated"])
        for r in q_decontaminate(spark, SF_ORACLE).collect()
    }
    assert mine == ref
