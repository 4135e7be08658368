"""Round-3 operator tests: scale-pattern guards (VERDICT r2 items 1-3).

- simhash_pairs_capped: hot-bucket cap + exact-dup side channel
- embedding_near_dups: LSH-bucket candidate routing (no label-only
  all-pairs join in the physical plan)
- real PNG/GIF/JPEG header decode (no imaging library)

Oracle-pair hash checks for the new queries run automatically via
tests/test_oracle_pairs.py (parametrized over merged_queries()).
"""

from __future__ import annotations

import re
import struct
import zlib

from .conftest import SF_ORACLE, SF_SMOKE, executed_plan


# ---------------------------------------------------------------------------
# simhash_pairs_capped
# ---------------------------------------------------------------------------


def test_simhash_capped_drops_hot_buckets(spark):
    """The cap must actually bite: the sf documents table carries a
    mass-duplicated cluster, so the capped query returns strictly fewer
    pairs than the uncapped one, and the exact-dup side channel emits
    hamming-0 pairs for the hot bucket's byte-identical members. The
    uncapped count is the plain hi16 band join + hamming ≤ 6 verify
    over the same signatures."""
    from readability_py_spark.operators.dedup import (
        q_simhash_docs,
        q_simhash_pairs_capped,
    )

    q_simhash_docs(spark, SF_ORACLE).createOrReplaceTempView("sig_uncapped")
    uncapped = spark.sql(
        """
        WITH banded AS (
          SELECT doc_id, simhash, shiftright(simhash, 16) AS hi16
          FROM sig_uncapped
        )
        SELECT a.doc_id, b.doc_id
        FROM banded a JOIN banded b ON a.hi16 = b.hi16 AND a.doc_id < b.doc_id
        WHERE bit_count(a.simhash ^ b.simhash) <= 6
        """
    ).count()
    capped_df = q_simhash_pairs_capped(spark, SF_ORACLE)
    rows = capped_df.collect()
    assert 0 < len(rows) < uncapped
    assert any(r["hamming"] == 0 for r in rows)  # exact channel active
    assert all(r["hamming"] <= 6 for r in rows)
    assert all(r["a_id"] < r["b_id"] for r in rows)


def test_simhash_capped_no_quadratic_bucket(spark):
    """Every hi16 bucket entering the pair join holds ≤ LSH_BUCKET_CAP
    docs (the invariant that bounds per-bucket join work at 100 TB)."""
    from readability_py_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        q_simhash_docs,
    )

    q_simhash_docs(spark, SF_ORACLE).createOrReplaceTempView("sig_r3")
    small_max = spark.sql(
        f"""
        WITH banded AS (SELECT doc_id, shiftright(simhash, 16) AS hi16 FROM sig_r3),
        cnt AS (SELECT hi16, COUNT(*) AS c FROM banded GROUP BY hi16)
        SELECT MAX(c) AS m FROM cnt WHERE c <= {LSH_BUCKET_CAP}
        """
    ).collect()[0]["m"]
    assert small_max <= LSH_BUCKET_CAP


# ---------------------------------------------------------------------------
# embedding_near_dups: bucket-routed candidates
# ---------------------------------------------------------------------------


def test_embedding_near_dups_plan_is_bucket_routed(spark):
    """No cartesian / nested-loop / label-only pair join: candidates
    must come from an equi-join whose keys include the LSH bucket."""
    from readability_py_spark.operators.similarity import (
        q_embedding_near_dups,
    )

    df = q_embedding_near_dups(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the candidate join keys include bucket (and table id), not label
    # alone — the join condition renders the key columns in the plan
    assert re.search(r"bucket#\d+", plan), plan
    assert re.search(r"\bt#\d+", plan), plan


def test_embedding_near_dups_recall_at_small_sf(spark):
    """Bucket routing keeps the known near-dup pairs (multi-table LSH
    recall ≈ 0.99 at the threshold): same pairs as an exhaustive
    label-blocked scan at both test SFs."""
    from readability_py_spark.operators.similarity import (
        NEAR_DUP_COS,
        _dot,
        _normed,
        q_embedding_near_dups,
    )
    from pyspark.sql import functions as F

    for sf in (SF_SMOKE, SF_ORACLE):
        n = _normed(spark, sf)
        a, b = n.alias("a"), n.alias("b")
        cos = _dot(F.col("a.v"), F.col("b.v")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        exhaustive = {
            (r["a_id"], r["b_id"])
            for r in a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("a_id"),
                F.col("b.vec_id").alias("b_id"),
                F.round(cos, 4).alias("cosine"),
            )
            .filter(F.col("cosine") >= NEAR_DUP_COS)
            .collect()
        }
        routed = {
            (r["a_id"], r["b_id"])
            for r in q_embedding_near_dups(spark, sf).collect()
        }
        assert routed == exhaustive, (sf, routed, exhaustive)


def test_ann_ivf_plan_and_recall(spark):
    """IVF probe plan: candidates via equi-join on cell (no cartesian),
    and probing NPROBE=2 of 8 cells still recovers a reasonable share
    of the exact top-5 (random 64-dim vectors are near-orthogonal, so
    coarse quantization is weak here — the floor just guards against a
    broken assignment that would send recall to ~0)."""
    from readability_py_spark.operators.similarity import (
        QUERY_SET_SIZE,
        TOPK,
        q_ann_ivf_topk,
        q_knn_brute_topk,
    )

    df = q_ann_ivf_topk(spark, SF_ORACLE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"cell#\d+", plan), plan

    ivf = {(r["q_id"], r["neighbor_id"]) for r in df.collect()}
    brute = {
        (r["q_id"], r["neighbor_id"])
        for r in q_knn_brute_topk(spark, SF_ORACLE).collect()
    }
    assert len(ivf) == QUERY_SET_SIZE * TOPK
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.15, f"IVF recall collapsed: {recall}"


# ---------------------------------------------------------------------------
# real image header decode
# ---------------------------------------------------------------------------


def _png_bytes(w: int, h: int) -> bytes:
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def _gif_bytes(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"


def _jpeg_bytes(w: int, h: int) -> bytes:
    app0_data = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof_data = b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return (
        b"\xff\xd8"
        + b"\xff\xe0"
        + struct.pack(">H", 2 + len(app0_data))
        + app0_data
        + b"\xff\xc0"
        + struct.pack(">H", 2 + len(sof_data))
        + sof_data
    )


def test_parse_image_header_real_bytes():
    from readability_py_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png_bytes(640, 480)) == ("image/png", 640, 480)
    assert parse_image_header(_gif_bytes(320, 200)) == ("image/gif", 320, 200)
    assert parse_image_header(_jpeg_bytes(1920, 1080)) == (
        "image/jpeg",
        1920,
        1080,
    )
    # progressive JPEG uses SOF2 (0xC2) — still a frame header
    prog = bytearray(_jpeg_bytes(12, 34))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    assert parse_image_header(bytes(prog)) == ("image/jpeg", 12, 34)
    assert parse_image_header(b"plain text, not an image") is None
    assert parse_image_header(b"") is None
    # truncated PNG (signature only) must not crash or match
    assert parse_image_header(b"\x89PNG\r\n\x1a\n") is None


def test_decode_batch_uses_real_headers():
    import pandas as pd

    from readability_py_spark.operators.multimodal import decode_batch

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "payload": [_png_bytes(800, 600), _gif_bytes(10, 20), b"nope"],
        }
    )
    out = pd.concat(list(decode_batch(iter([pdf]))))
    by_id = {int(r.doc_id): r for r in out.itertuples()}
    assert (by_id[1].media_type, by_id[1].width, by_id[1].height) == (
        "image/png",
        800,
        600,
    )
    assert (by_id[2].media_type, by_id[2].width, by_id[2].height) == (
        "image/gif",
        10,
        20,
    )
    assert by_id[3].media_type == "application/octet-stream"


def test_media_decode_headers_query(spark):
    """The queries() entry round-trips: synthesized payload widths match
    the doc_id formula after REAL byte parsing in the UDF."""
    from readability_py_spark.operators.multimodal import (
        q_media_decode_headers,
    )

    rows = q_media_decode_headers(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r["width"] == r["doc_id"] % 4093 + 1
        assert r["height"] == (r["doc_id"] * 7) % 2160 + 1
        expect = {0: "image/png", 1: "image/gif", 2: "image/jpeg"}[
            r["doc_id"] % 3
        ]
        assert r["media_type"] == expect
        assert r["n_bytes"] == {0: 33, 1: 14, 2: 126}[r["doc_id"] % 3]
