"""Round-4 operator tests: url normalization edge cases (advisor r3),
map-only repetition stats, JPEG header decode, Gopher line rules,
pipeline composition, and the xxhash64 MinHash fast path."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE, executed_plan

URL_CASES = [
    # adjacent tracking params collapse in one pass (advisor r3 medium)
    (
        "http://EX.com:80/Path?utm_source=a&utm_medium=b&id=3#f",
        "http://ex.com/Path?id=3",
    ),
    # a longer adjacent run, mixed families
    (
        "http://h.com/p?ref=a&gclid=b&fbclid=c&q=1&utm_z=9",
        "http://h.com/p?q=1",
    ),
    # trailing run of tracking params
    ("http://h.com/p?id=1&utm_x=2&ref=3", "http://h.com/p?id=1"),
    # all-tracking query vanishes entirely
    ("http://h.com/?utm_a=1&utm_b=2", "http://h.com/"),
    # default ports are scheme-conditioned (advisor r3 low)
    ("http://h.com:80/x", "http://h.com/x"),
    ("https://h.com:443/x", "https://h.com/x"),
    ("https://h.com:80/x", "https://h.com:80/x"),
    ("http://h.com:443/x", "http://h.com:443/x"),
    # authority lowercased, path case preserved, fragment dropped
    ("HTTPS://WWW.Ex.COM/AbC?id=2#frag", "https://www.ex.com/AbC?id=2"),
]


def test_normalize_url_edge_cases_spark(spark):
    from readability_py_spark.operators.urls import normalize_url

    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], ["u"])
    got = [r[0] for r in df.select(normalize_url(F.col("u"))).collect()]
    assert got == [want for _, want in URL_CASES]


def test_repetition_stats_plan_is_map_only(spark):
    """The round-4 rewrite computes both Gopher repetition stats in-row
    (sorted-run fold); the plan must contain NO exchange — the round-3
    version shuffled ~7x the corpus text volume through two explode →
    groupBy stages."""
    from readability_py_spark.operators.textstats import q_repetition_stats

    df = q_repetition_stats(spark, SF_SMOKE)
    plan = executed_plan(df)
    # exactly one exchange: the round-robin that parallelizes the
    # single-file test scan; no hash shuffle of gram rows anywhere
    assert plan.count("Exchange") == 1, plan
    assert "roundrobin" in plan.lower(), plan
    assert "hashpartitioning" not in plan.lower(), plan


def test_repetition_fold_known_values(spark):
    """Hand-checked fold values: 'a b a b a b' → top 2-gram 'a b' (x3,
    len 3) over 11 chars; dup 5-grams 'a b a b a' x1 + 'b a b a b' x1
    → no dup run (each distinct 5-gram occurs once)."""
    from readability_py_spark.operators.textstats import repetition_cols

    df = spark.createDataFrame(
        [("a b a b a b",), ("x y z",), ("",), ("w w w w w w w w",)], ["text"]
    )
    top2, dup5 = repetition_cols(F.col("text"))
    rows = df.select(top2.alias("t"), dup5.alias("d")).collect()
    # 'a b a b a b': 2-grams [a b, b a, a b, b a, a b] → 'a b' x3 → 9/11
    assert rows[0]["t"] == round(9 / 11, 4)
    # 5-grams 'a b a b a','b a b a b' each once → dup coverage 0
    assert rows[0]["d"] == 0.0
    # 'x y z': top 2-gram x1 len 3 → 3/5; no 5-grams
    assert rows[1]["t"] == 0.6 and rows[1]["d"] == 0.0
    # empty doc: no grams, no division by zero
    assert rows[2]["t"] == 0.0 and rows[2]["d"] == 0.0
    # 'w w w w w w w w' (15 chars): 2-gram 'w w' x7 -> 21/15 capped 1.0;
    # 5-gram 'w w w w w' x4 -> 36/15 capped 1.0
    assert rows[3]["t"] == 1.0 and rows[3]["d"] == 1.0


def _sof0(h, w):
    return (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )


def test_jpeg_marker_walk_fill_bytes_and_termination():
    """ADVICE r3: 0xFF fill bytes before a marker must be skipped, and
    the walk must terminate at SOS/EOI instead of reading a bogus
    segment length."""
    from readability_py_spark.operators.multimodal import parse_image_header

    soi = b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    # fill bytes (several) before SOF0
    jpg = soi + b"\xff\xff\xff" + _sof0(480, 640)
    assert parse_image_header(jpg) == ("image/jpeg", 640, 480)
    # SOS before any SOFn: walk must stop, not decode garbage
    sos = b"\xff\xda" + (12).to_bytes(2, "big") + b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    truncated = soi + sos + b"\x12\x34\x56\x78" * 4
    assert parse_image_header(truncated) is None
    # EOI terminates
    assert parse_image_header(soi + b"\xff\xd9" + b"\xff\xc0\xff\xff") is None
    # restart markers (standalone) are skipped without a length read
    jpg_rst = soi + b"\xff\xd0" + _sof0(7, 9)
    assert parse_image_header(jpg_rst) == ("image/jpeg", 9, 7)


def test_synth_jpeg_payload_parses(spark):
    """The synthesized JPEG arm (doc_id % 3 == 2) must round-trip
    through the real header parser with the doc_id-derived dims."""
    from readability_py_spark.operators.multimodal import (
        parse_image_header,
        synth_image_payloads,
    )

    rows = (
        synth_image_payloads(spark, SF_SMOKE)
        .filter(F.col("doc_id") % 3 == 2)
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:
        w = r["doc_id"] % 4093 + 1
        h = (r["doc_id"] * 7) % 2160 + 1
        assert parse_image_header(bytes(r["payload"])) == ("image/jpeg", w, h)
        assert len(bytes(r["payload"])) == 126


def test_gopher_lines_covers_both_sides(spark):
    """The synthesized newline corpus must exercise pass AND fail
    populations of both line rules (otherwise the thresholds are
    untested) and stay map-only apart from the test-scan repartition."""
    from readability_py_spark.operators.textstats import q_gopher_lines

    df = q_gopher_lines(spark, SF_SMOKE)
    agg = {
        (r["ok_bullet_lines"], r["ok_ellipsis_lines"]): r["cnt"]
        for r in df.groupBy("ok_bullet_lines", "ok_ellipsis_lines")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert any(k[0] is False for k in agg), agg
    assert any(k[0] is True for k in agg), agg
    assert any(k[1] is False for k in agg), agg
    assert any(k[1] is True for k in agg), agg
    plan = executed_plan(df)
    assert "hashpartitioning" not in plan.lower(), plan


def test_pipeline_gate_shape_and_collapse(spark):
    """The composed pipeline: (a) gates run BEFORE the dedup shuffle
    but ABOVE the scan-parallelizing round-robin (the gate is a
    Generate, which Catalyst cannot push into the single-split test
    scan the way it pushes a Filter), (b) the two synthesized
    spellings of a page collapse to one url_key when both crawls pass
    the gates."""
    from readability_py_spark.operators.pipeline import q_pipeline_gate

    df = q_pipeline_gate(spark, SF_SMOKE)
    plan = executed_plan(df)
    low = plan.lower()
    assert low.count("exchange hashpartitioning") == 1, plan
    assert low.count("exchange roundrobin") == 1, plan
    # tree prints top-down (shallower first): hash exchange, then the
    # gating Generate, then the round-robin exchange feeding it
    i_hash = low.index("exchange hashpartitioning")
    i_gen = low.index("generate")
    i_rr = low.index("exchange roundrobin")
    assert i_hash < i_gen < i_rr, plan
    rows = df.collect()
    cnts = {r["dup_cnt"] for r in rows}
    assert cnts <= {1, 2}, cnts  # ≤ 2 crawls per page by construction
    assert 2 in cnts  # some pair where both spellings survived
    assert 1 in cnts  # some pair where one crawl failed a gate
    for r in rows:
        assert r["norm_url"].startswith("http://site")
        assert "utm" not in r["norm_url"] and ":80" not in r["norm_url"]


def test_minhash_fast_identical_sets_share_signatures(spark):
    from readability_py_spark.operators.dedup import _band_signatures

    df = spark.createDataFrame(
        [(1, ["a b", "b c", "c d"]), (2, ["a b", "b c", "c d"]), (3, ["x y"])],
        "doc_id long, sh array<string>",
    )
    sig = _band_signatures(df, family="xxhash64")
    rows = sig.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["band_sig"]
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


def test_minhash_unknown_family_is_rejected(spark):
    """The hash family is one of two names; anything else raises
    instead of silently building md5 signatures."""
    from readability_py_spark.operators.dedup import _band_signatures

    df = spark.createDataFrame([(1, ["a b"])], "doc_id long, sh array<string>")
    with pytest.raises(ValueError, match="sha1"):
        _band_signatures(df, family="sha1")


def test_minhash_fast_lsh_pipeline_equivalence(spark):
    """The xxhash64 signature family must drive the identical LSH
    dedup pipeline to the same VERIFIED near-dup pairs as the md5
    family at test SF (the verify stage re-checks exact Jaccard, so
    equality holds as long as band recall covers the true pairs)."""
    from readability_py_spark.operators.dedup import (
        _band_signatures,
        _doc_tokens,
        _persist,
        _shingle_sets,
        minhash_lsh_dups_from,
        q_minhash_lsh_dups,
        release_caches,
    )

    md5_pairs = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in q_minhash_lsh_dups(spark, SF_SMOKE).collect()
    }
    release_caches()
    sh = _persist(_shingle_sets(_doc_tokens(spark, SF_SMOKE)))
    fast_sig = _persist(_band_signatures(sh, family="xxhash64"))
    fast_pairs = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_lsh_dups_from(fast_sig, sh).collect()
    }
    release_caches()
    assert fast_pairs == md5_pairs
    assert fast_pairs  # non-vacuous: the corpus has near-dups


def test_chardet_branch_gated(monkeypatch):
    """The reference's optional chardet fallback (readability.py:
    3031-3032) is now mirrored behind the same gated import: inert in
    this sandbox (chardet absent for BOTH engines, parity unaffected),
    active when the library is installed — exercised here via a fake
    module."""
    from readability_py_spark.core import encoding as enc

    data = "テスト".encode("shift-jis")  # invalid utf-8, no declaration
    assert enc._chardet is None  # sandbox: import really failed
    d0 = enc.SourceDecoder(data)
    # without detection the cascade lands on the cp1252 last resort
    assert d0.original_encoding == "windows-1252"

    class FakeChardet:
        @staticmethod
        def detect(b):
            assert isinstance(b, bytes)
            return {"encoding": "shift-jis"}

    monkeypatch.setattr(enc, "_chardet", FakeChardet)
    d1 = enc.SourceDecoder(data)
    assert d1.unicode == "テスト"
    assert d1.original_encoding == "shift-jis"


def test_frame_sample_plan(spark):
    """Video frame sampling plumbing: typed metadata in, (doc_id,
    frame_idx, ts_ms, frame binary) out; frame count = ceil(duration /
    every_ms); deterministic stub frames; only the 1x input shuffles."""
    import math

    from readability_py_spark.operators.multimodal import (
        frame_sample_plan,
        synth_video_payloads,
    )

    vids = synth_video_payloads(spark, SF_SMOKE)
    meta = {r["doc_id"]: r["duration_ms"] for r in vids.collect()}
    df = frame_sample_plan(vids, every_ms=700, num_partitions=4)
    rows = df.collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(meta)
    # fps-snapped semantics (advisor r4): each sample lands on the
    # decoder frame grid (synth fps = 25 → 40 ms frames); at
    # every_ms=700 > frame interval no samples collapse, so the count
    # is still ceil(duration / every_ms)
    fps = 25
    for doc_id, frames in by_doc.items():
        assert len(frames) == math.ceil(meta[doc_id] / 700)
        fr = sorted(frames, key=lambda f: f["frame_idx"])
        for k, f in enumerate(fr):
            assert f["frame_idx"] == (k * 700 * fps) // 1000
            assert f["ts_ms"] == f["frame_idx"] * 1000 // fps
            assert len(bytes(f["frame"])) == 16
    # deterministic across runs
    again = {(r["doc_id"], r["frame_idx"]): bytes(r["frame"]) for r in df.collect()}
    assert all(again[(r["doc_id"], r["frame_idx"])] == bytes(r["frame"]) for r in rows)
    # one doc_id hash exchange of the 1x input; nothing else moves
    # (AQE's final-plan dump may render the exchange with extra
    # wrapper nodes, so count the partitioning spec, not the word)
    plan = executed_plan(df).lower()
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    assert "singlepartition" not in plan, plan
    assert "roundrobin" not in plan, plan


def test_resize_dims(spark):
    from readability_py_spark.operators.multimodal import resize_dims

    df = spark.createDataFrame(
        [(448, 224), (224, 448), (100, 50), (1000, 10), (224, 224)],
        "w int, h int",
    )
    nw, nh = resize_dims(F.col("w"), F.col("h"))
    got = [(r[0], r[1]) for r in df.select(nw, nh).collect()]
    # fit into 224x224 preserving aspect; never upscale
    assert got == [(224, 112), (112, 224), (100, 50), (224, 2), (224, 224)]


def _winnow_py(text, k=8, w=4):
    """Independent reference implementation of winnowing (rightmost
    min per window) used to pin the SQL dialects."""
    import hashlib
    import re as _re

    norm = _re.sub(r"[^a-z0-9]+", "", text.lower())
    if len(norm) < k + w - 1:
        return []
    hs = [
        int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(norm) - k + 1)
    ]
    sel = []
    for i in range(len(hs) - w + 1):
        win = hs[i : i + w]
        mn = min(win)
        sel.append(hs[i + (w - 1 - win[::-1].index(mn))])
    return sorted(set(sel))


def test_winnow_fingerprint_semantics(spark):
    from readability_py_spark.operators.textstats import _winnow_sql

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "short",  # below k+w-1 after normalization → empty
        "aaaaaaaaaaaaaaaaaa",  # degenerate: all k-grams identical
        # shares a long substring with row 0 → guaranteed common print
        "PREFIX the quick brown fox jumps over SUFFIX",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    rows = {r["doc_id"]: list(r["fps"]) for r in spark.sql(_winnow_sql("spark")).collect()}
    for i, t in enumerate(texts):
        assert rows[i] == _winnow_py(t), f"doc {i}"
    # the winnowing guarantee: a shared substring of length >= k+w-1
    # yields at least one shared fingerprint
    assert set(rows[0]) & set(rows[4])


def test_kmeans_refine_invariants(spark):
    """One Lloyd step over the IVF centroids: every vector is assigned
    to exactly one cell (member counts across dims are consistent and
    sum to the corpus), dims cover 1..64, and the refined centroids
    are a genuine update (not the seeded literals)."""
    from readability_py_spark.operators.similarity import (
        DIM,
        IVF_CENTROIDS,
        q_kmeans_refine,
    )

    rows = q_kmeans_refine(spark, SF_SMOKE).collect()
    cells = {}
    for r in rows:
        cells.setdefault(r["cell"], {})[r["dim"]] = (r["centroid"], r["n_members"])
    n_vecs = 0
    for cell, dims in cells.items():
        assert set(dims) == set(range(1, DIM + 1))
        counts = {v[1] for v in dims.values()}
        assert len(counts) == 1  # same member count on every dim
        n_vecs += counts.pop()
    total = spark.read.parquet(SF_SMOKE + "/embeddings.parquet").count()
    assert n_vecs == total
    for cell, dims in cells.items():
        refined = [dims[d][0] for d in range(1, DIM + 1)]
        assert refined != [round(x, 4) for x in IVF_CENTROIDS[cell - 1]]


CONF_KEYS = [
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.session.timeZone",
]


def test_queries_do_not_mutate_session_conf(spark):
    """The driver runs queries() in ITS session; a query that mutates
    session conf (the round-2 dedup='agg' bug class) silently changes
    every later query's plan. Build each driver query and assert the
    watched conf keys are untouched."""
    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches

    q, _ = merged_queries(include_retired=True)
    before = {k: spark.conf.get(k, None) for k in CONF_KEYS}
    for name, fn in q.items():
        fn(spark, SF_SMOKE)  # building the plan must not touch conf
        after = {k: spark.conf.get(k, None) for k in CONF_KEYS}
        assert after == before, f"{name} mutated session conf: {after}"
        release_caches()


def test_normalize_url_edge_cases_duckdb_twin():
    """The DuckDB dialect must normalize the exact same strings to the
    exact same outputs — otherwise the oracle verifies bugs instead of
    catching them (the advisor-r3 failure mode)."""
    from readability_py_spark.operators.urls import _duck_normalize

    con = duckdb.connect()
    for raw, want in URL_CASES:
        lit = "'" + raw.replace("'", "''") + "'"
        got = con.execute(f"SELECT {_duck_normalize(lit)}").fetchone()[0]
        assert got == want, f"{raw!r}: duckdb gave {got!r}, want {want!r}"
    con.close()
