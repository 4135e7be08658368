"""Measurement-tooling tests: the scaling harness's target table, its
parent loop and record writer (no Spark), one spark-submit level, and
the guard that every tool has a reader."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import scaling  # noqa: E402


def _record_pair(name: str) -> dict:
    with open(os.path.join(REPO, scaling.TARGETS[name].record)) as fh:
        rec = json.load(fh)
    return rec["pairs"][name] if "pairs" in rec else rec


@pytest.mark.parametrize(
    "name, pinned",
    [
        ("extract", {"docs", "buckets"}),
        ("extract_skew", {"docs", "oversize_every", "arrow_batch", "buckets"}),
        ("minhash_lsh_capped", {"replicas"}),
        ("minhash_lsh_capped_fast", {"replicas"}),
        ("events_asof_join", {"replicas"}),
    ],
)
def test_target_table_matches_records(name, pinned):
    """Each row's corpus constants are the ones its record was measured
    on, and the record compares equal to a pair on that corpus."""
    pair = _record_pair(name)
    rec = scaling.recorded_corpus(pair)
    table = scaling.TARGETS[name].corpus
    assert rec.keys() & table.keys() == pinned
    assert all(str(rec[k]) == str(table[k]) for k in pinned)
    assert scaling._pair_levels(pair) == ["local8", "local32"]
    if name == "extract":  # scaling.json was written without a corpus field
        assert pair["local8"]["input_rows"] == 240_000
        assert pair["local8"]["partitions"] == 128
    if "replicas" in table:  # sf0.1 documents: 5,000 rows; events: 100,000
        size, base = ("rows", 100_000) if name == "events_asof_join" else ("docs", 5000)
        assert rec[size] == base * table["replicas"]
    assert scaling.comparable(pair, pair)


def _level(n: int, rate: str = "docs_per_sec", steal=0.0) -> dict:
    return {"label": f"local{n}", "cores": n, "wall_sec": 1.0 if steal <= 1 else None,
            "steal_pct": steal, "rep_steal_pct": [steal], rate: 100.0 * n}


def _pair(lo: int, hi: int, eff: float, corpus: dict, name: str = "extract") -> dict:
    rate = next(iter(scaling.TARGETS[name].rates))
    return {"query": name, f"local{lo}": _level(lo, rate), f"local{hi}": _level(hi, rate),
            "scaling_efficiency": eff, "method": scaling.METHOD, "corpus": corpus}


def _history(root) -> list[dict]:
    return [json.loads(l) for l in (root / "scaling_history.jsonl").read_text().splitlines()]


def test_history_append_shared_log(tmp_path, monkeypatch):
    """Every attempt lands in the history log: each level, its steal
    rejection, and the pair."""
    monkeypatch.setattr(scaling, "REPO", str(tmp_path))
    monkeypatch.setattr(scaling, "build_zip", lambda: None)
    monkeypatch.setattr(scaling, "levels", lambda: (1, 4))
    monkeypatch.setattr(scaling, "RETRY_SLEEP_SEC", 0)
    corpus = {"input": "/x", **scaling.TARGETS["extract"].corpus}
    runs = iter([_level(4, steal=3.0), _level(4), _level(1)])
    monkeypatch.setattr(scaling, "submit", lambda *a: {**next(runs), "corpus": corpus})
    pair = scaling.hunt("extract", scaling.TARGETS["extract"].corpus)
    assert pair["scaling_efficiency"] == 1.0 and pair["corpus"] == corpus
    assert "corpus" not in pair["local1"] and "corpus" not in pair["local4"]
    assert scaling.record("extract", pair)
    lines = _history(tmp_path)
    assert [l["event"] for l in lines] == ["run", "steal_reject", "run", "run", "pair"]
    assert [l.get("label") for l in lines[:4]] == ["local4", "local4", "local4", "local1"]
    assert all("ts" in l and l["target"] == "extract" for l in lines)


def test_record_only_appends_to_bench_md(tmp_path, monkeypatch):
    monkeypatch.setattr(scaling, "REPO", str(tmp_path))
    earlier = "# BENCH\n\n" + "earlier section\n" * 4000
    (tmp_path / "BENCH.md").write_text(earlier)
    corpus = {"input": "/x", **scaling.TARGETS["extract"].corpus}
    for eff in (0.5, 0.7, 0.6):
        scaling.record("extract", _pair(8, 32, eff, corpus))
        assert (tmp_path / "BENCH.md").read_text().startswith(earlier)
    text = (tmp_path / "BENCH.md").read_text()
    assert text.count("## Scaling pair: `extract`") == 2  # 0.6 kept the 0.7 record
    assert json.loads((tmp_path / "scaling.json").read_text())["scaling_efficiency"] == 0.7


def test_record_replaces_only_a_comparable_pair(tmp_path, monkeypatch):
    monkeypatch.setattr(scaling, "REPO", str(tmp_path))
    corpus = {"input": "/x", **scaling.TARGETS["extract_skew"].corpus}
    assert scaling.record("extract_skew", _pair(8, 32, 0.5, corpus, "extract_skew"))
    kept = (tmp_path / "scaling_skew.json").read_bytes()
    other_levels = _pair(1, 4, 0.99, corpus, "extract_skew")
    other_corpus = _pair(8, 32, 0.99, {**corpus, "docs": 1000}, "extract_skew")
    assert not scaling.record("extract_skew", other_levels)
    assert not scaling.record("extract_skew", other_corpus)
    assert (tmp_path / "scaling_skew.json").read_bytes() == kept
    assert scaling.record("extract_skew", _pair(8, 32, 0.9, {**corpus, "input": "/y"}, "extract_skew"))
    # a record file shared by two targets keeps one pair per target
    docs = {"input": "/d", "docs": 320_000, "replicas": 64}
    assert scaling.record("minhash_lsh_capped", _pair(8, 32, 0.4, docs, "minhash_lsh_capped"))
    fast = {"input": "/f", "docs": 1_280_000, "replicas": 256}
    assert scaling.record("minhash_lsh_capped_fast", _pair(8, 32, 0.8, fast, "minhash_lsh_capped_fast"))
    book = json.loads((tmp_path / "dedup_scaling.json").read_text())
    assert sorted(book["pairs"]) == ["minhash_lsh_capped", "minhash_lsh_capped_fast"]
    assert len(_history(tmp_path)) == 6


def test_scaling_level_smoke():
    """One extract level through spark-submit --py-files at local[1] on
    200 pages (the corpus shrunk through the level hand-off)."""
    scaling.build_zip()
    corpus = {**scaling.TARGETS["extract"].corpus, "docs": 200, "buckets": 4}
    t0 = time.monotonic()
    proc = subprocess.run(
        ["spark-submit", "--master", "local[1]", "--driver-memory", "1g",
         "--py-files", scaling.ZIP, os.path.join(REPO, "tools", "scaling.py"),
         "--level", json.dumps({"target": "extract", "corpus": corpus})],
        capture_output=True, text=True, timeout=180,
    )
    elapsed = time.monotonic() - t0
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stderr[-3000:]
    out = json.loads(lines[-1])
    assert out["label"] == "local1" and out["cores"] == 1
    assert out["input_rows"] == 200 and 0 < out["extracted_docs"] <= 200
    assert out["partitions"] == 4 and out["parse_errors"] == 0
    assert len(out["rep_walls"]) == len(out["rep_steal_pct"]) == scaling.TIMED_REPS
    assert out["corpus"]["docs"] == 200 and out["corpus"]["input"].endswith("_b4")
    if out["wall_sec"] is not None:
        assert out["docs_per_sec"] == round(out["extracted_docs"] / out["wall_sec"], 2)
    assert elapsed <= 60, elapsed


def test_oversize_generator_deterministic():
    from readability_py_spark.sources.fixtures import (
        _oversized_html,
        generate_page_row,
    )

    a = _oversized_html(2000)
    assert a == _oversized_html(2000)
    assert 1_000_000 <= len(a) <= 2_100_000
    # oversize_every replaces only multiples of N, and the default path
    # is unchanged (corpus stability)
    plain = generate_page_row(7)
    assert generate_page_row(7, oversize_every=2000)["html"] == plain["html"]
    big = generate_page_row(4000, oversize_every=2000)
    assert len(big["html"]) >= 1_000_000
    assert big["url"] == generate_page_row(4000)["url"]


def test_every_tool_is_named_in_a_test_or_doc():
    """A script under tools/ that no test, README.md, CLAUDE.md or the
    verify skill names has no reader who knows to run it."""
    docs = [os.path.join(REPO, "README.md"), os.path.join(REPO, "CLAUDE.md"),
            os.path.join(REPO, ".claude", "skills", "verify", "SKILL.md")]
    tests = os.path.join(REPO, "tests")
    docs += [os.path.join(tests, f) for f in os.listdir(tests) if f.endswith(".py")]
    text = "".join(open(p).read() for p in docs if os.path.exists(p))
    tools = sorted(f for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py"))
    orphans = [f for f in tools if f not in text]
    assert not orphans, orphans
