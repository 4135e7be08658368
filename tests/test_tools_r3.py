"""Round-3 measurement-tooling tests (no Spark needed): the probe
anchor's code fingerprint and the shared scaling history log."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_core_fingerprint_keys_on_core_content(tmp_path, monkeypatch):
    import paired_scaling as ps

    fp1 = ps._core_fingerprint()
    fp2 = ps._core_fingerprint()
    assert fp1 == fp2 and len(fp1) == 16

    # anchor with a matching fingerprint loads; a stale one is ignored
    anchor = tmp_path / "probe_best.json"
    monkeypatch.setattr(ps, "PROBE_ANCHOR", str(anchor))
    ps._save_probe_anchor(712.5)
    assert ps._load_probe_anchor() == 712.5
    data = json.loads(anchor.read_text())
    data["code_fingerprint"] = "0" * 16  # simulate a core change
    anchor.write_text(json.dumps(data))
    assert ps._load_probe_anchor() == 0.0


def test_history_append_shared_log(tmp_path, monkeypatch):
    import scaling_bench as sb

    monkeypatch.setattr(sb, "REPO", str(tmp_path))
    sb._history_append({"event": "probe_reject", "probe": 500.0})
    sb._history_append({"event": "run", "label": "local8", "docs_per_sec": 1.0})
    lines = [
        json.loads(l)
        for l in (tmp_path / "scaling_history.jsonl").read_text().splitlines()
    ]
    assert [l["event"] for l in lines] == ["probe_reject", "run"]
    assert all("ts" in l for l in lines)


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
