"""Byte-identity gate: every fixture's extraction must equal the
python2 reference oracle's output byte-for-byte (BASELINE.json
input_hint: 'byte-identical extracted text per url')."""

from __future__ import annotations

import base64
import json
import os

import pytest

GOLDENS = os.path.join(os.path.dirname(__file__), "fixtures", "goldens.jsonl")


def _load():
    if not os.path.exists(GOLDENS):
        return []
    with open(GOLDENS) as fh:
        return [json.loads(line) for line in fh if line.strip()]


CASES = _load()


@pytest.mark.skipif(not CASES, reason="goldens not generated")
@pytest.mark.parametrize("case", CASES, ids=[c["id"] for c in CASES])
def test_byte_identity(case):
    from readability_py_spark.core.arc90 import extract_document

    html = base64.b64decode(case["html_b64"])
    if not case["ok"]:
        pytest.skip(f"oracle errored: {case.get('error')}")
    result = extract_document(
        html, url=case["url"], include_render_extras=True, **case["settings"]
    )
    assert result["title"].encode("utf-8") == base64.b64decode(
        case["title_b64"]
    ), "title mismatch"
    assert result["article_text"].encode("utf-8") == base64.b64decode(
        case["text_b64"]
    ), "article_text mismatch"
    assert result["article_html"].encode("utf-8") == base64.b64decode(
        case["body_b64"]
    ), "article_html mismatch"
    got_footnotes = [
        [
            base64.b64encode(h.encode("utf-8")).decode(),
            base64.b64encode(t.encode("utf-8")).decode(),
        ]
        for h, t in result["footnotes"]
    ]
    assert got_footnotes == case["footnotes"], "footnotes mismatch"
    assert result["full_html"].encode("utf-8") == base64.b64decode(
        case["full_b64"]
    ), "full_html mismatch"
    if "pretty_b64" in case:
        assert result["pretty_html"].encode("utf-8") == base64.b64decode(
            case["pretty_b64"]
        ), "pretty_html mismatch"
    if "docrender_b64" in case:
        assert result["docrender_html"].encode("utf-8") == base64.b64decode(
            case["docrender_b64"]
        ), "get_doc round-trip mismatch"


@pytest.mark.skipif(not CASES, reason="goldens not generated")
def test_hot_path_call_matches_render_extras_call():
    """The UDF's call (no render extras) must emit exactly what the
    render-extras call emits for every field the UDF reads, and must
    not render the full page."""
    from readability_py_spark.core.arc90 import extract_document

    fields = ("title", "article_html", "article_text", "footnotes", "metrics")
    for case in CASES:
        html = base64.b64decode(case["html_b64"])
        hot = extract_document(html, url=case["url"], **case["settings"])
        full = extract_document(
            html, url=case["url"], include_render_extras=True, **case["settings"]
        )
        assert "full_html" not in hot, case["id"]
        assert {k: hot[k] for k in fields} == {k: full[k] for k in fields}, case["id"]


def test_corpus_covers_all_families():
    families = {c["family"] for c in CASES}
    assert len(families) >= 15, families


def test_clean_conditionally_setting_is_unread():
    """The retry cascade's last step drops clean_conditionally and keeps
    the pass it has instead of starting over; that is only sound while
    no code reads the setting. Extracting with it off must give every
    output of the default call, over the goldens and the mixed pages.
    Only the retry count may differ: the default call counts the
    dropped setting as one more retry."""
    from perfbench.corpus import mixed_rows
    from readability_py_spark.core.arc90 import extract_document

    pages = [
        (base64.b64decode(c["html_b64"]), c["url"], c["settings"]) for c in CASES
    ] + [(r["html"], r["url"], {}) for r in mixed_rows(1200, seed=1) if r["lang"]]
    assert len(pages) >= 1165 + len(CASES)
    for html, url, settings in pages:
        default = extract_document(html, url=url, **settings)
        off = extract_document(html, url=url, **settings, clean_conditionally=False)
        for res in (default, off):
            res["metrics"] = dict(res["metrics"])
        retries = default["metrics"].pop("retries"), off["metrics"].pop("retries")
        assert default == off, url
        assert retries[0] - retries[1] == (retries[0] == 3), url
