"""One-document CLI parity: `python -m readability_py_spark <file>`
must print byte-identical get_html(prettyPrint=True) output to the
reference CLI entry point (readability.py:3264-3279) run under
python2 with the same hardcoded settings."""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys

import pytest

from .conftest import python2_oracle_missing

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS = os.path.join(REPO, "tests", "fixtures", "goldens.jsonl")

_PY2_SNIPPET = r"""
import sys
sys.path.insert(0, '/root/reference')
from readability import Readability
html = open(sys.argv[1], 'rb').read()
r = Readability(html, url=sys.argv[2], footnote_links=True,
                readable_links=True,
                service_uri='http://ahrefs.appspot.com/g?u=%s',
                read_margin='margin-wide')
r.process_document()
out = r.get_html(prettyPrint=True)
if isinstance(out, unicode):
    out = out.encode('utf-8')
sys.stdout.write(out)
if not out.endswith('\n'):
    sys.stdout.write('\n')
"""


def _sample_fixtures(k_families: int = 4):
    """First fixture of the first k distinct families."""
    seen: dict[str, dict] = {}
    with open(GOLDENS) as fh:
        for line in fh:
            rec = json.loads(line)
            fam = rec["id"].rsplit("_", 1)[0]
            if fam not in seen:
                seen[fam] = rec
            if len(seen) >= k_families:
                break
    return list(seen.values())


ORACLE_MISSING = python2_oracle_missing()


@pytest.mark.skipif(ORACLE_MISSING is not None, reason=str(ORACLE_MISSING))
@pytest.mark.parametrize(
    "rec", _sample_fixtures(), ids=lambda r: r["id"]
)
def test_cli_matches_reference_cli(rec, tmp_path):
    html = base64.b64decode(rec["html_b64"])
    url = rec.get("url") or "http://example.com/x"
    page = tmp_path / "page.html"
    page.write_bytes(html)

    ours = subprocess.run(
        [sys.executable, "-m", "readability_py_spark", str(page), "--url", url],
        capture_output=True,
        cwd=REPO,
        timeout=120,
    )
    assert ours.returncode == 0, ours.stderr.decode()[:1000]

    theirs = subprocess.run(
        ["python2", "-", str(page), url],
        input=_PY2_SNIPPET.encode(),
        capture_output=True,
        env={**os.environ, "PYENV_VERSION": "2.7.18"},
        timeout=120,
    )
    assert theirs.returncode == 0, theirs.stderr.decode()[:1000]
    assert ours.stdout == theirs.stdout


def test_cli_text_mode(tmp_path):
    page = tmp_path / "p.html"
    page.write_bytes(
        b"<html><head><title>T</title></head><body><div><p>"
        b"Alpha beta, gamma, delta, epsilon zeta, eta theta, continues "
        b"with plenty of commas, words, and sentences for scoring."
        b"</p><p>Second paragraph, also long enough, with commas, to "
        b"be kept by the conditional cleaner in all cases.</p></div>"
        b"</body></html>"
    )
    out = subprocess.run(
        [sys.executable, "-m", "readability_py_spark", str(page), "--text"],
        capture_output=True,
        cwd=REPO,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()[:1000]
    assert b"Alpha beta" in out.stdout
    assert b"<p>" not in out.stdout
