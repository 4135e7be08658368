"""Directional find API (findNext/findPrevious/… readability.py:1507-1579)
— differential check of the derived next/previous document-order chains
against the python2 reference's parse chains on the same markup."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from .conftest import python2_oracle_missing

HTML = (
    "<html><head><title>T</title></head><body>"
    "<div id='a'><p class='x'>one <b>bold</b> two</p><p>three</p></div>"
    "<div id='b'><span>four</span><p class='x'>five</p>"
    "<ul><li>six</li><li>seven</li></ul></div>"
    "<p>tail</p></body></html>"
)

PY2_SCRIPT = r"""
import json, sys
sys.path.insert(0, '/root/reference')
from readability import ICantBelieveItsBeautifulSoup, Tag, NavigableString

soup = ICantBelieveItsBeautifulSoup(%r)

def label(n):
    if n is None:
        return None
    if isinstance(n, Tag):
        return 'tag:' + n.name
    return 'txt:' + unicode(n)

from readability import SoupStrainer
import re
start = soup.find('b')
out = {
    'strainer_name_attrs': [label(x) for x in soup.findAll(SoupStrainer('p', {'class': 'x'}))],
    'strainer_css': [label(x) for x in soup.findAll(SoupStrainer('p', 'x'))],
    'strainer_regex': [label(x) for x in soup.findAll(SoupStrainer(re.compile('^(ul|li)$')))],
    'strainer_directional': label(start.findNext(SoupStrainer('p', {'class': 'x'}))),
    'next_chain': [label(x) for x in start.findAllNext(True)],
    'prev_chain': [label(x) for x in soup.find('ul').findAllPrevious(True)],
    'next_sib': label(soup.find('span').findNextSibling('p')),
    'prev_sib': label(soup.findAll('p')[-1].findPreviousSibling(True)),
    'next_p_x': label(start.findNext('p', {'class': 'x'})),
    'prev_text': label(soup.find('ul').findPrevious(text=True)),
    'parents': [label(x) for x in soup.find('li').findParents(True)],
    'parent_div': label(soup.find('li').findParent('div')),
}
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def oracle():
    reason = python2_oracle_missing()
    if reason:
        pytest.skip(reason)
    env = dict(os.environ)
    env["PYENV_VERSION"] = "2.7.18"
    proc = subprocess.run(
        ["python2", "-c", PY2_SCRIPT % HTML],
        capture_output=True,
        env=env,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout)


def _label(n):
    from readability_py_spark.core.tree import Element

    if n is None:
        return None
    if isinstance(n, Element):
        return "tag:" + n.name
    return "txt:" + str(n)


def test_directional_finds_match_reference(oracle):
    from readability_py_spark.core.parser import SoupParser

    import re

    from readability_py_spark.core.tree import SoupStrainer

    root = SoupParser(HTML).root
    start = root.find("b")
    got = {
        "strainer_name_attrs": [
            _label(x) for x in root.find_all(SoupStrainer("p", {"class": "x"}))
        ],
        "strainer_css": [_label(x) for x in root.find_all(SoupStrainer("p", "x"))],
        "strainer_regex": [
            _label(x) for x in root.find_all(SoupStrainer(re.compile("^(ul|li)$")))
        ],
        "strainer_directional": _label(
            start.find_next(SoupStrainer("p", {"class": "x"}))
        ),
        "next_chain": [_label(x) for x in start.find_all_next(True)],
        "prev_chain": [_label(x) for x in root.find("ul").find_all_previous(True)],
        "next_sib": _label(root.find("span").find_next_sibling("p")),
        "prev_sib": _label(root.find_all("p")[-1].find_previous_sibling(True)),
        "next_p_x": _label(start.find_next("p", {"class": "x"})),
        "prev_text": _label(root.find("ul").find_previous(text=True)),
        "parents": [_label(x) for x in root.find("li").find_parents(True)],
        "parent_div": _label(root.find("li").find_parent("div")),
    }
    assert got == oracle


def test_camelcase_aliases():
    from readability_py_spark.core.parser import SoupParser

    root = SoupParser(HTML).root
    b = root.find("b")
    assert b.findNext("p") is b.find_next("p")
    assert b.findParent("div") is b.find_parent("div")
    assert root.find("span").findNextSiblings(True) == root.find(
        "span"
    ).find_next_siblings(True)
