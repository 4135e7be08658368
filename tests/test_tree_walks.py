"""Differential tests for the extractor's cheaper tree walks.

Each fast walk is checked against the slower code it replaced, on
random trees: ``Element.find``'s fast path against ``find_all``, the
one-walk name buckets against one ``find_all`` per name, the plain-list
filters against ``find_all``'s generic matcher, the whitespace guard
against the regex it replaced, the one-walk ``_clean`` against one
``find_all`` per tag, and the bucketed ``_prepare_document``
against the one-``find_all``-per-name version, pinned below as the
oracle.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from readability_py_spark.core.arc90 import (
    Arc90Document,
    _needs_ws_regex,
    make_tag,
    nodes_by_name,
    videoRe,
)
from readability_py_spark.core.tree import Element, TextNode

NAMES = ["div", "p", "a", "img", "li", "span", "id", "style", "font"]
ATTR_KEYS = ["id", "class", "src", "rel"]
ATTR_VALUES = ["x", "y", "", "stylesheet"]

tree_spec = st.recursive(
    st.text(alphabet="ab \n", max_size=3),
    lambda children: st.tuples(
        st.sampled_from(NAMES),
        st.lists(
            st.tuples(st.sampled_from(ATTR_KEYS), st.sampled_from(ATTR_VALUES)),
            max_size=3,
        ),
        st.lists(children, max_size=4),
    ),
    max_leaves=40,
)


def _build(spec, parent):
    if isinstance(spec, str):
        parent.append(TextNode(spec))
        return
    name, attrs, children = spec
    node = Element(name, attrs)
    parent.append(node)
    for c in children:
        _build(c, node)


def _tree(specs) -> Element:
    root = Element("[document]")
    root.hidden = True
    for s in specs:
        _build(s, root)
    return root


def _same(xs, ys) -> bool:
    return len(xs) == len(ys) and all(a is b for a, b in zip(xs, ys))


def _preorder(node) -> list:
    """Every node under ``node`` in document order, recursively: the
    reference for the iterative walks."""
    out = []
    for c in node.contents:
        out.append(c)
        if isinstance(c, Element):
            out.extend(_preorder(c))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(tree_spec, max_size=4))
def test_walks_are_document_order(specs):
    root = _tree(specs)
    everything = _preorder(root)
    elements = [n for n in everything if isinstance(n, Element)]
    assert _same(root.find_all(True), elements)
    assert _same(root.find_all("div"), [e for e in elements if e.name == "div"])
    assert _same(root.find_all(lambda n: True), elements)
    texts = [n for n in everything if isinstance(n, TextNode)]
    assert _same(root.find_all(text=lambda t: True), texts)


name_shape = st.one_of(
    st.sampled_from(NAMES),
    st.lists(st.sampled_from(NAMES), max_size=3),
    st.lists(st.sampled_from(NAMES), max_size=3).map(tuple),
    st.sets(st.sampled_from(NAMES), max_size=3),
    st.frozensets(st.sampled_from(NAMES), max_size=3),
    # dict-as-name: matches a tag *named* like one of its keys
    st.dictionaries(st.sampled_from(NAMES), st.just(True), max_size=2),
)
attrs_shape = st.one_of(
    st.none(),
    st.dictionaries(
        st.sampled_from(ATTR_KEYS),
        st.one_of(st.sampled_from(ATTR_VALUES), st.just(True)),
        max_size=2,
    ),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(tree_spec, max_size=4), name_shape, attrs_shape)
def test_find_is_first_of_find_all(specs, name, attrs):
    root = _tree(specs)
    expected = (root.find_all(name, attrs) or [None])[0]
    assert root.find(name, attrs) is expected
    for node in root.find_all(True):
        assert node.find(name, attrs) is (node.find_all(name, attrs) or [None])[0]


@settings(max_examples=200, deadline=None)
@given(st.lists(tree_spec, max_size=4), st.sets(st.sampled_from(NAMES), min_size=1))
def test_name_buckets_equal_per_name_find_all(specs, names):
    root = _tree(specs)
    found = nodes_by_name(root, frozenset(names))
    for name in names:
        assert _same(found[name], root.find_all(name))


@settings(max_examples=200, deadline=None)
@given(st.lists(tree_spec, max_size=4))
def test_list_filters_equal_generic_matcher(specs):
    root = _tree(specs)
    everything = root.find_all(True)
    assert _same(
        [e for e in everything if e.get("class") is not None],
        root.find_all(attrs={"class": True}),
    )
    assert _same(
        [e for e in root.find_all("img") if e.get("src") is not None],
        root.find_all("img", attrs={"src": True}),
    )

    def has_x_id(node):
        return node.get("id") == "x"

    assert _same([e for e in everything if has_x_id(e)], root.find_all(has_x_id))


CLEAN_NAMES = ["div", "p", "a", "form", "object", "h1", "iframe", "hr"]
article_spec = st.recursive(
    st.text(alphabet="ab ,", max_size=3),
    lambda children: st.tuples(
        st.sampled_from(CLEAN_NAMES),
        st.lists(
            st.sampled_from([("src", "http://youtube.com/v"), ("id", "x")]),
            max_size=1,
        ),
        st.lists(children, max_size=4),
    ),
    max_leaves=40,
)


def _sequential_clean(article: Element) -> None:
    """The five ``_clean`` passes as one find_all per tag: the oracle."""
    for tag in ("form", "object", "h1", "iframe", "hr"):
        is_embed = tag in ("object", "embed", "iframe")
        for c in article.find_all(tag):
            if is_embed and videoRe.search(c.render()):
                continue
            c.extract()


@settings(max_examples=300, deadline=None)
@given(st.lists(article_spec, max_size=4))
def test_clean_passes_equal_one_find_all_per_tag(specs):
    """Equal on every node the article held, including the ones the
    passes detach: _grab_article reads the top candidate's link
    density after _prep_article, even when a pass extracted it."""
    new, old = make_tag("div"), make_tag("div")
    for s in specs:
        _build(s, new)
        _build(s, old)
    new_nodes, old_nodes = new.find_all(True), old.find_all(True)
    Arc90Document("<html></html>")._clean(new)
    _sequential_clean(old)
    assert new.render() == old.render()
    assert [n.render() for n in new_nodes] == [n.render() for n in old_nodes]


_old_ws_re = re.compile(r"[\t\n\r\v\f]|  ", re.ASCII)


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=" a\t\n\r\v\f\x00\x1c\x85\xa0 　é", max_size=12))
def test_whitespace_guard_equals_regex(s):
    assert _needs_ws_regex(s) == bool(_old_ws_re.search(s))


def test_clean_styles_deep_chain_keeps_styled_nodes():
    """Deleting ``style`` is local to each node, so the walk needs no
    recursion; 5,000 levels is far past the interpreter's limit."""
    root = make_tag("div")
    node = root
    for i in range(5000):
        if i % 2:
            child = make_tag("b", attrs=[("style", "color:red")])
        else:
            child = make_tag(
                "b",
                attrs=[("class", "readability-styled"), ("style", "display:inline")],
            )
        node.append(child)
        node = child
    Arc90Document("<html></html>")._clean_styles(root)
    chain = root.find_all(True)
    assert len(chain) == 5000
    for e in chain:
        if e.get("class") == "readability-styled":
            assert e.get("style") == "display:inline"
        else:
            assert not e.has_attr("style")


class _SequentialPrepare(Arc90Document):
    """``_prepare_document`` with one whole-tree ``find_all`` per name,
    as it was before the bucketed walk: the oracle for it."""

    def _prepare_document(self) -> None:
        html_element = self._osoup.find("html")
        if not html_element:
            html_element = make_tag("html")
            elements = [t for t in self._osoup.find_all(True)]
            for el in elements:
                html_element.append(el)
            self._osoup.insert(0, html_element)
        head_element = self._osoup.find("head")
        if not head_element:
            head_element = make_tag("head")
            elements = [
                t
                for t in self._osoup.find_all(True)
                if t.name in ("title", "meta", "link")
            ]
            for el in elements:
                head_element.append(el)
                html_element.insert(0, head_element)

        bodies = self._osoup.find_all("body")
        if len(bodies) > 1:
            final_body = bodies[0]
            for b in bodies[1:]:
                for c in [c for c in b.contents]:
                    final_body.append(c)
                b.extract()
        elif len(bodies) == 0:
            body = make_tag("body")
            above = set(map(id, html_element.parents()))
            elements = [
                t
                for t in self._osoup.find_all(True)
                if t.name not in ("html", "head", "title", "meta", "link")
                and id(t) not in above
            ]
            for el in elements:
                body.append(el)
            html_element.append(body)
        self._osoup.find("body")["id"] = "readabilityBody"

        for script in self._osoup.find_all("script"):
            script.extract()
        for style in self._osoup.find_all("style"):
            style.extract()
        for link in self._osoup.find_all("link", attrs={"rel": "stylesheet"}):
            link.extract()
        for font in self._osoup.find_all("font"):
            self._replace_element(font, "span")
        for ta in self._osoup.find_all("textarea"):
            if ta.string:
                ta.set_string(
                    str(ta.string).replace("<", "&lt;").replace(">", "&gt;")
                )


def _outcome(doc: Arc90Document, prepare_only: bool):
    """What a document yields, or the exception type it raises (some
    pages fail in both versions, e.g. one with no reachable <body>)."""
    try:
        if prepare_only:
            doc._prepare_document()
            return doc._osoup.render()
        doc.process_document()
    except Exception as e:  # noqa: BLE001 - the raised type is the outcome
        return type(e)
    return {
        "title": doc.get_title(),
        "article_html": doc.get_article_body(),
        "article_text": doc.get_article_text(),
        "footnotes": doc.get_article_footnotes(),
        "metrics": doc.metrics,
        "full_html": doc.get_html(),
    }


def _assert_prepare_matches_oracle(html: str) -> None:
    for prepare_only in (True, False):
        assert _outcome(Arc90Document(html), prepare_only) == _outcome(
            _SequentialPrepare(html), prepare_only
        )


STYLE_PAGE = (
    "<html><head><title>Style holds elements</title>"
    "<style>p{}<font color=red>in style</font>"
    '<link rel="stylesheet" href="/in-style.css">'
    "<textarea>a<b>c</textarea><script>x()</script>"
    "<style><font>nested</font></style></style></head><body>"
    '<div class="content"><p>' + "Words, words, words, and more words. " * 12
    + "</p><font face=serif>kept as span</font>"
    '<link rel="stylesheet" href="/body.css"><link rel="next" href="/2">'
    "<textarea>x<y></textarea></div></body></html>"
)


def test_prepare_document_matches_sequential_on_style_contents():
    _assert_prepare_matches_oracle(STYLE_PAGE)
    doc = Arc90Document(STYLE_PAGE)
    doc._prepare_document()
    out = doc._osoup.render()
    assert "<style" not in out and "<font" not in out
    assert 'href="/body.css"' not in out and 'rel="next"' in out
    assert "x&lt;y&gt;" in out


page_part = st.sampled_from(
    [
        "<style>", "</style>", "<font>", "</font>", "<script>s</script>",
        '<link rel="stylesheet" href="a.css">', '<link rel="alternate">',
        "<textarea>t<u></textarea>", "<div>", "</div>", "<p>", "</p>",
        "Some sentence, with commas, long enough to score. ",
        "<body>", "</body>", "<html>", "<head>", "<title>T</title>",
    ]
)


@settings(max_examples=150, deadline=None)
@given(st.lists(page_part, max_size=30))
def test_prepare_document_matches_sequential_on_random_pages(parts):
    _assert_prepare_matches_oracle("".join(parts))



def _own_ancestor(node) -> bool:
    """Whether walking up from ``node`` comes back to a node already
    passed, ``node`` itself included: a cycle at or above it."""
    seen = {id(node)}
    for p in node.parents():
        if id(p) in seen:
            return True
        seen.add(id(p))
    return False


@settings(max_examples=150, deadline=None)
@given(st.lists(page_part, max_size=30))
def test_prepare_document_leaves_no_cycle(parts):
    """No node is its own ancestor after ``_prepare_document``, on
    pages whose <html> sits inside another element too (the new <body>
    must not take an ancestor of the <html> it joins)."""
    doc = Arc90Document("".join(parts))
    nodes = [doc._osoup, *doc._osoup.find_all(True)]
    doc._prepare_document()
    nodes += doc._osoup.find_all(True)
    assert not any(_own_ancestor(n) for n in nodes)
