"""Arc90 readability extraction pipeline (byte-faithful port of the
reference's Readability class, /root/reference/readability.py:80-1239).

Pure Python 3, no Spark imports — this module runs inside Arrow batch
UDFs. Every scoring rule, regex, and quirk is reproduced, including:

- Python-2 floor division in scores (readability.py:662, 668, 896, 545,
  550) → ``//``
- the count-as-flags re.sub bug in page-number stripping
  (readability.py:1018: re.IGNORECASE passed as *count*)
- the mutating-list iteration in the body fallback (readability.py:698)
  and in head synthesis (readability.py:450-453, insert inside loop)
- deep structural equality for the sibling==top test (readability.py:724)
- %.12g float formatting for image sizes (py2 str(float))
- ASCII-only \\s semantics in all regexes except wordSplitRe, which the
  reference compiles with re.UNICODE (readability.py:51)
"""

from __future__ import annotations

import functools
import re
import urllib.parse
from html.entities import name2codepoint
from string import punctuation

from .parser import SoupParser, make_tag
from .tree import Comment, Element, TextNode, clone_tree
from .tree import mutation_epoch as _tree_epoch

_A = re.ASCII
_I = re.IGNORECASE

unlikelyCandidatesRe = re.compile(
    "combx|comment|community|disqus|extra|foot|header|menu|remark|meta|nav|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter",
    _I | _A,
)
okMaybeItsACandidateRe = re.compile("and|article|body|column|main|shadow", _I | _A)
positiveRe = re.compile(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story",
    _I | _A,
)
negativeRe = re.compile(
    "combx|comment|com-|contact|foot|footer|footnote|link|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget",
    _I | _A,
)
extraneousRe = re.compile(
    "print|archive|comment|discuss|e[\\-]?mail|share|reply|all|login|sign|single",
    _I | _A,
)
replaceBrsRe = re.compile(rb"(<br[^>]*>[ \n\r\t]*){2,}", _I | re.MULTILINE)
replaceBrsReStr = re.compile(r"(<br[^>]*>[ \n\r\t]*){2,}", _I | re.MULTILINE | _A)
trimRe = re.compile(r"^\s+|\s+$", re.MULTILINE | _A)
normalizeRe = re.compile(r"\s+", re.MULTILINE | _A)
killBreaksRe = re.compile(r"(<br\s*/?>(\s|&nbsp;?)*){1,}", re.MULTILINE | _A)
killMoreBreaksRe = re.compile(r"<br[^>]*>\s*<p", re.MULTILINE | _A)
videoRe = re.compile(r"(youtube|vimeo|blip|slideshare|brightcove)\.(com|tv|net)", _I | _A)
unknownRe = re.compile(r"\.( |$)", _A)
skipFootnoteLink = re.compile(
    r"^\s*(\[?[a-z0-9]{1,2}\]?|^|edit|citation needed)\s*$", _I | _A
)
nextLinkRe = re.compile("(next|weiter|continue|>([^\\|]|$)|»([^\\|]|$))", _I | _A)
prevLinkRe = re.compile("(prev|earl|old|new|<|«)", _I | _A)
# compiled with re.UNICODE in the reference (readability.py:51)
wordSplitRe = re.compile(r"(\s|&nbsp;|&#160;|&#xA0)+")

MARGIN_RATIO = {
    "margin-x-narrow": 0.95,
    "margin-narrow": 0.85,
    "margin-medium": 0.75,
    "margin-wide": 0.55,
    "margin-x-wide": 0.35,
}

DEFAULT_SETTINGS = {
    "footnote_links": False,
    "readable_links": False,
    "readable_footnote_links": False,
    "read_style": "style-athelas",
    "read_margin": "margin-medium",
    "read_size": "size-medium",
    "strip_unlike": True,
    "weight_classes": True,
    "clean_conditionally": True,
}

OUTPUT_BODY = """<html>
<body id='readabilityBody' class='%(read_style)s'>
<div id='readOverlay' class='%(read_style)s'>
  <div id='readInner' class='%(read_margin)s %(read_size)s'>
  </div>
</div>
</body>
</html>"""


@functools.lru_cache(maxsize=16)
def _parsed_output_body(markup: str) -> Element:
    """The output skeleton parsed once per settings rendering. Shared:
    never mutate it, clone it (a clone costs about a quarter of the
    parse)."""
    return SoupParser(markup).root


_fragment_re = re.compile("#.*$", _A)
_end_slash_re = re.compile("/$", _A)
_paginate_re = re.compile("pag(e|ing|inat)", _I | _A)
_ext_paginate_re = re.compile(r"p(a|g|ag)?(e|ing|ination)?(=|\/)[0-9]{1,2}", _I | _A)
_first_last_re = re.compile("(first|last)", _I | _A)
_page_number_re = re.compile("((_|-)?p[a-z]*|(_|-))[0-9]{1,2}$", _I | _A)
_page_number_re_cs = re.compile("((_|-)?p[a-z]*|(_|-))[0-9]{1,2}$", _A)
_digit_re = re.compile(r"\d", _A)
_unescape_re = re.compile(r"&#?\w+;", _A)


def _py2_floatstr(v: float) -> str:
    """py2 '%s' % float == str(float): 12-significant-digit 'g' format
    with '.0' appended to integral values (Py_DTSF_ADD_DOT_0)."""
    s = "%.12g" % v
    if "." not in s and "e" not in s and "n" not in s:
        s += ".0"
    return s


def unescape(text: str) -> str:
    # readability.py:1192-1212
    if "&" not in text:
        return text

    def fixup(m):
        t = m.group(0)
        if t[:2] == "&#":
            try:
                if t[:3] == "&#x":
                    return chr(int(t[3:-1], 16))
                return chr(int(t[2:-1]))
            except ValueError:
                pass
        else:
            try:
                return chr(name2codepoint[t[1:-1]])
            except KeyError:
                pass
        return t

    return _unescape_re.sub(fixup, text)


# Fast-path guard: if a string contains none of these, the MULTILINE
# trim regex degenerates to .strip(' ') and normalize to identity.
# All five control characters are non-printable, so isprintable()
# (a C loop, no regex call) skips the search for most strings.
_ws_ctl_re = re.compile(r"[\t\n\r\v\f]", _A)


def _needs_ws_regex(s: str) -> bool:
    return "  " in s or (not s.isprintable() and bool(_ws_ctl_re.search(s)))


def get_inner_text(node) -> str:
    # readability.py:1215-1233 with trimSpaces and normalizeSpaces on,
    # as every caller has them; Comments are NavigableStrings and so
    # contribute their text. Results for Elements are memoized against
    # the tree mutation epoch (pure optimization: the pipeline
    # recomputes inner text for unmutated nodes constantly).
    if not node:
        return ""
    is_element = isinstance(node, Element)
    if not is_element and isinstance(node, (TextNode, str)):
        text_content = str(node)
    else:
        cached = node._itext_cache
        if cached is not None and cached[0] == _tree_epoch():
            return cached[1]
        if len(node.contents) == 0:
            return ""
        text_content = " ".join([get_inner_text(t) for t in node.contents])
    if not _needs_ws_regex(text_content):
        # single-line, single-spaced: trim == strip(' '), normalize == id
        result = text_content.strip(" ")
    else:
        result = normalizeRe.sub(" ", trimRe.sub("", text_content))
    if is_element:
        node._itext_cache = (_tree_epoch(), result)
    return result


def clean_extraspaces(output: str) -> str:
    # readability.py:1236-1239
    output = killBreaksRe.sub("<br />", output)
    output = killMoreBreaksRe.sub("<p", output)
    return output


# _grab_article turns a div holding none of these into a <p>.
_DIV_BLOCK_TAGS = frozenset(
    ("a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")
)
# _prep_article keeps an empty <p> that holds one of these.
_MEDIA_TAGS = frozenset(("img", "embed", "object", "iframe"))
# _prepare_document's removals and rewrites.
_PREPARE_TAGS = frozenset(("script", "style", "link", "font", "textarea"))
# _prep_article's _clean passes, in their order.
_CLEAN_ORDER = ("form", "object", "h1", "iframe", "hr")
# _clean_conditionally's per-node counts and embeds.
_CONDITIONAL_TAGS = frozenset(("p", "img", "li", "input", "embed", "object"))


def nodes_by_name(root: Element, names) -> dict:
    """``{name: root.find_all(name)}`` for every name, from one walk.
    Valid wherever no mutation sits between the per-name walks it
    replaces."""
    found = {name: [] for name in names}
    for node in root.find_all(frozenset(names)):
        found[node.name].append(node)
    return found


def _is_under(node, root) -> bool:
    """Whether ``root`` is a proper ancestor of ``node``."""
    p = node.parent
    while p is not None:
        if p is root:
            return True
        p = p.parent
    return False


_APOLOGY = (
    "Sorry, readability was unable to parse this page for content. "
    "If you feel like it should have been able to, please "
    "<a href='http://code.google.com/p/arc90labs-readability/issues/entry'>"
    "let us know by submitting an issue.</a>"
)


class Arc90Document:
    """One document's extraction state (Readability object analogue)."""

    def __init__(self, content: bytes | str, url: str | None = None,
                 footnote_links: bool = False, **settings):
        self._conf = DEFAULT_SETTINGS.copy()
        self._conf.update(settings)
        self._conf["footnote_links"] = footnote_links
        self._conf["readable_footnote_links"] = (
            self._conf["footnote_links"] and self._conf["readable_footnote_links"]
        )
        self._url = url or ""
        if isinstance(content, bytes):
            self.content = replaceBrsRe.sub(b"</p><p>", content)
        else:
            self.content = replaceBrsReStr.sub("</p><p>", content)
        self._osoup = SoupParser(self.content).root
        self._fsoup = clone_tree(_parsed_output_body(OUTPUT_BODY % self._conf))
        self._articleBody = ""
        self._articleTitle = ""
        self._articleFootnotes: list[tuple[str, str]] = []
        # metrics (engine addition; not part of reference state)
        self.metrics = {
            "candidate_count": 0,
            "top_score": 0.0,
            "link_density": 0.0,
            "retries": 0,
        }

    # -- public outputs (readability.py:114-135) ----------------------
    def get_html(self, pretty_print: bool = False) -> str:
        """readability.py:114-120, comments removed — prettyPrint drives
        the BS3 indent machinery (the reference CLI's default output
        path is get_html(prettyPrint=True), readability.py:3278)."""
        for comment in self._fsoup.find_all(
            text=lambda t: isinstance(t, Comment)
        ):
            comment.extract()
        output = self._fsoup.render_contents(pretty_print)
        return clean_extraspaces(output)

    def get_doc(self):
        """Returns the output re-parsed as a soup copy — modifying it
        does not modify the real output (readability.py:122-126).

        The re-parse consumes utf-8 BYTES, not the unicode string: in
        the reference, renderContents returns utf-8 bytes and the
        fresh soup runs the full UnicodeDammit cascade on them — so
        when the output still carries the source document's meta
        charset (survives into the head when extraction keeps it),
        the re-parse re-detects THAT charset and re-decodes the utf-8
        output with it, mojibake and all (caught by golden
        encodings_tail_003: a late-declared iso-8859-2 page whose
        get_doc round-trip double-decodes)."""
        return SoupParser(self.get_html().encode("utf-8")).root

    def get_title(self) -> str:
        return self._articleTitle

    def get_article_body(self) -> str:
        if isinstance(self._articleBody, Element):
            return self._articleBody.render_contents()
        return ""

    def get_article_text(self) -> str:
        return get_inner_text(self._articleBody)

    def get_article_footnotes(self):
        return self._articleFootnotes

    # -- main flow (readability.py:137-217) ----------------------------
    def process_document(self) -> None:
        self._prepare_document()

        next_page_links = self._find_next_page_link()

        article_title = self._get_article_title()

        if self._osoup.find("body") is None:
            article_content = make_tag("p")
            article_content.set_string(_APOLOGY)
        else:
            article_content = self._grab_article()
            if (not article_content) or (
                len(get_inner_text(article_content)) == 0
            ):
                article_content = make_tag("p")
                article_content.set_string(_APOLOGY)
            else:
                if next_page_links:
                    pagesep = make_tag(
                        "p", attrs=[("class", "readability-page-separator")]
                    )
                    pagesep.set_string("&#167;")
                    article_content.append(pagesep)
                    continuation = make_tag(
                        "p", attrs=[("class", "readability-page-pagination")]
                    )
                    continuation.set_string("Continuation: ")
                    for idx, next_page in enumerate(next_page_links):
                        link = make_tag(
                            "a",
                            attrs=[
                                ("class", "readability-page-next"),
                                ("href", next_page["href"]),
                            ],
                        )
                        link.set_string("%s" % (idx + 2))
                        continuation.append(link)
                        continuation.append("&nbsp;")
                    article_content.append(continuation)

        self._articleBody = article_content

        div_inner = self._fsoup.find("div", attrs={"id": "readInner"})
        div_inner.append(article_title)
        div_inner.append(article_content)
        div_inner.append(self._get_article_footer(article_title))

        head = self._osoup.find("head")
        if not head:
            head = make_tag("head")
        screen_css = make_tag(
            "link",
            attrs=[
                ("rel", "stylesheet"),
                ("href", "http://lab.arc90.com/experiments/readability/css/readability.css"),
                ("type", "text/css"),
                ("media", "screen"),
            ],
        )
        print_css = make_tag(
            "link",
            attrs=[
                ("rel", "stylesheet"),
                ("href", "http://lab.arc90.com/experiments/readability/css/readability-print.css"),
                ("type", "text/css"),
                ("media", "print"),
            ],
        )
        inline_css = make_tag("style", attrs=[("type", "text/css")])
        inline_css.set_string(
            '.style-apertura{font-family:"apertura-1","apertura-2",sans-serif;}'
        )
        typekit_css = make_tag(
            "link",
            attrs=[
                ("rel", "stylesheet"),
                ("href", "http://use.typekit.com/v/bae8ybu-b.css?"),
                ("type", "text/css"),
            ],
        )
        typekit_js = make_tag(
            "script",
            attrs=[
                ("src", "http://use.typekit.com/bae8ybu.js"),
                ("type", "text/javascript"),
                ("charset", "UTF-8"),
            ],
        )
        self._fsoup.find("html").insert(0, head)
        head = self._fsoup.find("head")
        head.append(screen_css)
        head.append(print_css)
        head.append(inline_css)
        head.append(typekit_css)
        head.append(typekit_js)

        self._post_process_content()

    def _get_article_footer(self, title) -> Element:
        footer = make_tag("div", attrs=[("id", "readFooter")])
        if self._url:
            footer.set_string(
                "<div id='rdb-footer-print-'><cite><a href='%s'>%s</a></cite></div>"
                % (self._url, self._url)
            )
        return footer

    # -- post-processing (readability.py:232-436) -----------------------
    def _post_process_content(self) -> None:
        self._clean_class_attr()
        self._fix_lists()
        self._fix_links()
        if self._conf["footnote_links"]:
            self._add_footnotes()
        self._fix_image_floats()

    def _clean_class_attr(self) -> None:
        real_body = self._fsoup.find("div", attrs={"id": "readability-content"})
        if real_body:
            for e in real_body.find_all(True):
                cls = e.get("class")
                if cls is not None and cls.find("readability") == -1:
                    del e["class"]

    def _fix_lists(self) -> None:
        # readability.py:257-286
        for li in self._fsoup.find_all("li"):
            if li.parent and li.parent.name in ("ul", "ol"):
                continue
            ul = make_tag("ul")
            new_li = make_tag("li", attrs=li.attrs)
            for c in [c for c in li.contents]:
                new_li.append(c)
            ul.append(new_li)
            sibling = li.nextSibling
            siblings = []
            while sibling:
                if isinstance(sibling, TextNode) and not isinstance(
                    sibling, Element
                ):
                    if sibling.strip(" \n\r\t"):
                        nli = make_tag("li")
                        nli.string = sibling
                        siblings.append(nli)
                    sibling = sibling.nextSibling
                if isinstance(sibling, Element) and sibling.name == "li":
                    siblings.append(sibling)
                    sibling = sibling.nextSibling
                else:
                    break
            for s in siblings:
                ul.append(s)
            li.replaceWith(ul)

    def _fix_links(self) -> None:
        # readability.py:288-308
        if not self._url:
            return
        bits = urllib.parse.urlsplit(self._url)
        hostname = "%s://%s" % (bits[0], bits[1])
        rel_uri = self._url[: self._url.rfind("/") + 1]
        for link in self._fsoup.find_all("a"):
            if (
                (not link.get("href"))
                or (link.get("class") == "readability-DoNotFootnote")
                or skipFootnoteLink.match(get_inner_text(link))
            ):
                continue
            if link["href"].startswith("#"):
                continue
            if link["href"] == self._url:
                continue
            if link["href"].startswith("http://") or link["href"].startswith(
                "https://"
            ):
                continue
            elif link["href"].startswith("/"):
                link["href"] = hostname + link["href"]
            else:
                link["href"] = rel_uri + link["href"]

    def _add_footnotes(self) -> None:
        # readability.py:311-391; note find({'id': ...}) passes a dict
        # as the *name* argument, which never matches a tag name — so
        # the wrapper is always created fresh (bug preserved)
        footnotes_wrapper = self._fsoup.find({"id": "readability-footnotes"})
        article_footnotes = self._fsoup.find({"id": "readability-footnotes-list"})

        if not footnotes_wrapper:
            footnotes_wrapper = make_tag(
                "div",
                attrs=[("id", "readability-footnotes"), ("style", "display:none")],
            )
            footnotes_title = make_tag("h3")
            footnotes_title.set_string("References")
            footnotes_wrapper.append(footnotes_title)

            article_footnotes = make_tag(
                "ol", attrs=[("id", "readability-footnotes-list")]
            )
            footnotes_wrapper.append(article_footnotes)

            read_footer = self._fsoup.find("div", attrs={"id": "readFooter"})
            if read_footer:
                rf = read_footer
                parent = rf.parent
                read_footer.replaceWith(footnotes_wrapper)
                parent.append(rf)
            else:
                self._fsoup.find("div", attrs={"id": "readInner"}).append(
                    footnotes_wrapper
                )

        readable_links_uri = self._conf.get("service_uri")
        make_readable_links = (
            self._conf["readable_footnote_links"] and readable_links_uri
        )

        link_count = len(article_footnotes.find_all("li"))
        for link in self._fsoup.find_all("a"):
            if (
                (not link.get("href"))
                or (link.get("class") == "readability-DoNotFootnote")
                or skipFootnoteLink.match(get_inner_text(link))
            ):
                continue
            if link["href"].startswith("#"):
                continue
            if self._url and link["href"] == self._url:
                continue

            link_count += 1

            footnote = make_tag("li")
            if make_readable_links:
                url_bits = urllib.parse.urlparse(link["href"])
                footnote_link = make_tag(
                    "a",
                    attrs=[
                        ("href", readable_links_uri % urllib.parse.quote(link["href"])),
                        ("class", "readability-DoNotFootnote"),
                        ("name", "rfl-%s" % link_count),
                    ],
                )
                footnote_link.set_string("".join(url_bits[1:]))
                footnote.set_string(
                    "<small>%s</small> (<small><a href='%s'>%s</a></small>) "
                    "<small><a href='#readabilityLink-%s' title='Jump to Link in Article'>back &#8617;</a></small>"
                    % (footnote_link, link["href"], url_bits[1], link_count)
                )
            else:
                footnote_link = make_tag(
                    "a",
                    attrs=[
                        ("href", link.get("href")),
                        ("class", "readability-DoNotFootnote"),
                        ("name", "readabilityFootnoteLink-%s" % link_count),
                    ],
                )
                footnote_link.set_string(link["href"])
                footnote.set_string(
                    "<small>%s</small> <small>(<a href='#rl-%s' title='Jump to Link in Article'>back &#8617;</a>)</small> "
                    % (footnote_link, link_count)
                )

            self._articleFootnotes.append(
                (link["href"], str(footnote_link.string))
            )

            ref_link = make_tag(
                "a",
                attrs=[
                    ("href", "#rfl-%s" % link_count),
                    ("class", "readability-DoNotFootnote"),
                ],
            )
            ref_link.set_string("[%s]" % link_count)
            ref_link_sup = make_tag("sup")
            ref_link_sup.append(ref_link)

            repl_link = make_tag(
                "a", attrs=[("href", link["href"]), ("name", "rl-%s" % link_count)]
            )
            repl_link.set_string(get_inner_text(link))

            repl_elem = make_tag("span", attrs=[("class", "fnlnk")])
            repl_elem.append(repl_link)
            repl_elem.append(ref_link_sup)

            link.replaceWith(repl_elem)
            article_footnotes.append(footnote)

        if link_count > 0:
            footnotes_wrapper["style"] = "display:block;"

    def _fix_image_floats(self) -> None:
        # readability.py:393-419
        margin_ratio = MARGIN_RATIO[self._conf["read_margin"]]
        image_width_threshold = 800 * margin_ratio

        images = self._fsoup.find_all("img")
        if self._url:
            bits = urllib.parse.urlsplit(self._url)
            hostname = "%s://%s" % (bits[0], bits[1])
            rel_uri = self._url[: self._url.rfind("/") + 1]
            for img in images:
                img_src = img.get("src")
                if img_src is None or img_src.startswith("http"):
                    continue
                elif img_src.startswith("/"):
                    img["src"] = hostname + img_src
                else:
                    img["src"] = rel_uri + img_src

        for img in images:
            width = self._get_size(img.get("width"))
            height = self._get_size(img.get("height"))
            if width:
                if width >= image_width_threshold:
                    img["class"] = "blockImage readabilityImg %s" % img.get(
                        "class", ""
                    )
                    img["width"] = "%spx" % _py2_floatstr(width * margin_ratio)
                    if height:
                        img["height"] = "%spx" % _py2_floatstr(
                            height * margin_ratio
                        )
            else:
                img["style"] = "{max-width:%spx}" % _py2_floatstr(
                    800 * margin_ratio
                )

    @staticmethod
    def _get_size(dim):
        # readability.py:421-436
        if not dim:
            return None
        try:
            return int(dim)
        except ValueError:
            pass
        digits = []
        for c in dim:
            if c.isdigit():
                digits.append(c)
            else:
                break
        if digits:
            return int("".join(digits))
        return None

    # -- document preparation (readability.py:438-486) --------------------
    def _prepare_document(self) -> None:
        html_element = self._osoup.find("html")
        if not html_element:
            html_element = make_tag("html")
            elements = [t for t in self._osoup.find_all(True)]
            for el in elements:
                # moving ancestors first flattens nested tags — bug
                # preserved from readability.py:443-445
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
                # insert inside the loop: head only attached when at
                # least one element moved (readability.py:450-453)
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
            # an ancestor of <html> moved into the body would close a
            # cycle once the body joins <html> (e.g. <div><html>...)
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

        # One walk stands in for one find_all per name: script and
        # textarea hold only text, and whatever sits inside an already
        # extracted <style> is detached, so acting on it changes no
        # output.
        found = nodes_by_name(self._osoup, _PREPARE_TAGS)
        for script in found["script"]:
            script.extract()
        for style in found["style"]:
            style.extract()
        for link in found["link"]:
            if link.get("rel") == "stylesheet":
                link.extract()
        for font in found["font"]:
            self._replace_element(font, "span")
        for ta in found["textarea"]:
            if ta.string:
                ta.set_string(
                    str(ta.string).replace("<", "&lt;").replace(">", "&gt;")
                )

    def _replace_element(self, node: Element, new_name: str) -> None:
        # readability.py:987-991
        new_node = make_tag(new_name, attrs=node.attrs)
        for c in [c for c in node.contents]:
            new_node.append(c)
        node.replaceWith(new_node)

    # -- title extraction (readability.py:488-584) -------------------------
    def _get_article_title(self) -> Element:
        article_title = make_tag("h1")
        title_element = self._osoup.find("title")
        candidate_title = None
        if title_element:
            candidate_title = get_inner_text(title_element)
        else:
            h1s = self._osoup.find_all("h1")
            if h1s and len(h1s) == 1:
                candidate_title = get_inner_text(h1s[0])

        if not candidate_title:
            return article_title

        alt_candidate_title = wordSplitRe.sub(" ", unescape(candidate_title))
        title_words = {}
        for word in [
            w.strip(punctuation).lower()
            for w in alt_candidate_title.split()
            if len(w) > 3
        ]:
            title_words[word] = True

        possible_titles = {}
        h12s = self._osoup.find_all({"h1": True, "h2": True})
        if h12s:
            for tag in h12s:
                inner_text = get_inner_text(tag)
                score = 0.0
                common_words = 0
                words = [
                    w.strip(punctuation).lower()
                    for w in wordSplitRe.sub(" ", unescape(inner_text)).split()
                ]
                for word in words:
                    if word in title_words:
                        common_words += 1
                word_match_score = -5.0 + (
                    10.0 * common_words / len(title_words)
                )
                score += word_match_score
                links = tag.find_all("a")
                if len(links) > 1:
                    continue
                if len(links) == 1:
                    link = links[0]
                    if inner_text != get_inner_text(link):
                        continue
                    href = link.get("href")
                    if href and self._url:
                        if href == "/":
                            score -= 25
                        elif self._url.startswith(href) and len(href) < len(
                            self._url
                        ):
                            score -= 25
                        elif self._url.find(href) > -1:
                            score += 25
                attr = tag.get("id")
                if attr and attr.find("title") > -1:
                    score += 10 * len("title") // len(attr)
                attr = tag.get("class")
                if attr and attr.find("title") > -1:
                    bits = attr.split(" ")
                    for b in [b for b in bits if b.find("title") > -1]:
                        score += 5 * len("title") // len(b)
                possible_titles[inner_text] = (score, tag, word_match_score)

        if not len(possible_titles):
            if candidate_title:
                candidate_title = candidate_title.strip()
            article_title.set_string(candidate_title)
            self._articleTitle = candidate_title
            return article_title

        max_score = 0
        best_candidate = None
        for inner_text, scoret in possible_titles.items():
            if scoret[0] > max_score:
                best_candidate = inner_text
                max_score = scoret[0]

        if best_candidate:
            if (
                alt_candidate_title.find(
                    wordSplitRe.sub(" ", unescape(best_candidate))
                )
                > -1
            ):
                candidate_title = best_candidate
        if candidate_title:
            candidate_title = candidate_title.strip()

        article_title.set_string(candidate_title)
        self._articleTitle = candidate_title
        return article_title

    # -- article grab (readability.py:587-779) ------------------------------
    def _grab_article(self):
        def match_unlikely_candidates(node):
            if node.name == "body":
                return False
            unlikely = node.get("class", "") + node.get("id", "")
            return bool(
                unlikely
                and unlikelyCandidatesRe.search(unlikely)
                and not okMaybeItsACandidateRe.search(unlikely)
            )

        body = self._osoup.find("body")

        if self._conf["strip_unlike"]:
            unlikely = [
                n for n in body.find_all(True) if match_unlikely_candidates(n)
            ]
            for node in unlikely:
                node.extract()

        for node in body.find_all("div"):
            if node.find(_DIV_BLOCK_TAGS) is None:
                self._replace_element(node, "p")
            else:
                new_div = make_tag("div", attrs=node.attrs)
                for c in [c for c in node.contents]:
                    if isinstance(c, TextNode) and not isinstance(
                        c, Element
                    ) and c.strip(" \n\t\r"):
                        new_p = make_tag(
                            "p",
                            attrs=[
                                ("class", "readability-styled"),
                                ("style", "display:inline"),
                            ],
                        )
                        new_p.append(c)
                        new_div.append(new_p)
                    else:
                        new_div.append(c)
                node.replaceWith(new_div)

        candidates = []

        for paragraph in body.find_all(["p", "td", "pre"]):
            parent_node = paragraph.parent
            grand_parent_node = parent_node and parent_node.parent
            inner_text = get_inner_text(paragraph)

            if len(inner_text) < 25:
                continue

            if not getattr(parent_node, "readability", None):
                self._initialize_node(parent_node)
                candidates.append(parent_node)

            if not getattr(grand_parent_node, "readability", None):
                self._initialize_node(grand_parent_node)
                candidates.append(grand_parent_node)

            content_score = 0
            content_score += 1
            content_score += len(inner_text.split(","))
            content_score += min(len(inner_text) // 100, 3)

            parent_node.readability["contentScore"] += content_score
            if grand_parent_node:
                # py2 floor division (readability.py:668)
                grand_parent_node.readability["contentScore"] += (
                    content_score // 2
                )

        top_candidate = None
        for node in candidates:
            node.readability["contentScore"] = node.readability[
                "contentScore"
            ] * (1 - self._get_link_density(node))
            if (
                not top_candidate
                or node.readability["contentScore"]
                > top_candidate.readability["contentScore"]
            ):
                top_candidate = node

        if not top_candidate or top_candidate.name == "body":
            top_candidate = make_tag("div")
            # iterating the live contents list while append() extracts
            # from it — the every-other-element behavior is preserved
            # (readability.py:698-699)
            for c in body.contents:
                top_candidate.append(c)
            body.append(top_candidate)
            self._initialize_node(top_candidate)

        article_content = make_tag(
            "div", attrs=[("id", "readability-content")]
        )
        sibling_score_threshold = max(
            10, 0.2 * top_candidate.readability["contentScore"]
        )

        append_list = []
        for sibling in top_candidate.parent.contents:
            if not isinstance(sibling, Element):
                continue

            append = sibling == top_candidate  # deep equality, :724

            content_bonus = 0
            top_candidate_class = top_candidate.get("class", "")
            if top_candidate_class and top_candidate_class == sibling.get(
                "class", ""
            ):
                content_bonus += (
                    self._get_content_score(top_candidate) * 0.2
                )

            if (
                self._get_content_score(sibling) + content_bonus
                >= sibling_score_threshold
            ):
                append = True

            if sibling.name == "p":
                link_density = self._get_link_density(sibling)
                node_content = get_inner_text(sibling)
                node_length = len(node_content)

                if node_length > 80 and link_density < 0.25:
                    append = True
                elif (
                    node_length < 80
                    and link_density == 0
                    and unknownRe.search(node_content)
                ):
                    append = True

            if append:
                append_list.append(sibling)

        for n in append_list:
            article_content.append(n)

        self._prep_article(article_content)

        # engine metrics (side-band; not reference behavior)
        self.metrics["candidate_count"] = len(candidates)
        if top_candidate is not None and top_candidate.readability:
            self.metrics["top_score"] = float(
                top_candidate.readability["contentScore"]
            )
            self.metrics["link_density"] = float(
                self._get_link_density(top_candidate)
            )

        if len(get_inner_text(article_content)) < 250:
            # readability.py:762-777: drop one setting and start over
            for flag in ("strip_unlike", "weight_classes"):
                if self._conf[flag]:
                    self._conf[flag] = False
                    self.metrics["retries"] += 1
                    self._osoup = SoupParser(self.content).root
                    self._prepare_document()
                    return self._grab_article()
            # The reference's third retry drops clean_conditionally,
            # which nothing reads (_clean_conditionally runs regardless),
            # so starting over would repeat this pass exactly: count
            # the retry and keep this pass's result.
            if self._conf["clean_conditionally"]:
                self._conf["clean_conditionally"] = False
                self.metrics["retries"] += 1

        return article_content

    def _get_content_score(self, node):
        # readability.py:781-795
        result = "unknown"
        try:
            result = node.readability["contentScore"]
        except (KeyError, TypeError):
            pass
        if result == "unknown":
            result = 0
        return result

    # -- article cleanup (readability.py:797-923) ----------------------------
    def _prep_article(self, article_content: Element) -> None:
        self._clean_styles(article_content)

        self._clean(article_content)

        subtitles = article_content.find_all("h2")
        if len(subtitles) == 1:
            for s in subtitles:
                s.extract()

        for paragraph in article_content.find_all("p"):
            if (
                len(get_inner_text(paragraph)) == 0
                and paragraph.find(_MEDIA_TAGS) is None
            ):
                paragraph.extract()

        self._clean_conditionally(article_content, "table")
        self._clean_conditionally(article_content, "ul")
        self._clean_conditionally(article_content, "div")

        self._clean_left_behinds(article_content)

    def _clean_left_behinds(self, article_content: Element) -> None:
        # readability.py:827-840
        headers = article_content.find_all(["h2", "h3", "h4", "h5", "h6"])
        for h in headers:
            siblings = h.parent.contents
            after_header_count = 0
            for j in range(len(siblings) - 1, -1, -1):
                if isinstance(siblings[j], Element):
                    if h is siblings[j] or h == siblings[j]:
                        # reference uses ==; identity check first keeps
                        # deep-eq semantics while matching `h == siblings[j]`
                        break
                    if siblings[j].name != "br":
                        after_header_count += 1
            if after_header_count == 0:
                h.extract()

    def _clean_styles(self, node) -> None:
        # readability.py:843-848, without the recursion: deleting an
        # attribute touches only its own node, so one preorder walk of
        # the subtree gives the same result at any depth
        for c in node.find_all(True):
            if c.get("class", "") != "readability-styled" and c.has_attr(
                "style"
            ):
                del c["style"]

    def _clean(self, article_content: Element) -> None:
        # readability.py:850-855, run there once per tag of
        # _CLEAN_ORDER. One walk gathers every tag's nodes up front;
        # those still attached when a tag's turn comes are exactly
        # what find_all(tag) would return then, in the same order
        # (the passes only extract).
        found = nodes_by_name(article_content, _CLEAN_ORDER)
        for tag in _CLEAN_ORDER:
            is_embed = tag in ("object", "embed", "iframe")
            for c in [c for c in found[tag] if _is_under(c, article_content)]:
                if is_embed and videoRe.search(c.render()):
                    continue
                c.extract()

    def _clean_conditionally(self, article_content: Element, tag: str) -> None:
        # readability.py:857-923
        for node in article_content.find_all(tag):
            weight = self._get_class_weight(node)

            if weight < 0:
                node.extract()
            elif self._get_char_count(node) < 10:
                found = nodes_by_name(node, _CONDITIONAL_TAGS)
                p = len(found["p"])
                img = len(found["img"])
                li = len(found["li"]) - 100
                input_count = len(found["input"])

                embed_count = 0
                for embed in found["embed"] + found["object"]:
                    if not videoRe.search(embed.render()):
                        embed_count += 1

                link_density = self._get_link_density(node)
                content_length = len(get_inner_text(node))
                to_remove = False

                if img > p:
                    to_remove = True
                elif li > p and tag != "ul" and tag != "ol":
                    to_remove = True
                elif input_count > (p // 3):  # py2 int div (:896)
                    to_remove = True
                elif (content_length < 25) and (img == 0 or img > 2):
                    to_remove = True
                elif weight < 25 and link_density > 0.2:
                    to_remove = True
                elif weight >= 25 and link_density > 0.5:
                    to_remove = True
                elif (embed_count == 1 and content_length < 75) or (
                    embed_count > 1
                ):
                    to_remove = True

                if to_remove:
                    node.extract()

    def _get_char_count(self, node) -> int:
        return len(get_inner_text(node).split(","))

    def _get_link_density(self, node) -> float:
        # readability.py:929-939
        text_length = len(get_inner_text(node))
        link_length = 0
        for link in node.find_all("a"):
            link_length += len(get_inner_text(link))
        if text_length == 0:
            return 1
        return float(link_length) / text_length

    def _initialize_node(self, node) -> None:
        # readability.py:941-956
        node.readability = {"contentScore": 0}
        tag = node.name
        if tag == "div":
            node.readability["contentScore"] += 5
        elif tag in ("pre", "td", "blockquote"):
            node.readability["contentScore"] += 3
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            node.readability["contentScore"] -= 3
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            node.readability["contentScore"] -= 5
        node.readability["contentScore"] += self._get_class_weight(node)

    def _get_class_weight(self, node) -> int:
        # readability.py:959-982
        if not self._conf["weight_classes"]:
            return 0
        weight = 0
        class_name = node.get("class")
        if class_name:
            if negativeRe.search(class_name):
                weight -= 25
            if positiveRe.search(class_name):
                weight += 25
        node_id = node.get("id")
        if node_id:
            if negativeRe.search(node_id):
                weight -= 25
            if positiveRe.search(node_id):
                weight += 25
        return weight

    # -- pagination (readability.py:993-1180) ---------------------------------
    def _find_base_url(self):
        if not self._url:
            return None
        parts = urllib.parse.urlsplit(self._url)
        no_url_params = parts[2]
        url_slashes = no_url_params.split("/")
        url_slashes.reverse()
        cleaned_segments = []

        for idx, segment in enumerate(url_slashes):
            dot_idx = segment.rfind(".")
            if dot_idx > -1:
                possible_type = segment[dot_idx + 1 :]
                if not possible_type.isalpha():
                    segment = segment[:dot_idx]

            if segment.find(",00") > -1:
                segment = segment.replace(",00", "")

            if (idx == 1 or idx == 0) and _page_number_re.search(segment):
                # the reference passes re.IGNORECASE as the *count*
                # argument of re.sub (readability.py:1018), making the
                # substitution case-sensitive with count=2
                segment = _page_number_re_cs.sub("", segment, count=2)

            delete = False
            if idx < 2 and segment.isdigit():
                delete = True
            if idx == 0 and segment.lower() == "index":
                delete = True
            if (
                idx < 2
                and len(segment) < 3
                and (not url_slashes[0].isalpha())
            ):
                delete = True
            if not delete:
                cleaned_segments.append(segment)

        cleaned_segments.reverse()
        return "%s://%s%s" % (parts[0], parts[1], "/".join(cleaned_segments))

    def _find_next_page_link(self):
        all_links = self._osoup.find_all("a")
        article_base_url = self._find_base_url()
        possible_pages = {}

        hostname = rel_uri = None
        if article_base_url:
            bits = urllib.parse.urlsplit(article_base_url)
            hostname = "%s://%s" % (bits[0], bits[1])
            rel_uri = self._url[: self._url.rfind("/") + 1]

        for link in all_links:
            link_href = link.get("href")
            if not link_href:
                continue
            link_href = _fragment_re.sub("", link_href)
            link_href = _end_slash_re.sub("", link_href)
            if not link_href:
                continue

            # 'https//' typo preserved from readability.py:1069
            if link_href.startswith("http://") or link_href.startswith(
                "https//"
            ):
                pass
            else:
                if not article_base_url:
                    continue
                if link_href.startswith("/"):
                    link_href = hostname + link_href
                else:
                    link_href = rel_uri + link_href

            if (link_href == article_base_url) or (
                self._url and link_href == self._url
            ):
                continue

            if article_base_url and not link_href.startswith(hostname):
                continue

            link_text = get_inner_text(link)
            if extraneousRe.search(link_text) or len(link_text) > 25:
                continue

            if article_base_url:
                link_href_leftover = link_href.replace(article_base_url, "")
            else:
                link_href_leftover = link_href
            if not _digit_re.search(link_href_leftover):
                continue

            if link_href in possible_pages:
                possible_pages[link_href]["linkText"] += " | " + link_text
            else:
                possible_pages[link_href] = {
                    "score": 0,
                    "linkText": link_text,
                    "href": link_href,
                }

            link_obj = possible_pages[link_href]

            if article_base_url and link_href.find(article_base_url) == -1:
                link_obj["score"] -= 25

            link_data = (
                link_text
                + " "
                + link.get("class", "")
                + " "
                + link.get("id", "")
            )
            if nextLinkRe.search(link_data):
                link_obj["score"] += 50
            if _paginate_re.search(link_data):
                link_obj["score"] += 25
            if _first_last_re.search(link_data):
                if not nextLinkRe.search(link_obj["linkText"]):
                    link_obj["score"] -= 65
            if negativeRe.search(link_data) or extraneousRe.search(link_data):
                link_obj["score"] -= 50
            if prevLinkRe.search(link_data):
                link_obj["score"] -= 200

            parent_node = link.parent
            positive_match = False
            negative_match = False
            while parent_node:
                class_and_id = (
                    parent_node.get("class", "")
                    + " "
                    + parent_node.get("id", "")
                )
                if (
                    not positive_match
                    and class_and_id
                    and _paginate_re.search(class_and_id)
                ):
                    positive_match = True
                    link_obj["score"] += 25
                if (
                    not negative_match
                    and class_and_id
                    and negativeRe.search(class_and_id)
                ):
                    if not positiveRe.search(class_and_id):
                        link_obj["score"] -= 25
                        negative_match = True
                parent_node = parent_node.parent

            if _paginate_re.search(link_href) or _ext_paginate_re.search(
                link_href
            ):
                link_obj["score"] += 25
            if extraneousRe.search(link_href):
                link_obj["score"] -= 15

            try:
                link_text_as_number = int(link_text)
                if link_text_as_number == 1:
                    link_obj["score"] -= 10
                else:
                    link_obj["score"] += max(0, 10 - link_text_as_number)
            except ValueError:
                pass

        continuation_pages = [
            link_obj
            for href, link_obj in possible_pages.items()
            if link_obj["score"] >= 50
        ]
        if continuation_pages:
            # stable descending sort (py2 cmp=y-x → timsort stable)
            continuation_pages.sort(key=lambda x: -x["score"])
            return continuation_pages
        return []


def extract_document(
    content: bytes | str,
    url: str | None = None,
    include_render_extras: bool = False,
    **settings,
) -> dict:
    """One-call extraction: returns the golden-comparable outputs plus
    engine metrics. Exceptions propagate (the batch wrapper records
    parse_ok=False rows).

    include_render_extras adds the full-page renders — the plain
    get_html, the prettyPrint render and the get_doc round-trip
    (readability.py:114-126) — opt-in because the corpus pipeline's
    hot path emits none of them (the plain render alone is ~10% of a
    document's extraction time)."""
    doc = Arc90Document(content, url=url, **settings)
    doc.process_document()
    out = {
        "title": doc.get_title(),
        "article_html": doc.get_article_body(),
        "article_text": doc.get_article_text(),
        "footnotes": doc.get_article_footnotes(),
        "metrics": doc.metrics,
    }
    if include_render_extras:
        # same call order as the oracle runner: plain render first,
        # then pretty (comments already removed), then get_doc
        out["full_html"] = doc.get_html()
        out["pretty_html"] = doc.get_html(pretty_print=True)
        out["docrender_html"] = doc.get_doc().render_contents()
    return out
