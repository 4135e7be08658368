"""HTML tokenizer + tree builder with the exact semantics the reference
relies on.

The reference parses with a vendored BeautifulSoup 3.2 on top of the
Python-2 stdlib ``sgmllib`` tokenizer (readability.py:1326,
2279-2900). Byte-identical extraction requires reproducing that whole
stack's observable behavior: tokenization quirks, entity normalization,
whitespace collapsing, nesting repair, quote-tag literal mode, and the
meta-charset restart. This is a clean-room Python-3 implementation: the
tokenizer is a single one-shot scan (the reference only ever feeds the
whole document once and never calls close(), so trailing incomplete
constructs are dropped — sgmllib.goahead leftovers), and the tree
builder keeps an explicit open-tag stack with the ICantBelieveIts
nesting tables (readability.py:2764-2811, 2891-2900).

All regexes are compiled with re.ASCII where the py2 originals operated
on unicode without re.UNICODE (py2's default is ASCII classes).
"""

from __future__ import annotations

import re
from html.entities import name2codepoint

from .encoding import SourceDecoder
from .tree import (
    CData,
    Comment,
    Declaration,
    Element,
    ProcessingInstruction,
    TextNode,
)

# ---------------------------------------------------------------------------
# Tokenizer regexes (sgmllib, with BS's tagfind override readability.py:1342)
# ---------------------------------------------------------------------------

_A = re.ASCII
interesting = re.compile("[&<]", _A)
incomplete = re.compile(
    "&([a-zA-Z][a-zA-Z0-9]*|#[0-9]*)?|"
    "<([a-zA-Z][^<>]*|"
    "/([a-zA-Z][^<>]*)?|"
    "![^<>]*)?",
    _A,
)
entityref = re.compile("&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]", _A)
charref = re.compile("&#([0-9]+)[^0-9]", _A)
starttagopen = re.compile("<[>a-zA-Z]", _A)
shorttagopen = re.compile("<[a-zA-Z][-.a-zA-Z0-9]*/", _A)
shorttag = re.compile("<([a-zA-Z][-.a-zA-Z0-9]*)/([^/]*)/", _A)
piclose = re.compile(">", _A)
endbracket = re.compile("[<>]", _A)
tagfind = re.compile("[a-zA-Z][-_.:a-zA-Z0-9]*", _A)
attrfind = re.compile(
    r"\s*([a-zA-Z_][-:.a-zA-Z_0-9]*)(\s*=\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|[][\-a-zA-Z0-9./,:;+*%?!&$\(\)_#=~\'\"@]*))?",
    _A,
)
entity_or_charref = re.compile(
    "&(?:([a-zA-Z][-.a-zA-Z0-9]*)|#([0-9]+))(;?)", _A
)

# markupbase declaration scanners (with BS's _declname override :1343)
_declname_match = re.compile(r"[a-zA-Z][-_.:a-zA-Z0-9]*\s*", _A).match
_declstringlit_match = re.compile(r"(\'[^\']*\'|\"[^\"]*\")\s*", _A).match
_commentclose = re.compile(r"--\s*>", _A)
_markedsectionclose = re.compile(r"]\s*]\s*>", _A)
_msmarkedsectionclose = re.compile(r"]\s*>", _A)

# Tag-construction-time attr entity conversion (readability.py:1797-1802)
_attr_entity_re = re.compile(r"&(#\d+|#x[0-9a-fA-F]+|\w+);", _A)

XML_ENTITIES = {"apos": "'", "quot": '"', "amp": "&", "lt": "<", "gt": ">"}
SGML_ENTITYDEFS = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}

# ---------------------------------------------------------------------------
# HTML knowledge tables (readability.py:2764-2811, ICBIBS :2891-2900)
# ---------------------------------------------------------------------------

SELF_CLOSING_TAGS = frozenset(
    ("br", "hr", "input", "img", "meta", "spacer", "link", "frame", "base", "col")
)
PRESERVE_WHITESPACE_TAGS = frozenset(("pre", "textarea"))
QUOTE_TAGS = frozenset(("script", "textarea"))

_NESTABLE_INLINE = ("span", "font", "q", "object", "bdo", "sub", "sup", "center")
_NESTABLE_BLOCK = ("blockquote", "div", "fieldset", "ins", "del")
_NESTABLE_LIST = {
    "ol": [],
    "ul": [],
    "li": ["ul", "ol"],
    "dl": [],
    "dd": ["dl"],
    "dt": ["dl"],
}
_NESTABLE_TABLE = {
    "table": [],
    "tr": ["table", "tbody", "tfoot", "thead"],
    "td": ["tr"],
    "th": ["tr"],
    "thead": ["table"],
    "tbody": ["table"],
    "tfoot": ["table"],
}
_NON_NESTABLE_BLOCK = ("address", "form", "p", "pre")
_ICBI_INLINE = (
    "em", "big", "i", "small", "tt", "abbr", "acronym", "strong",
    "cite", "code", "dfn", "kbd", "samp", "var", "b",
)

NESTABLE_TAGS: dict[str, list] = {}
for _t in _NESTABLE_INLINE + _NESTABLE_BLOCK + _ICBI_INLINE + ("noscript",):
    NESTABLE_TAGS[_t] = []
NESTABLE_TAGS.update(_NESTABLE_LIST)
NESTABLE_TAGS.update(_NESTABLE_TABLE)

RESET_NESTING_TAGS = frozenset(
    _NESTABLE_BLOCK
    + ("noscript",)
    + _NON_NESTABLE_BLOCK
    + tuple(_NESTABLE_LIST)
    + tuple(_NESTABLE_TABLE)
)

ROOT_TAG_NAME = "[document]"

MARKUP_MASSAGE = [
    (re.compile("(<[^<>]*)/>", _A), lambda m: m.group(1) + " />"),
    (re.compile("<!\\s+([^<>]*)>", _A), lambda m: "<!" + m.group(1) + ">"),
]

CHARSET_RE = re.compile("((^|;)\\s*charset=)([^;]*)", re.M | _A)

STRIP_ASCII_SPACES = {9: None, 10: None, 12: None, 13: None, 32: None}


class _Restart(Exception):
    """Raised when a mid-parse <meta charset> requires a re-decode
    (StopParsing analogue, readability.py:2863)."""

    def __init__(self, encoding):
        self.encoding = encoding


def _convert_attr_entity(m: re.Match) -> str:
    # Tag.__init__ conversion with convertEntities=None
    # (readability.py:1750-1773): only numeric refs decode; all named
    # refs (incl. XML specials) pass through.
    x = m.group(1)
    if x in XML_ENTITIES:
        return "&%s;" % x
    if x and x[0] == "#":
        if len(x) > 1 and x[1] == "x":
            return chr(int(x[2:], 16))
        return chr(int(x[1:]))
    return "&%s;" % x


def make_tag(name: str, attrs=()) -> Element:
    """Tag constructor (readability.py:1775-1802), for parsed and
    pipeline-built tags alike: converts numeric entities in attr
    values and flags self-closing names."""
    converted = [
        (
            k,
            _attr_entity_re.sub(_convert_attr_entity, v)
            if isinstance(v, str) and "&" in v
            else v,
        )
        for k, v in attrs
    ]
    return Element(name, converted, self_closing=name in SELF_CLOSING_TAGS)


def _convert_ref_in_attr_value(m: re.Match) -> str:
    # sgmllib's attr-value substitution (sgmllib parse_starttag +
    # SGMLParser._convert_ref): named via entitydefs, numeric only for
    # ASCII 0-127 (BeautifulStoneSoup.convert_charref,
    # readability.py:2392-2400).
    name, digits, semi = m.group(1), m.group(2), m.group(3)
    if digits:
        n = int(digits)
        if 0 <= n <= 127:
            return chr(n)
        return "&#%s%s" % (digits, semi)
    if semi:
        return SGML_ENTITYDEFS.get(name) or "&%s;" % name
    return "&%s" % name


class SoupParser:
    """Parses one document: decode → massage → tokenize/build, with
    the meta-charset restart loop (readability.py:2382-2390,
    2816-2861)."""

    def __init__(self, markup: bytes | str):
        self.original_markup = markup
        self.root: Element | None = None
        self.original_encoding: str | None = None
        self.declared_html_encoding: str | None = None
        # sgmllib's _decl_otherchars: '=' allowed in non-doctype
        # declarations until the first DOCTYPE sets it to '' — the
        # mutation persists for the instance's lifetime (sgmllib:219,
        # markupbase parse_declaration), incl. across charset restarts
        self.decl_otherchars = "="
        self._parse_document()

    # -- top-level driver -------------------------------------------
    def _parse_document(self) -> None:
        in_document_encoding = None
        first_pass = True
        for _attempt in range(100):
            markup = self.original_markup
            if isinstance(markup, str):
                self.original_encoding = None
            else:
                dammit = SourceDecoder(markup, [in_document_encoding])
                markup = dammit.unicode
                self.original_encoding = dammit.original_encoding
                self.declared_html_encoding = dammit.declared_html_encoding
            if markup and first_pass:
                # massage runs only on the first pass: the reference
                # deletes markupMassage after use and the attribute
                # lookup then falls through to a tree find() that
                # returns None (readability.py:2426, 2435-2444)
                for fix, repl in MARKUP_MASSAGE:
                    markup = fix.sub(repl, markup)
            first_pass = False
            self._reset()
            try:
                self._goahead(markup or "")
                self._end_data()
                while self.current_tag.name != ROOT_TAG_NAME:
                    self._pop_tag()
                return
            except _Restart as r:
                in_document_encoding = r.encoding
                continue
        # pathological restart loop: keep the last successful state

    # -- builder state -----------------------------------------------
    def _reset(self) -> None:
        self.root = Element(ROOT_TAG_NAME)
        self.root.hidden = True
        self.tag_stack: list[Element] = []
        self.quote_stack: list[str] = []
        self.current_data: list[str] = []
        self.current_tag: Element | None = None
        self.literal = 0
        self.lasttag = "???"
        self.sgml_stack: list[str] = []  # sgmllib's own method-dispatch stack
        self._push_tag(self.root)

    def _push_tag(self, tag: Element) -> None:
        if self.current_tag is not None:
            self.current_tag.contents.append(tag)
            tag.parent = self.current_tag
        self.tag_stack.append(tag)
        self.current_tag = tag

    def _pop_tag(self) -> Element:
        self.tag_stack.pop()
        if self.tag_stack:
            self.current_tag = self.tag_stack[-1]
        return self.current_tag

    # -- data handling (readability.py:2479-2499) ---------------------
    def _handle_data(self, data: str) -> None:
        self.current_data.append(data)

    def _end_data(self, container=TextNode) -> None:
        if not self.current_data:
            return
        current_data = "".join(self.current_data)
        if current_data.translate(STRIP_ASCII_SPACES) == "" and not (
            {t.name for t in self.tag_stack} & PRESERVE_WHITESPACE_TAGS
        ):
            current_data = "\n" if "\n" in current_data else " "
        self.current_data = []
        o = container(current_data)
        o.parent = self.current_tag
        self.current_tag.contents.append(o)

    def _string_subclass(self, text: str, subclass) -> None:
        self._end_data()
        self._handle_data(text)
        self._end_data(subclass)

    # -- nesting repair (readability.py:2502-2568) ---------------------
    def _pop_to_tag(self, name: str, inclusive: bool = True):
        if name == ROOT_TAG_NAME:
            return None
        num_pops = 0
        most_recent = None
        for i in range(len(self.tag_stack) - 1, 0, -1):
            if name == self.tag_stack[i].name:
                num_pops = len(self.tag_stack) - i
                break
        if not inclusive:
            num_pops -= 1
        for _ in range(num_pops):
            most_recent = self._pop_tag()
        return most_recent

    def _smart_pop(self, name: str) -> None:
        nesting_reset_triggers = NESTABLE_TAGS.get(name)
        is_nestable = nesting_reset_triggers is not None
        is_reset_nesting = name in RESET_NESTING_TAGS
        pop_to = None
        inclusive = True
        for i in range(len(self.tag_stack) - 1, 0, -1):
            p = self.tag_stack[i]
            if (not p or p.name == name) and not is_nestable:
                pop_to = name
                break
            if (
                nesting_reset_triggers is not None
                and p.name in nesting_reset_triggers
            ) or (
                nesting_reset_triggers is None
                and is_reset_nesting
                and p.name in RESET_NESTING_TAGS
            ):
                pop_to = p.name
                inclusive = False
                break
        if pop_to:
            self._pop_to_tag(pop_to, inclusive)

    # -- tag events ----------------------------------------------------
    def _unknown_starttag(self, name, attrs, self_closing=0):
        if self.quote_stack:
            # not a real tag inside script/textarea; reconstruct
            # normalized (readability.py:2572-2577)
            attr_text = "".join(' %s="%s"' % (k, v) for k, v in attrs)
            self._handle_data("<%s%s>" % (name, attr_text))
            return None
        self._end_data()
        if name not in SELF_CLOSING_TAGS and not self_closing:
            self._smart_pop(name)
        tag = make_tag(name, attrs)
        self._push_tag(tag)
        if self_closing or name in SELF_CLOSING_TAGS:
            self._pop_tag()
        if name in QUOTE_TAGS:
            self.quote_stack.append(name)
            self.literal = 1
        return tag

    def _unknown_endtag(self, name):
        if self.quote_stack and self.quote_stack[-1] != name:
            self._handle_data("</%s>" % name)
            return
        self._end_data()
        self._pop_to_tag(name)
        if self.quote_stack and self.quote_stack[-1] == name:
            self.quote_stack.pop()
            self.literal = len(self.quote_stack) > 0

    # -- meta charset (readability.py:2816-2861) -------------------------
    def _start_meta(self, attrs) -> None:
        http_equiv = None
        content_type = None
        content_type_index = None
        needs_substitution = False
        attrs = list(attrs)
        for i, (key, value) in enumerate(attrs):
            key = key.lower()
            if key == "http-equiv":
                http_equiv = value
            elif key == "content":
                content_type = value
                content_type_index = i
        if http_equiv and content_type:
            match = CHARSET_RE.search(content_type)
            if match:
                if (
                    self.declared_html_encoding is not None
                    or self.original_encoding is None
                ):
                    new_attr = CHARSET_RE.sub(
                        lambda m: m.group(1) + "%SOUP-ENCODING%", content_type
                    )
                    attrs[content_type_index] = (
                        attrs[content_type_index][0],
                        new_attr,
                    )
                    needs_substitution = True
                else:
                    new_charset = match.group(3)
                    if new_charset and new_charset != self.original_encoding:
                        self.declared_html_encoding = new_charset
                        raise _Restart(new_charset)
        tag = self._unknown_starttag("meta", attrs)
        if tag is not None and needs_substitution:
            tag.contains_substitutions = True

    # -- entity/charref in data -------------------------------------------
    def _handle_charref(self, ref: str) -> None:
        # convertEntities=None → keep as entity text with ';' normalized
        # (readability.py:2635-2641)
        self._handle_data("&#%s;" % ref)

    def _handle_entityref(self, ref: str) -> None:
        # convertEntities=None → '&name;' (readability.py:2643-2684)
        self._handle_data("&%s;" % ref)

    # -- the goahead tokenizer loop (sgmllib.goahead, one-shot) -------------
    def _goahead(self, rawdata: str) -> None:
        self.rawdata = rawdata
        i, n = 0, len(rawdata)
        while i < n:
            match = interesting.search(rawdata, i)
            j = match.start() if match else n
            if i < j:
                self._handle_data(rawdata[i:j])
            i = j
            if i == n:
                break
            if rawdata[i] == "<":
                if starttagopen.match(rawdata, i):
                    if self.literal:
                        self._handle_data(rawdata[i])
                        i += 1
                        continue
                    k = self._parse_starttag(i)
                    if k < 0:
                        break
                    i = k
                    continue
                if rawdata.startswith("</", i):
                    k = self._parse_endtag(i)
                    if k < 0:
                        break
                    i = k
                    self.literal = 0
                    continue
                if self.literal:
                    if n > (i + 1):
                        self._handle_data("<")
                        i += 1
                    else:
                        break
                    continue
                if rawdata.startswith("<!--", i):
                    k = self._parse_comment(i)
                    if k < 0:
                        break
                    i = k
                    continue
                if rawdata.startswith("<?", i):
                    k = self._parse_pi(i)
                    if k < 0:
                        break
                    i = i + k
                    continue
                if rawdata.startswith("<!", i):
                    k = self._parse_declaration(i)
                    if k < 0:
                        break
                    i = k
                    continue
            elif rawdata[i] == "&":
                if self.literal:
                    self._handle_data(rawdata[i])
                    i += 1
                    continue
                match = charref.match(rawdata, i)
                if match:
                    name = match.group(1)
                    self._handle_charref(name)
                    i = match.end(0)
                    if rawdata[i - 1] != ";":
                        i -= 1
                    continue
                match = entityref.match(rawdata, i)
                if match:
                    name = match.group(1)
                    self._handle_entityref(name)
                    i = match.end(0)
                    if rawdata[i - 1] != ";":
                        i -= 1
                    continue
            # incomplete construct
            match = incomplete.match(rawdata, i)
            if not match:
                self._handle_data(rawdata[i])
                i += 1
                continue
            j = match.end(0)
            if j == n:
                break  # really incomplete: dropped (no close() call)
            self._handle_data(rawdata[i:j])
            i = j
        # trailing unparsed data dropped, matching feed-without-close

    # -- tag token parsing (sgmllib) ---------------------------------------
    def _parse_starttag(self, i: int) -> int:
        rawdata = self.rawdata
        if shorttagopen.match(rawdata, i):
            match = shorttag.match(rawdata, i)
            if not match:
                return -1
            tag, data = match.group(1, 2)
            tag = tag.lower()
            k = match.end(0)
            # finish_shorttag: <tag/data/ == <tag>data</tag>
            self._finish_starttag(tag, [])
            self._handle_data(data)
            self._finish_endtag(tag)
            return k
        match = endbracket.search(rawdata, i + 1)
        if not match:
            return -1
        j = match.start(0)
        attrs = []
        if rawdata[i : i + 2] == "<>":
            k = j
            tag = self.lasttag
        else:
            match = tagfind.match(rawdata, i + 1)
            if not match:
                # cannot happen given starttagopen, mirror error → crash
                raise ValueError("unexpected call to parse_starttag")
            k = match.end(0)
            tag = rawdata[i + 1 : k].lower()
            self.lasttag = tag
        while k < j:
            match = attrfind.match(rawdata, k)
            if not match:
                break
            attrname, rest, attrvalue = match.group(1, 2, 3)
            if not rest:
                attrvalue = attrname
            else:
                if (
                    attrvalue[:1] == "'" == attrvalue[-1:]
                    or attrvalue[:1] == '"' == attrvalue[-1:]
                ):
                    attrvalue = attrvalue[1:-1]
                attrvalue = entity_or_charref.sub(
                    _convert_ref_in_attr_value, attrvalue
                )
            attrs.append((attrname.lower(), attrvalue))
            k = match.end(0)
        if rawdata[j] == ">":
            j += 1
        self._finish_starttag(tag, attrs)
        return j

    def _parse_endtag(self, i: int) -> int:
        rawdata = self.rawdata
        match = endbracket.search(rawdata, i + 1)
        if not match:
            return -1
        j = match.start(0)
        tag = rawdata[i + 2 : j].strip().lower()
        if rawdata[j] == ">":
            j += 1
        self._finish_endtag(tag)
        return j

    def _finish_starttag(self, tag: str, attrs) -> None:
        # sgmllib method dispatch: only 'meta' has a start_ handler
        # (readability.py:2816); it ALSO lands on sgmllib's own stack.
        if tag == "meta":
            self.sgml_stack.append(tag)
            self._start_meta(attrs)
        else:
            self._unknown_starttag(tag, attrs)

    def _finish_endtag(self, tag: str) -> None:
        # sgmllib.finish_endtag against its private stack (only 'meta'
        # ever lands there)
        if not tag:
            found = len(self.sgml_stack) - 1
            if found < 0:
                self._unknown_endtag(tag)
                return
        else:
            if tag not in self.sgml_stack:
                self._unknown_endtag(tag)
                return
            found = len(self.sgml_stack)
            for i in range(found):
                if self.sgml_stack[i] == tag:
                    found = i
        while len(self.sgml_stack) > found:
            t = self.sgml_stack[-1]
            self._unknown_endtag(t)
            del self.sgml_stack[-1]

    # -- comments / PIs / declarations ---------------------------------------
    def _parse_comment(self, i: int, report: bool = True) -> int:
        rawdata = self.rawdata
        if rawdata[i : i + 4] != "<!--":
            raise ValueError("unexpected call to parse_comment()")
        match = _commentclose.search(rawdata, i + 4)
        if not match:
            return -1
        if report:
            j = match.start(0)
            self._string_subclass(rawdata[i + 4 : j], Comment)
        return match.end(0)

    def _parse_pi(self, i: int) -> int:
        rawdata = self.rawdata
        match = piclose.search(rawdata, i + 2)
        if not match:
            return -1
        j = match.start(0)
        text = rawdata[i + 2 : j]
        if text[:3] == "xml":
            text = "xml version='1.0' encoding='%SOUP-ENCODING%'"
        self._string_subclass(text, ProcessingInstruction)
        j = match.end(0)
        return j - i

    class _DeclError(Exception):
        pass

    def _parse_declaration(self, i: int) -> int:
        # BS override: CDATA blocks; SGMLParseError → rest-as-data
        # (readability.py:2690-2708)
        rawdata = self.rawdata
        if rawdata[i : i + 9] == "<![CDATA[":
            k = rawdata.find("]]>", i)
            if k == -1:
                k = len(rawdata)
            data = rawdata[i + 9 : k]
            self._string_subclass(data, CData)
            return k + 3
        try:
            return self._parse_declaration_base(i)
        except SoupParser._DeclError:
            to_handle = rawdata[i:]
            self._handle_data(to_handle)
            return i + len(to_handle)

    def _decl_error(self, msg: str):
        raise SoupParser._DeclError(msg)

    def _parse_declaration_base(self, i: int) -> int:
        # markupbase.ParserBase.parse_declaration
        rawdata = self.rawdata
        j = i + 2
        if rawdata[j : j + 1] == ">":
            return j + 1
        if rawdata[j : j + 1] in ("-", ""):
            return -1
        n = len(rawdata)
        if rawdata[j : j + 2] == "--":
            return self._parse_comment(i)
        elif rawdata[j] == "[":
            return self._parse_marked_section(i)
        else:
            decltype, j = self._scan_name(j, i)
        if j < 0:
            return j
        if decltype == "doctype":
            self.decl_otherchars = ""
        while j < n:
            c = rawdata[j]
            if c == ">":
                data = rawdata[i + 2 : j]
                if decltype == "doctype":
                    self._string_subclass(data, Declaration)
                # else: unknown_decl → dropped
                return j + 1
            if c in "\"'":
                m = _declstringlit_match(rawdata, j)
                if not m:
                    return -1
                j = m.end()
            elif c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
                _name, j = self._scan_name(j, i)
            elif c in self.decl_otherchars:
                j += 1
            elif c == "[":
                if decltype == "doctype":
                    j = self._parse_doctype_subset(j + 1, i)
                else:
                    self._decl_error("unexpected '[' char in declaration")
            else:
                self._decl_error("unexpected %r char in declaration" % c)
            if j < 0:
                return j
        return -1

    def _parse_marked_section(self, i: int) -> int:
        rawdata = self.rawdata
        sect_name, j = self._scan_name(i + 3, i)
        if j < 0:
            return j
        if sect_name in ("temp", "cdata", "ignore", "include", "rcdata"):
            match = _markedsectionclose.search(rawdata, i + 3)
        elif sect_name in ("if", "else", "endif"):
            match = _msmarkedsectionclose.search(rawdata, i + 3)
        else:
            self._decl_error("unknown status keyword in marked section")
        if not match:
            return -1
        # unknown_decl → dropped
        return match.end(0)

    def _parse_doctype_subset(self, i: int, declstartpos: int) -> int:
        # simplified faithfully from markupbase._parse_doctype_subset:
        # the extraction fixtures only ever hit the ']' exit or errors
        rawdata = self.rawdata
        n = len(rawdata)
        j = i
        while j < n:
            c = rawdata[j]
            if c == "<":
                s = rawdata[j : j + 2]
                if s == "<":
                    return -1
                if s != "<!":
                    self._decl_error("unexpected char in internal subset")
                if (j + 2) == n or (j + 4) > n:
                    return -1
                if rawdata[j : j + 4] == "<!--":
                    j = self._parse_comment(j, report=False)
                    if j < 0:
                        return j
                    continue
                name, j = self._scan_name(j + 2, declstartpos)
                if j == -1:
                    return -1
                if name not in ("attlist", "element", "entity", "notation"):
                    self._decl_error("unknown declaration in internal subset")
                j = self._parse_doctype_decl(name, j, declstartpos)
                if j < 0:
                    return j
            elif c == "%":
                if (j + 1) == n:
                    return -1
                _s, j = self._scan_name(j + 1, declstartpos)
                if j < 0:
                    return j
                if rawdata[j] == ";":
                    j += 1
            elif c == "]":
                j += 1
                while j < n and rawdata[j].isspace():
                    j += 1
                if j < n:
                    if rawdata[j] == ">":
                        return j
                    self._decl_error("unexpected char after internal subset")
                else:
                    return -1
            elif c.isspace():
                j += 1
            else:
                self._decl_error("unexpected char in internal subset")
        return -1

    def _parse_doctype_decl(self, name: str, i: int, declstartpos: int) -> int:
        # element/attlist/entity/notation scanners collapse to "skip to
        # '>'" for the markup shapes HTML documents contain
        rawdata = self.rawdata
        if ">" in rawdata[i:]:
            return rawdata.find(">", i) + 1
        return -1

    def _scan_name(self, i: int, declstartpos: int):
        rawdata = self.rawdata
        n = len(rawdata)
        if i == n:
            return None, -1
        m = _declname_match(rawdata, i)
        if m:
            s = m.group()
            name = s.strip()
            if (i + len(s)) == n:
                return None, -1
            return name.lower(), m.end()
        self._decl_error("expected name token")
