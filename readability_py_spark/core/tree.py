"""DOM tree for the byte-faithful extraction core.

Semantics match the tree the reference builds (its vendored
BeautifulSoup 3.2, readability.py:1353-2275), but the design is
deliberately simpler: nodes hold only ``parent`` + ``contents`` and
sibling links are *derived* from position, which is observationally
equivalent for every operation the extraction pipeline performs.

The API is what core/arc90.py calls: ``find`` / ``find_all`` in the
argument shapes it passes, ``nextSibling``, ``parents()``, the
``string`` setter, the mutations and rendering. BS3's directional
finds, ``next``/``previous`` chains, ``previousSibling``,
``SoupStrainer`` and ``prettify`` are left out: no output uses them.

Behavioral quirks reproduced on purpose (each cited):
- duplicate attributes keep order; the attr *map* lets the last dup win
  (readability.py:2104-2111)
- ``del tag[key]`` uses list-mutation-while-iterating, so adjacent
  duplicate keys leave the second copy behind (readability.py:1884-1893)
- ``==`` is deep structural equality (readability.py:1909-1922) — the
  sibling-merge loop depends on it (readability.py:724)
- text nodes are str subclasses; Comment text participates in
  inner-text extraction (readability.py:1215-1233 treats any
  NavigableString, incl. Comment, as text)
- rendering: attr quoting/escaping incl. the ``&squot;`` quirk
  (readability.py:1947-1984), bare-&/</> escaping in text
  (readability.py:1679-1686, 1718-1724), self-closing `` /`` forms
  (readability.py:1985-1990)
"""

from __future__ import annotations

import re

# Entities preserved (not escaped) when escaping bare ampersands on
# output — mirrors BARE_AMPERSAND_OR_BRACKET (readability.py:1679-1681).
_BARE_AMP_OR_BRACKET = re.compile(
    r"([<>]|&(?!#\d+;|#x[0-9a-fA-F]+;|\w+;))", re.ASCII
)
_ESCAPES = {"<": "&lt;", ">": "&gt;", "&": "&amp;"}


def _escape_text(s: str) -> str:
    if "&" not in s and "<" not in s and ">" not in s:
        return s
    return _BARE_AMP_OR_BRACKET.sub(lambda m: _ESCAPES[m.group(0)[0]], s)


class TextNode(str):
    """A text node; a str with tree links (NavigableString analogue)."""

    parent: "Element | None"

    def __new__(cls, value=""):
        self = str.__new__(cls, value)
        self.parent = None
        return self

    # -- navigation (derived) -------------------------------------
    @property
    def nextSibling(self):
        return _next_sibling(self)

    def extract(self):
        _detach(self)
        return self

    def replaceWith(self, replacement):
        _replace(self, replacement)

    def render(self) -> str:
        return _escape_text(str(self))


class Comment(TextNode):
    def render(self) -> str:
        return "<!--%s-->" % _escape_text(str(self))


class Declaration(TextNode):
    def render(self) -> str:
        return "<!%s>" % _escape_text(str(self))


class CData(TextNode):
    def render(self) -> str:
        return "<![CDATA[%s]]>" % _escape_text(str(self))


class ProcessingInstruction(TextNode):
    def render(self) -> str:
        # %SOUP-ENCODING% substitution (readability.py:1731-1736) with
        # the default utf-8 output encoding.
        out = str(self)
        if "%SOUP-ENCODING%" in out:
            out = out.replace("%SOUP-ENCODING%", "utf-8")
        return "<?%s?>" % out


# Global structural-mutation epoch: bumped on any insert/detach so
# derived-value caches (inner text) can invalidate. Purely an
# optimization — observable behavior is unchanged.
_EPOCH = [0]


def mutation_epoch() -> int:
    return _EPOCH[0]


class Element:
    """A tag node (Tag analogue)."""

    __slots__ = (
        "name",
        "attrs",
        "contents",
        "parent",
        "is_self_closing",
        "hidden",
        "contains_substitutions",
        "readability",
        "_itext_cache",
        "_attr_map",
    )

    def __init__(self, name: str, attrs=None, self_closing: bool = False):
        self.name = name
        self.attrs: list[tuple[str, str]] = list(attrs or [])
        self.contents: list = []
        self.parent: Element | None = None
        self.is_self_closing = self_closing
        self.hidden = False
        self.contains_substitutions = False
        self.readability = None  # side-band score dict (readability.py:941)
        self._itext_cache = None  # (epoch, text) memo, see mutation_epoch
        self._attr_map = None  # lazily-built, NEVER rebuilt (see get())

    # -- attributes ------------------------------------------------
    # Attribute READS go through a map that is built on first access
    # and never rebuilt from the list (readability.py:2104-2111);
    # __delitem__'s skip-bug can leave duplicates in the list that the
    # cached map no longer knows about — an observable divergence the
    # reference exhibits (found by differential fuzzing), so the stale
    # cache is reproduced faithfully. Rendering and __eq__ use the
    # ordered list.
    def _get_attr_map(self) -> dict:
        if self._attr_map is None:
            m = {}
            for k, v in self.attrs:
                m[k] = v  # last duplicate wins
            self._attr_map = m
        return self._attr_map

    def get(self, key, default=None):
        return self._get_attr_map().get(key, default)

    def has_attr(self, key) -> bool:
        return key in self._get_attr_map()

    def __getitem__(self, key):
        return self._get_attr_map()[key]

    def __setitem__(self, key, value):
        # readability.py:1870-1882: updates the map and every list dup
        self._get_attr_map()[key] = value
        found = False
        for i, (k, _) in enumerate(self.attrs):
            if k == key:
                self.attrs[i] = (key, value)
                found = True
        if not found:
            self.attrs.append((key, value))

    def __delitem__(self, key):
        # Deliberately mirrors the remove-while-iterating loop
        # (readability.py:1884-1893): the for-loop's internal index
        # advances even after a removal shifts the list left, so the
        # element right after a removed one is skipped (adjacent
        # duplicate keys leave the second copy behind).
        attrs = self.attrs
        i = 0
        while i < len(attrs):
            item = attrs[i]
            if item[0] == key:
                attrs.remove(item)  # removes first == item, like py2
                # map cleared inside the loop too (readability.py:1891-1893)
                m = self._get_attr_map()
                if key in m:
                    del m[key]
            i += 1

    # -- structural equality (readability.py:1909-1922) ------------
    def __eq__(self, other):
        if other is self:
            return True
        if (
            not isinstance(other, Element)
            or self.name != other.name
            or self.attrs != other.attrs
            or len(self.contents) != len(other.contents)
        ):
            return False
        for a, b in zip(self.contents, other.contents):
            if a != b:
                return False
        return True

    def __ne__(self, other):
        return not self == other

    __hash__ = None  # identity-keyed structures use id() explicitly

    # -- navigation -------------------------------------------------
    @property
    def nextSibling(self):
        return _next_sibling(self)

    def index_of(self, child) -> int:
        for i, c in enumerate(self.contents):
            if c is child:
                return i
        raise ValueError("child not found")

    # -- mutation ----------------------------------------------------
    def extract(self):
        _detach(self)
        return self

    def insert(self, position: int, new_child):
        if isinstance(new_child, str) and not isinstance(new_child, TextNode):
            new_child = TextNode(new_child)
        position = min(position, len(self.contents))
        if getattr(new_child, "parent", None) is not None:
            # moving an existing node; adjust target index when moving
            # down within the same parent (readability.py:1450-1461)
            if new_child.parent is self:
                idx = self.index_of(new_child)
                if idx > position:
                    position -= 1
            _detach(new_child)
        _EPOCH[0] += 1
        new_child.parent = self
        self.contents.insert(position, new_child)

    def append(self, child):
        self.insert(len(self.contents), child)

    def replaceWith(self, replacement):
        _replace(self, replacement)

    def clear(self):
        for c in self.contents[:]:
            _detach(c)

    def set_string(self, string):
        """Replace contents with one text node (readability.py:1809-1812)."""
        self.clear()
        self.append(string)

    @property
    def string(self):
        if len(self.contents) == 1 and isinstance(self.contents[0], TextNode):
            return self.contents[0]
        return None

    @string.setter
    def string(self, value):
        self.set_string(value)

    # -- search ------------------------------------------------------
    # Every walk below is preorder over a stack of live iterators, one
    # per open element: a text node costs one step of a for-loop, not
    # a push and a pop, and no recursion limits the depth.
    def find_all(self, name=None, attrs=None, recursive=True, text=None, limit=None):
        """Match semantics of findAll
        (readability.py:2075-2089, 2129-2247) for the argument shapes
        the pipeline uses: tag-name str, list of names, dict of names,
        True, callables, and attrs dicts with str/bool values.

        The walk is inlined with the match test, so allocations are
        O(matches), and ``limit`` stops the walk at the first hit.

        Fast paths (no per-node ``_node_matches`` call) when ``attrs``,
        ``text`` and ``limit`` are all None: ``True``, a str name, and
        a list/tuple/set/frozenset/dict of names. Callable and
        attribute filters are cheaper as a plain list filter over
        ``find_all(True)`` than through the generic path."""
        if not recursive:
            results = []
            for node in list(self.contents):
                if _node_matches(node, name, attrs, text):
                    results.append(node)
                    if limit and len(results) >= limit:
                        break
            return results
        results = []
        append = results.append
        stack = [iter(self.contents)]
        push = stack.append
        pop = stack.pop
        # fast paths for the dominant call shapes (same trick as the
        # reference's _findAll shortcuts, readability.py:1593-1603)
        if attrs is None and text is None and limit is None:
            if name is True:
                while stack:
                    for node in stack[-1]:
                        if node.__class__ is Element:
                            append(node)
                            if node.contents:
                                push(iter(node.contents))
                                break
                    else:
                        pop()
                return results
            if isinstance(name, (str, list, tuple, set, frozenset, dict)):
                names = (name,) if isinstance(name, str) else name
                while stack:
                    for node in stack[-1]:
                        if node.__class__ is Element:
                            if node.name in names:
                                append(node)
                            if node.contents:
                                push(iter(node.contents))
                                break
                    else:
                        pop()
                return results
        while stack:
            for node in stack[-1]:
                if _node_matches(node, name, attrs, text):
                    append(node)
                    if limit and len(results) >= limit:
                        return results
                if node.__class__ is Element and node.contents:
                    push(iter(node.contents))
                    break
            else:
                pop()
        return results

    def find(self, name=None, attrs=None, recursive=True, text=None):
        """First node ``find_all`` would return, or None.

        Fast path: a str name or a list/tuple/set/frozenset of names,
        with ``attrs`` None or a dict of str values, walks preorder and
        returns at the first node whose name, then attrs, match. Every
        other shape (dict-as-name, True, callables, regexes, ``text=``,
        ``recursive=False``) goes through ``find_all``."""
        if (
            recursive
            and text is None
            and isinstance(name, (str, list, tuple, set, frozenset))
            and (
                attrs is None
                or (type(attrs) is dict
                    and all(type(v) is str for v in attrs.values()))
            )
        ):
            names = (name,) if isinstance(name, str) else name
            stack = [iter(self.contents)]
            push = stack.append
            pop = stack.pop
            while stack:
                for node in stack[-1]:
                    if node.__class__ is Element:
                        if node.name in names and (
                            not attrs
                            or all(node.get(k) == v for k, v in attrs.items())
                        ):
                            return node
                        if node.contents:
                            push(iter(node.contents))
                            break
                else:
                    pop()
            return None
        r = self.find_all(name, attrs, recursive, text, limit=1)
        return r[0] if r else None

    def parents(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    # -- rendering (readability.py:1936-2060) -------------------------
    def render(self, pretty: bool = False, indent_level: int = 0) -> str:
        rendered_attrs = []
        for key, val in self.attrs:
            fmt = '%s="%s"'
            if isinstance(val, str):
                if self.contains_substitutions and "%SOUP-ENCODING%" in val:
                    val = val.replace("%SOUP-ENCODING%", "utf-8")
                if '"' in val:
                    fmt = "%s='%s'"
                    if "'" in val:
                        val = val.replace("'", "&squot;")
                val = _escape_text(val)
            rendered_attrs.append(fmt % (key, val))
        attr_str = (" " + " ".join(rendered_attrs)) if rendered_attrs else ""
        if not pretty:
            if self.hidden:
                return self.render_contents()
            if self.is_self_closing:
                return "<%s%s />" % (self.name, attr_str)
            return "<%s%s>%s</%s>" % (
                self.name,
                attr_str,
                self.render_contents(),
                self.name,
            )
        # prettyPrint path — statement-for-statement the reference's
        # Tag.__str__ indent machinery (readability.py:1992-2019):
        # space = ' '*(indentLevel-1) (empty at level 0, like py2's
        # negative string multiply), contents indented one deeper, a
        # newline after the open tag, a newline after contents unless
        # they already end with one, and a newline after the close tag
        # only when a next sibling exists.
        space = " " * (indent_level - 1)
        contents = self.render_contents(True, indent_level + 1)
        if self.hidden:
            return contents
        close = " /" if self.is_self_closing else ""
        close_tag = "" if self.is_self_closing else "</%s>" % self.name
        s = [space, "<%s%s%s>" % (self.name, attr_str, close), "\n", contents]
        if contents and contents[-1] != "\n":
            s.append("\n")
        if close_tag:
            s.append(space)
            s.append(close_tag)
            if self.nextSibling is not None:
                s.append("\n")
        return "".join(s)

    def render_contents(self, pretty: bool = False, indent_level: int = 0) -> str:
        parts = []
        if not pretty:
            for c in self.contents:
                if isinstance(c, TextNode):
                    t = c.render()
                    if t:
                        parts.append(t)
                elif isinstance(c, Element):
                    parts.append(c.render())
            return "".join(parts)
        # renderContents(prettyPrint) — readability.py:2041-2060: text
        # nodes are stripped, dropped when empty, and indented at
        # ' '*(indentLevel-1) with a trailing newline.
        for c in self.contents:
            if isinstance(c, TextNode):
                t = c.render().strip()
                if t:
                    parts.append(" " * (indent_level - 1))
                    parts.append(t)
                    parts.append("\n")
            elif isinstance(c, Element):
                parts.append(c.render(True, indent_level))
        return "".join(parts)

    def __repr__(self):
        return self.render()

    def __str__(self):
        return self.render()


# -- helpers -----------------------------------------------------------


def clone_tree(node, parent=None):
    """Detached deep copy of a parsed subtree: fresh nodes carrying the
    same names, attributes, flags and text-node types as the parse
    that built ``node``."""
    if isinstance(node, Element):
        copy = Element(node.name, node.attrs, node.is_self_closing)
        copy.hidden = node.hidden
        copy.contains_substitutions = node.contains_substitutions
        copy.contents = [clone_tree(c, copy) for c in node.contents]
    else:
        copy = type(node)(str(node))
    copy.parent = parent
    return copy


def _detach(node) -> None:
    _EPOCH[0] += 1
    p = getattr(node, "parent", None)
    if p is not None:
        for i, c in enumerate(p.contents):
            if c is node:
                del p.contents[i]
                break
    node.parent = None


def _replace(node, replacement) -> None:
    # readability.py:1384-1397
    old_parent = node.parent
    my_index = old_parent.index_of(node)
    if getattr(replacement, "parent", None) is old_parent:
        idx = old_parent.index_of(replacement)
        if idx and idx < my_index:
            my_index -= 1
    _detach(node)
    old_parent.insert(my_index, replacement)


def _next_sibling(node):
    p = getattr(node, "parent", None)
    if p is not None:
        for i, c in enumerate(p.contents):
            if c is node:
                return p.contents[i + 1] if i + 1 < len(p.contents) else None
    return None


def _matches_value(markup, match_against):
    """SoupStrainer._matches (readability.py:2217-2247) for the value
    shapes used: True, callable, regex, list, dict, str."""
    if match_against is True:
        return markup is not None
    if callable(match_against) and not hasattr(match_against, "match"):
        return match_against(markup)
    if isinstance(markup, Element):
        markup = markup.name
    if hasattr(match_against, "match"):  # compiled regex
        return bool(markup and match_against.search(markup))
    if isinstance(match_against, (list, tuple, set, frozenset, dict)):
        return markup in match_against
    return match_against == markup


def _node_matches(node, name, attrs, text):
    if text is not None:
        if not isinstance(node, TextNode):
            return False
        # pass the node itself so callable filters can isinstance-check
        # the TextNode subclass (readability.py:116 filters Comments)
        return _matches_value(node, text)
    if not isinstance(node, Element):
        return False
    if callable(name) and not hasattr(name, "match"):
        # custom match function taking the node (readability.py:2159-2167)
        if not name(node):
            return False
    elif name is not None and name is not True:
        if not _matches_value(node.name, name):
            return False
    if attrs:
        for attr, want in attrs.items():
            if not _matches_value(node.get(attr), want):
                return False
    return True
