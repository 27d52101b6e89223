"""Minimal HTML DOM with the tree of stdlib ``html.parser``.

Implements exactly the subset of tree behaviors the extraction
semantics depend on (modeled on how the reference uses BeautifulSoup's
``html.parser`` builder — see contxt/scraper.py:263-405 and
contxt/formatters/markdown_formatter.py:85-283 for the consumed API):

- document-order ``find_all``; ``find`` stops at the first match
- ``get_text(strip=...)``: concatenation of descendant text segments,
  each stripped and empty-dropped when ``strip=True``, joined by ``sep``
- single-string descent (`bs4` ``.string``): an element with exactly
  one child descends recursively until a text node
- ``decompose`` (detach subtree), attribute dict access
- void elements never take children; stray end tags pop to the nearest
  matching open tag and are otherwise ignored
- character references resolved at parse time (``convert_charrefs``)
- a query with no attribute filter builds no per-element filter test

Parsing. ``parse_html`` steps one compiled regex, ``_TOKEN``, along the
page with ``match(html, pos)`` and builds the nodes directly. Its
grammar is a subset of what ``HTMLParser`` reads, on which both build
the same tree:

- a text run up to the next ``<``, unescaped as one run;
- a start tag: a name of ``[-.a-zA-Z0-9:_]`` after a letter, then
  attributes, each after ASCII whitespace, whose values are quoted or
  bare (no quote, ``=``, ``<``, backtick or whitespace, ending at ASCII
  whitespace or ``>``), then ``>`` or ``/>``;
- an end tag ``</name>``, optional ASCII whitespace before the ``>``;
- a comment ``<!--…-->``, closed at the first ``--`` that optional
  whitespace and a ``>`` follow;
- ``<!DOCTYPE…>``, which builds no node;
- after a ``script`` or ``style`` start tag, raw text up to the first
  ``</script>`` (or ``</style>``) in any case, whitespace allowed
  inside the tag.

A page the grammar does not tile end to end (a bare ``<``, ``<?pi>``,
``<![CDATA[``, an unclosed comment or raw text, a tag name or value
that runs on past where the grammar stops, ``==``, …) is parsed whole
by ``_TreeBuilder`` on ``HTMLParser``, which stays the path for tag
soup and the oracle the scanner is tested against. Parity is with the
running interpreter's ``HTMLParser``, whose error recovery changes
across CPython releases. No position is tracked, since nothing reads
it.

No bs4 code is used or copied; this is a fresh implementation of the
documented html.parser tree-building contract.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Callable, Iterator

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Minimal serialization escaping (text nodes / attribute values).
_ESC_TEXT = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}
_ESC_ATTR = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}


def _escape(s: str, table: dict) -> str:
    # most text holds none of the characters either table escapes
    if "&" not in s and "<" not in s and ">" not in s and '"' not in s:
        return s
    for k, v in table.items():
        s = s.replace(k, v)
    return s


class TextNode:
    """A text (or comment) node."""

    __slots__ = ("text", "parent", "is_comment")

    def __init__(self, text: str, is_comment: bool = False):
        self.text = text
        self.parent: Element | None = None
        self.is_comment = is_comment

    # Mirror of element API where the traversals need uniformity.
    name = None  # text nodes have no tag name

    def to_html(self) -> str:
        if self.is_comment:
            return f"<!--{self.text}-->"
        return _escape(self.text, _ESC_TEXT)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        kind = "Comment" if self.is_comment else "Text"
        return f"{kind}({self.text!r})"


class Element:
    """An element node with tag name, attributes, and children."""

    __slots__ = ("name", "attrs", "children", "parent")

    def __init__(self, name: str, attrs: dict | None = None):
        self.name = name
        self.attrs: dict[str, str] = attrs or {}
        self.children: list[Element | TextNode] = []
        self.parent: Element | None = None

    # -- tree construction -------------------------------------------------
    def append(self, node: "Element | TextNode") -> None:
        node.parent = self
        self.children.append(node)

    def clear(self) -> None:
        for c in self.children:
            c.parent = None
        self.children = []

    def decompose(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    # -- queries -----------------------------------------------------------
    def get(self, attr: str, default=None):
        return self.attrs.get(attr, default)

    def classes(self) -> list[str]:
        """Whitespace-split class list (bs4 multi-valued attr analog)."""
        v = self.attrs.get("class")
        return v.split() if v else []

    def iter_elements(self) -> Iterator["Element"]:
        """Descendant elements in document order (excluding self)."""
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Element):
                yield node
                stack.extend(reversed(node.children))

    def find_all(
        self,
        names: str | list | tuple | set | Callable | None = None,
        recursive: bool = True,
        **attr_filters,
    ) -> list["Element"]:
        """Document-order element search.

        ``names`` may be a tag name, a collection of names, or a
        predicate function. ``attr_filters`` match attribute values
        exactly, except ``class_`` which matches a class *token*
        (the bs4 convention the reference's content-root cascade
        relies on, contxt/formatters/markdown_formatter.py:103-114).
        """
        return list(self._matches(names, recursive, attr_filters))

    def find(self, names=None, recursive: bool = True, **attr_filters):
        """First element ``find_all`` would return, or None."""
        return next(self._matches(names, recursive, attr_filters), None)

    def _matches(self, names, recursive: bool, attr_filters: dict) -> Iterator["Element"]:
        pred = names if callable(names) else None
        if pred is not None or names is None:
            name_set = None
        else:
            name_set = {names} if isinstance(names, str) else set(names)
        pool = self.iter_elements() if recursive else (c for c in self.children if isinstance(c, Element))
        for el in pool:
            if name_set is not None and el.name not in name_set:
                continue
            if pred is not None and not pred(el):
                continue
            if not attr_filters or all(
                want in el.classes() if k == "class_" else el.attrs.get(k) == want
                for k, want in attr_filters.items()
            ):
                yield el

    def text_nodes(self) -> list[TextNode]:
        """Descendant text nodes in document order, comments excluded."""
        out = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Element):
                stack.extend(reversed(node.children))
            elif not node.is_comment:
                out.append(node)
        return out

    def merge_text_nodes(self) -> None:
        """Merge each run of adjacent text nodes into its first node and
        drop empty text nodes, in place, throughout the subtree. For a
        tree without comments this gives the text-node split
        ``parse_html(self.to_html())`` would build. Comments end a run."""
        stack = [self]
        while stack:
            el = stack.pop()
            kept, run = [], None
            for node in el.children:
                if isinstance(node, Element):
                    stack.append(node)
                    run = None
                elif node.is_comment:
                    run = None
                elif run is None and node.text:
                    run = node
                else:  # empty, or the continuation of a run
                    if run is not None:
                        run.text += node.text
                    node.parent = None
                    continue
                kept.append(node)
            el.children = kept

    def get_text(self, strip: bool = False, separator: str = "") -> str:
        """Concatenate descendant text segments (comments excluded).

        With ``strip=True`` each segment is stripped and empty segments
        are dropped before joining — the joining convention the
        reference's ``get_text(strip=True)`` calls rely on.
        """
        segs = [n.text for n in self.text_nodes()]
        if strip:
            segs = [s.strip() for s in segs]
            segs = [s for s in segs if s]
        return separator.join(segs)

    def single_string_node(self) -> TextNode | None:
        """bs4 ``.string`` analog: descend through exactly-one-child
        chains until a text node; None if any level branches."""
        node: Element | TextNode = self
        while isinstance(node, Element):
            if len(node.children) != 1:
                return None
            node = node.children[0]
        return node if isinstance(node, TextNode) else None

    # -- serialization -----------------------------------------------------
    def to_html(self) -> str:
        parts: list[str] = []
        self._render(parts)
        return "".join(parts)

    def _render(self, parts: list[str]) -> None:
        if self.name == "[document]":
            for c in self.children:
                _render_node(c, parts)
            return
        attrs = "".join(
            f' {k}="{_escape(v, _ESC_ATTR)}"' if v is not None else f" {k}"
            for k, v in self.attrs.items()
        )
        if self.name in VOID_ELEMENTS:
            parts.append(f"<{self.name}{attrs}/>")
            return
        parts.append(f"<{self.name}{attrs}>")
        for c in self.children:
            _render_node(c, parts)
        parts.append(f"</{self.name}>")

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} attrs={self.attrs} children={len(self.children)}>"


def _render_node(node, parts: list[str]) -> None:
    if isinstance(node, Element):
        node._render(parts)
    else:
        parts.append(node.to_html())


class _TreeBuilder(HTMLParser):
    """Builds an Element tree on stdlib ``HTMLParser``; lenient close-tag
    handling. The exact path for pages the scanner does not tile, and
    the oracle the scanner is tested against."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: list[Element] = [self.root]

    def updatepos(self, i, j):
        # The base class counts newlines here for ``getpos()``, which
        # nothing calls; skip that bookkeeping.
        return j

    def handle_starttag(self, tag, attrs):
        el = Element(tag, {k: (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        el = Element(tag, {k: (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append(el)

    def handle_endtag(self, tag):
        # Pop to the nearest matching open tag; ignore stray closers.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].append(TextNode(data))

    def handle_comment(self, data):
        self.stack[-1].append(TextNode(data, is_comment=True))

    def parse_marked_section(self, i, report=1):
        # The base class raises AssertionError on a ``<![`` with no
        # keyword or one it does not know; HTML5 reads such markup as a
        # bogus comment up to the next ``>``, as ``<!x>`` already is.
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            return self.parse_bogus_comment(i, report)


def _parse_with_htmlparser(html: str) -> Element:
    b = _TreeBuilder()
    b.feed(html)
    b.close()
    return b.root


# One attribute: a name, then optionally ``=`` and a double-quoted,
# single-quoted or bare value. A bare value takes no quote, ``=``, ``<``,
# backtick or whitespace, and must end at ASCII whitespace, ``>`` or the
# end of the tag text, where ``HTMLParser`` ends it too.
_ATTR_SRC = (
    r"""([a-zA-Z_:][-.a-zA-Z0-9:_]*)"""
    r"""(?:[ \t\n\r\f]*=[ \t\n\r\f]*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)(?![^ \t\n\r\f>])))?"""
)
_ATTR = re.compile(_ATTR_SRC)

# One token; ``lastgroup`` names its kind (a start tag ends on ``slash``;
# a DOCTYPE has no group and builds no node).
_TOKEN = re.compile(
    r"(?P<text>[^<]+)"
    r"|<(?P<tag>[a-zA-Z][-.a-zA-Z0-9:_]*)(?P<attrs>(?:[ \t\n\r\f]+" + _ATTR_SRC + r")*)"
    r"[ \t\n\r\f]*(?P<slash>/?)>"
    r"|</(?P<end>[a-zA-Z][-.a-zA-Z0-9:_]*)[ \t\n\r\f]*>"
    r"|<!--(?P<comment>.*?)--\s*>"
    r"|<![dD][oO][cC][tT][yY][pP][eE][^>]*>",
    re.DOTALL,
)

# The raw-text ends ``HTMLParser`` looks for (its ``set_cdata_mode``).
_RAW_END = {name: re.compile(r"</\s*%s\s*>" % name, re.I) for name in ("script", "style")}


def _attrs(text: str) -> dict:
    out = {}
    for name, dq, sq, bare in _ATTR.findall(text):
        v = dq or sq or bare
        out[name.lower()] = unescape(v) if "&" in v else v
    return out


def _scan(html: str) -> Element | None:
    """The tree ``_TreeBuilder`` builds, from one ``_TOKEN.match`` per
    token; None when the grammar does not tile ``html`` end to end."""
    root = Element("[document]")
    stack = [root]
    top = root
    match = _TOKEN.match
    pos, n = 0, len(html)
    while pos < n:
        m = match(html, pos)
        if m is None:
            return None
        pos = m.end()
        kind = m.lastgroup
        if kind == "text":
            text = m.group()
            if "&" in text:
                text = unescape(text)
                if not text:
                    continue
            top.append(TextNode(text))
        elif kind == "slash":
            name = m["tag"].lower()
            attrs = m["attrs"]
            el = Element(name, _attrs(attrs) if attrs else None)
            top.append(el)
            if m["slash"] or name in VOID_ELEMENTS:
                continue
            raw_end = _RAW_END.get(name)
            if raw_end is None:
                stack.append(el)
                top = el
                continue
            e = raw_end.search(html, pos)
            if e is None:
                return None
            if e.start() > pos:
                el.append(TextNode(html[pos:e.start()]))
            pos = e.end()
        elif kind == "end":
            name = m["end"].lower()
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].name == name:
                    del stack[i:]
                    top = stack[-1]
                    break
        elif kind == "comment":
            top.append(TextNode(m["comment"], is_comment=True))
    return root


def parse_html(html: str) -> Element:
    """Parse an HTML string into a document Element (name='[document]')."""
    html = html or ""
    return _scan(html) or _parse_with_htmlparser(html)
