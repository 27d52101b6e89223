"""D1 cleaning pipeline + OpenGraph + image extraction.

Reimplements (from scratch, over :mod:`web_scraper_spark.html.dom`) the
reference's extraction semantics:

- ``clean_html``            ← contxt/scraper.py:263-322 (_clean_html)
- ``extract_og_metadata``   ← contxt/scraper.py:324-343
- ``deduplicate_list_items``← contxt/scraper.py:345-363
- ``concatenate_spans``     ← contxt/scraper.py:365-405
- ``extract_images``        ← contxt/scraper.py:237-261
- ``extract_text``          — the per-row "extracted text" invariant:
  visible text of the cleaned DOM, segments joined by a single space
  (the reference's missing ``_scrape`` contract exposes this as the
  ``content_text`` key; see SURVEY.md caveat 1).

Walks. :func:`page_facts` reads the OpenGraph metas, images and
anchors of an uncleaned tree in one walk; ``extract_og_metadata``,
``images_from_doc``, ``anchors_from_doc`` and the functions built on
them project its result. :func:`clean_dom` runs the element drop,
comment drop and attribute whitelist as one top-down pass that does
not enter a dropped subtree. Run as separate stages, the comment drop
and the whitelist would see exactly the nodes the element drop left,
and each stage changes one node without reading any other, so the one
pass leaves the same tree. The li dedup, span concatenation and
normalization stages read text across subtrees and keep their own
walks, in that order.

Quirk fidelity (SURVEY.md appendix): Q3 (CSS-ish strings in the drop
list are inert literal tag names), Q4 (SVG regex on text nodes is a
no-op), Q7 (span cascade accumulates into the *last* span of a run),
Q13 (first empty <li> kept, later empties dropped).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from .dom import Element, TextNode, parse_html

# Element names removed during cleaning. The bracketed CSS-like strings
# mirror the reference's drop list verbatim: its HTML parser treats them
# as literal (never-matching) tag names, so they are inert — kept for
# semantic parity (quirk Q3).
DROP_TAGS = (
    "script", "style", "header", "footer", "nav", "noscript",
    "form", "button", "input", "iframe", "aside", "svg",
    "[class*='menu']", "[class*='nav']", "[class*='footer']",
    "[class*='header']", "[id*='menu']", "[id*='nav']",
    "[id*='footer']", "[id*='header']",
)

ALLOWED_ATTRS = ("href", "src", "alt")

_SVG_RE = re.compile(r"<svg.*?</svg>\s*", re.DOTALL)
_WS_RE = re.compile(r"\s+")


_OG_KEYS = (
    ("og_title", "og:title"),
    ("og_description", "og:description"),
    ("og_image", "og:image"),
)


def page_facts(doc: Element, base_url: str) -> tuple[dict, list[dict], list[dict]]:
    """(OpenGraph metadata, image records, anchor records) of an
    uncleaned document, from one document-order walk.

    The walk keeps the first <meta> per ``property`` value (what
    ``find("meta", property=...)`` returns), every <img> and every <a>
    in document order, and builds the three products from those
    (contxt/scraper.py:237-261, 324-343)."""
    metas: dict[str, Element] = {}
    imgs, links = [], []
    for el in doc.iter_elements():
        name = el.name
        if name == "a":
            links.append(el)
        elif name == "img":
            imgs.append(el)
        elif name == "meta":
            prop = el.attrs.get("property")
            if prop is not None and prop not in metas:
                metas[prop] = el

    og = {}
    for key, prop in _OG_KEYS:
        tag = metas.get(prop)
        if tag is not None and tag.get("content"):
            og[key] = tag.attrs["content"]

    images = []
    for img in imgs:
        src = img.get("src")
        if src:
            images.append(
                {
                    "url": urljoin(base_url, src),
                    "alt": img.get("alt", ""),
                    "width": img.get("width") or None,
                    "height": img.get("height") or None,
                }
            )

    anchors = []
    for a in links:
        href = a.get("href")
        if not href:
            continue
        absu = urljoin(base_url, href)
        absu = absu.split("#", 1)[0]
        if absu.startswith(("http://", "https://")):
            anchors.append({"url": absu, "text": a.get_text(strip=True)})
    return og, images, anchors


def extract_og_metadata(doc: Element) -> dict:
    """First og:title / og:description / og:image meta with non-empty
    content (contxt/scraper.py:324-343); see :func:`page_facts`."""
    return page_facts(doc, "")[0]


def deduplicate_list_items(doc: Element) -> None:
    """Global first-seen dedup of <li> by stripped text; two-phase
    mark-then-remove (contxt/scraper.py:345-363, quirk Q13: the empty
    string enters the seen-set too)."""
    seen: set[str] = set()
    to_remove = []
    for li in doc.find_all("li"):
        text = li.get_text(strip=True)
        if text in seen:
            to_remove.append(li)
        else:
            seen.add(text)
    for li in to_remove:
        li.decompose()


def concatenate_spans(doc: Element) -> None:
    """Merge runs of adjacent sibling <span>s; text cascades left→right
    into the last span of each run (contxt/scraper.py:365-405, quirk
    Q7: the child snapshot is stale but text reads are live)."""
    for parent in span_parents(doc):
        children = list(parent.children)  # static snapshot
        spans_to_remove = []
        # text nodes have name None, so both of a pair are <span> elements
        for current, nxt in zip(children, children[1:]):
            if current.name == "span" and nxt.name == "span":
                cur_text = current.get_text(strip=True)
                nxt_text = nxt.get_text(strip=True)
                if cur_text and nxt_text:
                    # reference's ``.string`` setter ≡ clear + append
                    nxt.clear()
                    nxt.append(TextNode(f"{cur_text} {nxt_text}"))
                    spans_to_remove.append(current)
        for span in spans_to_remove:
            span.decompose()


def span_parents(doc: Element) -> list[Element]:
    """Elements under ``doc`` with a <span> descendant, in document
    order, as a static list: each span marks its ancestors up to the
    first one already marked, so every element is marked at most once."""
    elements = doc.find_all()
    marked: set[int] = set()
    for el in elements:
        if el.name == "span":
            p = el.parent
            while p is not doc and id(p) not in marked:
                marked.add(id(p))
                p = p.parent
    return [el for el in elements if id(el) in marked]


def normalize_text_nodes(doc: Element) -> None:
    """Per-text-node cleanup (contxt/scraper.py:305-320): SVG-content
    regex (inert on text nodes — quirk Q4 — but applied for parity)
    then whitespace collapse + strip."""
    for node in doc.text_nodes():
        text = node.text
        if text:
            if "<svg" in text:
                text = _SVG_RE.sub("", text)
            node.text = _WS_RE.sub(" ", text).strip()


_DROP = frozenset(DROP_TAGS)


def clean_dom(doc: Element) -> Element:
    """Destructive D1 cleaning, in semantic order (element drop →
    comment drop → attr whitelist → li dedup → span concat → text
    normalize). Mutates ``doc`` in place and returns it. The first
    three stages are one pass (see the module docstring for why that
    leaves the same tree)."""
    stack = [doc]
    while stack:
        el = stack.pop()
        kept = []
        for node in el.children:
            if isinstance(node, Element):
                if node.name in _DROP:
                    node.parent = None
                    continue
                if node.attrs:
                    node.attrs = {k: v for k, v in node.attrs.items() if k in ALLOWED_ATTRS}
                stack.append(node)
            elif node.is_comment:
                node.parent = None
                continue
            kept.append(node)
        el.children = kept

    deduplicate_list_items(doc)
    concatenate_spans(doc)
    normalize_text_nodes(doc)
    return doc


def clean_html(html: str) -> tuple[Element, dict]:
    """Full D1 pipeline; returns (cleaned document, og_metadata).

    Stage order is semantic and must not be reordered (OG metadata is
    read before destructive cleaning; contxt/scraper.py:276-277).
    """
    doc = parse_html(html)
    og_metadata = extract_og_metadata(doc)
    clean_dom(doc)
    return doc, og_metadata


def clean_html_str(html: str) -> str:
    """Cleaned document serialized back to an HTML string."""
    doc, _ = clean_html(html)
    return doc.to_html()


def extract_text(html: str) -> str:
    """The per-row extracted-text invariant: visible text of the
    cleaned DOM, non-empty stripped segments joined by single spaces."""
    doc, _ = clean_html(html)
    return doc.get_text(strip=True, separator=" ")


def extract_images(html: str, base_url: str) -> list[dict]:
    """Document-order <img src> records with urljoin'd absolute URLs
    (contxt/scraper.py:237-261). Width/height kept as attribute
    strings; missing → None."""
    return images_from_doc(parse_html(html), base_url)


def images_from_doc(doc: Element, base_url: str) -> list[dict]:
    """Image records of :func:`page_facts`."""
    return page_facts(doc, base_url)[1]


def extract_links(html: str, base_url: str) -> list[str]:
    """See links_from_doc; parses then delegates."""
    return links_from_doc(parse_html(html), base_url)


def links_from_doc(doc: Element, base_url: str) -> list[str]:
    """Document-order <a href> targets, urljoin'd absolute — the
    frontier-expansion source (link traversal mirrors the markdown
    formatter's ``a`` handling, contxt/formatters/
    markdown_formatter.py:166-169; crawl expansion is the reference's
    declared-but-unbuilt max_depth capability, contxt/config.py:20).
    Only http(s) results are returned; fragments are dropped."""
    return [a["url"] for a in anchors_from_doc(doc, base_url)]


def anchors_from_doc(doc: Element, base_url: str) -> list[dict]:
    """Document-order (target url, anchor text) records — the same
    traversal/filters as :func:`links_from_doc` (that function
    delegates here, so the frontier's link set and the anchor corpus
    can never drift), plus each anchor's stripped inner text. Anchor
    text is the classic off-page relevance/quality signal a web-scale
    corpus aggregates per target (WAT metadata carries it for the
    same reason). Built by :func:`page_facts`."""
    return page_facts(doc, base_url)[2]
