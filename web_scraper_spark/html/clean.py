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


def extract_og_metadata(doc: Element) -> dict:
    """First og:title / og:description / og:image meta with non-empty
    content (contxt/scraper.py:324-343)."""
    metadata = {}
    for key, prop in (
        ("og_title", "og:title"),
        ("og_description", "og:description"),
        ("og_image", "og:image"),
    ):
        tag = doc.find("meta", property=prop)
        if tag is not None and tag.get("content"):
            metadata[key] = tag.attrs["content"]
    return metadata


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
    for node in doc.text_nodes(include_comments=False):
        if node.text:
            node.text = _WS_RE.sub(" ", _SVG_RE.sub("", node.text)).strip()


def clean_dom(doc: Element) -> Element:
    """Destructive D1 cleaning stages, in semantic order (element drop →
    comment drop → attr whitelist → li dedup → span concat → text
    normalize). Mutates ``doc`` in place and returns it."""
    for el in doc.find_all(DROP_TAGS):
        el.decompose()

    for node in doc.text_nodes(include_comments=True):
        if node.is_comment:
            node.decompose()

    for el in doc.find_all():
        el.attrs = {k: v for k, v in el.attrs.items() if k in ALLOWED_ATTRS}

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
    images = []
    for img in doc.find_all("img"):
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
    return images


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
    same reason)."""
    out = []
    for a in doc.find_all("a"):
        href = a.get("href")
        if not href:
            continue
        absu = urljoin(base_url, href)
        absu = absu.split("#", 1)[0]
        if absu.startswith(("http://", "https://")):
            out.append({"url": absu, "text": a.get_text(strip=True)})
    return out


_TAG_RE = re.compile(r"<[^>]+>")


def strip_tags(text: str) -> str:
    """``re.sub(r'<[^>]+>', '', text)`` (contxt/scraper.py:421)."""
    return _TAG_RE.sub("", text)
