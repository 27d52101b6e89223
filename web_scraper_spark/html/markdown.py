"""D2 HTML→Markdown conversion.

A from-scratch reimplementation of the reference's iterative
"breadth-first" converter — which, via ``pop(0)`` plus
``insert(0, reversed(children))``, is actually a preorder
document-order DFS (contxt/formatters/markdown_formatter.py:131-283);
here a plain LIFO stack walks the same order.

Text-node contract: ``markdown_from_doc`` emits each text node on its
own line, so it equals ``html_to_markdown(doc.to_html())`` only when
``doc`` has the text nodes a parse of that string gives. The parser
splits text at every raw ``<`` that opens no tag, and serialized text
has none, so a cleaned tree (no comments) meets this after
``Element.merge_text_nodes()``.

Faithfully reproduced quirks (SURVEY.md ledger):
- Q5: children of non-container tags are re-pushed after the tag's own
  ``get_text`` emission, so inline text (headings, paragraphs, links,
  bold, …) is emitted twice; containers (pre, blockquote, ul, ol,
  table) consume their children.
- ``get_text(strip=True)`` joins stripped segments with no separator.
- pre language sniff: last-wins across [pre, inner code] each taking
  its *first* ``language-*`` class.
- post-processing collapses 3+ newlines and forces a blank line before
  headings (contxt/formatters/markdown_formatter.py:119-129).

Doc assembly (frontmatter/title/source, D3) mirrors
contxt/formatters/markdown_formatter.py:27-83.
"""

from __future__ import annotations

import re

from .dom import Element, TextNode, parse_html

_NL3_RE = re.compile(r"\n{3,}")
_HEADING_GAP_RE = re.compile(r"([^\n])\n(#{1,6} )")


def _find_main_content(doc: Element) -> Element:
    """Content-root cascade: main, article, div#content, div.content,
    div[role=main], body, else the whole document
    (contxt/formatters/markdown_formatter.py:103-114).

    One document-order walk: it returns the first ``main`` at once,
    and otherwise the first element at the highest-ranked level seen
    (an element takes the best level it satisfies)."""
    best, best_rank = doc, 5
    for el in doc.iter_elements():
        name = el.name
        if name == "main":
            return el
        if name == "article":
            rank = 0
        elif name == "div":
            if el.attrs.get("id") == "content":
                rank = 1
            elif "content" in el.classes():
                rank = 2
            elif el.attrs.get("role") == "main":
                rank = 3
            else:
                continue
        elif name == "body":
            rank = 4
        else:
            continue
        if rank < best_rank:
            best, best_rank = el, rank
    return best


def html_to_markdown(html: str) -> str:
    """Convert an HTML string to Markdown (body conversion only)."""
    return markdown_from_doc(parse_html(html))


def markdown_from_doc(doc: Element) -> str:
    """Markdown body of a document tree, which is only read (text-node
    contract in the module docstring)."""
    out: list[str] = []
    _walk(_find_main_content(doc), out)
    raw = "\n".join(out)
    cleaned = _NL3_RE.sub("\n\n", raw)
    cleaned = _HEADING_GAP_RE.sub(r"\1\n\n\2", cleaned)
    return cleaned


def _walk(root: Element, out: list[str]) -> None:
    stack: list[Element | TextNode] = [root]
    while stack:
        element = stack.pop()

        if isinstance(element, TextNode):
            # The reference treats every string node — comments
            # included — as emittable text at this stage (cleaning has
            # already removed comments upstream in the pipeline).
            text = element.text.strip()
            if text:
                out.append(text)
            continue

        name = element.name
        if name in ("h1", "h2", "h3", "h4", "h5", "h6"):
            level = int(name[1])
            text = element.get_text(strip=True)
            out.append(f"\n{'#' * level} {text}\n")

        elif name == "p":
            text = element.get_text(strip=True)
            if text:
                out.append(f"{text}\n\n")

        elif name == "a":
            href = element.get("href", "")
            text = element.get_text(strip=True) or href
            out.append(f"[{text}]({href})")

        elif name == "img":
            src = element.get("src", "")
            alt = element.get("alt", "") or "Image"
            if src:
                out.append(f"![{alt}]({src})")

        elif name in ("strong", "b"):
            text = element.get_text(strip=True)
            if text:
                out.append(f"**{text}**")

        elif name in ("em", "i"):
            text = element.get_text(strip=True)
            if text:
                out.append(f"*{text}*")

        elif name == "code":
            code = element.get_text()
            if "`" in code:
                out.append(f"``{code}``")
            else:
                out.append(f"`{code}`")

        elif name == "pre":
            code = element.get_text()
            code_element = element.find("code")
            if code_element is not None:
                code = code_element.get_text()
            lang = ""
            for tag in (element, code_element):
                if tag is not None and tag.classes():
                    for cls in tag.classes():
                        if cls.startswith("language-"):
                            lang = cls[9:]
                            break
            out.append(f"```{lang}\n{code}\n```\n\n")
            continue  # container: children consumed

        elif name == "blockquote":
            text = element.get_text(strip=True)
            lines = text.split("\n")
            quoted = [f"> {line}" if line.strip() else ">" for line in lines]
            out.append("\n".join(quoted) + "\n\n")
            continue

        elif name in ("ul", "ol"):
            is_ordered = name == "ol"
            items = []
            for i, li in enumerate(element.find_all("li", recursive=False)):
                marker = f"{i + 1}." if is_ordered else "-"
                items.append(f"{marker} {li.get_text(strip=True)}")
            if items:
                out.append("\n".join(items) + "\n\n")
            continue

        elif name == "table":
            rows_out = []
            header_row = element.find("tr")
            if header_row is not None:
                headers, seps = [], []
                for th in header_row.find_all(("th", "td")):
                    t = th.get_text(strip=True)
                    headers.append(t)
                    seps.append("-" * max(3, len(t)))
                if headers:
                    rows_out.append("| " + " | ".join(headers) + " |")
                    rows_out.append("| " + " | ".join(seps) + " |")
            for i, row in enumerate(element.find_all("tr")):
                if i == 0 and header_row is not None:
                    continue
                cells = [c.get_text(strip=True) for c in row.find_all(("td", "th"))]
                if cells:
                    rows_out.append("| " + " | ".join(cells) + " |")
            if rows_out:
                out.append("\n".join(rows_out) + "\n\n")
            continue

        elif name == "hr":
            out.append("---\n\n")

        elif name == "br":
            out.append("\n")

        # Non-container tags re-push their children (quirk Q5: inline
        # content is emitted again as bare text); the containers above
        # ``continue`` past this.
        stack.extend(reversed(element.children))


def format_markdown_document(
    title: str,
    url: str,
    content_html: str,
    date: str = "",
    og_description: str | None = None,
    add_frontmatter: bool = True,
    include_source_link: bool = True,
    images: list[dict] | None = None,
    image_map: dict[str, str] | None = None,
    include_images: bool = True,
) -> str:
    """Assemble the final Markdown document (D3,
    contxt/formatters/markdown_formatter.py:27-83): YAML-ish
    frontmatter with escaped quotes, H1 title, source link, body,
    and the '## Images' section with image-map-resolved local paths
    (J1; unmapped URLs fall back to the remote URL, reference
    markdown_formatter.py:64-83)."""
    if not content_html:
        return f"# Error: {title or 'Unknown'}\n\nFailed to fetch content from {url or 'Unknown URL'}"

    result = []
    if add_frontmatter:
        result.append("---")
        result.append('title: "{}"'.format((title or "").replace('"', '\\"')))
        result.append(f'source: "{url}"')
        result.append(f'date: "{date}"')
        if og_description:
            result.append('description: "{}"'.format(og_description.replace('"', '\\"')))
        result.append("---\n")
    result.append(f"# {title}\n")
    if include_source_link:
        result.append(f"Source: [{url}]({url})\n")
    result.append(html_to_markdown(content_html))
    if include_images and images:
        image_map = image_map or {}
        result.append("\n## Images\n")
        for img in images:
            img_url = img["url"]
            img_alt = img.get("alt", "") or "Image"
            result.append(f"![{img_alt}]({image_map.get(img_url, img_url)})")
    return "\n".join(result)
