"""Pure-Python HTML engine (stdlib-only, no bs4).

This package re-implements the reference's extraction semantics from
scratch on the tree of ``html.parser``:

- :mod:`dom`      — a minimal document tree with the bs4-compatible
                    subset of behaviors the reference relies on
                    (``get_text(strip=True)`` joining, single-string
                    descent, document-order ``find_all``).
- :mod:`clean`    — D1 cleaning pipeline (element/comment drop, attr
                    whitelist, li dedup, span concatenation, text
                    normalization) + OpenGraph extraction + image
                    extraction (reference: contxt/scraper.py:237-343).
- :mod:`markdown` — D2 HTML→Markdown traversal (reference:
                    contxt/formatters/markdown_formatter.py:85-283),
                    including its quirks (ledger Q5 in SURVEY.md).

Walks per page. ``functions.udfs.extract_page_record`` parses a page
once and then walks the tree once per phase. The parse,
:func:`dom.parse_html`, steps one compiled token regex along the page
and builds the tree as it goes; a page that regex does not tile is
parsed whole by ``html.parser`` instead, to the same tree. The phases:

- facts: :func:`clean.page_facts` reads the first ``og:*`` meta per
  property, the images and the anchors in one pre-clean walk;
- clean: :func:`clean.clean_dom` drops ``DROP_TAGS`` subtrees and
  comments and whitelists attributes in one top-down pass, then runs
  the li dedup, span concatenation and text normalization walks in
  that order;
- markdown: :func:`markdown.markdown_from_doc` finds the content root
  in one walk of the cleaned tree, then converts it in one more.

Every function here is a deterministic ``str -> str/dict`` transform:
no I/O, no clock, no randomness — safe to run inside vectorized UDFs
and to golden-test byte-for-byte.
"""
