"""The ``html`` layer timed in one Python process, outside Spark.

Times each step of the per-page extraction over the same seeded pages
the Spark workloads generate: ``html.dom.parse_html``,
``html.clean.clean_dom`` (on a fresh parse), ``html.markdown.
html_to_markdown`` (on the cleaned HTML) and the whole
``functions.udfs.extract_page_record``. Reports microseconds per page,
the median over ``repeats`` passes.
"""

from __future__ import annotations

import statistics
import time


def time_html_layer(seed: int, n_pages: int, universe: int, repeats: int = 3) -> dict[str, float]:
    from web_scraper_spark.functions.udfs import extract_page_record
    from web_scraper_spark.html.clean import clean_dom
    from web_scraper_spark.html.dom import parse_html
    from web_scraper_spark.html.markdown import html_to_markdown
    from web_scraper_spark.sources.pages import gen_page_html, url_for

    from .inputs import sample_ids

    rids = sample_ids(seed + 1, universe, min(n_pages, universe))
    pages = [(gen_page_html(r, seed, universe), url_for(r)) for r in rids]
    cleaned = []
    for html, _ in pages:
        doc = parse_html(html)
        clean_dom(doc)
        cleaned.append(doc.to_html())

    def per_page_us(fn, items) -> float:
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for item in items:
                fn(item)
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls) / len(items) * 1e6

    clean_walls = []
    for _ in range(repeats):
        docs = [parse_html(h) for h, _ in pages]  # clean_dom mutates its input
        t0 = time.perf_counter()
        for doc in docs:
            clean_dom(doc)
        clean_walls.append(time.perf_counter() - t0)
    return {
        "html.parse_us": per_page_us(lambda p: parse_html(p[0]), pages),
        "html.clean_us": statistics.median(clean_walls) / len(pages) * 1e6,
        "html.markdown_us": per_page_us(html_to_markdown, cleaned),
        "html.extract_us": per_page_us(lambda p: extract_page_record(*p), pages),
    }
