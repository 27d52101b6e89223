"""Vectorized (Arrow-batched) extraction UDFs.

One struct-returning pandas UDF carries a whole HTML batch across the
JVM↔Python boundary exactly once and returns every extraction product
(cleaned html, extracted text, markdown body, OpenGraph map, image
records, title) in a single struct — downstream consumers select
fields, so Catalyst prunes unreferenced products at the Arrow writer.

Per-row semantics delegate to :mod:`web_scraper_spark.html` (the
deterministic extraction core), one parse per page; nothing else in
the pipeline runs Python per row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..html.clean import clean_dom, page_facts
from ..html.dom import parse_html
from ..html.markdown import markdown_from_doc

IMAGE_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("alt", T.StringType()),
        T.StructField("width", T.StringType()),
        T.StructField("height", T.StringType()),
    ]
)

EXTRACTED_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("clean_html", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("og_title", T.StringType()),
        T.StructField("og_description", T.StringType()),
        T.StructField("og_image", T.StringType()),
        T.StructField("images", T.ArrayType(IMAGE_STRUCT)),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField(
            "anchors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("url", T.StringType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def extract_page_record(html: str, url: str) -> dict:
    """Pure per-row extraction (driver-free, clock-free): D1 clean →
    serialize → D2 markdown, the reference's per-URL dataflow
    (contxt/cli.py:44-118; contract per SURVEY.md caveat 1). One parse
    serves OG/images/links (read pre-clean in one walk, as in the
    reference), the clean, and the markdown walk over the cleaned tree,
    whose text nodes are first merged as a parse of ``clean_html``
    would split them."""
    doc = parse_html(html)
    og, images, anchors = page_facts(doc, url)
    links = [a["url"] for a in anchors]
    clean_dom(doc)
    cleaned = doc.to_html()
    title_el = doc.find("title")
    title = title_el.get_text(strip=True) if title_el is not None else ""
    # ``text`` joins the unmerged segments with " "; merge only after it
    text = doc.get_text(strip=True, separator=" ")
    doc.merge_text_nodes()
    return {
        "title": title or og.get("og_title") or url,
        "clean_html": cleaned,
        "text": text,
        "markdown": markdown_from_doc(doc),
        "og_title": og.get("og_title"),
        "og_description": og.get("og_description"),
        "og_image": og.get("og_image"),
        "images": images,
        "links": links,
        "anchors": anchors,
    }


ALL_PRODUCTS = tuple(f.name for f in EXTRACTED_STRUCT.fields)


# Counts computable inside the UDF from products the extraction
# already materializes per-row — shipping a 4-byte int instead of the
# whole carrier column (clean_html for token_count, the image structs
# for n_images) across Arrow. Semantics are identical to the JVM
# post-pass: char4 = len(clean_html) // 4, n_images = len(images).
_COMPUTED = {
    "token_count": (T.IntegerType(), lambda rec: len(rec["clean_html"]) // 4),
    "n_images": (T.IntegerType(), lambda rec: len(rec["images"])),
}


def make_extract_udf(products: tuple[str, ...] = ALL_PRODUCTS):
    """Build a struct-returning extraction UDF restricted to the
    requested products — column pruning *through* the Arrow boundary.

    Catalyst cannot prune inside an opaque UDF, so the caller declares
    which extraction products it needs and the Arrow return stream
    carries only those columns (markdown/clean_html dominate the
    return volume; a counts-only consumer ships ~50x fewer bytes).
    Besides the raw EXTRACTED_STRUCT fields, the pseudo-products
    ``token_count``/``n_images`` are computed per-row INSIDE the UDF —
    the crawl hot path ships the counts without the carrier columns
    (the per-row record materializes clean_html/images regardless; only
    the Arrow transfer is saved).
    """
    want = set(products)
    fields = [f for f in EXTRACTED_STRUCT.fields if f.name in want]
    computed = [
        (n, fn)
        for n, (dt, fn) in _COMPUTED.items()
        if n in want and n not in {f.name for f in fields}
    ]
    schema = T.StructType(
        fields + [T.StructField(n, _COMPUTED[n][0]) for n, _ in computed]
    )
    names = [f.name for f in fields]
    all_names = names + [n for n, _ in computed]

    @pandas_udf(schema)
    def extract_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        rows = []
        for h, u in zip(html, url):
            if h is None:
                row = {
                    n: ([] if n in ("images", "links", "anchors") else None)
                    for n in names
                }
                # match the JVM post-pass on null html: size([]) = 0
                # images but a NULL token count (length(NULL) is NULL)
                row.update({n: 0 if n == "n_images" else None for n, _ in computed})
                rows.append(row)
                continue
            if isinstance(h, (bytes, bytearray)):
                h = bytes(h).decode("utf-8", errors="replace")
            rec = extract_page_record(h, u or "")
            row = {n: rec[n] for n in names}
            row.update({n: fn(rec) for n, fn in computed})
            rows.append(row)
        return pd.DataFrame(rows, columns=all_names)

    return extract_udf


extract_page_udf = make_extract_udf()


def extract_pages(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    products: tuple[str, ...] | None = None,
) -> DataFrame:
    """pages → extracted: one Arrow round-trip, then JVM-side products.

    ``products`` limits which extraction outputs cross the Arrow
    boundary (None = all). token_count uses the reference's fallback
    estimator over clean_html (len // 4, contxt/scraper.py:423-426):
    when clean_html is itself a requested product the count is a pure
    Column expression over it (JVM, codegen — the tokenizer seam);
    when it is NOT requested the count is computed inside the UDF and
    only the int crosses Arrow — the crawl hot path never ships the
    page-sized carrier column just to derive a count (the
    extract-full-vs-pruned scaling gap in BENCH/BASELINE.md). Same
    for n_images vs the images struct array.
    """
    want_tokens = products is None or "token_count" in products
    want_nimages = products is None or "n_images" in products
    if products is None:
        base = list(ALL_PRODUCTS)
    else:
        base = [p for p in products if p in ALL_PRODUCTS]
    # carrier requested → JVM-side count over it (keeps the tokenizer
    # seam swappable without touching the UDF); carrier absent →
    # in-UDF pseudo-product, carrier never crosses Arrow
    jvm_tokens = want_tokens and "clean_html" in base
    jvm_nimages = want_nimages and "images" in base
    udf_prods = tuple(
        dict.fromkeys(
            base
            + (["token_count"] if want_tokens and not jvm_tokens else [])
            + (["n_images"] if want_nimages and not jvm_nimages else [])
        )
    )
    udf = extract_page_udf if udf_prods == ALL_PRODUCTS else make_extract_udf(udf_prods)
    ex = udf(F.col(html_col), F.col(url_col))
    out = df.withColumn("_ex", ex)
    for name in udf_prods:
        out = out.withColumn(name, F.col(f"_ex.{name}"))
    out = out.drop("_ex", html_col)
    if jvm_tokens:
        # A4 via the tokenizer seam: the char4 fallback matches the
        # reference's tiktoken-absent branch (contxt/scraper.py:423-426)
        # and compiles to a JVM expression; a real cluster swaps the
        # encoder without touching this call site.
        from .tokenizer import Char4Encoder, token_count_column

        out = out.withColumn(
            "token_count", token_count_column(F.col("clean_html"), Char4Encoder())
        )
    if jvm_nimages:
        out = out.withColumn("n_images", F.size("images"))
    return out
