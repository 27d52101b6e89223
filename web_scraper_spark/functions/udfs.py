"""Vectorized (Arrow-batched) extraction UDFs.

One struct-returning pandas UDF carries a whole HTML batch across the
JVM↔Python boundary exactly once and returns every extraction product
(cleaned html, extracted text, markdown body, OpenGraph map, image
records, title) in a single struct — downstream consumers select
fields, so Catalyst prunes unreferenced products at the Arrow writer.
The two counts, ``token_count`` (len(clean_html) // 4) and
``n_images``, are computed per row inside the same UDF; no JVM
post-pass recomputes them.

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


# Counts the UDF computes from products every record already holds:
# a 4-byte int crosses Arrow instead of the carrier column (clean_html
# for token_count, the image structs for n_images). token_count is the
# reference's tiktoken-absent estimator, len(clean_html) // 4
# (contxt/scraper.py:423-426).
_COMPUTED = {
    "token_count": (T.IntegerType(), lambda rec: len(rec["clean_html"]) // 4),
    "n_images": (T.IntegerType(), lambda rec: len(rec["images"])),
}


def make_extract_udf(products: tuple[str, ...]):
    """Build a struct-returning extraction UDF restricted to the
    requested products — column pruning *through* the Arrow boundary.

    Catalyst cannot prune inside an opaque UDF, so the caller declares
    which extraction products it needs and the Arrow return stream
    carries only those columns (markdown/clean_html dominate the
    return volume; a counts-only consumer ships ~50x fewer bytes).
    Besides the raw EXTRACTED_STRUCT fields, the pseudo-products
    ``token_count``/``n_images`` are computed per-row INSIDE the UDF,
    so a consumer of the counts never ships the carrier columns (the
    per-row record materializes clean_html/images regardless; only the
    Arrow transfer is saved).
    """
    want = set(products)
    fields = [f for f in EXTRACTED_STRUCT.fields if f.name in want]
    computed = [(n, fn) for n, (dt, fn) in _COMPUTED.items() if n in want]
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
                # null html: 0 images (no image structs) but a NULL
                # token count (no clean_html to measure)
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


def extract_pages(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    products: tuple[str, ...] | None = None,
) -> DataFrame:
    """pages → extracted: one Arrow round-trip.

    ``products`` limits which extraction outputs cross the Arrow
    boundary (None = all). ``token_count`` (len(clean_html) // 4) and
    ``n_images`` (len(images)) are always computed inside the UDF, so
    only the ints cross Arrow whether or not their carrier columns
    are requested; they come after the other products. Null html
    gives a null token_count and 0 images.
    """
    if products is None:
        products = (*ALL_PRODUCTS, *_COMPUTED)
    udf_prods = tuple(
        dict.fromkeys(
            [p for p in products if p in ALL_PRODUCTS]
            + [n for n in _COMPUTED if n in products]
        )
    )
    ex = make_extract_udf(udf_prods)(F.col(html_col), F.col(url_col))
    out = df.withColumn("_ex", ex)
    for name in udf_prods:
        out = out.withColumn(name, F.col(f"_ex.{name}"))
    return out.drop("_ex", html_col)
