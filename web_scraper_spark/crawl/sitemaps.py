"""Sitemap parsing for frontier seeding.

The north-star crawl is "sitemap-driven": a (sitemap_url, body) table
of fetched sitemap XML — Common-Crawl-style seed lists — becomes the
frontier's seed URL set. The sitemaps.org format is two shapes of the
same document: ``<urlset><url><loc>…</loc><lastmod>…</lastmod></url>``
leaves, and ``<sitemapindex><sitemap><loc>…</loc></sitemap>`` index
files pointing at more sitemaps (feed those locs back through the
fetch join for one more hop).

Implementation note: the obvious route is an Arrow UDF with an XML
library, but sitemap XML is rigid enough that a pair of regexes is a
complete parser for the spec's surface — and a pure Column expression
(``regexp_extract_all`` + ``posexplode``) stays inside whole-stage
codegen, needs no Python workers, prunes to the [url, body] columns,
and is reproducible bit-for-bit in the q90 SQL oracle. Parsing 10^10
sitemap entries is then exactly one scan. The five predefined XML
entities are unescaped (``&amp;`` last, per the spec).

Reference analog: none (the reference crawls one site interactively);
this is the at-scale seeding path the BASELINE north star names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: block matcher: one <url>…</url> or <sitemap>…</sitemap> entry,
#: (?s) so entries may span lines
_BLOCK_RE = r"(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>"
_LOC_RE = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD_RE = r"<lastmod>\s*([^<]*?)\s*</lastmod>"


#: bounded numeric-character-reference set (decimal + hex spellings,
#: [xX] + hex-digit classes instead of (?i) for engine portability):
#: the characters that actually appear escaped in real-world sitemap
#: <loc> values. The &-producing refs sit LAST so their output can't
#: feed an earlier pattern; general numeric refs outside this set are
#: out of scope (documented gap — a full decoder needs a computed
#: replacement, which regexp_replace cannot express).
_NUMERIC_REFS = [
    (r"&#(?:34|[xX]22);", '"'),
    (r"&#(?:39|[xX]27);", "'"),
    (r"&#(?:47|[xX]2[fF]);", "/"),
    (r"&#(?:60|[xX]3[cC]);", "<"),
    (r"&#(?:61|[xX]3[dD]);", "="),
    (r"&#(?:62|[xX]3[eE]);", ">"),
    (r"&#(?:38|[xX]26);", "&"),
]


def xml_unescape(col: Column) -> Column:
    """Unescape the five predefined XML entities plus the common
    numeric character references in :data:`_NUMERIC_REFS`; the
    ``&``-producing forms (``&#38;``/``&#x26;``/``&amp;``) run LAST so
    double-escaped text (``&amp;lt;``, ``&amp;#x2F;``) resolves one
    level only, per the XML spec. Known edge (accepted): a numeric ref
    that *spells* an entity (``&#38;amp;``) decodes two levels —
    single-pass semantics would need a computed-replacement regex that
    neither Spark nor the SQL oracle can express."""
    out = F.replace(col, F.lit("&lt;"), F.lit("<"))
    out = F.replace(out, F.lit("&gt;"), F.lit(">"))
    out = F.replace(out, F.lit("&quot;"), F.lit('"'))
    out = F.replace(out, F.lit("&apos;"), F.lit("'"))
    for pat, rep in _NUMERIC_REFS:
        out = F.regexp_replace(out, pat, rep)
    return F.replace(out, F.lit("&amp;"), F.lit("&"))


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """Parse fetched (sitemap_url, body) rows into one row per entry.

    Returns (sitemap_url, pos, loc, lastmod, is_index):

    - ``pos``: 0-based entry position within its sitemap;
    - ``loc``: the entry URL, whitespace-trimmed and XML-unescaped;
    - ``lastmod``: the trimmed ``<lastmod>`` string, NULL when the
      optional element is absent (kept as a string — date formats in
      the wild are too loose to force a timestamp here);
    - ``is_index``: true when the document is a ``<sitemapindex>``
      (its locs are MORE sitemaps — route them back through the
      fetch join, not into the frontier).

    Scale shape: two pure Column regex passes + one posexplode — no
    shuffle, no UDF; a predicate on ``is_index`` or host pushes into
    the scan.
    """
    blocks = F.regexp_extract_all(F.col("body"), F.lit(_BLOCK_RE), 0)
    rows = df.select(
        "sitemap_url",
        F.col("body").contains("<sitemapindex").alias("is_index"),
        F.posexplode(blocks).alias("pos", "b"),
    )
    loc = xml_unescape(F.trim(F.regexp_extract("b", _LOC_RE, 1)))
    lastmod = F.trim(F.regexp_extract("b", _LASTMOD_RE, 1))
    return rows.select(
        "sitemap_url",
        F.col("pos").cast("long").alias("pos"),
        loc.alias("loc"),
        F.when(lastmod == "", F.lit(None).cast("string"))
        .otherwise(lastmod)
        .alias("lastmod"),
        "is_index",
    )


def seed_urls_from_sitemaps(parsed: DataFrame) -> DataFrame:
    """Frontier seed set from :func:`parse_sitemaps` output: leaf
    entries only (index locs are further sitemaps to fetch), distinct
    by URL. One distinct exchange on the url key."""
    return (
        parsed.filter(~F.col("is_index"))
        .select(F.col("loc").alias("url"))
        .distinct()
    )


def frontier_from_sitemaps(parsed: DataFrame) -> DataFrame:
    """Round-0 frontier rows (FRONTIER_SCHEMA) from
    :func:`parse_sitemaps` output — the sitemap-driven analog of
    ``seeds_to_frontier`` and the executed seeding path of
    ``crawl.rounds.init_crawl(seed_sitemaps=...)``.

    Ordering contract (pure functions of the data — no global sort, so
    seeding 10^10 entries is one groupBy exchange on the url key):

    - ``priority`` = the minimum ``pos`` across the url's occurrences
      (the sitemap author's stated order; entries early in ANY sitemap
      schedule first, interleaved across sitemaps);
    - ``seq`` = :func:`frontier.frontier_rows`' ``xxhash64(url)``.

    Leaf entries only: ``is_index`` locs are MORE sitemaps — fetch
    them and include their bodies in the input table instead (one
    hop of nesting per fetch round; :func:`parse_sitemaps` parses
    every body it is given, so a table containing both the index and
    its children seeds from the children's entries).
    """
    from .frontier import frontier_rows

    first = (
        parsed.filter(~F.col("is_index"))
        .groupBy(F.col("loc").alias("url"))
        .agg(F.min("pos").alias("p"))
    )
    return frontier_rows(first, F.lit(0), F.col("p"))


def sitemap_seeds_from_robots(
    robots_raw: DataFrame,
    pages: DataFrame,
) -> DataFrame:
    """End-to-end sitemap DISCOVERY: raw (host, robots_txt) bodies →
    ``Sitemap:`` directive URLs → fetch-join against the pages corpus
    → the (sitemap_url, body) table ``run_crawl(seed_sitemaps=...)``
    expects. Closes the north star's loop (robots names the sitemaps,
    the corpus fetch supplies their XML, the pure-Column parser seeds
    the frontier) with zero Python.

    Scale shape: the directive extraction is shuffle-free
    (:func:`crawl.robots.robots_sitemaps`); the distinct directive
    set is tiny (≈ sitemaps per host) and joins the corpus on the url
    key — Spark broadcasts it, so the corpus never shuffles. Sitemap
    URLs absent from the corpus simply don't seed (inner fetch join);
    bodies decode as UTF-8 with replacement, mirroring the extraction
    pipeline's decode rule.
    """
    from .robots import robots_sitemaps

    urls = (
        robots_sitemaps(robots_raw)
        .select("sitemap_url")
        .distinct()
    )
    return urls.join(
        pages.select(
            F.col("url").alias("sitemap_url"),
            F.decode(F.col("html"), "UTF-8").alias("body"),
        ),
        "sitemap_url",
    )
