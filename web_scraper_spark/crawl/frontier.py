"""Frontier construction and candidate filtering.

Frontier schema (``FRONTIER_SCHEMA``, FIXTURES.md §2):
    url, host, depth, priority, seq, round_id, status

Every frontier source (seeds, sitemaps, recrawl candidates, a round's
discovered links) builds its rows with :func:`frontier_rows`.

The filter chain per round (all JVM-side):
  P1 validity → P5 ignore-patterns → robots rules (broadcast join,
  J5; crawl/robots.py::robots_allowed) → URL-seen: exact anti-join
  against the seen table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import columns as C
from .robots import robots_allowed

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("round_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)

# crawl/robots.py::parse_robots output: the one rules-table shape
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("allow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)


def frontier_rows(
    df: DataFrame, depth: Column, priority: Column,
    seq: Column | None = None, round_id: int = 0,
) -> DataFrame:
    """``df``'s ``url`` column → pending FRONTIER_SCHEMA rows, in
    schema order. ``host`` is derived from the url; ``seq`` defaults to
    ``xxhash64(url)``, the stable unique tie-break every source but an
    ordered seed list uses."""
    return (
        df.select(
            "url",
            C.url_host(F.col("url")).alias("host"),
            depth.cast("int").alias("depth"),
            priority.cast("double").alias("priority"),
            (F.xxhash64("url") if seq is None else seq).alias("seq"),
        )
        .withColumn("round_id", F.lit(round_id))
        .withColumn("status", F.lit("pending"))
    )


def seeds_to_frontier(spark: SparkSession, urls: list[str]) -> DataFrame:
    """S1: ordered seed list → round-0 frontier. ``seq`` preserves seed
    order (the reference's processing order, contxt/cli.py:276)."""
    rows = [(u, i) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, "url string, seq long")
    return frontier_rows(df, F.lit(0), F.col("seq"), seq=F.col("seq"))


def apply_url_filters(
    frontier: DataFrame,
    robots: DataFrame | None = None,
    ignore_patterns: list[str] | None = None,
    trap_filter: bool = False,
) -> DataFrame:
    """Validity + ignore-patterns + trap + robots filters.

    robots (small, ROBOTS_SCHEMA) is broadcast (J5) and applied with
    RFC 9309 longest-match precedence, Allow winning ties
    (crawl/robots.py::robots_allowed) — a pure expression over the
    broadcast row. ``trap_filter`` adds the pathological-URL predicate
    (columns.is_crawler_trap: path depth / segment loops / query
    explosions / length) in the same codegen stage — frontier hygiene
    a discovery-driven crawl needs so one calendar page can't flood
    the frontier."""
    out = frontier.filter(C.is_valid_url(F.col("url")))
    if ignore_patterns:
        out = out.filter(~C.matches_ignore_patterns(F.col("url"), ignore_patterns))
    if trap_filter:
        out = out.filter(~C.is_crawler_trap(F.col("url")))
    if robots is not None:
        keep = robots_allowed(C.url_path(F.col("url")), F.col("disallow"), F.col("allow"))
        out = (
            out.join(F.broadcast(robots), "host", "left")
            .filter(keep)
            .drop("disallow", "allow")
        )
    return out


def apply_url_blocklist(
    frontier: DataFrame,
    blocked_domains: DataFrame | None = None,
    keywords: list[str] | None = None,
) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1: the
    UT1-blocklist + URL-keyword stage): drop rows whose host — or any
    parent domain — appears in ``blocked_domains`` (one ``domain``
    column), and rows whose URL contains any of ``keywords``.

    Scale shape: the keyword rule is the P5 pure predicate (codegen,
    no exchange). Domain containment explodes each host into its ≤
    label-count dot-suffixes (columns.host_suffixes) and semi-joins
    the BROADCAST blocklist on equality — no LIKE scan, no
    per-(row × entry) work; the matched-url set then anti-joins back
    on the url key. Two narrow url-keyed exchanges total, both
    elidable by AQE when the match set is small."""
    out = frontier
    if keywords:
        out = out.filter(~C.matches_ignore_patterns(F.col("url"), list(keywords)))
    if blocked_domains is not None:
        bl = F.broadcast(blocked_domains.select(F.col("domain").alias("_sfx")))
        hit = (
            out.select(
                F.col("url"),
                F.explode(
                    C.host_suffixes(C.url_host(F.col("url")))
                ).alias("_sfx"),
            )
            .join(bl, "_sfx", "left_semi")
            .select("url")
            .distinct()
        )
        out = out.join(hit, "url", "left_anti")
    return out


def probe_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    unpersist_into: list[DataFrame] | None = None,
    eager: bool = False,
) -> DataFrame:
    """Filter out already-seen URLs: one JVM ``left_anti`` join of the
    candidates against the exact seen table (first column = url).

    Exact by construction — ``fresh = candidates − seen`` — with no
    Python crossing, no driver collect and no forced broadcast: AQE
    picks broadcast or shuffle from the seen table's runtime size.

    The result is persisted (the round consumes it twice: the
    politeness schedule and the deferred-row rewrite of the next
    frontier); if the caller passes ``unpersist_into``, the cached
    DataFrame is appended there so the caller can release it once the
    round's actions ran. ``eager=True`` fills the cache immediately
    (one count job), so the filter chain upstream of the join executes
    exactly once per round."""
    if seen is None:
        return candidates
    fresh = candidates.join(
        seen.select(F.col(seen.columns[0]).alias("url")), "url", "left_anti"
    ).persist()
    if unpersist_into is not None:
        unpersist_into.append(fresh)
    if eager:
        fresh.count()
    return fresh
