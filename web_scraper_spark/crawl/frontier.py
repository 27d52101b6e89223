"""Frontier construction and candidate filtering.

Frontier schema (``FRONTIER_SCHEMA``, FIXTURES.md §2):
    url, host, depth, priority, seq, round_id, status

The filter chain per round (all JVM-side):
  P1 validity → P5 ignore-patterns → robots disallow (broadcast join,
  J5) → URL-seen: exact anti-join against the seen table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import columns as C

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

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)


def seeds_to_frontier(spark: SparkSession, urls: list[str], round_id: int = 0) -> DataFrame:
    """S1: ordered seed list → round-0 frontier. ``seq`` preserves seed
    order (the reference's processing order, contxt/cli.py:276)."""
    rows = [(u, i) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, "url string, seq long")
    return df.select(
        "url",
        C.url_host(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        F.col("seq").cast("double").alias("priority"),
        "seq",
        F.lit(round_id).alias("round_id"),
        F.lit("pending").alias("status"),
    )


def apply_url_filters(
    frontier: DataFrame,
    robots: DataFrame | None = None,
    ignore_patterns: list[str] | None = None,
    trap_filter: bool = False,
) -> DataFrame:
    """Validity + ignore-patterns + trap + robots filters.

    robots (small) is broadcast (J5). Two rule shapes are accepted:
    the legacy (host, disallow[], crawl_delay) table applies
    any-prefix disallow; a table that ALSO carries an ``allow`` column
    (crawl/robots.py::parse_robots output) applies RFC 9309
    longest-match precedence with Allow winning ties. Both are pure
    expressions over the broadcast row. ``trap_filter`` adds the
    pathological-URL predicate (columns.is_crawler_trap: path depth /
    segment loops / query explosions / length) in the same codegen
    stage — frontier hygiene a discovery-driven crawl needs so one
    calendar page can't flood the frontier."""
    out = frontier.filter(C.is_valid_url(F.col("url")))
    if ignore_patterns:
        out = out.filter(~C.matches_ignore_patterns(F.col("url"), ignore_patterns))
    if trap_filter:
        out = out.filter(~C.is_crawler_trap(F.col("url")))
    if robots is not None:
        path = C.url_path(F.col("url"))
        joined = out.join(F.broadcast(robots), "host", "left")
        if "allow" in robots.columns:
            from .robots import robots_allowed

            keep = robots_allowed(path, F.col("disallow"), F.col("allow"))
            out = joined.filter(keep).drop("disallow", "allow")
        else:
            disallowed = F.exists(
                F.coalesce(F.col("disallow"), F.array()),
                lambda p: path.startswith(p),
            )
            out = joined.filter(~disallowed).drop("disallow")
    return out


def apply_url_blocklist(
    frontier: DataFrame,
    blocked_domains: DataFrame | None = None,
    keywords: list[str] | None = None,
    url_col: str = "url",
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
        out = out.filter(~C.matches_ignore_patterns(F.col(url_col), list(keywords)))
    if blocked_domains is not None:
        bl = F.broadcast(blocked_domains.select(F.col("domain").alias("_sfx")))
        hit = (
            out.select(
                F.col(url_col),
                F.explode(
                    C.host_suffixes(C.url_host(F.col(url_col)))
                ).alias("_sfx"),
            )
            .join(bl, "_sfx", "left_semi")
            .select(url_col)
            .distinct()
        )
        out = out.join(hit, url_col, "left_anti")
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
