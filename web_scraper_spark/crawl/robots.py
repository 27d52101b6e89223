"""robots.txt parsing → the broadcastable rules table (J5 input).

The engine's politeness filter consumes (host, disallow[], allow[],
crawl_delay) rows (frontier.ROBOTS_SCHEMA) and matches them with
:func:`robots_allowed`. This module produces them from RAW robots.txt
bodies — the missing step when the input is a Common-Crawl style
corpus where robots bodies are just fetched pages.

Parsing is RELATIONAL, not a per-row state machine: explode lines,
classify each, mark user-agent BLOCK starts with a lag window, assign
every rule line to its governing block with a running sum, keep the
blocks whose user-agent set contains the target agent, and fold the
surviving rules per host. Scale shape: one shuffle on host for the
windows (robots bodies are tiny — one row per host — so the window
groups are line-count sized), everything JVM-side.

RFC 9309 subset implemented (deliberately, and mirrored by the q65
oracle): CRLF or LF line endings (real robots bodies are commonly
CRLF — a bare-\n split leaves \r in every value and silently drops
the whole group), comment stripping at '#', stacked consecutive User-agent
lines form one group, a User-agent line after rules starts a NEW
group, rules before any User-agent line are ignored, empty
Disallow/Allow values are ignored, first Crawl-delay in an applicable
group wins. Matching (:func:`robots_allowed`) is complete: longest
match wins, Allow wins ties, and patterns support the '*' any-run and
final '$' end anchor that RFC 9309 §2.2.3 requires. Literal patterns
stay a plain prefix test; only a pattern that holds a wildcard pays
for a regex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _robots_lines(df: DataFrame) -> DataFrame:
    """(host, robots_txt) bodies → (host, pos, raw, line) rows: split
    on CRLF or LF, ``line`` stripped of its '#' comment and
    surrounding blanks."""
    return df.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\r?\n", -1)).alias("pos", "raw"),
    ).withColumn(
        "line", F.trim(F.element_at(F.split(F.col("raw"), "#", 2), 1))
    )


def parse_robots(df: DataFrame, agent: str = "*") -> DataFrame:
    """(host, robots_txt) → (host, disallow array<string>, allow
    array<string>, crawl_delay double) for the given user agent.
    Hosts whose body yields no applicable rules are absent from the
    output (the politeness join is a left join, so they simply crawl
    unrestricted)."""
    lines = _robots_lines(df)
    low = F.lower(F.col("line"))
    classified = lines.select(
        "host",
        "pos",
        F.when(low.startswith("user-agent:"), F.lit("ua"))
        .when(low.startswith("disallow:"), F.lit("dis"))
        .when(low.startswith("allow:"), F.lit("allow"))
        .when(low.startswith("crawl-delay:"), F.lit("delay"))
        .otherwise(F.lit("other"))
        .alias("kind"),
        # try_element_at: comment/blank lines have no ':' → NULL value
        F.trim(F.try_element_at(F.split(F.col("line"), ":", 2), F.lit(2))).alias("value"),
    )
    w = Window.partitionBy("host").orderBy("pos")
    block_start = (
        (F.col("kind") == "ua")
        & (F.coalesce(F.lag("kind").over(w), F.lit("other")) != "ua")
    ).cast("int")
    grouped = classified.withColumn(
        "grp",
        F.sum(block_start).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    star_groups = (
        grouped.filter((F.col("kind") == "ua") & (F.col("value") == agent))
        .select("host", "grp")
        .distinct()
    )
    rules = grouped.filter(
        F.col("kind").isin("dis", "allow", "delay") & (F.col("grp") > 0)
    ).join(star_groups, ["host", "grp"], "left_semi")

    def rule_list(kind: str):
        return F.filter(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kind") == kind, F.struct("pos", "value"))
                    )
                ),
                lambda s: s["value"],
            ),
            lambda v: v != "",
        )

    return rules.groupBy("host").agg(
        rule_list("dis").alias("disallow"),
        rule_list("allow").alias("allow"),
        # try_cast: a malformed delay value ('Crawl-delay: fast') is
        # NULL, not a crawl-stopping ANSI error
        F.min(
            F.when(F.col("kind") == "delay", F.struct("pos", F.col("value")))
        )["value"].try_cast("double").alias("crawl_delay"),
    )


def robots_sitemaps(df: DataFrame) -> DataFrame:
    """``Sitemap:`` directives from raw (host, robots_txt) bodies →
    (host, sitemap_url, pos) — the discovery half of a sitemap-driven
    crawl (robots tells you WHERE the sitemaps are; crawl/sitemaps.py
    parses what you fetch from there).

    Per sitemaps.org and RFC 9309 §2.3 the directive is
    GROUP-INDEPENDENT — valid anywhere in the file, regardless of
    user-agent blocks — so extraction is a straight line filter: one
    explode + one filter, no block windows, NO shuffle at all (pure
    narrow plan; contrast :func:`parse_robots`'s per-host windows).
    The URL is everything after the FIRST colon (the value itself
    contains '://'). Comments strip at '#' under the same line-global
    rule as rule lines, so a fragment-bearing sitemap URL loses its
    fragment — documented and mirrored by the q92 oracle. ``pos`` is
    the 0-based line number (document order); callers dedupe/order as
    needed.
    """
    lines = _robots_lines(df)
    return (
        lines.filter(F.lower(F.col("line")).startswith("sitemap:"))
        .select(
            "host",
            F.trim(
                F.try_element_at(F.split(F.col("line"), ":", 2), F.lit(2))
            ).alias("sitemap_url"),
            F.col("pos").cast("long").alias("pos"),
        )
        .filter(F.col("sitemap_url").isNotNull() & (F.col("sitemap_url") != ""))
    )


def _pattern_regex(p):
    """robots pattern → anchored regex, in-expression: '*' matches any
    run, a FINAL '$' anchors the end, everything else is literal."""
    ends = p.endswith("$")
    core = F.when(ends, F.substring(p, 1, F.length(p) - 1)).otherwise(p)
    esc = F.regexp_replace(core, r"([.^$+?()\[\]{}|\\])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(F.lit("^"), wild, F.when(ends, F.lit("$")).otherwise(F.lit("")))


def robots_allowed(path, disallow, allow):
    """RFC 9309 longest-match precedence as a pure Column expression:
    among all matching rules the longest pattern wins, and an Allow
    wins length ties; no matching rule → allowed. A pattern matches
    as a literal path prefix unless it contains '*' (any run) or ends
    in '$' (end anchor); only those evaluate a regex."""

    def matches(p):
        wild = p.contains("*") | p.endswith("$")
        return F.when(wild, F.rlike(path, _pattern_regex(p))).otherwise(
            path.startswith(p)
        )

    def best(patterns):
        return F.aggregate(
            F.coalesce(patterns, F.array().cast("array<string>")),
            F.lit(-1),
            lambda acc, p: F.greatest(
                acc, F.when(matches(p), F.length(p)).otherwise(F.lit(-1))
            ),
        )

    return best(allow) >= best(disallow)


def robots_from_pages(pages: DataFrame) -> DataFrame:
    """(host, robots_txt) raw-rules rows from a pages corpus: the rows
    whose URL path is exactly ``/robots.txt`` ARE the robots bodies —
    the archive-replay source for :func:`parse_robots` and
    :func:`robots_sitemaps`, so a Common-Crawl snapshot supplies its
    own politeness rules and sitemap directives with no live fetch.
    Pure Column filter + decode (UTF-8 with replacement, the
    extraction pipeline's decode rule); pushes down to the scan."""
    return pages.filter(
        F.parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.decode(F.col("html"), "UTF-8").alias("robots_txt"),
    )
