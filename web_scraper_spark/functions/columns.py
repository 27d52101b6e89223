"""JVM-side Column functions (no Python in the hot path).

Each function mirrors a scalar/predicate operator of the reference
(SURVEY.md §2.2/§2.8 ids cited) as a pure ``pyspark.sql.functions``
composition so Catalyst can push, prune, and codegen it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- URL decomposition (F1, contxt/utils.py:7-13 + urlparse use sites) ----

def url_host(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def url_path(url: Column) -> Column:
    return F.parse_url(url, F.lit("PATH"))


def url_scheme(url: Column) -> Column:
    return F.parse_url(url, F.lit("PROTOCOL"))


def is_valid_url(url: Column) -> Column:
    """P1: scheme AND netloc non-empty (contxt/utils.py:7-13)."""
    return (
        url_scheme(url).isNotNull()
        & (url_scheme(url) != "")
        & url_host(url).isNotNull()
        & (url_host(url) != "")
    )


# -- YouTube URL classification (P2-P4, contxt/youtube_handler.py:6-31) ---

def is_youtube_url(url: Column) -> Column:
    """P2: substring test (contxt/cli.py:40-42)."""
    return url.contains("youtube.com") | url.contains("youtu.be")


def youtube_video_id(url: Column) -> Column:
    """P4: 11-char id, bare or via v=/youtu.be/ (handler.py:6-13);
    no match → null (reference raises; null + downstream filter here)."""
    bare = F.regexp_extract(url, r"^([\w-]{11})$", 1)
    embedded = F.regexp_extract(url, r"(?:v=|youtu\.be/)([\w-]{11})", 1)
    return F.when(bare != "", bare).when(embedded != "", embedded)


def youtube_url_type(url: Column) -> Column:
    """P3: ordered classification — playlist (list= wins) > channel >
    video > unknown (contxt/youtube_handler.py:15-31). Rule order is
    semantic and preserved."""
    return (
        F.when(
            url.contains("youtube.com/playlist") | url.contains("list="), F.lit("playlist")
        )
        .when(
            url.contains("youtube.com/channel")
            | url.contains("youtube.com/c/")
            | url.contains("youtube.com/@"),
            F.lit("channel"),
        )
        .when(youtube_video_id(url).isNotNull(), F.lit("video"))
        .otherwise(F.lit("unknown"))
    )


# -- filenames / strings (F3, F16, L3) ------------------------------------

# Python's re \s in str mode: Java default \s plus \x1c-\x1f and the
# Unicode White_Space set — spelled out so Spark (Java regex) matches
# the reference's CPython semantics byte-for-byte.
_PY_WS = (
    "[\\s\\u001C-\\u001F\\u0085\\u00A0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]+"
)


def sanitize_filename(name: Column) -> Column:
    r"""F3: strip [\/*?:"<>|], whitespace→_, cap 100 (contxt/utils.py:15-24).

    Whitespace class replicates CPython's ``\s`` (which also matches
    \x1c-\x1f), not Java's narrower default."""
    cleaned = F.regexp_replace(name, r'[\\/*?:"<>|]', "")
    underscored = F.regexp_replace(cleaned, _PY_WS, "_")
    return F.substring(underscored, 1, 100)


def filename_from_url(url: Column) -> Column:
    """F16: '{domain}_{path with / → _}', empty path → 'index'
    (contxt/outputs.py:103-113), then sanitized (F3)."""
    host = url_host(url)
    path = F.regexp_replace(url_path(url), r"/+$", "")  # rstrip('/')
    flat = F.regexp_replace(F.regexp_replace(path, "/", "_"), r"^_+", "")
    key = F.when(path == "", F.concat(host, F.lit("_index"))).otherwise(
        F.concat(host, F.lit("_"), flat)
    )
    return sanitize_filename(key)


def image_ext(url: Column) -> Column:
    """F15: path extension if whitelisted, else '.jpg'
    (contxt/scraper.py:476-482)."""
    ext = F.regexp_extract(url_path(url), r"(\.[^./]+)$", 1)
    return F.when(
        ext.isin(".jpg", ".jpeg", ".png", ".gif", ".webp", ".svg", ".avif"), ext
    ).otherwise(F.lit(".jpg"))


def matches_ignore_patterns(url: Column, patterns: list[str]) -> Column:
    """P5: config ignore_patterns as a real frontier filter — true when
    any pattern substring-matches the URL (contxt/config.py:21,
    README.md:75; declared-but-unwired in the reference, wired here)."""
    if not patterns:
        return F.lit(False)
    cond = url.contains(patterns[0])
    for p in patterns[1:]:
        cond = cond | url.contains(p)
    return cond


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a hostname, most-specific first:
    ``a.b.com → [a.b.com, b.com, com]`` — the equi-join key set for
    domain-blocklist matching (an entry for ``b.com`` must catch every
    subdomain; suffix expansion turns that containment into a plain
    broadcast equi-join instead of a LIKE scan). Pure Column
    expression; ≤ label-count elements per row."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(".", F.slice(labels, i + 1, n - i)),
    )


def is_crawler_trap(url: Column) -> Column:
    """Pathological-URL (crawler-trap) predicate — the frontier-hygiene
    rule every production crawler runs before enqueueing a discovered
    link (Heritrix's PathologicalPath/TooManyPathSegments/TooManyHops
    decide-rule family; the reference has no crawl loop, so no analog
    — this guards the rebuild's own discovery path). A trap URL is one
    that matches ANY of four deterministic shape rules:

    - path depth: more than 12 non-empty ``/`` segments
      (infinitely-nesting directory mirrors);
    - segment repetition: any single path segment occurring 3+ times
      (``/a/b/a/b/a`` self-link loops — count-based, not
      consecutive-only, so alternating loops trip it);
    - query-param count: more than 8 non-empty ``&``-separated params
      (faceted-search / session-id explosions);
    - raw length over 2,048 chars.

    Pure Column expression (parse_url + array HOFs, whole-stage
    codegen) — at 10^10-URL scale this runs once per discovered link
    inside the same stage as the validity/ignore filters, no extra
    exchange. A normal site never trips these bounds; the rule is
    switched on by CrawlConfig.trap_filter."""
    segs = F.filter(
        F.split(F.coalesce(url_path(url), F.lit("")), "/"),
        lambda s: s != "",
    )
    depth_trap = F.size(segs) > 12
    repeat_trap = F.exists(
        segs,
        lambda s: F.size(F.filter(segs, lambda x: x == s)) >= 3,
    )
    query = F.parse_url(url, F.lit("QUERY"))
    n_params = F.when(query.isNull() | (query == ""), F.lit(0)).otherwise(
        F.size(F.filter(F.split(query, "&"), lambda p: p != ""))
    )
    return (
        depth_trap
        | repeat_trap
        | (n_params > 8)
        | (F.length(url) > 2048)
    )


def canonical_url(url: Column) -> Column:
    """Frontier URL canonicalization — the pre-seen-probe dedup key a
    10^10-URL crawl needs so trivially-distinct spellings of one page
    don't multiply the frontier: lowercase scheme+authority, strip the
    default port (:80 http / :443 https), drop the fragment, drop
    ``utm_*`` tracking params, sort the remaining query params, and
    strip a trailing slash from non-root paths. Pure Column
    expression (parse_url + array ops); the q60 oracle mirrors it
    with regex decomposition (DuckDB has no parse_url)."""
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(url, F.lit("AUTHORITY")))
    auth = (
        F.when(proto == "http", F.regexp_replace(auth, ":80$", ""))
        .when(proto == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.parse_url(url, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(
        F.when(path != "/", F.regexp_replace(path, "/$", "")).otherwise(path)
    )
    query = F.parse_url(url, F.lit("QUERY"))
    params = F.array_sort(
        # drop empty params too ('a=1&&b=2', trailing '&') — they would
        # otherwise survive as '?&a=1' and weaken the dedup key
        F.filter(F.split(query, "&"), lambda p: (p != "") & ~p.startswith("utm_"))
    )
    qpart = F.when(
        query.isNotNull() & (F.size(params) > 0),
        F.concat(F.lit("?"), F.concat_ws("&", params)),
    ).otherwise(F.lit(""))
    return F.concat(proto, F.lit("://"), auth, path, qpart)


def surt_url(url: Column) -> Column:
    """SURT-form archive key (Sort-friendly URI Reordering Transform,
    the key every web-archive CDX index sorts by — pywb/OpenWayback
    convention): scheme dropped, host lowercased, leading ``www.``
    stripped, default port (:80 http / :443 https) stripped, host
    labels reversed and comma-joined, then ``)`` + lowercased path
    (trailing slash stripped off non-root paths) + sorted query with
    ``utm_*``/empty params dropped, fragment gone. One SURT bucket =
    one page identity across trivially-distinct spellings — the prefix
    scan key for a 100-TB archive index. Pure Column expression;
    shares canonicalization policy with canonical_url above."""
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    auth = F.lower(F.parse_url(url, F.lit("AUTHORITY")))
    auth = (
        F.when(proto == "http", F.regexp_replace(auth, ":80$", ""))
        .when(proto == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    host = F.regexp_replace(F.regexp_replace(auth, ":\\d+$", ""), "^www\\.", "")
    port = F.regexp_extract(auth, ":(\\d+)$", 1)
    rev = F.concat_ws(",", F.reverse(F.split(host, "\\.")))
    hostport = F.when(port == "", rev).otherwise(F.concat(rev, F.lit(":"), port))
    path = F.lower(F.parse_url(url, F.lit("PATH")))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(
        F.when(path != "/", F.regexp_replace(path, "/$", "")).otherwise(path)
    )
    query = F.lower(F.parse_url(url, F.lit("QUERY")))
    params = F.array_sort(
        F.filter(F.split(query, "&"), lambda p: (p != "") & ~p.startswith("utm_"))
    )
    qpart = F.when(
        query.isNotNull() & (F.size(params) > 0),
        F.concat(F.lit("?"), F.concat_ws("&", params)),
    ).otherwise(F.lit(""))
    return F.concat(hostport, F.lit(")"), path, qpart)
