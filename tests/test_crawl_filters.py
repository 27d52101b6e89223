"""Frontier filter chain: robots disallow (broadcast join), ignore
patterns (the reference's declared-but-unwired config, wired here),
depth cap, and the exact seen check."""

from pyspark.sql import functions as F

from web_scraper_spark.crawl.frontier import (
    ROBOTS_SCHEMA,
    apply_url_filters,
    probe_seen,
    seeds_to_frontier,
)
from web_scraper_spark.crawl.simulator import SimConfig, simulate_crawl
from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl
from web_scraper_spark.html.clean import extract_links
from web_scraper_spark.sources.pages import gen_page_html, pages_df, url_for


def test_robots_disallow_prefix_filter(spark):
    f = seeds_to_frontier(
        spark,
        [
            "https://a.x/allowed/p",
            "https://a.x/private/p",
            "https://b.x/private/p",  # other host: not disallowed
        ],
    )
    robots = spark.createDataFrame(
        [("a.x", ["/private"], None, 1.0)], ROBOTS_SCHEMA
    )
    out = {r["url"] for r in apply_url_filters(f, robots=robots).collect()}
    assert out == {"https://a.x/allowed/p", "https://b.x/private/p"}


def test_ignore_patterns_filter(spark):
    f = seeds_to_frontier(
        spark, ["https://a.x/tags/t1", "https://a.x/docs/d1", "not-a-url"]
    )
    out = {r["url"] for r in apply_url_filters(f, ignore_patterns=["/tags/"]).collect()}
    assert out == {"https://a.x/docs/d1"}  # invalid URL also dropped (P1)


def test_crawler_trap_rules(spark):
    """is_crawler_trap: each rule trips alone; boundary values don't."""
    from web_scraper_spark.functions.columns import is_crawler_trap

    cases = [
        ("https://a.x/docs/d1", False),                       # clean
        ("https://a.x/" + "/".join(f"s{i}" for i in range(12)), False),  # depth 12 = bound
        ("https://a.x/" + "/".join(f"s{i}" for i in range(13)), True),   # depth 13 > 12
        ("https://a.x/loop/x/loop/y", False),                 # 2 repeats = under
        ("https://a.x/loop/x/loop/x/loop", True),             # 3 repeats
        ("https://a.x/s?" + "&".join(f"a{i}=1" for i in range(8)), False),
        ("https://a.x/s?" + "&".join(f"a{i}=1" for i in range(9)), True),
        ("https://a.x/p?a=1&&b=2", False),                    # empty params don't count
        ("https://a.x/" + "a" * 2100, True),                  # length
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r["url"]: r["t"]
        for r in df.select("url", is_crawler_trap(F.col("url")).alias("t")).collect()
    }
    for u, want in cases:
        assert got[u] is want, u


def test_trap_filter_wired(spark):
    """apply_url_filters(trap_filter=True) drops trap URLs in the same
    chain as validity/ignore; default (off) keeps them."""
    urls = [
        "https://a.x/docs/d1",
        "https://a.x/cal/2024/cal/2024/cal",   # segment loop
        "https://a.x/" + "/".join(f"p{i}" for i in range(15)),
    ]
    f = seeds_to_frontier(spark, urls)
    on = {r["url"] for r in apply_url_filters(f, trap_filter=True).collect()}
    off = {r["url"] for r in apply_url_filters(f).collect()}
    assert on == {"https://a.x/docs/d1"}
    assert off == set(urls)


def test_probe_seen_no_false_negatives(spark):
    all_urls = [f"https://h{i%3}.x/p{i}" for i in range(200)]
    seen_urls = all_urls[:120]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    cand = seeds_to_frontier(spark, all_urls)
    caches = []
    fresh = probe_seen(cand, seen_df, caches)
    got = {r["url"] for r in fresh.select("url").collect()}
    assert got == set(all_urls[120:])  # exactly the unseen remainder
    assert caches == [fresh]  # handed back for the caller to unpersist
    fresh.unpersist()
    assert probe_seen(cand, None) is cand  # nothing seen yet: no-op


def test_probe_seen_broadcast_budget(spark):
    """The seen check broadcasts nothing on its own: the session's
    broadcast budget decides. With both thresholds at -1 the anti-join
    shuffles (no seen table is shipped to every task, however large it
    grows); with the default budget AQE broadcasts the small seen
    table. The answer is exact either way."""
    all_urls = [f"https://h{i % 3}.x/b{i}" for i in range(200)]
    seen_df = spark.createDataFrame([(u,) for u in all_urls[:120]], "url string")
    cand = seeds_to_frontier(spark, all_urls)

    def final_plan(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    for k, v in thresholds.items():
        spark.conf.set(k, v)
    try:
        shuffled = probe_seen(cand, seen_df, None, True)
        plan = final_plan(shuffled)
        got = {r["url"] for r in shuffled.select("url").collect()}
        shuffled.unpersist()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    assert got == set(all_urls[120:])

    broadcast = probe_seen(cand, seen_df, None, True)
    plan = final_plan(broadcast)
    got = {r["url"] for r in broadcast.select("url").collect()}
    broadcast.unpersist()
    assert "BroadcastHashJoin" in plan, plan
    assert got == set(all_urls[120:])


def test_crawl_with_robots_and_ignore_matches_simulator(spark, tmp_path):
    n = 48
    pages = pages_df(spark, n)
    seeds = [url_for(r) for r in range(16)]
    robots = spark.createDataFrame(
        [("site0.example.com", ["/docs"], None, 0.5)], ROBOTS_SCHEMA
    )
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"),
        quota_per_host=8,
        max_depth=1,
        n_shards=4,
        ignore_patterns=["/tags/"],
    )
    run_crawl(spark, cfg, pages, robots, seeds, n_rounds=2)

    links = {
        url_for(rid): extract_links(gen_page_html(rid, universe=n), url_for(rid))
        for rid in range(n)
    }
    sim = simulate_crawl(
        seeds,
        links,
        SimConfig(
            quota_per_host=8,
            max_depth=1,
            ignore_patterns=["/tags/"],
            disallow={"site0.example.com": ["/docs"]},
        ),
        n_rounds=2,
    )
    import glob, os

    paths = [
        p
        for p in glob.glob(os.path.join(str(tmp_path / "ck"), "round=*", "fetch_log"))
        if "round=-1" not in p
    ]
    log = spark.read.parquet(*paths)
    engine_seen = {r["url"] for r in log.select("url").collect()}
    assert engine_seen == sim["seen"]
    assert all("/tags/" not in u for u in engine_seen)
    assert all(
        not u.startswith("https://site0.example.com/docs") for u in engine_seen
    )


def test_politeness_crawl_delay_spacing(spark):
    """robots crawl_delay drives the per-host virtual-clock spacing
    (reference analog: sequential loop + wait budgets,
    contxt/scraper.py:106-124)."""
    from web_scraper_spark.crawl.politeness import schedule_round

    cand = spark.createDataFrame(
        [(f"https://a.x/{i}", "a.x", 0, float(i), i, 500) for i in range(4)]
        + [(f"https://b.x/{i}", "b.x", 0, float(i), i, None) for i in range(3)],
        "url string, host string, depth int, priority double, seq long, crawl_delay_ms long",
    )
    sched, state = schedule_round(cand, None, quota_per_host=10, default_delay_ms=1000)
    rows = {(r["host"], r["seq"]): r["scheduled_offset_ms"] for r in sched.collect()}
    assert [rows[("a.x", i)] for i in range(4)] == [0, 500, 1000, 1500]
    assert [rows[("b.x", i)] for i in range(3)] == [0, 1000, 2000]  # default delay
    st = {r["host"]: r["next_allowed_ms"] for r in state.collect()}
    assert st == {"a.x": 0, "b.x": 0}  # no round budget → no carry-over


def test_round_budget_defers_and_carries_over(spark, tmp_path):
    """round_budget_ms truncates each host's schedule at the virtual
    budget; deferred rows stay pending and get scheduled next round —
    matching the simulator's budget rule, for a host spaced by its
    robots Crawl-delay and for one spaced by the default delay."""
    import os
    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl

    n = 64
    pages = pages_df(spark, n)
    hot = [url_for(r) for r in range(0, 20, 2)]  # 10 site0 seeds
    cold = [url_for(r) for r in (1, 15, 29, 43, 57)]  # 5 site2 seeds
    robots = spark.createDataFrame(
        [("site0.example.com", None, None, 1.5)], ROBOTS_SCHEMA
    )
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"),
        quota_per_host=100,
        max_depth=0,  # no expansion: only the seeds flow
        round_budget_ms=3000,
        n_shards=4,
    )
    stats = run_crawl(spark, cfg, pages, robots, hot + cold, n_rounds=3)
    # site0 at 1.5 s: offsets 0, 1500, 3000 (3 rows), clock ends at
    # 4500 → carry 1500, so rounds 1-2 fit 2 rows each. site2 at the
    # 1 s default: 0..3000 (4 rows), carry 1000, then its last row.
    assert [s["scheduled"] for s in stats] == [3 + 4, 2 + 1, 2]
    sim = simulate_crawl(
        hot + cold,
        {},
        SimConfig(
            crawl_delay_ms={"site0.example.com": 1500},
            quota_per_host=100,
            max_depth=0,
            round_budget_ms=3000,
        ),
        n_rounds=3,
    )
    fetched = [
        {r["url"] for r in spark.read.parquet(
            os.path.join(cfg.ckpt_dir, f"round={i}", "fetch_log")
        ).select("url").collect()}
        for i in range(3)
    ]
    assert fetched == [set(r) for r in sim["rounds"]]


def test_seen_compaction_preserves_parity(spark, tmp_path):
    """Append-only seen + compaction every 2 rounds yields the same
    final seen set as the simulator over 4 rounds."""
    import glob, os
    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl

    n = 48
    pages = pages_df(spark, n)
    seeds = [url_for(r) for r in range(8)]
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=6, max_depth=3,
        n_shards=4, seen_compact_every=2,
    )
    run_crawl(spark, cfg, pages, None, seeds, n_rounds=4)
    links = {
        url_for(rid): extract_links(gen_page_html(rid, universe=n), url_for(rid))
        for rid in range(n)
    }
    sim = simulate_crawl(seeds, links, SimConfig(quota_per_host=6, max_depth=3), n_rounds=4)
    paths = [
        p for p in glob.glob(os.path.join(str(tmp_path / "ck"), "round=*", "fetch_log"))
        if "round=-1" not in p
    ]
    log = spark.read.parquet(*paths)
    assert {r["url"] for r in log.select("url").collect()} == sim["seen"]
    # a compaction marker exists at rounds 1 and 3
    assert os.path.exists(os.path.join(str(tmp_path / "ck"), "round=1", "_SEEN_COMPACT"))
    assert os.path.exists(os.path.join(str(tmp_path / "ck"), "round=3", "_SEEN_COMPACT"))


def test_fetch_mode_budget_occupies_host_clock(spark):
    """Per-row crawl delays space a host's fetches: each fetch holds
    the host's clock for its own delay, as the reference's blocking
    basic/advanced/super waits (1 s politeness + 0/5/15 s) did."""
    from web_scraper_spark.crawl.politeness import schedule_round

    with_delay = spark.createDataFrame(
        [("https://a.x/0", "a.x", 0, 0.0, 0, 1000),
         ("https://a.x/1", "a.x", 0, 1.0, 1, 6000),
         ("https://a.x/2", "a.x", 0, 2.0, 2, 16000),
         ("https://a.x/3", "a.x", 0, 3.0, 3, 1000)],
        "url string, host string, depth int, priority double, seq long, "
        "crawl_delay_ms long",
    )
    sched, _ = schedule_round(with_delay, None, quota_per_host=10)
    offs = {r["seq"]: r["scheduled_offset_ms"] for r in sched.collect()}
    # basic(1s) → advanced(6s) → super(16s) → basic
    assert offs == {0: 0, 1: 1000, 2: 7000, 3: 23000}


def test_probe_seen_upstream_executes_once(spark, tmp_path):
    """Round-1 verdict item 4: the seen check and its upstream chain
    must execute exactly once per round. The upstream generator writes
    one marker row per processed input row: with eager cache fill the
    total equals the input size, however many actions consume the
    probe's output."""
    marker = str(tmp_path / "probe_runs.log")
    all_urls = [f"https://h{i % 3}.x/p{i}" for i in range(100)]
    seen_urls = all_urls[:40]
    seen_df = spark.createDataFrame([(u,) for u in seen_urls], "url string")

    def tracked(batches):
        for pdf in batches:
            with open(marker, "a") as fh:
                fh.write(f"{len(pdf)}\n")
            yield pdf

    cand = (
        spark.createDataFrame([(u,) for u in all_urls], "url string")
        .repartition(4)
        .mapInPandas(tracked, "url string")
    )
    out = probe_seen(cand, seen_df, None, True)
    assert out.count() == 60
    assert out.count() == 60  # second action: must hit the cache too
    rows_processed = sum(int(line) for line in open(marker))
    assert rows_processed == len(all_urls), (
        f"upstream executed {rows_processed / len(all_urls):.1f}x"
    )
    # the consuming plan reads the cached probe, not the live join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    out.unpersist()


def test_deferred_and_rediscovered_url_not_duplicated(spark, tmp_path):
    """ADVICE r1: a URL that is quota-deferred in round N and also
    rediscovered in round N's extracted links must enter the next
    frontier ONCE (the deferred row, which carries the earlier
    discovery's priority) and be fetched exactly once overall."""
    import datetime

    import pandas as pd

    from web_scraper_spark.sources.pages import PAGES_SCHEMA

    s1, s2 = "https://a.x/s1", "https://a.x/s2"
    ts = datetime.datetime(2024, 1, 1)
    html1 = f'<html><body><main><p>one</p><a href="{s2}">two</a></main></body></html>'
    html2 = "<html><body><main><p>two</p></main></body></html>"
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [s1, s2],
                "warc_ts": [ts, ts],
                "html": [html1.encode(), html2.encode()],
                "text": ["one", "two"],
                "lang": ["en", "en"],
            }
        ),
        PAGES_SCHEMA,
    )
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=1, max_depth=2, n_shards=2
    )
    stats = run_crawl(spark, cfg, pages, robots=None, seed_urls=[s1, s2], n_rounds=3)
    # round 0 schedules only s1 (quota=1); s2 is deferred AND linked
    # from s1 — it must come back exactly once in round 1
    assert [m["scheduled"] for m in stats][:2] == [1, 1]
    logs = spark.read.parquet(
        *[f"{tmp_path}/ck/round={r}/fetch_log" for r in range(len(stats))]
    )
    per_url = {r["url"]: r["n"] for r in
               logs.groupBy("url").agg(F.count("*").alias("n")).collect()}
    assert per_url == {s1: 1, s2: 1}, per_url
    # the round-0 frontier written for round 1 holds s2 exactly once,
    # with its ORIGINAL seed priority (1.0), not the rediscovery one
    f1 = spark.read.parquet(f"{tmp_path}/ck/round=0/frontier").collect()
    assert [(r["url"], r["priority"]) for r in f1] == [(s2, 1.0)]


def test_parse_robots_rfc_subset(spark):
    """robots.txt parsing quirks: stacked UA lines share one group, a
    UA line after rules starts a NEW group, agent-specific groups are
    skipped, rules before any UA are ignored, comments stripped, empty
    Disallow skipped, first applicable Crawl-delay wins, malformed
    delay -> NULL (not an ANSI error)."""
    from web_scraper_spark.crawl.robots import parse_robots

    body = "\n".join([
        "Disallow: /ignored-before-ua",
        "User-agent: googlebot",
        "Disallow: /google-only",
        "User-agent: *",
        "User-agent: fetchbot",
        "Disallow: /private   # trailing comment",
        "Crawl-delay: 2.5",
        "Disallow:",
        "Disallow: /tmp",
        "User-agent: *",
        "Crawl-delay: 9",
        "Disallow: /second-group",
    ])
    df = spark.createDataFrame([("a.x", body), ("b.x", "User-agent: *\nCrawl-delay: soon")],
                               "host string, robots_txt string")
    out = {r["host"]: r for r in parse_robots(df).collect()}
    a = out["a.x"]
    assert a["disallow"] == ["/private", "/tmp", "/second-group"]
    assert a["crawl_delay"] == 2.5
    assert out["b.x"]["crawl_delay"] is None  # malformed -> NULL
    # a body with no applicable group yields no row at all
    df2 = spark.createDataFrame(
        [("c.x", "User-agent: googlebot\nDisallow: /x")], "host string, robots_txt string"
    )
    assert parse_robots(df2).count() == 0


def test_robots_longest_match_allow_precedence(spark):
    """RFC 9309 precedence: longest prefix wins, Allow wins ties, no
    match allows — also through apply_url_filters."""
    from web_scraper_spark.crawl.robots import robots_allowed

    cases = [
        # (path, disallow, allow, expected)
        ("/page", ["/p"], ["/page"], True),        # allow longer
        ("/page", ["/page"], ["/p"], False),       # disallow longer
        ("/page", ["/page"], ["/page"], True),     # tie -> allow wins
        ("/free", ["/page"], [], True),            # no match -> allowed
        ("/private/ok/x", ["/private"], ["/private/ok"], True),
        ("/private/no", ["/private"], ["/private/ok"], False),
        ("/x", [], [], True),
    ]
    df = spark.createDataFrame(
        [(p, d, a, e) for p, d, a, e in cases],
        "path string, disallow array<string>, allow array<string>, expected boolean",
    )
    got = df.select(
        "path", "expected",
        robots_allowed(F.col("path"), F.col("disallow"), F.col("allow")).alias("ok"),
    ).collect()
    for r in got:
        assert r["ok"] == r["expected"], r["path"]

    # end-to-end through the frontier filter
    f = seeds_to_frontier(
        spark,
        ["https://a.x/private/no", "https://a.x/private/ok/1", "https://a.x/open"],
    )
    rules = spark.createDataFrame(
        [("a.x", ["/private"], ["/private/ok"], None)],
        "host string, disallow array<string>, allow array<string>, crawl_delay double",
    )
    out = {r["url"] for r in apply_url_filters(f, robots=rules).collect()}
    assert out == {"https://a.x/private/ok/1", "https://a.x/open"}


def test_robots_wildcard_matching(spark):
    """RFC 9309 wildcards in robots_allowed: '*' any-run, final '$'
    end anchor, regex metacharacters in patterns stay literal; longest
    pattern wins, Allow wins ties — also through apply_url_filters."""
    from web_scraper_spark.crawl.robots import robots_allowed

    cases = [
        ("/fish/salmon.php", ["/fish*.php$"], [], False),   # * + $ match
        ("/fish/salmon.php3", ["/fish*.php$"], [], True),   # $ anchors
        ("/a/x/b/c", ["/a/*/b"], [], False),                # mid wildcard
        ("/a.b/c", ["/a.b"], [], False),                    # '.' literal
        ("/axb/c", ["/a.b"], [], True),                     # '.' NOT regex-any
        ("/p/q", ["/p*"], ["/p/q$"], True),                 # allow longer
        ("/p/qq", ["/p*"], ["/p/q$"], False),               # $ stops allow
        ("/free", ["/x*"], [], True),                       # no match
    ]
    df = spark.createDataFrame(
        [(p, d, a, e) for p, d, a, e in cases],
        "path string, disallow array<string>, allow array<string>, expected boolean",
    )
    got = df.select(
        "path", "expected",
        robots_allowed(F.col("path"), F.col("disallow"), F.col("allow")).alias("ok"),
    ).collect()
    for r in got:
        assert r["ok"] == r["expected"], r["path"]

    # end-to-end through the frontier filter
    f = seeds_to_frontier(
        spark,
        [
            "https://a.x/fish/salmon.php",
            "https://a.x/fish/salmon.php3",
            "https://a.x/fish.php/open.php",
            "https://a.x/open",
        ],
    )
    rules = spark.createDataFrame(
        [("a.x", ["/fish*.php$"], ["/fish.php/open"], None)], ROBOTS_SCHEMA
    )
    out = {r["url"] for r in apply_url_filters(f, robots=rules).collect()}
    assert out == {
        "https://a.x/fish/salmon.php3",   # '$' anchors the .php end
        "https://a.x/fish.php/open.php",  # longer Allow wins
        "https://a.x/open",
    }


def test_parse_robots_crlf_line_endings(spark):
    """Real robots bodies are commonly CRLF-terminated; a bare-\\n
    split leaves \\r in every value ('*\\r' never matches the agent,
    the whole group silently drops). Both parsers split on \\r?\\n."""
    from web_scraper_spark.crawl.robots import parse_robots, robots_sitemaps

    body = (
        "User-agent: *\r\n"
        "Disallow: /private\r\n"
        "Crawl-delay: 3\r\n"
        "Sitemap: https://a.x/sitemap.xml\r\n"
    )
    df = spark.createDataFrame([("a.x", body)], "host string, robots_txt string")
    out = parse_robots(df).collect()
    assert len(out) == 1
    assert out[0]["disallow"] == ["/private"]
    assert out[0]["crawl_delay"] == 3.0
    sm = robots_sitemaps(df).collect()
    assert [r.sitemap_url for r in sm] == ["https://a.x/sitemap.xml"]


def test_url_blocklist_suffix_and_keyword(spark):
    """apply_url_blocklist: exact domain AND any subdomain are blocked
    (suffix equi-join), sibling domains survive, keywords filter
    independently, and a partial-string 'domain' never matches (no
    substring semantics)."""
    from web_scraper_spark.crawl.frontier import apply_url_blocklist

    urls = [
        "https://bad.example/p",            # exact block
        "https://a.bad.example/p",          # subdomain block
        "https://notbad.example/p",         # suffix of name, NOT of domain
        "https://good.example/p",           # kept
        "https://good.example/casino/p",    # keyword block
    ]
    f = seeds_to_frontier(spark, urls)
    bl = spark.createDataFrame([("bad.example",)], "domain string")
    got = {
        r["url"]
        for r in apply_url_blocklist(f, bl, ["casino"]).collect()
    }
    assert got == {"https://notbad.example/p", "https://good.example/p"}
