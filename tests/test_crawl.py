"""Crawl engine tests: politeness scheduling, full-round parity
against the sequential reference-semantics simulator (SURVEY.md
§5.2-2), plus checkpoint resume (§5.2-5)."""

import os

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.crawl.rounds import CrawlConfig, last_committed_round, run_crawl
from web_scraper_spark.crawl.simulator import SimConfig, simulate_crawl
from web_scraper_spark.html.clean import extract_links
from web_scraper_spark.sources.pages import gen_page_html, pages_df, url_for

N_PAGES = 64


def corpus_links():
    return {
        url_for(rid): extract_links(gen_page_html(rid, universe=N_PAGES), url_for(rid))
        for rid in range(N_PAGES)
    }


# ---------------------------------------------------------------------
# Full crawl parity vs the sequential simulator
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def crawl_result(tmp_path_factory):
    import tests.conftest  # noqa: F401  (spark fixture is session-scoped)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    assert spark is not None, "spark fixture must run first"
    ck = str(tmp_path_factory.mktemp("ckpt"))
    pages = pages_df(spark, N_PAGES)
    seeds = [url_for(r) for r in (0, 1, 2, 3, 4, 6, 8, 10)]
    cfg = CrawlConfig(ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=8)
    stats = run_crawl(spark, cfg, pages, robots=None, seed_urls=seeds, n_rounds=2)
    return spark, ck, cfg, seeds, stats


def _read_logs(spark, ck):
    import glob

    paths = sorted(glob.glob(os.path.join(ck, "round=*", "fetch_log")))
    paths = [p for p in paths if not p.endswith("round=-1/fetch_log")]
    return spark.read.parquet(*paths)


def test_crawl_parity_seen_set(spark, crawl_result):
    spark_s, ck, cfg, seeds, stats = crawl_result
    sim = simulate_crawl(
        seeds,
        corpus_links(),
        SimConfig(quota_per_host=16, max_depth=2),
        n_rounds=2,
    )
    log = _read_logs(spark_s, ck)
    engine_seen = {r["url"] for r in log.select("url").collect()}
    assert engine_seen == sim["seen"]


def test_crawl_parity_per_host_order(spark, crawl_result):
    spark_s, ck, cfg, seeds, stats = crawl_result
    sim = simulate_crawl(
        seeds, corpus_links(), SimConfig(quota_per_host=16, max_depth=2), n_rounds=2
    )
    log = (
        _read_logs(spark_s, ck)
        .orderBy("round_id", "host", "scheduled_offset_ms", "seq")
        .select("host", "url")
        .collect()
    )
    per_host: dict[str, list[str]] = {}
    for r in log:
        per_host.setdefault(r["host"], []).append(r["url"])
    assert per_host == sim["per_host"]


def test_crawl_resume_matches_uninterrupted(spark, crawl_result, tmp_path):
    """Run rounds 0..1 as (round 0; resume round 1) and compare the full
    state to the uninterrupted 2-round crawl."""
    spark_s, ck, cfg, seeds, stats = crawl_result
    ck2 = str(tmp_path / "ckpt2")
    pages = pages_df(spark_s, N_PAGES)
    cfg2 = CrawlConfig(ckpt_dir=ck2, quota_per_host=16, max_depth=2, n_shards=8)
    run_crawl(spark_s, cfg2, pages, None, seeds, n_rounds=1)
    assert last_committed_round(cfg2) == 0
    run_crawl(spark_s, cfg2, pages, None, None, n_rounds=1, resume=True)
    assert last_committed_round(cfg2) == 1

    a = _read_logs(spark_s, ck).select("round_id", "url", "scheduled_offset_ms")
    b = _read_logs(spark_s, ck2).select("round_id", "url", "scheduled_offset_ms")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_crawl_metrics_written(spark, crawl_result):
    spark_s, ck, cfg, seeds, stats = crawl_result
    m = spark_s.read.parquet(os.path.join(ck, "round=0", "metrics"))
    assert m.count() > 0
    assert set(m.columns) >= {"partition_id", "n_rows", "tokens", "round_id"}
    assert stats[0]["scheduled"] > 0
    # round 1 discovered new URLs from links
    assert len(stats) == 2 and stats[1]["scheduled"] > 0


def test_commit_record_matches_round_stats(spark, crawl_result):
    """_COMMIT carries the round's own record: the dict run_round
    returned, with the per-phase walls."""
    import json

    spark_s, ck, cfg, seeds, stats = crawl_result
    for m in stats:
        with open(os.path.join(ck, f"round={m['round_id']}", "_COMMIT")) as fh:
            rec = json.load(fh)
        assert rec == m and rec["scheduled"] > 0
        phases = ("seen_probe_s", "fetch_log_s", "results_s", "state_writes_s")
        assert all(0 <= rec[k] <= rec["wall_s"] for k in phases)


def test_frontier_sources_share_the_frontier_schema(spark, crawl_result):
    """Seeds, sitemaps, recrawl candidates and a round's committed
    frontier/ (deferred + discovered rows) all carry FRONTIER_SCHEMA's
    column names and types, in schema order."""
    from web_scraper_spark.crawl.frontier import FRONTIER_SCHEMA, seeds_to_frontier
    from web_scraper_spark.crawl.recrawl import frontier_from_recrawl
    from web_scraper_spark.crawl.sitemaps import frontier_from_sitemaps, parse_sitemaps

    _, ck, _, _, _ = crawl_result
    sitemap = spark.createDataFrame(
        [("https://a.com/sitemap.xml", "<urlset><url><loc>https://a.com/p</loc></url></urlset>")],
        "sitemap_url string, body string",
    )
    stale = spark.createDataFrame(
        [("https://a.com/p", "20240504120000")], "url string, last_ts14 string"
    )
    committed = spark.read.parquet(os.path.join(ck, "round=0", "frontier"))
    # round 0's discovered links carry the next round's id
    assert committed.filter(F.col("round_id") == 1).count() > 0
    want = [(f.name, f.dataType) for f in FRONTIER_SCHEMA.fields]
    for name, df in {
        "seeds": seeds_to_frontier(spark, ["https://a.com/p"]),
        "sitemaps": frontier_from_sitemaps(parse_sitemaps(sitemap)),
        "recrawl": frontier_from_recrawl(stale),
        "round": committed,
    }.items():
        assert [(f.name, f.dataType) for f in df.schema.fields] == want, name


def test_crawl_results_products_configurable(spark, tmp_path):
    """A text-only round writes results without title/markdown, flags
    md_bytes = -1 in metrics, and still discovers links (the crawl
    frontier must not depend on which products the sink keeps)."""
    ck = str(tmp_path / "ckpt_slim")
    pages = pages_df(spark, N_PAGES)
    seeds = [url_for(r) for r in (0, 1, 2, 3)]
    cfg = CrawlConfig(
        ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=8,
        results_products=("text", "token_count"),
    )
    stats = run_crawl(spark, cfg, pages, None, seeds, n_rounds=2)
    res = spark.read.parquet(os.path.join(ck, "round=0", "results"))
    assert {"text", "token_count"} <= set(res.columns)
    assert "markdown" not in res.columns and "title" not in res.columns
    m = spark.read.parquet(os.path.join(ck, "round=0", "metrics"))
    assert all(r["md_bytes"] == -1 for r in m.collect())
    assert m.agg(F.sum("tokens")).first()[0] > 0
    assert len(stats) == 2 and stats[1]["scheduled"] > 0  # links still flow


def test_seen_compaction_size_trigger(tmp_path):
    """LSM-style trigger: compaction fires when appended seen bytes
    since the last compaction reach ratio x compacted base (file
    metadata only — deterministic on crash replay because it reads
    immutable committed rounds)."""
    from web_scraper_spark.crawl.rounds import CrawlConfig, seen_delta_exceeds_ratio

    cfg = CrawlConfig(ckpt_dir=str(tmp_path), seen_compact_ratio=0.5)

    def mk_round(rid, n_bytes, compacted=False):
        d = tmp_path / f"round={rid}" / "seen"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x" * n_bytes)
        if compacted:
            (tmp_path / f"round={rid}" / "_SEEN_COMPACT").write_text("")

    mk_round(0, 100, compacted=True)   # base = 100
    mk_round(1, 10)                    # delta 10 < 50
    assert not seen_delta_exceeds_ratio(cfg, 1)
    mk_round(2, 45)                    # delta 55 >= 50
    assert seen_delta_exceeds_ratio(cfg, 2)
    # ratio None => never
    assert not seen_delta_exceeds_ratio(
        CrawlConfig(ckpt_dir=str(tmp_path), seen_compact_ratio=None), 2
    )
    # no compaction base yet => round-count rule only
    cfg2 = CrawlConfig(ckpt_dir=str(tmp_path / "fresh"), seen_compact_ratio=0.5)
    (tmp_path / "fresh" / "round=0" / "seen").mkdir(parents=True)
    assert not seen_delta_exceeds_ratio(cfg2, 0)


def test_parse_sitemaps_entries_and_seed_urls(spark):
    """Sitemap parser: urlset vs index detection, entity unescaping
    (&amp; last), optional lastmod -> NULL, whitespace/multiline locs,
    and the seed helper excluding index locs."""
    from web_scraper_spark.crawl.sitemaps import (
        parse_sitemaps,
        seed_urls_from_sitemaps,
    )

    leaf = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://a.com/p?x=1&amp;y=2</loc>"
        "<lastmod> 2024-02-02 </lastmod></url>"
        "<url>\n  <loc>\n https://a.com/q </loc>\n</url>"
        "<url><loc>https://a.com/amp-&amp;lt;kept</loc></url>"
        "<url><loc>https://a.com/n?q=a&#38;b&#x2F;c&#x3D;d&#39;e</loc></url>"
        "<url><loc>https://a.com/one-level-&amp;#x2F;kept</loc></url>"
        "</urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://b.com/s1.xml</loc></sitemap>"
        "<sitemap><loc>https://b.com/s2.xml</loc></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame(
        [("https://a.com/sitemap.xml", leaf), ("https://b.com/sitemap.xml", index)],
        "sitemap_url string, body string",
    )
    out = parse_sitemaps(df)
    rows = {(r["sitemap_url"], r["pos"]): r for r in out.collect()}
    a = "https://a.com/sitemap.xml"
    assert rows[(a, 0)]["loc"] == "https://a.com/p?x=1&y=2"
    assert rows[(a, 0)]["lastmod"] == "2024-02-02"
    assert rows[(a, 1)]["loc"] == "https://a.com/q"
    assert rows[(a, 1)]["lastmod"] is None
    # &amp;lt; unescapes ONE level to &lt; (amp replaced last)
    assert rows[(a, 2)]["loc"] == "https://a.com/amp-&lt;kept"
    # numeric character references (decimal + hex) decode
    assert rows[(a, 3)]["loc"] == "https://a.com/n?q=a&b/c=d'e"
    # &amp;#x2F; unescapes ONE level to &#x2F; (numeric refs run
    # before the final &amp; pass, so the produced ref is preserved)
    assert rows[(a, 4)]["loc"] == "https://a.com/one-level-&#x2F;kept"
    assert not rows[(a, 0)]["is_index"]
    b = "https://b.com/sitemap.xml"
    assert rows[(b, 0)]["is_index"] and rows[(b, 1)]["loc"] == "https://b.com/s2.xml"

    seeds = {r["url"] for r in seed_urls_from_sitemaps(out).collect()}
    assert seeds == {
        "https://a.com/p?x=1&y=2",
        "https://a.com/q",
        "https://a.com/amp-&lt;kept",
        "https://a.com/n?q=a&b/c=d'e",
        "https://a.com/one-level-&#x2F;kept",
    }


def test_crawl_seeds_from_sitemaps(spark, tmp_path):
    """run_crawl(seed_sitemaps=...) is the executed sitemap-driven
    seeding path: leaf locs (never index locs) form the round-0
    schedule, priority = entry position within its sitemap, and an
    explicit seed_urls row wins over its sitemap duplicate."""
    from web_scraper_spark.crawl.rounds import run_crawl as _run

    leaf_urls = [url_for(r) for r in (2, 3, 4, 5, 6)]
    body_a = (
        "<urlset>"
        + "".join(f"<url><loc>{u}</loc></url>" for u in leaf_urls[:3])
        + "</urlset>"
    )
    body_b = (
        "<urlset>"
        + "".join(f"<url><loc>{u}</loc></url>" for u in leaf_urls[3:])
        + "</urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://site1.example.com/b.xml"
        "</loc></sitemap></sitemapindex>"
    )
    sm = spark.createDataFrame(
        [
            ("https://site0.example.com/a.xml", body_a),
            ("https://site1.example.com/b.xml", body_b),
            ("https://site1.example.com/index.xml", index),
        ],
        "sitemap_url string, body string",
    )
    ck = str(tmp_path / "smck")
    pages = pages_df(spark, N_PAGES)
    cfg = CrawlConfig(ckpt_dir=ck, quota_per_host=16, max_depth=0, n_shards=8)
    stats = _run(
        spark, cfg, pages, None, [leaf_urls[0]], n_rounds=1, seed_sitemaps=sm
    )
    assert stats[0]["scheduled"] == len(leaf_urls)
    log = spark.read.parquet(os.path.join(ck, "round=0", "fetch_log"))
    rows = [r.asDict() for r in log.collect()]
    assert {r["url"] for r in rows} == set(leaf_urls)
    by_url = {r["url"]: r for r in rows}
    # explicit seed wins the duplicate: list semantics (priority=index,
    # seq=index), not the sitemap's hash seq
    assert by_url[leaf_urls[0]]["priority"] == 0.0
    assert by_url[leaf_urls[0]]["seq"] == 0
    # sitemap entries carry their in-sitemap position as priority
    assert by_url[leaf_urls[1]]["priority"] == 1.0
    assert by_url[leaf_urls[2]]["priority"] == 2.0
    assert by_url[leaf_urls[3]]["priority"] == 0.0
    assert by_url[leaf_urls[4]]["priority"] == 1.0
    # index locs never entered the frontier
    assert "https://site1.example.com/b.xml" not in by_url


def test_robots_sitemaps_extraction(spark):
    """Sitemap: directives are group-independent (RFC 9309): extracted
    regardless of the surrounding user-agent block, case-insensitive,
    comment-stripped, whitespace-trimmed; empty directives drop; the
    URL keeps everything after the FIRST colon."""
    from web_scraper_spark.crawl.robots import robots_sitemaps

    body = (
        "# header\n"
        "Sitemap: https://a.com/top.xml\n"
        "User-agent: googlebot\n"
        "Disallow: /g\n"
        "sitemap: https://a.com/inside-foreign-group.xml   \n"
        "User-agent: *\n"
        "SITEMAP: https://a.com/caps.xml # mirror\n"
        "Sitemap:\n"
        "Sitemap-ish: https://a.com/not-a-directive.xml"
    )
    df = spark.createDataFrame([("a.com", body)], "host string, robots_txt string")
    rows = {r["pos"]: r["sitemap_url"] for r in robots_sitemaps(df).collect()}
    assert rows == {
        1: "https://a.com/top.xml",
        4: "https://a.com/inside-foreign-group.xml",
        6: "https://a.com/caps.xml",
    }


def test_sitemap_seeds_from_robots_composition(spark):
    """robots → Sitemap: URLs → fetch-join pages → parsed seeds: the
    end-to-end discovery path. Directive URLs absent from the corpus
    don't seed; non-sitemap pages never enter; bodies decode from the
    corpus's binary html column."""
    import datetime as _dt

    from web_scraper_spark.crawl.sitemaps import (
        parse_sitemaps,
        seed_urls_from_sitemaps,
        sitemap_seeds_from_robots,
    )

    robots = spark.createDataFrame(
        [
            (
                "site0.example.com",
                "User-agent: *\nDisallow: /x\n"
                "Sitemap: https://site0.example.com/sm.xml\n"
                "sitemap: https://site0.example.com/missing.xml",
            ),
            (
                "site1.example.com",
                "SITEMAP: https://site1.example.com/sm.xml # main\nSitemap:",
            ),
        ],
        "host string, robots_txt string",
    )
    xml0 = "<urlset><url><loc>https://site0.example.com/p1</loc></url></urlset>"
    xml1 = (
        "<urlset><url><loc>https://site1.example.com/p1</loc></url>"
        "<url><loc>https://site1.example.com/p2</loc></url></urlset>"
    )
    ts = _dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://site0.example.com/sm.xml", ts, xml0.encode("utf-8")),
            ("https://site1.example.com/sm.xml", ts, xml1.encode("utf-8")),
            ("https://site1.example.com/other", ts, b"<html></html>"),
        ],
        "url string, warc_ts timestamp, html binary",
    )
    sm = sitemap_seeds_from_robots(robots, pages)
    got = {(r["sitemap_url"], r["body"]) for r in sm.collect()}
    assert got == {
        ("https://site0.example.com/sm.xml", xml0),
        ("https://site1.example.com/sm.xml", xml1),
    }
    seeds = {r["url"] for r in seed_urls_from_sitemaps(parse_sitemaps(sm)).collect()}
    assert seeds == {
        "https://site0.example.com/p1",
        "https://site1.example.com/p1",
        "https://site1.example.com/p2",
    }


def test_crawl_authority_ordered_scheduling(spark, tmp_path):
    """authority_every wiring: round 0 writes a host_rank table equal
    to integer_pagerank over the round's discovered host edges, and
    round 1's max_scheduled_per_round cap schedules high-rank hosts
    first — while the eventual seen SET matches an authority-off crawl
    (the cap defers, never drops)."""
    from urllib.parse import urlparse

    from web_scraper_spark.crawl.rounds import read_host_rank
    from web_scraper_spark.operators.graph import integer_pagerank

    pages = pages_df(spark, N_PAGES)
    seeds = [url_for(r) for r in (0, 1, 2, 3, 4, 6, 8, 10)]
    ck = str(tmp_path / "auth")
    cfg = CrawlConfig(
        ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=8,
        authority_every=1, max_scheduled_per_round=6,
    )
    run_crawl(spark, cfg, pages, None, seeds, n_rounds=2)

    # 1. the stored rank table is integer_pagerank over exactly the
    # round-0 extracted host edges
    log0 = spark.read.parquet(os.path.join(ck, "round=0", "fetch_log"))
    fetched0 = [
        r["url"] for r in log0.filter(F.col("fetch_status") == "fetched").collect()
    ]
    links = corpus_links()
    edges = sorted(
        {
            (urlparse(u).netloc, urlparse(l).netloc)
            for u in fetched0
            for l in links[u]
            if urlparse(l).netloc and urlparse(l).netloc != urlparse(u).netloc
        }
    )
    expected = {
        r["node"]: r["rank_micros"]
        for r in integer_pagerank(
            spark.createDataFrame(edges, "src string, dst string"), iterations=2
        ).collect()
    }
    stored = {
        r["host"]: r["rank_micros"]
        for r in read_host_rank(spark, cfg, 0).collect()
    }
    assert stored == expected

    # 2. round 1 is authority-ordered: no unscheduled candidate host
    # outranks a scheduled one
    log1 = spark.read.parquet(os.path.join(ck, "round=1", "fetch_log"))
    sched1 = {r["url"] for r in log1.collect()}
    assert len(sched1) == 6
    frontier0 = spark.read.parquet(os.path.join(ck, "round=0", "frontier"))
    cand_hosts = {
        r["host"]
        for r in frontier0.filter(F.col("status") == "pending").collect()
    }
    sched_hosts = {urlparse(u).netloc for u in sched1}
    rank0 = {h: stored.get(h, 0) for h in cand_hosts}
    unsched = cand_hosts - sched_hosts
    if unsched:
        assert min(rank0[h] for h in sched_hosts) >= max(
            rank0[h] for h in unsched
        )

    # 3. seen-set parity vs an authority-off crawl (cap defers only)
    ck2 = str(tmp_path / "plain")
    cfg2 = CrawlConfig(ckpt_dir=ck2, quota_per_host=16, max_depth=2, n_shards=8)
    run_crawl(spark, cfg2, pages, None, seeds, n_rounds=20)
    run_crawl(spark, cfg, pages, None, None, n_rounds=20, resume=True)
    seen_auth = {r["url"] for r in _read_logs(spark, ck).collect()}
    seen_plain = {r["url"] for r in _read_logs(spark, ck2).collect()}
    assert seen_auth == seen_plain


def test_recrawl_seeds_frontier_and_crawls_stale_pages(spark, tmp_path):
    """Loop-closer: the CDX index's stale half seeds a new crawl via
    init_crawl(seed_frontier=...) — stalest-first priority, standard
    seen-set semantics from there on."""
    from web_scraper_spark.crawl.recrawl import (
        frontier_from_recrawl,
        recrawl_candidates,
    )
    from web_scraper_spark.crawl.rounds import CrawlConfig
    from web_scraper_spark.crawl.rounds import run_crawl as _run

    # raw capture index: /a captured in May only (stale), /b recrawled
    # in June (fresh)
    cdx = spark.createDataFrame(
        [
            ("example,a)/", "20240504120000", "https://a.example/"),
            ("example,b)/", "20240504120000", "https://b.example/"),
            ("example,b)/", "20240604120000", "https://b.example/"),
        ],
        ["surt", "ts14", "url"],
    )
    cands = recrawl_candidates(cdx, "20240601000000")
    assert [(r.url, r.last_ts14) for r in cands.collect()] == [
        ("https://a.example/", "20240504120000")
    ]

    corpus = pages_df(spark, 64)
    seeds = frontier_from_recrawl(cands)
    # the synthetic corpus has its own urls; rename the seed onto one
    target = corpus.limit(1).collect()[0].url
    seeds = seeds.withColumn("url", F.lit(target)).withColumn(
        "host", F.expr("parse_url(url, 'HOST')")
    )
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=8, max_depth=0, n_shards=4
    )
    stats = _run(
        spark, cfg, corpus, robots=None, seed_urls=None,
        n_rounds=1, seed_frontier=seeds,
    )
    assert stats[0]["scheduled"] == 1 and stats[0]["fetched"] == 1


def test_adaptive_delay_state_and_fallback(spark, tmp_path):
    """AIMD politeness wired into the round loop: a seed whose host
    has no corpus pages fails its fetch and backs off (1000 -> 2000);
    healthy hosts recover toward the floor (1000 -> 750); round 1
    schedules healthy-host rows with the adapted budget where robots
    is silent; an unfetched host keeps its delay."""
    import os

    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl

    pages = pages_df(spark, N_PAGES)
    seeds = [url_for(0), url_for(1), "https://missing.example.com/x"]
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=8, max_depth=2,
        n_shards=4, adaptive_delay=True,
    )
    run_crawl(spark, cfg, pages, None, seeds, n_rounds=2)

    d0 = {
        r["host"]: r["delay_ms"]
        for r in spark.read.parquet(
            os.path.join(cfg.ckpt_dir, "round=0", "host_delay")
        ).collect()
    }
    assert d0["missing.example.com"] == 2000  # backoff: 1000 * 2
    assert d0["site0.example.com"] == 750     # recover: 1000 - 250

    # round 1: healthy hosts schedule with the adapted 750ms budget
    sched = spark.read.parquet(
        os.path.join(cfg.ckpt_dir, "round=1", "fetch_log")
    )
    assert sched.count() > 0
    d1 = {
        r["host"]: r["delay_ms"]
        for r in spark.read.parquet(
            os.path.join(cfg.ckpt_dir, "round=1", "host_delay")
        ).collect()
    }
    # the missing host discovered no links -> unfetched in round 1 ->
    # keeps its backed-off budget
    assert d1["missing.example.com"] == 2000
    # round 1 schedules site0's discovered /home link, which has no
    # corpus page -> 1/1 failed -> the recovered 750 backs off to 1500
    assert d1["site0.example.com"] == 1500

    # the schedule actually spaced fetches by the adapted budget:
    # round-1 site0 offsets step by 750ms
    offs = sorted(
        r["scheduled_offset_ms"]
        for r in sched.filter(F.col("host") == "site0.example.com").collect()
    )
    steps = {b - a for a, b in zip(offs, offs[1:])}
    assert steps == {750} or steps == set()


def test_trap_filter_in_round_loop(spark, tmp_path):
    """CrawlConfig.trap_filter is live in the round loop: a trap-shaped
    link discovered in round 0 is never scheduled when the filter is
    on, and IS scheduled by default (off)."""
    import datetime as _dt

    from web_scraper_spark.sources.pages import PAGES_SCHEMA

    seed = "https://site0.example.com/start"
    trap = "https://site0.example.com/cal/x/cal/x/cal"
    ok = "https://site0.example.com/docs/fine"
    ts = _dt.datetime(2024, 1, 1)
    html = (
        f'<html><body><a href="{trap}">t</a>'
        f'<a href="{ok}">o</a></body></html>'
    ).encode()
    rows = [
        (seed, ts, html, "", "en"),
        (trap, ts, b"<html><body>trap</body></html>", "", "en"),
        (ok, ts, b"<html><body>fine</body></html>", "", "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    for flag, want in ((False, {seed, trap, ok}), (True, {seed, ok})):
        ck = str(tmp_path / f"ck_{flag}")
        cfg = CrawlConfig(
            ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=4,
            trap_filter=flag,
        )
        run_crawl(spark, cfg, pages, None, [seed], n_rounds=2)
        fetched = set()
        for rnd in (0, 1):
            p = os.path.join(ck, f"round={rnd}", "fetch_log")
            if os.path.exists(p):
                fetched |= {
                    r["url"] for r in spark.read.parquet(p).collect()
                }
        assert fetched == want, (flag, fetched)


def test_blocklist_in_round_loop(spark, tmp_path):
    """run_crawl(blocklist=...) drops blocked-domain discoveries —
    including subdomains — before they are ever scheduled; without the
    blocklist the same link is crawled."""
    import datetime as _dt

    from web_scraper_spark.sources.pages import PAGES_SCHEMA

    seed = "https://site0.example.com/start"
    sub = "https://cdn.blocked.example/asset"
    ok = "https://site0.example.com/docs/fine"
    ts = _dt.datetime(2024, 1, 1)
    html = (
        f'<html><body><a href="{sub}">b</a>'
        f'<a href="{ok}">o</a></body></html>'
    ).encode()
    rows = [
        (seed, ts, html, "", "en"),
        (sub, ts, b"<html><body>x</body></html>", "", "en"),
        (ok, ts, b"<html><body>y</body></html>", "", "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    bl = spark.createDataFrame([("blocked.example",)], "domain string")
    for blocklist, want in ((None, {seed, sub, ok}), (bl, {seed, ok})):
        ck = str(tmp_path / f"ck_{blocklist is None}")
        cfg = CrawlConfig(
            ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=4
        )
        run_crawl(
            spark, cfg, pages, None, [seed], n_rounds=2, blocklist=blocklist
        )
        fetched = set()
        for rnd in (0, 1):
            p = os.path.join(ck, f"round={rnd}", "fetch_log")
            if os.path.exists(p):
                fetched |= {
                    r["url"] for r in spark.read.parquet(p).collect()
                }
        assert fetched == want, (blocklist, fetched)


def test_round_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job of a crawl round, the pooled state writes included,
    runs under the job group its caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pages = pages_df(spark, 32)
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path), quota_per_host=16, max_depth=2, n_shards=4
    )
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("crawl-round-test", "one crawl round")
    try:
        run_crawl(spark, cfg, pages, None, [url_for(r) for r in range(4)], n_rounds=1)
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("crawl-round-test")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
