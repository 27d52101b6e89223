"""Seen-set tests that once ran against the Bloom/cuckoo seen sketch.

The crawl now checks "seen" with one exact anti-join against the seen
table (crawl/frontier.py:probe_seen), so the sketch's unit tests are
gone. These tests keep their names and check what the exact table
provides in the sketch's place: build → probe → forget, a seen set that
does not depend on the storage geometry (``n_shards``), and the
recrawl loop that the deletable cuckoo sketch existed for."""

import os

from pyspark.sql import functions as F

from web_scraper_spark.crawl.frontier import probe_seen
from web_scraper_spark.crawl.recrawl import frontier_from_recrawl, recrawl_candidates
from web_scraper_spark.crawl.rounds import CrawlConfig, read_seen, run_crawl
from web_scraper_spark.functions.columns import surt_url
from web_scraper_spark.sources.pages import pages_df, url_for


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _last_round(ckpt_dir):
    return max(
        int(d.split("=")[1])
        for d in os.listdir(ckpt_dir)
        if d.startswith("round=") and os.path.exists(os.path.join(ckpt_dir, d, "_COMMIT"))
    )


def _seen_urls(spark, cfg):
    seen = read_seen(spark, cfg, _last_round(cfg.ckpt_dir))
    return {r["url"] for r in seen.select("url").collect()}


def test_build_probe_forget_roundtrip(spark, tmp_path):
    """A committed round builds the seen table; probing against it
    drops exactly the seen URLs; forgetting is an anti-join on the
    table itself, after which the forgotten URLs probe as new again
    while every other seen URL stays filtered."""
    pages = pages_df(spark, 32)
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=8, max_depth=1, n_shards=4
    )
    run_crawl(spark, cfg, pages, None, [url_for(r) for r in range(8)], n_rounds=1)
    seen = read_seen(spark, cfg, _last_round(cfg.ckpt_dir))
    seen_urls = sorted(r["url"] for r in seen.select("url").collect())
    assert len(seen_urls) >= 8

    new_urls = [f"https://h{i % 5}.example/new{i}" for i in range(40)]
    cands = _urls_df(spark, seen_urls + new_urls)
    fresh = probe_seen(cands, seen, None, True)
    assert {r["url"] for r in fresh.collect()} == set(new_urls)
    fresh.unpersist()

    stale = seen_urls[::2]
    forgotten = seen.join(_urls_df(spark, stale), "url", "left_anti")
    assert forgotten.count() == len(seen_urls) - len(stale)
    fresh2 = probe_seen(cands, forgotten, None, True)
    assert {r["url"] for r in fresh2.collect()} == set(new_urls) | set(stale)
    fresh2.unpersist()


def test_crawl_with_cuckoo_sketch_matches_bloom_seen_set(spark, tmp_path):
    """Full crawl parity across seen-table geometries: the same corpus
    and seeds with ``n_shards`` 1 and 4 give the same seen set and the
    same per-round schedule. ``n_shards`` only sets how many files each
    round writes the seen table in — a storage choice, never a
    semantics choice, as the sketch family was before it."""
    pages = pages_df(spark, 32)
    seeds = [url_for(r) for r in (0, 1, 2, 3)]
    results = {}
    for n_shards in (1, 4):
        cfg = CrawlConfig(
            ckpt_dir=str(tmp_path / f"s{n_shards}"), quota_per_host=8,
            max_depth=2, n_shards=n_shards,
        )
        stats = run_crawl(spark, cfg, pages, None, seeds, n_rounds=2)
        files = [
            f
            for f in os.listdir(os.path.join(cfg.ckpt_dir, "round=0", "seen"))
            if f.startswith("part-")
        ]
        assert 1 <= len(files) <= n_shards
        results[n_shards] = (_seen_urls(spark, cfg), [s["scheduled"] for s in stats])
    assert results[1][0]
    assert results[1] == results[4]


def test_recrawl_forget_loop(spark, tmp_path):
    """The steady-state recrawl loop: crawl → the CDX index elects
    stale captures → those URLs seed a new crawl, whose seen table
    starts empty, so exactly the stale URLs are fetched again while the
    old crawl's seen table still filters all of them."""
    pages = pages_df(spark, 32)
    cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "ck"), quota_per_host=8, max_depth=1, n_shards=4
    )
    run_crawl(spark, cfg, pages, None, [url_for(r) for r in (0, 1, 2)], n_rounds=2)
    seen_df = read_seen(spark, cfg, _last_round(cfg.ckpt_dir)).select("url")
    crawled = sorted(r["url"] for r in seen_df.collect())
    assert crawled

    # synthetic capture index: half the crawled urls are stale
    stale, fresh_caps = crawled[::2], crawled[1::2]
    cdx = spark.createDataFrame(
        [(u, "20200101000000") for u in stale]
        + [(u, "20250101000000") for u in fresh_caps],
        "url string, ts14 string",
    ).select(surt_url(F.col("url")).alias("surt"), "ts14", "url")
    cands = recrawl_candidates(cdx, cutoff_ts14="20240101000000")
    assert {r["url"] for r in cands.collect()} == set(stale)

    # the old crawl would never reopen them: every candidate is seen
    still_seen = probe_seen(cands.select("url"), seen_df, None, True)
    assert still_seen.count() == 0
    still_seen.unpersist()

    re_cfg = CrawlConfig(
        ckpt_dir=str(tmp_path / "recrawl"), quota_per_host=64, max_depth=0,
        n_shards=4,
    )
    stats = run_crawl(
        spark, re_cfg, pages, None, None, n_rounds=1,
        seed_frontier=frontier_from_recrawl(cands),
    )
    assert stats[0]["scheduled"] == len(stale)
    log = spark.read.parquet(os.path.join(re_cfg.ckpt_dir, "round=0", "fetch_log"))
    assert {r["url"] for r in log.select("url").collect()} == set(stale)
    assert _seen_urls(spark, re_cfg) == set(stale)
