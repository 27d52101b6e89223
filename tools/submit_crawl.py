#!/usr/bin/env python
"""spark-submit entry point: run a resumable multi-round crawl.

Usage (the north-rule deployment shape), from the repository root:

    zip -qr /tmp/wss.zip web_scraper_spark
    spark-submit --master local[8] --py-files /tmp/wss.zip \\
        tools/submit_crawl.py --pages 20000 --seeds 4096 --rounds 3 \\
        --ckpt /tmp/crawl_ckpt

On a real cluster, swap --master for yarn/k8s and point --pages-path
at the Iceberg/parquet pages table; everything else is unchanged.

The session sets ``spark.sql.codegen.cache.maxEntries`` to
``web_scraper_spark.session.CODEGEN_CACHE_ENTRIES``, as ``get_spark``
does, so a round's generated classes stay cached for the next round.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=20000)
    ap.add_argument("--pages-path", default=None, help="parquet pages table (overrides --pages synth)")
    ap.add_argument("--seeds", type=int, default=4096)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--quota-per-host", type=int, default=100000)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--adaptive-delay", action="store_true",
        help="AIMD per-host politeness where robots declares no "
        "Crawl-delay (error backoff / additive recovery; state rides "
        "the round checkpoint)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from web_scraper_spark.session import CODEGEN_CACHE_ENTRIES

    spark = (
        SparkSession.builder.appName("web_scraper_spark-crawl")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl
    from web_scraper_spark.sources.pages import pages_df, url_for

    if args.pages_path:
        pages = spark.read.parquet(args.pages_path)
    else:
        pages = pages_df(spark, args.pages)

    cfg = CrawlConfig(
        ckpt_dir=args.ckpt,
        quota_per_host=args.quota_per_host,
        max_depth=args.max_depth,
        adaptive_delay=args.adaptive_delay,
    )
    seeds = None if args.resume else [url_for(r) for r in range(args.seeds)]
    t0 = time.time()
    stats = run_crawl(
        spark, cfg, pages, robots=None, seed_urls=seeds,
        n_rounds=args.rounds, resume=args.resume,
    )
    wall = time.time() - t0
    total = sum(s["scheduled"] for s in stats)
    print(json.dumps({
        "rounds": stats,
        "total_scheduled": total,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(total / wall, 1) if wall else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
