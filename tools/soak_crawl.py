#!/usr/bin/env python
"""Multi-round crawl soak with global invariants + crash replay.

Round-level tests cover one transition; this drives the full engine
for several rounds at moderate scale with the adversarial settings on
(tight per-host quota → deferrals every round, ratio-triggered seen
compaction, depth-3 discovery) and then checks the properties that
matter at 10^10 URLs:

1. GLOBAL exactly-once fetching: across ALL rounds' fetch_log, every
   URL appears exactly once (catches deferred/rediscovered dup bugs —
   the round-1 ADVICE class — at integration level).
2. Frontier uniqueness per round: no URL queued twice.
3. Seen-set = union of scheduled URLs (compaction preserves it).
4. Crash replay determinism: delete the last committed round wholesale
   and resume — the replayed round writes byte-identical results,
   fetch_log ordering keys and seen table, proving a mid-round crash
   cannot fork state.

Prints one JSON line, including ``seen_bytes_per_url`` (the on-disk
cost of the exact seen table: the last round's seen read path over
its distinct urls); exits nonzero on any violation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from urllib.parse import urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("SOAK_PAGES", 30_000))
N_ROUNDS = int(os.environ.get("SOAK_ROUNDS", 6))
N_SEEDS = int(os.environ.get("SOAK_SEEDS", 512))


def table_hash(df, cols) -> str:
    rows = sorted(map(tuple, df.select(*cols).collect()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def main() -> None:
    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl
    from web_scraper_spark.session import get_spark
    from web_scraper_spark.sources.pages import pages_df, url_for

    spark = get_spark("soak", cores=int(os.environ.get("SPARK_GRAFT_CPUS", 16)))
    spark.sparkContext.setLogLevel("ERROR")
    ck = tempfile.mkdtemp(prefix="soak_crawl_")
    failures: list[str] = []
    try:
        pages = pages_df(spark, N_PAGES)
        seeds = [url_for(r) for r in range(N_SEEDS)]
        cfg = CrawlConfig(
            ckpt_dir=ck, n_shards=16, quota_per_host=48, max_depth=3,
            seen_compact_every=3, seen_compact_ratio=0.5,
        )
        t0 = time.time()
        stats = run_crawl(spark, cfg, pages, None, seeds, n_rounds=N_ROUNDS)
        wall = time.time() - t0
        rounds_run = len(stats)

        logs = spark.read.parquet(*[f"{ck}/round={r}/fetch_log" for r in range(rounds_run)])
        n_fetch = logs.count()
        n_distinct = logs.select("url").distinct().count()
        if n_fetch != n_distinct:
            failures.append(f"global fetch dup: {n_fetch} rows vs {n_distinct} urls")

        for r in range(rounds_run):
            f = spark.read.parquet(f"{ck}/round={r}/frontier")
            if f.count() != f.select("url").distinct().count():
                failures.append(f"frontier round {r} has duplicate urls")

        from web_scraper_spark.crawl.rounds import read_seen
        seen_files = read_seen(spark, cfg, rounds_run - 1)
        seen = seen_files.select("url").distinct()
        seen_bytes = sum(os.path.getsize(urlparse(f).path) for f in seen_files.inputFiles())
        seen_bytes_per_url = seen_bytes / max(1, seen.count())
        sched = logs.select("url").distinct()
        if seen.join(sched, "url", "left_anti").count() or sched.join(seen, "url", "left_anti").count():
            failures.append("seen set != union of scheduled urls (compaction drift)")
        n_compactions = sum(
            os.path.exists(f"{ck}/round={r}/_SEEN_COMPACT") for r in range(rounds_run)
        )

        # crash replay: nuke the last committed round entirely, resume
        last = rounds_run - 1
        before_results = table_hash(
            spark.read.parquet(f"{ck}/round={last}/results"),
            ["url", "seq", "token_count", "n_images"],
        )
        before_log = table_hash(
            spark.read.parquet(f"{ck}/round={last}/fetch_log"),
            ["url", "seq", "scheduled_offset_ms", "fetch_status"],
        )
        before_seen = table_hash(spark.read.parquet(f"{ck}/round={last}/seen"), ["url"])
        shutil.rmtree(f"{ck}/round={last}")
        run_crawl(spark, cfg, pages, None, None, n_rounds=1, resume=True)
        after_results = table_hash(
            spark.read.parquet(f"{ck}/round={last}/results"),
            ["url", "seq", "token_count", "n_images"],
        )
        after_log = table_hash(
            spark.read.parquet(f"{ck}/round={last}/fetch_log"),
            ["url", "seq", "scheduled_offset_ms", "fetch_status"],
        )
        after_seen = table_hash(spark.read.parquet(f"{ck}/round={last}/seen"), ["url"])
        if before_results != after_results:
            failures.append("crash replay produced different results")
        if before_log != after_log:
            failures.append("crash replay produced different fetch_log")
        if before_seen != after_seen:
            failures.append("crash replay produced a different seen table")
        replay_identical = (before_results, before_log, before_seen) == (
            after_results, after_log, after_seen
        )

        print(json.dumps({
            "pages": N_PAGES, "rounds": rounds_run,
            "fetched_total": n_fetch, "wall_s": round(wall, 2),
            "urls_per_sec": round(n_fetch / wall, 1),
            "compactions": n_compactions,
            "seen_bytes_per_url": round(seen_bytes_per_url, 2),
            "per_round_scheduled": [s["scheduled"] for s in stats],
            "replay_identical": replay_identical,
            "failures": failures,
        }))
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        spark.stop()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
