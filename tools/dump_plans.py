#!/usr/bin/env python
"""Dump physical plans: the headline queries → PLANS.md, or full
``explain("formatted")`` text for chosen queries.

Usage: python tools/dump_plans.py                       → PLANS.md
       python tools/dump_plans.py <out_dir> <query>...  → <out_dir>/<query>.txt

PLANS.md is the evidence that the plans are the ones you'd want at
100 TB: pushed filters, pruned scan schemas, broadcast joins where
dims are small, single exchanges per logical operation, and Arrow
UDF inputs pruned to [url, html]. The per-query files keep the whole
formatted plan for before/after diffs. The scale-factor directory
comes from SPARK_GRAFT_SF_DIR (default: the sf0.01 test data).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOW = [
    ("q01_run_stats", "partial+final hash agg; scan pruned to 5 columns"),
    ("q02_broadcast_dims", "two BroadcastHashJoins (dims < threshold)"),
    ("q03_unseen_anti_join", "broadcast anti join + pushed price filter"),
    ("q05_topk_per_group", "single exchange on o_custkey + in-partition sort"),
    ("q07_asof_join", "union + one exchange on user_id (no range explosion)"),
    ("q17_jaccard_pairs", "inverted-index equi-join (no cross product)"),
    ("q27_cosine_topk", "corpus never shuffles: broadcast queries + window"),
    ("q50_extract_pages", "Arrow UDF input pruned to [url, html]"),
    ("q52_minhash_lsh", "LSH: exchange only on (band, bucket) keys"),
    ("q53_ivf_topk", "IVF: bucket equi-join, no corpus cross product"),
    ("q09_first_seen_dedup", "dedup window exchanges md5 digest, never document text"),
    ("q54_media_features", "single min(struct)+count aggregate — one scan of the Python stage"),
    ("q55_video_docs", "star join → document: zero Python operators beyond the source generators"),
    ("q59_repetition", "top-bigram share: explode + one (id,gram) exchange with partial aggs"),
    ("q60_canonical_url", "URL canonicalization: pure expression, no exchange at all"),
    ("q63_sentence_dedup", "global sentence dedup: digest-keyed window + per-doc reassembly fold"),
    ("q65_robots_parse", "robots parsing: lag + running-sum windows, one exchange on host"),
    ("q71_jaccard_df_capped", "df-capped inverted index: broadcast anti-join of hot tokens, size join AFTER the pair agg"),
    ("q72_duplicate_spans", "duplicated windows: one digest groupBy + left_semi — never a self-join"),
    ("q73_decontamination", "decontamination: bench digests broadcast, corpus never shuffles for the match"),
    ("q74_stratified_sample", "stratified sample: pure expression, no exchange at all"),
    ("q75_curation_run", "curation composition: quality+lang gates pushed to the scan, one digest exchange for dedup, sample as a filter"),
    ("q76_pack_sequences", "packing prefix sum: data window on _blk; SinglePartition only over block totals"),
    ("q77_duplicate_span_ranges", "span merge: digest groupBy + per-doc ordering window, no self-join"),
    ("q78_token_distribution", "exact percentiles: one hash agg on lang"),
    ("q83_bm25_topk", "dense BM25: df-capped query-term ids broadcast onto the token explode; one doc_id exchange feeds BLAS scoring in mapInPandas, then the per-query top-k window"),
    ("q84_bigram_surprisal", "bigram LM: explode + two token-key groupBys, counts broadcast under the vocab budget"),
    ("q85_host_authority", "integer PageRank: per-iteration src equi-join + dst groupBy, nothing wider than node keys"),
    ("q87_perplexity_buckets", "quantile bucketing at scale: rank window over the bounded hash sample only, corpus bucketed by broadcast cutoffs"),
    ("q88_chunk_tokens", "context-window chunking: sequence+slice+explode, one scan, zero exchanges"),
    ("q90_sitemap_parse", "sitemap parsing: the parser adds only Generate+Project (no UDF, no exchange); the one Exchange is the gate's per-host synthesis distinct"),
    ("q89_keep_first_spans", "keep-first keeper election rides the digest key the shared-set aggregate already shuffled on — no extra wide exchange"),
    ("q91_keep_first_pipeline", "ExactSubstr end-to-end: span location + keeper election + range cut; shuffles only on digest and doc id, never a self-join"),
    ("q94_surt_collapse", "SURT dedup key: pure-Column key derivation, one exchange on the surt string only — urls never compared pairwise"),
    ("q95_warc_cdx", "CDX index: one Arrow pass per WARC blob (records stream out batched), index fields are pure Column work over the parsed table"),
    ("q96_cdx_snapshot_merge", "snapshot merge: one exchange on (surt,digest) carrying key+seek-triple columns only"),
    ("q97_domain_cap", "domain balancing: counts shuffle on host (tiny output) + broadcast rate join back; the corpus is never pairwise-compared"),
    ("q98_recrawl_frontier", "recrawl scheduling: one groupBy exchange on the index key (surt), then filter + pure-Column frontier projection"),
    ("q99_wet_conversion", "WET derivation: pure Column work over the extracted table — no exchange added by the conversion itself"),
    ("q100_wat_links", "WAT links: posexplode of already-extracted link arrays, no join and no exchange"),
    ("q101_adaptive_delay", "AIMD politeness update: one host-keyed outer join of two host-level tables, nothing wider than (host, three longs)"),
    ("q102_incremental_dedup", "incremental dedup: new snapshot's band keys equi-join the stored index; sig verify joins only matched old ids — old corpus text never rescanned"),
    ("q103_incremental_curation", "incremental curation through curate(): quality expressions in the scan, one digest exchange, band-key join vs the stored index"),
    ("q104_trap_urls", "crawler-trap predicate: pure expression in the scan's codegen stage — no exchange, no UDF"),
    ("q105_semdedup", "SemDedup: shuffle-free BLAS centroid assignment in mapInPandas, per-cluster pair exchange on centroid_id, id-keyed removal joins — never all-pairs"),
    ("q106_line_dedup", "corpus-frequency line dedup: digest-keyed distinct+groupBy, anti-join back, per-doc reassembly fold — line text never shuffles as a key"),
    ("q107_anchor_text", "anchor-text corpus: pruned Arrow pass ships only the anchors array; (target,text) groupBy + window over the aggregate, modal election"),
    ("q108_winnow_fingerprints", "winnowing fingerprints: pure per-row expression (transform + window folds) — zero exchanges, zero UDFs at any corpus size"),
    ("q109_repetition_signals", "Gopher repetition suite: 13 per-doc signals as run-length folds over sorted gram arrays — scan → project, zero exchanges"),
    ("q110_url_blocklist", "URL blocklist: host-suffix explode + broadcast semi-join (no LIKE scan), keyword rule in the scan's codegen stage"),
]


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from web_scraper_spark.plans.queries import QUERIES
    from web_scraper_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir, names = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else (None, [])

    # operators that cache intermediates return an eager
    # localCheckpoint, which collapses dumped plans to "Scan
    # ExistingRDD" — flip the shared switch so EVERY returned-frame
    # materialization (q71's df-capped Jaccard, q83's dense BM25, …)
    # dumps its real join/exchange tree.
    import web_scraper_spark.operators._materialize as _M

    _M.PLAN_DUMP_MODE = True
    spark = get_spark("plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")

    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(f"# {name} — explain('formatted') at {sf_dir}\n")
                fh.write(_formatted(QUERIES[name](spark, sf_dir)))
            print(f"wrote {path}")
        spark.stop()
        return

    out = [
        "# PLANS.md — physical-plan evidence (generated by tools/dump_plans.py)\n",
        f"Input: {sf_dir}. Things to check per plan: `PushedFilters`,",
        "`ReadSchema` (column pruning), `BroadcastHashJoin` vs `SortMergeJoin`,",
        "exchange count, and `WholeStageCodegen` spans.\n",
    ]
    for name, why in SHOW:
        # keep the operator tree; drop the verbose per-node detail
        tree = _formatted(QUERIES[name](spark, sf_dir)).split("\n\n\n")[0]
        out.append(f"\n## {name} — {why}\n\n```\n{tree}\n```\n")
    spark.stop()
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
