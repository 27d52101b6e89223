"""Recrawl scheduling — the CDX index drives the next crawl.

A production crawler doesn't start from seed lists forever: it reads
its own capture index, finds pages whose last capture is stale, and
feeds them back into the frontier (freshness-driven recrawl). This
module is that loop-closer over the engine's CDX shape
(sources/warc.py:cdx_from_records):

    raw CDX (all captures) ──latest per surt──▶ stale set
        ──frontier rows (older = higher priority)──▶ init_crawl

Use the RAW capture index here, not merge_cdx_snapshots output — the
merged index keeps the EARLIEST capture per (surt, digest), which is
a dedup artifact, not a freshness record.

Scale shape: one groupBy exchange on surt (the index key), a filter,
and pure-Column frontier projection — scheduling 10^10 URLs for
recrawl is exactly one shuffle of (surt, ts14, url) triples.

Reference analog: none (the reference crawls a seed list once);
this is the steady-state operation a 100-TB archive needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import frontier_rows


def recrawl_candidates(cdx: DataFrame, cutoff_ts14: str) -> DataFrame:
    """Stale pages from a raw capture index: for each surt take the
    LATEST capture (max ts14, url carried in the same struct — one
    agg, no join-back); keep those last seen strictly before
    ``cutoff_ts14`` (14-digit archive timestamp, lexicographic =
    chronological). Returns (url, last_ts14)."""
    latest = cdx.groupBy("surt").agg(
        F.max(F.struct("ts14", "url")).alias("m")
    )
    return latest.filter(F.col("m.ts14") < cutoff_ts14).select(
        F.col("m.url").alias("url"),
        F.col("m.ts14").alias("last_ts14"),
    )


def frontier_from_recrawl(cands: DataFrame) -> DataFrame:
    """(url, last_ts14) candidates → FRONTIER_SCHEMA rows. Priority is
    the numeric last-capture timestamp, so the politeness scheduler's
    (priority, seq) order serves stalest-first within each host
    (``seq`` = frontier_rows' ``xxhash64(url)``). Pure Column work —
    composes with ``init_crawl(seed_frontier=...)``."""
    return frontier_rows(cands, F.lit(0), F.col("last_ts14"))
