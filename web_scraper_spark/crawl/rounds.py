"""Micro-batch crawl rounds with atomic checkpoints and resume.

One round (the Spark re-expression of the reference's sequential
per-URL loop, contxt/cli.py:276-307 — SURVEY.md §2.10):

    frontier(pending) ──filters──▶ candidates ──anti-join seen──▶ fresh
      ──politeness schedule──▶ scheduled ──J6 join pages──▶ fetched
      ──extract UDF──▶ results + discovered links ──▶ frontier′

State per round, checkpointed to ``<ckpt>/round=N/``:
    frontier/    next round's pending rows (parquet)
    seen/        exact seen URLs (parquet, appended each round,
                 compacted every few rounds)
    host_state/  politeness virtual-clock carry-over
    results/     extracted rows for the round
    metrics/     per-partition lineage + counters
    _COMMIT      JSON round record (counts + phase walls) written
                 LAST → the round is atomic: a crash mid-round leaves
                 no marker and resume replays the round from the
                 previous committed state.

Everything is plain parquet-dir checkpointing (the sandbox has no
Iceberg jars); the commit protocol gives the same atomic-visibility
property a real deployment would get from Iceberg snapshot commits.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as C
from ..functions.udfs import extract_pages
from .frontier import (
    apply_url_blocklist,
    FRONTIER_SCHEMA,
    apply_url_filters,
    frontier_rows,
    probe_seen,
    seeds_to_frontier,
)
from .politeness import schedule_round


# state tables (all but seen, see CrawlConfig.n_shards) are small
# relative to results; coalesce their writes to avoid 1-row-per-task
# file storms
_STATE_WRITE_PARTITIONS = 8


@dataclass
class CrawlConfig:
    ckpt_dir: str
    # number of files each round writes the exact seen table in — the
    # one state table every round scans in full (the seen anti-join
    # and the discovered-link anti-join), so it gets its own write
    # width instead of _STATE_WRITE_PARTITIONS
    n_shards: int = 16
    quota_per_host: int = 256
    round_budget_ms: int | None = None
    max_depth: int = 2
    ignore_patterns: list[str] = field(default_factory=list)
    # drop pathological (trap-shaped) URLs at discovery time
    # (functions/columns.py:is_crawler_trap — path-depth / segment-loop
    # / query-explosion / length rules, same codegen stage as the
    # validity filter)
    trap_filter: bool = False
    # AIMD adaptive per-host crawl delay (politeness.py:
    # update_host_delays): hosts with fetch errors back off
    # multiplicatively, healthy hosts recover additively toward the
    # min. Fills in ONLY where robots declares no Crawl-delay. State
    # rides the round checkpoint (round=N/host_delay) — resumable like
    # every other table. The bounds (×2 on >10% errors, −250 ms
    # otherwise, within 250 ms–60 s) are constants of update_host_delays.
    adaptive_delay: bool = False
    # which extraction products the results sink persists per round
    # (links for discovery and the metrics counters are always
    # produced). Markdown is the dominant results write — a crawl that
    # only needs text (or only counts) trims the round's write volume
    # here without touching the extraction contract.
    results_products: tuple = ("title", "text", "markdown", "token_count", "n_images")
    # compact the append-only seen table every K rounds (between
    # compactions each round appends only its own scheduled URLs —
    # O(round) not O(total) write cost; the Iceberg-append analog)
    seen_compact_every: int = 8
    # LSM-style size trigger: ALSO compact when the bytes appended
    # since the last compaction exceed this fraction of the compacted
    # base (None = round-count only). Driver-side file-metadata check,
    # no Spark job — at real scale this is an Iceberg snapshot-size
    # policy. Amortizes the O(total) compaction cost against growth
    # instead of a fixed clock.
    seen_compact_ratio: float | None = None
    # host-authority frontier priority (north star's cross-host
    # priority queue): every K rounds run integer PageRank (its
    # default iterations) over the accumulated discovered-link HOST
    # graph (host-level — orders of magnitude smaller than the
    # frontier) and order the next rounds' global schedule cap by the
    # resulting rank. None = off (per-host quotas only, no cross-host
    # preference).
    authority_every: int | None = None
    # global top-K rows per round across all hosts, selected by
    # (host_rank desc, priority, seq) — the lever that makes authority
    # bite. None = every host schedules up to its quota.
    max_scheduled_per_round: int | None = None


def _round_dir(cfg: CrawlConfig, round_id: int) -> str:
    return os.path.join(cfg.ckpt_dir, f"round={round_id}")


def last_committed_round(cfg: CrawlConfig) -> int | None:
    """Highest round with a _COMMIT marker, or None."""
    best = None
    if not os.path.isdir(cfg.ckpt_dir):
        return None
    for name in os.listdir(cfg.ckpt_dir):
        if name.startswith("round="):
            rid = int(name.split("=", 1)[1])
            if os.path.exists(os.path.join(cfg.ckpt_dir, name, "_COMMIT")):
                best = rid if best is None or rid > best else best
    return best


def _write(df: DataFrame, path: str, coalesce: int | None = None) -> None:
    if coalesce is not None:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").parquet(path)


def _read(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def _dir_bytes(path: str) -> int:
    total = 0
    if os.path.isdir(path):
        for name in os.listdir(path):
            fp = os.path.join(path, name)
            if os.path.isfile(fp):
                total += os.path.getsize(fp)
    return total


def _history_dirs(
    cfg: CrawlConfig, upto_round: int, table: str, marker: str
) -> tuple[list[str], str | None]:
    """An append-and-compact table's dirs, walked back from
    ``upto_round``: the per-round deltas (newest first) and the dir of
    the latest round carrying ``marker``, which holds the full set up
    to that round (None before the first compaction)."""
    deltas = []
    for rid in range(upto_round, -1, -1):
        d = os.path.join(_round_dir(cfg, rid), table)
        if os.path.exists(os.path.join(_round_dir(cfg, rid), marker)):
            return deltas, d
        if os.path.isdir(d):
            deltas.append(d)
    return deltas, None


def _read_history(
    spark: SparkSession, cfg: CrawlConfig, upto_round: int, table: str, marker: str
) -> DataFrame | None:
    deltas, base = _history_dirs(cfg, upto_round, table, marker)
    dirs = deltas + ([base] if base is not None else [])
    return spark.read.parquet(*dirs) if dirs else None


def _append_history(
    delta: DataFrame, prior: DataFrame | None, rdir: str, table: str,
    marker: str, compact: bool, parts: int,
) -> None:
    """Write the round's ``delta`` of a history table or, on a
    compaction round, the distinct ``prior ∪ delta``, then the
    ``marker`` that ends :func:`_history_dirs`' walk there."""
    if compact and prior is not None:
        delta = prior.unionByName(delta).distinct()
    _write(delta, os.path.join(rdir, table), parts)
    if compact:
        with open(os.path.join(rdir, marker), "w") as fh:
            fh.write("")


def seen_delta_exceeds_ratio(cfg: CrawlConfig, upto_round: int) -> bool:
    """LSM-style compaction trigger: appended seen bytes since the
    last compaction vs the compacted base size (file metadata only —
    no Spark job; the deployment analog is an Iceberg snapshot-size
    policy)."""
    if cfg.seen_compact_ratio is None:
        return False
    deltas, base = _history_dirs(cfg, upto_round, "seen", "_SEEN_COMPACT")
    base_bytes = _dir_bytes(base) if base is not None else 0
    return base_bytes > 0 and (
        sum(map(_dir_bytes, deltas)) >= cfg.seen_compact_ratio * base_bytes
    )


def read_seen(spark: SparkSession, cfg: CrawlConfig, upto_round: int) -> DataFrame | None:
    """Union of the append-only per-round seen tables up to (and
    including) ``upto_round``. A compacted round's seen dir holds the
    full set, so reading starts at the latest compaction point."""
    return _read_history(spark, cfg, upto_round, "seen", "_SEEN_COMPACT")


def read_host_edges(
    spark: SparkSession, cfg: CrawlConfig, upto_round: int
) -> DataFrame | None:
    """Union of per-round host-edge deltas up to ``upto_round`` —
    authority rounds write the cumulative distinct set + an
    ``_EDGES_COMPACT`` marker, so the walk stops there (same LSM shape
    as :func:`read_seen`)."""
    return _read_history(spark, cfg, upto_round, "host_edges", "_EDGES_COMPACT")


def read_host_rank(
    spark: SparkSession, cfg: CrawlConfig, upto_round: int
) -> DataFrame | None:
    """Latest committed (host, rank_micros) authority table at or
    before ``upto_round``, or None before the first authority round.
    Each authority round writes the whole table, so its dir is its own
    compaction marker."""
    return _read_history(spark, cfg, upto_round, "host_rank", "host_rank")


def run_round(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages: DataFrame,
    robots: DataFrame | None,
    round_id: int,
    blocklist: DataFrame | None = None,
) -> dict:
    """Execute one crawl round from the state committed at
    ``round_id - 1`` and commit ``round=round_id``. Returns the
    round's record, which is also the content of its ``_COMMIT``
    marker: row counts, ``wall_s`` and the per-phase walls
    ``seen_probe_s``, ``fetch_log_s``, ``results_s`` and
    ``state_writes_s``. ``blocklist`` (a ``domain`` table, RefinedWeb's
    UT1 stage) drops blocked hosts and their subdomains ahead of the
    seen probe — apply_url_blocklist's broadcast suffix join.

    A round that raises leaves no ``_COMMIT``, no cached DataFrame and
    no state write still running; resume replays it from the previous
    committed state."""
    round_caches: list[DataFrame] = []
    try:
        return _run_round(spark, cfg, pages, robots, round_id, blocklist, round_caches)
    finally:
        for cached in round_caches:
            cached.unpersist()


def _run_round(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages: DataFrame,
    robots: DataFrame | None,
    round_id: int,
    blocklist: DataFrame | None,
    round_caches: list[DataFrame],
) -> dict:
    """The body of :func:`run_round`. Every DataFrame it persists is
    appended to ``round_caches``, which the caller unpersists whether
    the round commits or raises."""
    t0 = time.perf_counter()
    prev = _round_dir(cfg, round_id - 1)
    frontier = _read(spark, os.path.join(prev, "frontier"))
    if frontier is None:
        raise RuntimeError(f"no committed frontier at {prev}")
    seen = read_seen(spark, cfg, round_id - 1)
    host_state = _read(spark, os.path.join(prev, "host_state"))

    # -- filter chain (all JVM-side) -----------------------------------
    candidates = apply_url_filters(
        frontier.filter(F.col("status") == "pending").filter(F.col("depth") <= cfg.max_depth),
        robots=robots,
        ignore_patterns=cfg.ignore_patterns,
        trap_filter=cfg.trap_filter,
    )
    if blocklist is not None:
        candidates = apply_url_blocklist(candidates, blocklist)
    walls: dict[str, float] = {}
    t = time.perf_counter()
    # all four arguments positional: perfbench/tracing.py wraps
    # probe_seen with a four-positional-parameter signature
    fresh = probe_seen(candidates, seen, round_caches, True)
    walls["seen_probe_s"] = time.perf_counter() - t
    t = time.perf_counter()

    # -- politeness scheduling -----------------------------------------
    delay_col = (
        (F.col("crawl_delay") * 1000).cast("long")
        if robots is not None
        else F.lit(None).cast("long")
    )
    sched_in = fresh.select(
        "url", "host", "depth", "priority", "seq", delay_col.alias("crawl_delay_ms")
    )
    host_delays = (
        _read(spark, os.path.join(prev, "host_delay"))
        if cfg.adaptive_delay
        else None
    )
    if host_delays is not None:
        # robots-declared delay stays authoritative; the AIMD budget
        # fills in for the (vast majority of) hosts robots is silent
        # about. Host-level table — broadcast onto the candidates.
        sched_in = (
            sched_in.join(
                F.broadcast(host_delays.select("host", "delay_ms")), "host", "left"
            )
            .withColumn(
                "crawl_delay_ms",
                F.coalesce(F.col("crawl_delay_ms"), F.col("delay_ms")),
            )
            .drop("delay_ms")
        )
    host_rank = (
        read_host_rank(spark, cfg, round_id - 1)
        if cfg.authority_every is not None
        else None
    )
    schedule, new_host_state = schedule_round(
        sched_in,
        host_state,
        quota_per_host=cfg.quota_per_host,
        round_budget_ms=cfg.round_budget_ms,
        host_rank=host_rank,
        max_scheduled_per_round=cfg.max_scheduled_per_round,
    )
    schedule = schedule.persist()
    round_caches.append(schedule)

    # -- fetch = J6 equi-join against the pages corpus ------------------
    fetched = schedule.join(
        pages.select("url", "html"), "url", "left"
    ).withColumn(
        "fetch_status", F.when(F.col("html").isNotNull(), "fetched").otherwise("failed")
    ).persist()
    round_caches.append(fetched)

    # -- extraction (one Arrow round-trip) ------------------------------
    # The fetch join's output partitioning follows the join strategy
    # (broadcast → pages-side partitions; politeness output → ≤n_hosts
    # groups). Neither bounds extraction parallelism correctly, so
    # spread rows explicitly before the expensive UDF stage.
    # PRUNED products: only what this round's sinks consume crosses
    # Arrow — cfg.results_products for the results sink (token_count
    # always included for the metrics counters), links for discovery.
    # The carrier columns (clean_html, og_*, image structs) never
    # ship, and the pre-repartition select keeps the exchange payload
    # to the fetch columns the sinks actually read.
    # Repartitioning ON url (not round-robin): when the fetch join
    # already hash-exchanged on url (SMJ — uniform across tasks since
    # urls are distinct), Catalyst elides this exchange as redundant;
    # when the join broadcast instead (output inherits the schedule's
    # skewed by-host partitioning), it redistributes. Either way the
    # UDF stage is balanced without paying a second html shuffle.
    par = spark.sparkContext.defaultParallelism
    products = tuple(dict.fromkeys((*cfg.results_products, "token_count")))
    ok = (
        fetched.filter(F.col("fetch_status") == "fetched")
        .select("url", "host", "depth", "seq", "scheduled_offset_ms", "html")
        .repartition(par, "url")
    )
    extracted = extract_pages(
        ok,
        html_col="html",
        url_col="url",
        products=(*products, "links"),
    ).persist()
    round_caches.append(extracted)

    rdir = _round_dir(cfg, round_id)
    # Round counters ride the write actions via df.observe() — the
    # fetch join is 1:1 (pages.url unique, left join), so the
    # fetch_log write counts the schedule, the results write counts
    # extraction, and the frontier write counts next-round pendings.
    # Zero dedicated count jobs per round (three jobs saved).
    from pyspark.sql import Observation

    obs_sched = Observation("n_sched")
    obs_ok = Observation("n_ok")
    # fetch_log: the politeness-ordered fetch ledger for the round —
    # the parity surface (per-host order) and the lineage record.
    fetch_log = fetched.select(
        "url", "host", "depth", "seq", "priority", "scheduled_offset_ms",
        "fetch_status", F.lit(round_id).alias("round_id"),
    ).observe(obs_sched, F.count(F.lit(1)).alias("n"))
    _write(fetch_log, os.path.join(rdir, "fetch_log"), _STATE_WRITE_PARTITIONS)
    walls["fetch_log_s"] = time.perf_counter() - t

    if cfg.adaptive_delay:
        # AIMD politeness state: per-host ok/err counts from THIS
        # round's fetch ledger update the carry-over delay table
        # (politeness.py:update_host_delays). Host-level agg over the
        # already-persisted fetch output — one small host-keyed
        # shuffle, no extra scan of pages.
        from .politeness import update_host_delays

        host_stats = fetched.groupBy("host").agg(
            F.count(F.when(F.col("fetch_status") == "fetched", 1)).alias("n_ok"),
            F.count(F.when(F.col("fetch_status") != "fetched", 1)).alias("n_err"),
        )
        new_delays = update_host_delays(host_stats, host_delays)
        _write(
            new_delays, os.path.join(rdir, "host_delay"), _STATE_WRITE_PARTITIONS
        )

    # -- results + metrics ---------------------------------------------
    results = extracted.select(
        "url", "host", "depth", "seq", "scheduled_offset_ms",
        *products,
        F.lit(round_id).alias("round_id"),
    ).observe(obs_ok, F.count(F.lit(1)).alias("n"))
    t = time.perf_counter()
    _write(results, os.path.join(rdir, "results"))
    walls["results_s"] = time.perf_counter() - t

    # per-partition lineage + counters (S14/metrics table): which input
    # partition produced how many rows, and the round provenance.
    # md_bytes tracks the dominant write only when markdown is a
    # configured product (−1 = not produced this round).
    md_bytes = (
        F.sum(F.length("markdown"))
        if "markdown" in products
        else F.lit(-1).cast("long")
    )
    metrics = (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("token_count").alias("tokens"),
            md_bytes.alias("md_bytes"),
        )
        .withColumn("round_id", F.lit(round_id))
        .withColumn("src", F.lit("extracted"))
    )

    # The remaining state writes (metrics, seen, host_state, frontier,
    # host-authority) are INDEPENDENT given the persisted upstreams
    # the fetch_log/results actions already materialized (schedule,
    # fetched, extracted, the probe cache), so they are
    # collected as deferred tasks and submitted from a small thread
    # pool: each write is a short job whose tail would otherwise
    # leave the executor idle — overlapping them back-fills the idle
    # cores (guide §2.6); FIFO scheduling keeps the earlier job's
    # tasks first. Measured ~2.5 s serial → ~1.2 s overlapped per
    # round at the bench shape. Marker files are written inside their
    # own task, strictly after that table's parquet commit; the
    # round's _COMMIT marker still lands only after every task has
    # joined. The first failed task cancels the queued ones and the
    # round raises once the running ones have finished — no writer
    # outlives a failed round.
    write_tasks: list = []

    write_tasks.append(
        lambda: _write(
            metrics, os.path.join(rdir, "metrics"), _STATE_WRITE_PARTITIONS
        )
    )

    # -- seen state update (append-only; periodic compaction) ------------
    scheduled_urls = schedule.select("url")
    compact = (
        cfg.seen_compact_every > 0
        and round_id % cfg.seen_compact_every == cfg.seen_compact_every - 1
    ) or seen_delta_exceeds_ratio(cfg, round_id - 1)

    write_tasks.append(
        lambda: _append_history(
            scheduled_urls,
            None if seen is None else seen.select("url"),
            rdir, "seen", "_SEEN_COMPACT", compact, cfg.n_shards,
        )
    )

    write_tasks.append(
        lambda: _write(
            new_host_state, os.path.join(rdir, "host_state"),
            _STATE_WRITE_PARTITIONS,
        )
    )

    # -- next frontier: deferred pendings + discovered links ------------
    # Only quota/budget overflow defers: rows dropped by the static
    # filters (validity, ignore patterns, robots, depth) can never
    # pass later and must NOT re-enter the frontier (at 10^10 URLs the
    # frontier would otherwise accrete permanent junk); seen rows are
    # gone by definition.
    deferred = fresh.select([f.name for f in FRONTIER_SCHEMA.fields]).join(
        scheduled_urls, "url", "left_anti"
    )
    # Discovery ordering must be a pure function of the data, never of
    # partitioning (SURVEY.md §7 hard-part 2): priority = (first
    # discovering parent's seq, link position in that document); seq =
    # stable hash of the url (unique tie-break, identical at any
    # parallelism and across resume).
    discovered_raw = extracted.select(
        F.col("seq").alias("parent_seq"),
        F.col("depth").alias("parent_depth"),
        F.posexplode("links").alias("pos", "url"),
    )
    first_discovery = discovered_raw.groupBy("url").agg(
        F.min(F.struct("parent_seq", "pos", "parent_depth")).alias("d")
    )
    # known links drop on the bare url before frontier_rows derives
    # host and seq, so only new links pay for parse_url and xxhash64
    new_links = (
        first_discovery.join(
            scheduled_urls if seen is None else seen.select("url").unionByName(scheduled_urls),
            "url",
            "left_anti",
        )
        # a URL can be BOTH quota/budget-deferred this round and
        # rediscovered in this round's extracted links; without this
        # anti-join it would enter the next frontier twice (distinct
        # priority/seq) and be fetched twice. The deferred row wins —
        # it carries the earlier discovery's priority.
        .join(deferred.select("url"), "url", "left_anti")
    )
    discovered = frontier_rows(
        new_links,
        F.col("d.parent_depth") + 1,
        F.col("d.parent_seq").cast("double") * 10000.0 + F.col("d.pos"),
        round_id=round_id + 1,
    )
    obs_next = Observation("n_next")
    next_frontier = deferred.unionByName(discovered).observe(
        obs_next, F.count(F.lit(1)).alias("n")
    )
    write_tasks.append(
        lambda: _write(
            next_frontier, os.path.join(rdir, "frontier"),
            _STATE_WRITE_PARTITIONS,
        )
    )

    # -- host-authority state (optional; the cross-host priority queue)
    # Per round: one distinct over HOST-level link edges (tiny next to
    # the frontier). Every authority_every rounds: compact the edge
    # deltas (LSM, _EDGES_COMPACT marker) and refresh the integer-
    # PageRank table the NEXT rounds' schedule cap orders by. Rank is
    # computed from the just-written compacted parquet so the distinct
    # doesn't recompute once per PageRank iteration.
    if cfg.authority_every is not None:
        from ..operators.graph import integer_pagerank

        delta_edges = (
            extracted.select(F.col("host").alias("src"), F.explode("links").alias("l"))
            .select("src", C.url_host(F.col("l")).alias("dst"))
            .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
            .distinct()
        )

        def _write_authority():
            compact_edges = round_id % cfg.authority_every == cfg.authority_every - 1
            _append_history(
                delta_edges,
                read_host_edges(spark, cfg, round_id - 1) if compact_edges else None,
                rdir, "host_edges", "_EDGES_COMPACT", compact_edges,
                _STATE_WRITE_PARTITIONS,
            )
            if compact_edges:
                rank = integer_pagerank(
                    spark.read.parquet(os.path.join(rdir, "host_edges"))
                )
                _write(
                    rank.select(F.col("node").alias("host"), "rank_micros"),
                    os.path.join(rdir, "host_rank"),
                    _STATE_WRITE_PARTITIONS,
                )

        write_tasks.append(_write_authority)

    from concurrent.futures import ThreadPoolExecutor, as_completed

    from pyspark.util import inheritable_thread_target

    t = time.perf_counter()
    with ThreadPoolExecutor(max_workers=4) as pool:
        # each task runs under the caller's local properties (job
        # group, scheduler pool); one wrap per task, because the tasks
        # of one wrap share its copy of them
        futures = [
            pool.submit(inheritable_thread_target(spark)(task))
            for task in write_tasks
        ]
        try:
            for fut in as_completed(futures):
                fut.result()
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise
    walls["state_writes_s"] = time.perf_counter() - t

    n_sched = int(obs_sched.get["n"])
    n_ok = int(obs_ok.get["n"])
    stats = {
        "round_id": round_id,
        "scheduled": n_sched,
        "fetched": n_ok,
        "failed": n_sched - n_ok,  # left join preserves every scheduled row
        "next_frontier": int(obs_next.get["n"]),
        **walls,
        "wall_s": time.perf_counter() - t0,
    }
    # atomic commit marker LAST
    with open(os.path.join(rdir, "_COMMIT"), "w") as fh:
        json.dump(stats, fh)
    return stats


def init_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    seed_urls: list[str] | None = None,
    seed_sitemaps: DataFrame | None = None,
    seed_frontier: DataFrame | None = None,
) -> None:
    """Write the round=-0 bootstrap state (frontier only).

    ``seed_sitemaps`` is a (sitemap_url, body) table of FETCHED
    sitemap XML — the north star's sitemap-driven seeding path: bodies
    are parsed with the pure-Column regex parser (crawl/sitemaps.py)
    and leaf entries become frontier rows via
    ``frontier_from_sitemaps`` (priority = sitemap entry position,
    seq = xxhash64(url)). Include child sitemaps of any
    ``<sitemapindex>`` in the table — nested expansion happens through
    the fetch loop, not here. When both seed forms are given, explicit
    ``seed_urls`` win on duplicate URLs (they carry the caller's
    stated order).

    ``seed_frontier`` is a ready-made FRONTIER_SCHEMA table — the
    recrawl path (crawl/recrawl.py:frontier_from_recrawl feeds the
    stale half of a CDX index back in) or any caller-built frontier.
    Duplicate precedence: seed_urls > seed_sitemaps > seed_frontier."""
    if seed_urls is None and seed_sitemaps is None and seed_frontier is None:
        raise ValueError(
            "init_crawl needs seed_urls, seed_sitemaps and/or seed_frontier"
        )
    frontier = seeds_to_frontier(spark, seed_urls) if seed_urls else None

    def merge(base: DataFrame | None, extra: DataFrame) -> DataFrame:
        if base is None:
            return extra
        return base.unionByName(
            extra.join(base.select("url"), "url", "left_anti")
        )

    if seed_sitemaps is not None:
        from .sitemaps import frontier_from_sitemaps, parse_sitemaps

        frontier = merge(frontier, frontier_from_sitemaps(parse_sitemaps(seed_sitemaps)))
    if seed_frontier is not None:
        frontier = merge(frontier, seed_frontier)
    rdir = _round_dir(cfg, -1)
    _write(frontier, os.path.join(rdir, "frontier"))
    with open(os.path.join(rdir, "_COMMIT"), "w") as fh:
        json.dump({"round_id": -1, "bootstrap": True}, fh)


def run_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    pages: DataFrame,
    robots: DataFrame | None,
    seed_urls: list[str] | None,
    n_rounds: int,
    resume: bool = False,
    seed_sitemaps: DataFrame | None = None,
    seed_frontier: DataFrame | None = None,
    blocklist: DataFrame | None = None,
) -> list[dict]:
    """Run (or resume) a crawl for up to ``n_rounds`` rounds.

    Fresh crawls seed from ``seed_urls`` (an ordered list, the
    reference's S1 source), ``seed_sitemaps`` (a (sitemap_url, body)
    table of fetched sitemap XML — the north star's sitemap-driven
    path; see :func:`init_crawl`), or both.

    Resume reads the last committed round and continues — a crashed
    round (no _COMMIT) is replayed identically (all inputs are the
    previous round's immutable committed state).

    ``pages`` is persisted (the fetch join reads it every round) and
    left cached on return. A caller that resumes one round per call
    over the same frame, as the ``crawl_frontier`` benchmark does,
    reuses that cache; an unpersist here would add a rescan and
    re-cache of ``pages`` to every such call, a cost not yet measured
    (ROADMAP D8 owns the cache A/B)."""
    pages = pages.persist()  # reused by the fetch join every round
    if resume:
        last = last_committed_round(cfg)
        if last is None:
            raise RuntimeError("nothing to resume")
        start = last + 1
    else:
        init_crawl(
            spark, cfg, seed_urls,
            seed_sitemaps=seed_sitemaps, seed_frontier=seed_frontier,
        )
        start = 0
    stats = []
    for rid in range(start, start + n_rounds):
        m = run_round(spark, cfg, pages, robots, rid, blocklist=blocklist)
        stats.append(m)
        if m["scheduled"] == 0:
            break
    return stats
