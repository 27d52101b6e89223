"""The three workloads: set-up, the timed loop and the output checks.

Each workload is a closed loop: the driver thread submits one operation
at a time (a crawl round, an extraction job, a query) and the next only
after the previous one returned. The only other threads are the
program's own 4-thread state-write pool inside ``run_round``.

A workload function takes a :class:`Ctx` and returns a :class:`Measured`.
Set-up work happens before ``ctx.timed_start()``; the timed loop runs
until ``ctx.seconds`` of timed work have elapsed, in whole passes.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from . import inputs
from .checksum import checksum
from .tracing import codegen_counters, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

#: Workload shapes. Changing one changes the workload: re-record
#: ``expected.json`` (``run.py --record``) and re-baseline.
CRAWL_SHAPE = {
    "pages": 2_000,
    "filler": 50_000,
    "quota_per_host": 32,
    # round 0 (no seen sketch yet, appends to the seen table) is set-up;
    # a pass replays round 1 from its commit, which probes the sketch
    # and compacts the seen table (round_id % 2 == 1). A crawl round
    # costs ~7-9 s here, so a run times one.
    "rounds_per_pass": 1,
    "seen_compact_every": 2,
    "n_shards": 16,
}
# a job takes ~3 s: at least three per run, reported by their median
EXTRACT_SHAPE = {"pages": 4_000, "sample": 24, "min_jobs": 3}
CURATE_SHAPE = {
    "scale": 1.0,
    # the ROADMAP's open query leaves
    "queries": (
        "q50_extract_pages", "q54_media_features", "q55_video_docs",
        "q75_curation_run", "q77_duplicate_span_ranges", "q83_bm25_topk",
        "q87_perplexity_buckets", "q89_keep_first_spans",
        "q103_incremental_curation",
    ),
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object | None = None
    record: bool = False
    t_timed: float = 0.0
    timed_wall: float = 0.0
    setup: dict = field(default_factory=dict)
    codegen: list = field(default_factory=list)

    def timed_start(self) -> None:
        if self.tracer is not None:
            self.codegen.append(codegen_counters(self.spark))
        self.t_timed = time.perf_counter()

    def timed_end(self) -> None:
        self.timed_wall = self.timed_elapsed()
        self.set_op(-1)
        if self.tracer is not None:
            self.codegen.append(codegen_counters(self.spark))

    def timed_elapsed(self) -> float:
        return time.perf_counter() - self.t_timed

    def phase(self, name: str):
        """Span + job group when tracing, a no-op otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name)

    def set_op(self, i: int) -> None:
        if self.tracer is not None:
            self.tracer.op = i


@dataclass
class Measured:
    op_walls: list[float] = field(default_factory=list)
    op_items: list[int] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    data_bytes: int = 0  # inputs and outputs on disk at the end

    def fail(self, n_ops: int, why: str) -> None:
        self.failed += n_ops
        self.problems.append(why)


def _expected(workload: str, seed: int):
    if not os.path.exists(EXPECTED_PATH):
        return None
    with open(EXPECTED_PATH) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def _record(workload: str, seed: int, value) -> None:
    data = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as fh:
            data = json.load(fh)
    data.setdefault(workload, {})[str(seed)] = value
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _check_recorded(ctx: Ctx, m: Measured, workload: str, value, n_ops: int) -> None:
    """Compare ``value`` with the value recorded for this seed."""
    print(f"perfbench-output: {json.dumps({workload: {str(ctx.seed): value}})}", file=sys.stderr)
    if ctx.record:
        _record(workload, ctx.seed, value)
        return
    want = _expected(workload, ctx.seed)
    if want is None:
        print(f"perfbench: no recorded output for {workload} seed {ctx.seed}; "
              "checked repeatability and invariants only", file=sys.stderr)
    elif want != value:
        what = ""
        if isinstance(want, dict):
            what = ": " + ", ".join(sorted(k for k in want if want[k] != value.get(k)))
        m.fail(n_ops, f"output differs from the value recorded for seed {ctx.seed}{what}")


def _timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------
# crawl_frontier
# ---------------------------------------------------------------------

def crawl_frontier(ctx: Ctx) -> Measured:
    from web_scraper_spark.crawl.rounds import CrawlConfig, run_crawl

    spark, shape = ctx.spark, CRAWL_SHAPE
    pages_path = os.path.join(ctx.work, "pages")
    with ctx.phase("setup"):
        _, ctx.setup["gen_s"] = _timed(inputs.write_pages, spark, pages_path, shape["pages"], ctx.seed)
        pages = spark.read.parquet(pages_path)
        cfg = CrawlConfig(
            ckpt_dir=os.path.join(ctx.work, "ckpt"),
            n_shards=shape["n_shards"],
            quota_per_host=shape["quota_per_host"],
            max_depth=3,
            seen_compact_every=shape["seen_compact_every"],
            seen_compact_ratio=0.5,
        )
        # round 0 warms the JVM, the Python workers and the pages cache
        # and writes the first seen sketch; every pass replays rounds
        # 1..R from its commit
        frontier = inputs.frontier_df(spark, pages, shape["filler"], ctx.seed)
        warm = run_crawl(spark, cfg, pages, None, None, n_rounds=1, seed_frontier=frontier)

    m = Measured()
    R = shape["rounds_per_pass"]
    rdir = lambda r: os.path.join(cfg.ckpt_dir, f"round={r}")  # noqa: E731
    per_pass: list[list[int]] = []
    ctx.timed_start()
    while not m.pass_walls or ctx.timed_elapsed() < ctx.seconds:
        for r in range(1, R + 1):
            shutil.rmtree(rdir(r), ignore_errors=True)
        t0 = time.perf_counter()
        sched = []
        for _ in range(R):
            ctx.set_op(len(m.op_walls))
            m.attempted += 1
            try:
                with ctx.phase("crawl.rounds.round"):
                    stat = run_crawl(spark, cfg, pages, None, None, n_rounds=1, resume=True)[0]
            except Exception as exc:  # a failed round ends the run
                m.fail(1, f"round raised {type(exc).__name__}: {exc}")
                ctx.timed_end()
                return m
            m.op_walls.append(stat["wall_s"])
            m.op_items.append(stat["scheduled"])
            sched.append(stat["scheduled"])
        m.pass_walls.append(time.perf_counter() - t0)
        per_pass.append(sched)
    ctx.timed_end()

    with ctx.phase("trace.checks"):
        _crawl_checks(ctx, m, cfg, warm[0]["scheduled"], per_pass)
    ckpt = sum(dir_bytes(rdir(r)) for r in range(1, R + 1))
    m.data_bytes = dir_bytes(pages_path) + dir_bytes(cfg.ckpt_dir)
    m.layer["crawl.rounds.ckpt_bytes_per_url"] = ckpt / max(1, sum(per_pass[-1]))
    m.layer["functions.udfs.rows"] = statistics.mean(m.op_items)
    m.layer["crawl.rounds.frontier_bytes"] = _mean_dir(cfg.ckpt_dir, R, "frontier")
    m.layer["crawl.rounds.seen_bytes"] = _mean_dir(cfg.ckpt_dir, R, "seen")
    return m


def _mean_dir(ckpt: str, R: int, table: str) -> float:
    """Mean bytes of one state table over the timed rounds 1..R."""
    return sum(dir_bytes(os.path.join(ckpt, f"round={r}", table)) for r in range(1, R + 1)) / R


def _crawl_checks(ctx: Ctx, m: Measured, cfg, warm: int, per_pass: list[list[int]]) -> None:
    """The ``tools/soak_crawl.py`` invariants on the committed checkpoint
    (round 0 and the last pass's rounds 1..R), plus replay determinism
    and the recorded counts."""
    from pyspark.sql import functions as F

    from web_scraper_spark.crawl.rounds import read_seen

    spark, n_ops = ctx.spark, len(per_pass[-1])
    rounds = range(n_ops + 1)  # round 0 (set-up) and the last pass's rounds
    rdir = lambda r: os.path.join(cfg.ckpt_dir, f"round={r}")  # noqa: E731
    logs = spark.read.parquet(*[os.path.join(rdir(r), "fetch_log") for r in rounds])
    n_fetch, n_urls, fetched = logs.agg(
        F.count("*"), F.countDistinct("url"), F.count_if(F.col("fetch_status") == "fetched")
    ).collect()[0]
    if n_fetch != n_urls:
        m.fail(n_ops, f"a url was fetched more than once: {n_fetch} fetches, {n_urls} urls")
    fronts = None
    for r in rounds:
        f = spark.read.parquet(os.path.join(rdir(r), "frontier")).select(
            F.lit(r).alias("r"), "url"
        )
        fronts = f if fronts is None else fronts.unionByName(f)
    dups = fronts.groupBy("r", "url").count().filter("count > 1").count()
    if dups:
        m.fail(n_ops, f"{dups} frontier urls queued twice in one round")
    seen = read_seen(spark, cfg, rounds[-1]).select(F.col("url").alias("a")).distinct()
    sched = logs.select(F.col("url").alias("b")).distinct()
    diff = seen.join(sched, F.col("a") == F.col("b"), "full_outer").filter(
        F.col("a").isNull() | F.col("b").isNull()
    )
    if diff.limit(1).count():
        m.fail(n_ops, "seen set differs from the union of scheduled urls")
    if any(p != per_pass[0] for p in per_pass):
        m.fail(n_ops, f"replayed passes scheduled different counts: {per_pass}")
    _check_recorded(
        ctx, m, "crawl_frontier", {"scheduled": [warm] + per_pass[-1], "fetched": fetched}, n_ops
    )


# ---------------------------------------------------------------------
# extract_corpus
# ---------------------------------------------------------------------

def extract_corpus(ctx: Ctx) -> Measured:
    from pyspark.sql import functions as F

    from web_scraper_spark.functions.udfs import extract_pages

    spark, n = ctx.spark, EXTRACT_SHAPE["pages"]
    pages_path = os.path.join(ctx.work, "pages")
    with ctx.phase("setup"):
        _, ctx.setup["gen_s"] = _timed(inputs.write_pages, spark, pages_path, n, ctx.seed)
        # warm-up: extract 1/16 of the pages with the timed job's plan and
        # parallelism, so every Python worker is started before timing
        pages = spark.read.parquet(pages_path)
        extract_pages(pages.filter(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)).write.mode(
            "overwrite"
        ).parquet(os.path.join(ctx.work, "warm"))

    m = Measured()
    sums: list[tuple[int, str]] = []
    ctx.timed_start()
    while len(m.op_walls) < EXTRACT_SHAPE["min_jobs"] or ctx.timed_elapsed() < ctx.seconds:
        i = len(m.op_walls)
        ctx.set_op(i)
        out = os.path.join(ctx.work, f"out{i}")
        m.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.phase("functions.udfs.extract"):
                extract_pages(spark.read.parquet(pages_path)).write.mode("overwrite").parquet(out)
        except Exception as exc:
            m.fail(1, f"extraction raised {type(exc).__name__}: {exc}")
            break
        wall = time.perf_counter() - t0
        m.op_walls.append(wall)
        m.op_items.append(n)
        m.pass_walls.append(wall)
        with ctx.phase("trace.checks"):
            sums.append(checksum(spark.read.parquet(out)))
        if i > 1:  # keep the first and the latest output
            shutil.rmtree(os.path.join(ctx.work, f"out{i - 1}"), ignore_errors=True)
    ctx.timed_end()
    if not sums:
        return m

    with ctx.phase("trace.checks"):
        last = os.path.join(ctx.work, f"out{len(sums) - 1}")
        bad = _extract_sample_mismatches(spark, last, ctx.seed, n)
    if bad:
        m.fail(len(sums), f"{bad} sampled rows differ from extract_page_record")
    if sums[0][0] != n:
        m.fail(len(sums), f"extraction wrote {sums[0][0]} rows for {n} pages")
    if len(set(sums)) > 1:
        m.fail(len(sums), f"extraction checksums differ across jobs: {sorted(set(sums))}")
    _check_recorded(ctx, m, "extract_corpus", f"{sums[0][0]}:{sums[0][1]}", len(sums))
    m.data_bytes = dir_bytes(pages_path) + dir_bytes(last)
    m.layer["functions.udfs.out_bytes_per_page"] = dir_bytes(last) / n
    m.layer["functions.udfs.rows"] = n
    return m


def _extract_sample_mismatches(spark, out: str, seed: int, n: int) -> int:
    """Rows of a seeded sample whose Spark output is not byte-equal to
    ``extract_page_record`` run in the driver on the same page."""
    from pyspark.sql import functions as F

    from web_scraper_spark.functions.udfs import ALL_PRODUCTS, extract_page_record
    from web_scraper_spark.sources.pages import gen_page_html, url_for

    rids = inputs.sample_ids(seed, n, EXTRACT_SHAPE["sample"])
    urls = {url_for(r): r for r in rids}
    rows = spark.read.parquet(out).filter(F.col("url").isin(list(urls))).collect()
    bad = len(urls) - len(rows)
    for row in rows:
        want = extract_page_record(gen_page_html(urls[row["url"]], seed, n), row["url"])
        want["token_count"] = len(want["clean_html"]) // 4
        want["n_images"] = len(want["images"])
        for name in (*ALL_PRODUCTS, "token_count", "n_images"):
            got = row[name]
            if name in ("images", "anchors"):
                got = [r.asDict() for r in got]
            if got != want[name]:
                bad += 1
                break
    return bad


# ---------------------------------------------------------------------
# curate_suite
# ---------------------------------------------------------------------

def curate_suite(ctx: Ctx) -> Measured:
    from web_scraper_spark.plans.queries import QUERIES

    spark, names = ctx.spark, CURATE_SHAPE["queries"]
    sf_dir = os.path.join(ctx.work, "tables")
    with ctx.phase("setup"):
        n_rows, ctx.setup["gen_s"] = _timed(
            inputs.write_curation_tables, sf_dir, ctx.seed, CURATE_SHAPE["scale"]
        )
        # warm-up: load the scan, aggregate and Python-worker paths once
        checksum(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))

    m = Measured()
    passes: list[dict[str, str]] = []
    per_query: dict[str, list[float]] = {q: [] for q in names}
    ctx.timed_start()
    while not m.pass_walls or ctx.timed_elapsed() < ctx.seconds:
        ctx.set_op(len(m.pass_walls))
        sums: dict[str, str] = {}
        t_pass = time.perf_counter()
        for name in names:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.phase(f"plans.{name}"):
                    rows, s = checksum(QUERIES[name](spark, sf_dir))
            except Exception as exc:
                m.fail(1, f"{name} raised {type(exc).__name__}: {str(exc)[:200]}")
                continue
            wall = time.perf_counter() - t0
            m.op_walls.append(wall)
            m.op_items.append(1)
            per_query[name].append(wall)
            sums[name] = f"{rows}:{s}"
        m.pass_walls.append(time.perf_counter() - t_pass)
        passes.append(sums)
    ctx.timed_end()

    for name in names:
        seen = {p.get(name) for p in passes}
        if len(seen) > 1:
            m.fail(len(passes), f"{name}: checksum differs across passes: {sorted(map(str, seen))}")
    _check_recorded(ctx, m, "curate_suite", passes[0], m.attempted)
    m.data_bytes = dir_bytes(sf_dir)
    m.layer["functions.udfs.rows"] = n_rows["documents"]  # q50 extracts every document
    for name, walls in per_query.items():
        if walls:
            m.layer[f"plans.{name}.wall_s"] = statistics.median(walls)
    return m


WORKLOADS = {
    "crawl_frontier": crawl_frontier,
    "extract_corpus": extract_corpus,
    "curate_suite": curate_suite,
}
