"""SURVEY §5.2 resilience classes: dedup stability under permutation
(§5.2-4) and mid-round crash replay (§5.2-5: a round without _COMMIT
is replayed identically from the previous committed state)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.crawl.rounds import CrawlConfig, last_committed_round, run_crawl
from web_scraper_spark.operators.dedup import exact_dedup
from web_scraper_spark.operators.relational import first_seen_dedup
from web_scraper_spark.sources.pages import pages_df, url_for


def test_first_seen_dedup_stable_under_permutation(spark):
    rows = [(i, f"text-{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows, "id int, text string")
    a = first_seen_dedup(df, ["text"], [F.col("id")]).select("id", "text")
    b = first_seen_dedup(
        df.orderBy(F.desc("id")).repartition(17), ["text"], [F.col("id")]
    ).select("id", "text")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # winner is always the minimum id of each text group
    winners = {r["text"]: r["id"] for r in a.collect()}
    assert all(winners[f"text-{k}"] == k for k in range(7))


def test_exact_dedup_keeps_min_id_any_partitioning(spark):
    rows = [(i, "same doc  text") for i in range(50)] + [(99, "other")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = exact_dedup(df.repartition(13), "text", "doc_id")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [0, 99]


def test_mid_round_crash_replays_identically(spark, tmp_path):
    n = 48
    pages = pages_df(spark, n)
    seeds = [url_for(r) for r in range(12)]

    ck_a = str(tmp_path / "a")
    cfg_a = CrawlConfig(ckpt_dir=ck_a, quota_per_host=16, max_depth=2, n_shards=4)
    run_crawl(spark, cfg_a, pages, None, seeds, n_rounds=2)

    # crash simulation: run rounds 0-1, then destroy round 1's commit
    # marker and half its outputs (a mid-round crash leaves partial,
    # uncommitted files) and resume
    ck_b = str(tmp_path / "b")
    cfg_b = CrawlConfig(ckpt_dir=ck_b, quota_per_host=16, max_depth=2, n_shards=4)
    run_crawl(spark, cfg_b, pages, None, seeds, n_rounds=2)
    r1 = os.path.join(ck_b, "round=1")
    os.remove(os.path.join(r1, "_COMMIT"))
    shutil.rmtree(os.path.join(r1, "frontier"))
    shutil.rmtree(os.path.join(r1, "seen"))
    assert last_committed_round(cfg_b) == 0
    run_crawl(spark, cfg_b, pages, None, None, n_rounds=1, resume=True)
    assert last_committed_round(cfg_b) == 1

    for sub in ("fetch_log", "results", "seen"):
        a = spark.read.parquet(os.path.join(ck_a, "round=1", sub))
        b = spark.read.parquet(os.path.join(ck_b, "round=1", sub))
        cols = sorted(set(a.columns) - {"scheduled_offset_ms"})  # compare full rows
        assert sorted(map(tuple, a.select(*sorted(a.columns)).collect())) == sorted(
            map(tuple, b.select(*sorted(b.columns)).collect())
        ), sub


def _state(spark, ck, rid, sub):
    df = spark.read.parquet(os.path.join(ck, f"round={rid}", sub))
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """A two-round crawl run straight through: its ``pages`` (left
    cached by run_crawl) and its checkpoint dir."""
    pages = pages_df(spark, 48)
    ck = str(tmp_path_factory.mktemp("uninterrupted"))
    cfg = CrawlConfig(ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=4)
    run_crawl(spark, cfg, pages, None, [url_for(r) for r in range(12)], n_rounds=2)
    return pages, ck


@pytest.mark.parametrize(
    "target", ["fetch_log", "results", "metrics", "seen", "host_state", "frontier", "_COMMIT"]
)
def test_failed_state_write_leaves_no_commit_and_no_caches(
    spark, tmp_path, monkeypatch, uninterrupted, target
):
    """A round that fails at any of its writes — the two ledger writes,
    each pooled state write, or the _COMMIT marker — leaves no _COMMIT
    and no cached DataFrame behind, and an unpatched resume commits
    the same state, and no other files, as an uninterrupted run."""
    import builtins

    from web_scraper_spark.crawl import rounds

    pages, ck_a = uninterrupted
    ck_b = str(tmp_path / "b")
    for rid in (-1, 0):  # round 0 committed, as the uninterrupted run left it
        shutil.copytree(os.path.join(ck_a, f"round={rid}"), os.path.join(ck_b, f"round={rid}"))
    cfg_b = CrawlConfig(ckpt_dir=ck_b, quota_per_host=16, max_depth=2, n_shards=4)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())  # includes run_crawl's pages cache
    injected = f"injected {target} failure"
    write = rounds._write

    def failing_write(df, path, coalesce=None):
        if os.path.basename(path) == target:
            raise RuntimeError(injected)
        write(df, path, coalesce)

    def failing_open(path, *args, **kwargs):
        if os.path.basename(path) == target:
            raise RuntimeError(injected)
        return builtins.open(path, *args, **kwargs)

    with monkeypatch.context() as m:
        if target == "_COMMIT":
            m.setattr(rounds, "open", failing_open, raising=False)
        else:
            m.setattr(rounds, "_write", failing_write)
        with pytest.raises(RuntimeError, match=injected):
            run_crawl(spark, cfg_b, pages, None, None, n_rounds=1, resume=True)
    assert not os.path.exists(os.path.join(ck_b, "round=1", "_COMMIT"))
    assert last_committed_round(cfg_b) == 0
    assert set(persistent().keys()) == before

    run_crawl(spark, cfg_b, pages, None, None, n_rounds=1, resume=True)
    assert last_committed_round(cfg_b) == 1
    for sub in ("fetch_log", "results", "seen", "frontier", "host_state"):
        assert _state(spark, ck_a, 1, sub) == _state(spark, ck_b, 1, sub), sub
    assert sorted(os.listdir(os.path.join(ck_b, "round=1"))) == sorted(
        os.listdir(os.path.join(ck_a, "round=1"))
    )


def test_resume_skips_seen_url_injected_into_frontier(spark, tmp_path):
    """At-most-once fetching rests on the seen check, not on the
    frontier never holding a seen URL: a URL fetched in round 0 and
    put back into round 0's committed frontier (ahead of every other
    row) is neither fetched again nor re-queued by the resumed round."""
    pages = pages_df(spark, 48)
    seeds = [url_for(r) for r in range(12)]
    ck = str(tmp_path / "ck")
    cfg = CrawlConfig(ckpt_dir=ck, quota_per_host=16, max_depth=2, n_shards=4)
    run_crawl(spark, cfg, pages, None, seeds, n_rounds=1)
    url = seeds[0]
    r0 = spark.read.parquet(os.path.join(ck, "round=0", "fetch_log"))
    assert r0.filter(F.col("url") == url).count() == 1

    row = (
        spark.read.parquet(os.path.join(ck, "round=-1", "frontier"))
        .filter(F.col("url") == url)
        .withColumn("priority", F.lit(-1.0))
        .withColumn("round_id", F.lit(1))
    )
    row.write.mode("append").parquet(os.path.join(ck, "round=0", "frontier"))

    stats = run_crawl(spark, cfg, pages, None, None, n_rounds=1, resume=True)
    assert stats[0]["scheduled"] > 0
    for sub in ("fetch_log", "frontier"):
        urls = {r["url"] for r in spark.read.parquet(os.path.join(ck, "round=1", sub)).collect()}
        assert url not in urls, sub
