"""Tests of the benchmark's own code: input generators, checksum,
event-log reducer and the metric names BENCHMARK.json declares.

Run from the repository root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.checksum import MODULUS, checksum, checksum_df  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END, _unit  # noqa: E402
from perfbench.tracing import reduce_event_log, sum_groups  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # Python workers import the package (pages_df's generator)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    s = (
        SparkSession.builder.appName("perfbench-tests")
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# -- generators ---------------------------------------------------------

def test_curation_tables_are_deterministic_per_seed():
    a, b, c = inputs.curation_tables(5), inputs.curation_tables(5), inputs.curation_tables(6)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_sample_ids_are_deterministic_and_in_range():
    assert inputs.sample_ids(3, 1000, 24) == inputs.sample_ids(3, 1000, 24)
    assert inputs.sample_ids(3, 1000, 24) != inputs.sample_ids(4, 1000, 24)
    ids = inputs.sample_ids(3, 1000, 24)
    assert len(set(ids)) == 24 and all(0 <= i < 1000 for i in ids)


def test_frontier_is_deterministic_and_ranks_corpus_first(spark):
    from web_scraper_spark.sources.pages import pages_df

    pages = pages_df(spark, 64, seed=9).select("url", "warc_ts").cache()

    def rows(seed):
        return sorted(map(tuple, inputs.frontier_df(spark, pages, 200, seed).collect()))

    first, again = rows(9), rows(9)
    assert first == again
    assert rows(10) != first
    corpus = {r["url"] for r in pages.collect()}
    assert len(first) == 264 and len({r[0] for r in first}) == 264
    worst_corpus = max(r[3] for r in first if r[0] in corpus)
    best_filler = min(r[3] for r in first if r[0] not in corpus)
    assert worst_corpus < best_filler
    assert best_filler >= inputs.FILLER_PRIORITY


# -- checksum -----------------------------------------------------------

def test_checksum_is_order_insensitive(spark):
    rows = [(i, f"s{i % 7}", i * 0.1, {"k": i}) for i in range(500)]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    schema = "a long, b string, c double, m map<string,long>"
    one = checksum(spark.createDataFrame(rows, schema).repartition(3))
    two = checksum(spark.createDataFrame(shuffled, schema).repartition(5))
    assert one == two
    assert one[0] == 500
    changed = rows[:-1] + [(499, "s2", 49.9, {"k": 500})]
    assert checksum(spark.createDataFrame(changed, schema)) != one


def test_checksum_rounds_doubles_to_six_places(spark):
    a = spark.createDataFrame([(1.0000001,), (-0.0,)], "x double")
    b = spark.createDataFrame([(1.0000002,), (0.0,)], "x double")
    assert checksum(a) == checksum(b)


def test_checksum_cannot_overflow_under_ansi(spark):
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    df = spark.range(20_000).select((F.col("id") * 7919).alias("a"), F.col("id").cast("string").alias("b"))
    # the unreduced sum of 64-bit hashes overflows under ANSI ...
    with pytest.raises(ArithmeticException):
        df.select(F.sum(F.xxhash64("a", "b"))).collect()
    # ... the pmod-reduced terms stay in [0, 2^31) and the sum is exact
    rows, sums = checksum(df)
    assert rows == 20_000
    s1, s2 = (int(x) for x in sums.split(":"))
    assert 0 <= s1 < rows * MODULUS and 0 <= s2 < rows * MODULUS
    assert rows * MODULUS < 2**63
    assert checksum_df(df.limit(0)).collect()[0]["s1"] == 0


# -- event-log reducer ----------------------------------------------------

def test_reduce_event_log_gives_known_totals():
    """``eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of two
    job groups on ``local[2]``: ``grp.udf`` sums ``token_count`` of
    ``extract_pages`` over 40 generated pages (2 generate+extract tasks,
    1 final aggregate task), ``grp.agg`` counts a 3-partition range by
    key (3 map tasks, 1 reduce task after AQE coalescing). The expected
    totals are the sums of the task-end fields of each group's lines."""
    groups = reduce_event_log([os.path.join(DATA, "eventlog_small.jsonl")])
    with open(os.path.join(DATA, "eventlog_small.expected.json")) as fh:
        want = json.load(fh)
    assert set(groups) == set(want)
    for g, totals in want.items():
        for k, v in totals.items():
            assert groups[g].get(k, 0) == v, (g, k)
    udf, agg = groups["grp.udf"], groups["grp.agg"]
    assert udf["py_bytes_sent"] > 0 and udf["py_bytes_returned"] > 0
    assert agg.get("py_bytes_sent", 0) == 0
    assert agg["shuffle_write_bytes"] > 0
    both = sum_groups(groups, lambda g: g.startswith("grp."))
    assert both["tasks"] == udf["tasks"] + agg["tasks"]


# -- metric names -----------------------------------------------------------

def test_metric_names_and_counts_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(layer) <= 128
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    assert all(NAME.match(n) for n in e2e + layer)
    assert e2e == list(END_TO_END)
    assert layer == list(PER_LAYER)
    assert [m["unit"] for m in bench["end_to_end"]] == list(END_TO_END.values())
    assert [m["unit"] for m in bench["per_layer"]] == [_unit(n) for n in PER_LAYER]
    assert {m["unit"] for m in bench["end_to_end"] if m["name"] == "setup_s"} == {"s"}
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert {w["name"] for w in bench["workloads"]} == {
        "crawl_frontier", "extract_corpus", "curate_suite",
    }
