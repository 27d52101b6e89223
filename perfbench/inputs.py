"""Seeded workload inputs.

Everything the program under test reads is made here from the workload
seed, so the same seed gives byte-identical inputs:

- the extraction corpus is ``sources.pages.pages_df(seed=...)`` written
  to parquet;
- the crawl frontier is the corpus URLs (low priorities, so they are
  scheduled first) plus filler URLs on the same skewed hosts whose
  priorities keep them pending for the whole run;
- the curation tables mirror the schemas and value domains of the
  ``queries()`` registry's star schema (region ... embeddings), drawn
  with numpy from the seed and written with pyarrow.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Filler priorities start here; discovered-link priorities are
# parent_seq * 10^4 + position < n_corpus * 10^4, so with a corpus below
# 10^5 pages every corpus URL outranks every filler URL.
FILLER_PRIORITY = 1e9
_EPOCH_S = int(dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def write_pages(spark, path: str, n_pages: int, seed: int) -> None:
    """Generate the ``pages`` corpus for ``seed`` and write it to parquet."""
    from web_scraper_spark.sources.pages import pages_df

    pages_df(spark, n_pages, seed=seed).write.mode("overwrite").parquet(path)


def frontier_df(spark, pages, n_filler: int, seed: int):
    """Round -1 frontier: every corpus URL plus ``n_filler`` filler URLs.

    Corpus rows take a seeded random priority below 10^6 and
    ``seq`` = the generator's row id (recovered from ``warc_ts``);
    filler rows sit on the generator's host mix (every other row on the
    hot host) at priorities above :data:`FILLER_PRIORITY`, so they are
    filtered, probed and rewritten every round but never scheduled."""
    from pyspark.sql import functions as F

    from web_scraper_spark.functions.columns import url_host

    hosts = F.array(*[F.lit(f"site{i}.example.com") for i in range(8)])
    corpus = pages.select(
        "url",
        url_host(F.col("url")).alias("host"),
        (F.unix_timestamp("warc_ts") - F.lit(_EPOCH_S)).alias("rid"),
    ).select(
        "url",
        "host",
        (F.col("rid") % 3).cast("int").alias("depth"),
        F.pmod(F.xxhash64(F.col("rid"), F.lit(seed)), F.lit(1_000_000)).cast("double").alias("priority"),
        F.col("rid").cast("long").alias("seq"),
    )
    rid = F.col("id")
    host_idx = F.when(rid % 2 == 0, F.lit(0)).otherwise(1 + rid % 7)
    filler = spark.range(0, n_filler, numPartitions=8).select(
        F.concat(
            F.lit("https://"), F.element_at(hosts, (host_idx + 1).cast("int")),
            F.lit(f"/queue/s{seed}/item-"), rid.cast("string"),
        ).alias("url"),
        F.element_at(hosts, (host_idx + 1).cast("int")).alias("host"),
        (rid % 4).cast("int").alias("depth"),
        (F.lit(FILLER_PRIORITY) + F.pmod(F.xxhash64(rid, F.lit(seed)), F.lit(1 << 30))).alias("priority"),
        (F.lit(1 << 40) + rid).alias("seq"),
    )
    return corpus.unionByName(filler).select(
        "url", "host", "depth", "priority", "seq",
        F.lit(0).alias("round_id"), F.lit("pending").alias("status"),
    )


def sample_ids(seed: int, n: int, k: int) -> list[int]:
    """``k`` distinct row ids in ``[0, n)`` drawn from ``seed``."""
    return sorted(random.Random(seed * 7919 + 17).sample(range(n), k))


# ---------------------------------------------------------------------
# Curation tables (the star schema the query registry reads)
# ---------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group filter stream vector"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_WORDS = ("small", "red", "blue", "green", "large", "steel")
_PART_NOUNS = ("ring", "widget", "bolt", "gear", "valve", "spring")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DOC_LANGS = ("en", "en", "de", "fr", "es", "zh")


def _ts(values_s) -> pa.Array:
    return pa.array(np.asarray(values_s, dtype="int64") * 1_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def curation_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten query-registry tables for ``seed``; ``scale=1`` gives the
    row counts of the registry's smallest fixture (6,000 lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150 * scale), max(10, int(10 * scale)), int(200 * scale)
    n_ord, n_line = int(1500 * scale), int(6000 * scale)
    n_ev, n_doc, n_emb = int(1000 * scale), int(500 * scale), int(500 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day = 86_400
    base = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(base + rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    l_line = np.zeros(n_line, dtype=np.int32)
    for i in range(1, n_line):
        l_line[i] = l_line[i - 1] + 1 if l_order[i] == l_order[i - 1] else 0
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_line + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(base + 1 * day + rng.integers(0, 2500, n_line) * day),
    })
    ev_base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ev_ts_us = np.sort(rng.integers(0, 30 * day * 1_000_000, n_ev)) + ev_base * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document (dedup operators)
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_DOC_LANGS[i] for i in rng.integers(0, len(_DOC_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_curation_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write :func:`curation_tables` as ``<out_dir>/<name>.parquet``;
    returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in curation_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
