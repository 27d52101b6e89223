"""Custom stateful streaming operator: first-seen URL dedup via
``applyInPandasWithState`` (SURVEY.md §2.10 / task mandate).

The batch engine's URL-seen membership is an exact anti-join against
the seen table (crawl/frontier.py). This is the streaming-native
twin: the seen set IS engine-managed state, keyed by a hash shard of
the URL — so state is partitioned (no single executor holds the whole seen
set), survives restarts through the streaming checkpoint, and new
micro-batches only touch the shards their URLs land in.

Scale notes:
- the shard key is ``pmod(xxhash64(url), n_shards)`` — hot-host-free
  partitioning (a url hash, not its host); n_shards bounds per-group
  state size and sets the parallelism of the stateful stage.
- per-shard state is an ``array<long>`` of 64-bit url hashes (8
  bytes/url). At real scale you'd swap the array for a serialized
  Bloom filter in the same state slot (bytes column) — the operator
  shape is identical; the exact-set variant keeps the tests
  false-positive-free.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..crawl.bloom import BloomShard, stable_hash64

_STATE_SCHEMA = T.StructType(
    [T.StructField("hashes", T.ArrayType(T.LongType()), True)]
)

_BLOOM_STATE_SCHEMA = T.StructType(
    [T.StructField("sketch", T.BinaryType(), True)]
)


def stream_first_seen(
    pages: DataFrame,
    n_shards: int = 16,
    url_col: str = "url",
    exact: bool = True,
    expected_per_shard: int = 1 << 16,
    fp_rate: float = 1e-4,
) -> DataFrame:
    """Streaming first-seen filter: emits each URL's FIRST arrival and
    drops every later duplicate, across micro-batches AND across
    restarts (state lives in the streaming checkpoint).

    Two state backends behind the same operator shape:
    - ``exact=True``: per-shard set of 64-bit url hashes
      (``array<long>``, 8 bytes/url) — false-positive-free, state
      grows O(urls).
    - ``exact=False``: per-shard serialized Bloom filter (``binary``)
      — state is FIXED-SIZE per shard regardless of url count, the
      10^10-scale backend. No false negatives (a duplicate never
      passes), but the configured ``fp_rate`` of genuinely-new URLs
      is mistakenly dropped — the standard sketch trade (a stream
      has no retroactive exact join, so the loss rate IS the fp
      rate).

    Output schema = input schema (append mode)."""
    out_schema = pages.schema

    def dedup_exact(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            mask = []
            for u in pdf[url_col]:
                # signed 64-bit: stable_hash64 is unsigned, and values
                # over 2^63-1 silently overflow the LongType state
                # column (debugged: exactly those URLs re-emitted
                # after the overflowing entry was lost on state write)
                h = stable_hash64(u)
                if h >= 1 << 63:
                    h -= 1 << 64
                if h in seen:
                    mask.append(False)
                else:
                    seen.add(h)
                    mask.append(True)
            out = pdf[pd.Series(mask, index=pdf.index)]
            if len(out):
                yield out.drop(columns=["_shard"])
        state.update((list(seen),))

    def dedup_bloom(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            shard = BloomShard.from_bytes(bytes(state.get[0]))
        else:
            shard = BloomShard.sized_for(expected_per_shard, fp_rate)
        for pdf in pdfs:
            mask = []
            for u in pdf[url_col]:
                if u in shard:
                    mask.append(False)
                else:
                    shard.add(u)
                    mask.append(True)
            out = pdf[pd.Series(mask, index=pdf.index)]
            if len(out):
                yield out.drop(columns=["_shard"])
        state.update((shard.to_bytes(),))

    with_shard = pages.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_shards))
    )
    return with_shard.groupBy("_shard").applyInPandasWithState(
        dedup_exact if exact else dedup_bloom,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA if exact else _BLOOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_content_dedup(
    pages: DataFrame,
    text_col: str = "text",
    n_shards: int = 16,
    exact: bool = True,
    expected_per_shard: int = 1 << 16,
    fp_rate: float = 1e-4,
) -> DataFrame:
    """Streaming exact-CONTENT dedup: the first document with a given
    normalized-text fingerprint passes; every later copy (re-crawl,
    mirror, syndicated page) is dropped — across micro-batches AND
    restarts. The streaming twin of the batch engine's md5 content
    dedup (operators/dedup.py::exact_dedup, q15 semantics): a
    fingerprint column keys the same sharded first-seen state operator
    as :func:`stream_first_seen`, inheriting its two state backends
    (exact hash set / fixed-size Bloom) and its restart guarantees."""
    from ..operators.dedup import normalize_text

    keyed = pages.withColumn("_fp", F.md5(normalize_text(F.col(text_col))))
    out = stream_first_seen(
        keyed,
        n_shards=n_shards,
        url_col="_fp",
        exact=exact,
        expected_per_shard=expected_per_shard,
        fp_rate=fp_rate,
    )
    return out.drop("_fp")
