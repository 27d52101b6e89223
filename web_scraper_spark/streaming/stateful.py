"""Streaming first-seen dedup: the streaming twin of the batch crawl's
exact URL-seen anti-join (crawl/frontier.py).

Both operators are Spark's JVM ``StreamingDeduplicate``
(``dropDuplicates`` on a streaming DataFrame). The seen set is engine
state, exact per key (the key itself is stored, so there are no hash
collisions), hash-partitioned over
``spark.sql.shuffle.partitions`` state-store partitions, and it
survives restarts through the streaming checkpoint. State grows with
the number of distinct keys; no watermark bounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_first_seen(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Streaming first-seen filter: emits each URL's FIRST arrival and
    drops every later duplicate, across micro-batches AND across
    restarts (state lives in the streaming checkpoint). Within one
    micro-batch, which of several copies of a URL is emitted is not
    specified.

    A checkpoint written by the earlier pandas group-state version of
    this operator (sharded ``array<long>``/Bloom state) does not
    resume: Spark fails at start with
    ``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``. Start
    such a stream on a new checkpoint.

    Output schema = input schema (append mode)."""
    return pages.dropDuplicates([url_col])


def stream_content_dedup(pages: DataFrame) -> DataFrame:
    """Streaming exact-CONTENT dedup: the first document with a given
    normalized ``text`` fingerprint passes; every later copy (re-crawl,
    mirror, syndicated page) is dropped — across micro-batches AND
    restarts. The streaming twin of the batch engine's md5 content
    dedup (operators/dedup.py::exact_dedup, q15 semantics): the
    fingerprint keys :func:`stream_first_seen`."""
    from ..operators.dedup import normalize_text

    keyed = pages.withColumn("_fp", F.md5(normalize_text(F.col("text"))))
    return stream_first_seen(keyed, url_col="_fp").drop("_fp")
