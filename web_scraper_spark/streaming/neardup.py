"""Incremental streaming NEAR-dup detection (MinHash-LSH over
micro-batches).

Exact streaming content dedup is a state-key lookup
(stateful.stream_content_dedup); NEAR-dup needs a candidate JOIN
against everything seen so far, which engine-managed per-key state
cannot express (a new doc must meet prior docs in any shared band
bucket, then verify across buckets). The streaming-native shape is a
``foreachBatch`` incremental index with a TWO-TABLE persistent store
under ``store_dir``:

- ``bands/batch=<epoch>``: (id, band, bucket) banded MinHash keys —
  the candidate-generation side; small fixed-width rows, no arrays;
- ``sigs/batch=<epoch>``: (id, vsig) ONE row per doc — a
  higher-resolution verification signature from an INDEPENDENT hash
  family (salt='v'), stored once per doc rather than duplicated per
  band.

The stream has one fixed parameterization, the module constants
below: rows keyed by their ``url`` column, 16-component banding
signatures in 8 bands, 64-component verification signatures, and
pairs kept at ``est_jaccard`` ≥ 0.5.

Each batch builds both with the batch LSH operators
(operators.dedup.minhash_signatures → minhash_band_index; one skinny
groupBy(id) per hash family, so ids must be unique within a batch),
joins its banded keys against the store ∪ itself on (band, bucket) —
the same bounded-by-collision-probability join as the batch LSH
operator, with the same hot-bucket guard (operators.dedup._hot_keys:
(band, bucket) groups of the store ∪ batch over ``HOT_BUCKET_CAP``
rows are left out of the join and logged at WARNING) — and VERIFIES
candidates with the agreement count that incremental index dedup also
uses (operators.dedup._agree) over the
K = 64-component verification signatures: est = agreeing components /
K. This is the standard unbiased MinHash Jaccard
estimator with KNOWN error (E[est] = J, Var = J(1−J)/K ⇒ std ≤
0.5/√K, ≈ 0.0625 at K = 64) — unlike agreement over the 16-component
BANDING signature, which is both coarse (1/16 granularity) and
upward-biased among candidates (a band collision conditions those
components toward agreement). Verified precision is tested against
exact Jaccard in tests/test_streaming.py.

Outputs and store writes land in ``batch=<epoch_id>`` directories, so
a replayed micro-batch OVERWRITES its own output instead of
duplicating it — exactly-once under restart without a transaction
log.

Scale notes: the bands table is ~40 bytes per doc per band; the sigs
table is one ~2 KB row per doc at K = 64 (vs duplicating the array
into every banded row). The per-batch join shuffles on (band,
bucket); the verification joins broadcast the (tiny) candidate set
against the doc-keyed sigs store. Compact both stores periodically
(coalesce batch dirs) the same way the crawl's seen-table compaction
works.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    HOT_BUCKET_CAP,
    _agree,
    _hot_keys,
    minhash_band_index,
    minhash_signatures,
)

_STORE_GLOB = "batch=*"
_BANDS_SUB = "bands"
_SIGS_SUB = "sigs"
_ID_COL = "url"
_NUM_HASHES = 16
_BANDS = 8
_VERIFY_HASHES = 64
_THRESHOLD = 0.5


def make_near_dup_batch_fn(store_dir: str, pairs_dir: str):
    """Build the ``foreachBatch`` function: each micro-batch of
    (url, text) rows emits (id_a, id_b, est_jaccard) pairs —
    candidates via banded-key join against the store AND within the
    batch, verified by the independent 64-component MinHash estimator
    (std ≤ 0.5/√K; see module docstring) and kept at est_jaccard ≥
    0.5 — then adds its own banded keys and verification signatures to
    the store. Wire with ``writeStream.foreachBatch(fn)``."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df.persist()
        new_bands = minhash_band_index(
            minhash_signatures(src, "text", _ID_COL, _NUM_HASHES),
            _NUM_HASHES,
            _BANDS,
        ).persist()
        new_sigs = minhash_signatures(
            src, "text", _ID_COL, _VERIFY_HASHES, salt="v"
        ).withColumnRenamed("sig", "vsig").persist()
        new_bands.count()  # materialize: store join + store write both consume
        new_sigs.count()

        bands_dir = os.path.join(store_dir, _BANDS_SUB)
        sigs_dir = os.path.join(store_dir, _SIGS_SUB)
        # pre-bands/sigs layout (batch=* with a `sig` array column
        # directly under store_dir) must not be silently read as an
        # EMPTY store — that would drop the whole dedup history on
        # resume. Fail fast with a migration hint.
        legacy = (
            os.path.isdir(store_dir)
            and any(e.startswith("batch=") for e in os.listdir(store_dir))
        )
        if legacy:
            raise ValueError(
                f"near-dup store at {store_dir} uses the legacy single-"
                "table batch=* layout; the current store is split into "
                "bands/ + sigs/ subdirs. Re-derive it (re-run the stream "
                "from its source with a fresh store_dir) or move the old "
                "dirs aside explicitly — resuming against it as-is would "
                "silently lose all prior dedup history"
            )
        have_store = any(
            e.startswith("batch=")
            for e in (os.listdir(bands_dir) if os.path.isdir(bands_dir) else [])
        )
        if have_store:
            # drift guard: est_jaccard divides component agreement
            # by _VERIFY_HASHES, and zip_with null-pads length
            # mismatches into fake disagreements — a store written
            # with another K would silently deflate every
            # new-vs-stored estimate, so probe one stored row's
            # signature length and refuse.
            probe = (
                spark.read.parquet(os.path.join(sigs_dir, _STORE_GLOB))
                .select(F.size("vsig").alias("k"))
                .limit(1)
                .collect()
            )
            if probe and probe[0]["k"] != _VERIFY_HASHES:
                raise ValueError(
                    f"the store at {store_dir} holds {probe[0]['k']}-"
                    f"component verification signatures, not "
                    f"{_VERIFY_HASHES} — a different K silently deflates "
                    "est_jaccard for new-vs-stored pairs; rebuild the store"
                )
            # replay safety: a restarted batch must not see its own
            # previous (overwritten-in-flight) rows as "prior" docs
            corpus_bands = spark.read.parquet(
                os.path.join(bands_dir, _STORE_GLOB)
            ).unionByName(new_bands)
            corpus_sigs = spark.read.parquet(
                os.path.join(sigs_dir, _STORE_GLOB)
            ).unionByName(new_sigs)
        else:
            corpus_bands = new_bands
            corpus_sigs = new_sigs
        # a replayed epoch's docs exist in BOTH the store and `new`;
        # vsig is deterministic per id, so keep one row per doc or the
        # verification joins would fan out duplicate pairs
        vsigs = corpus_sigs.dropDuplicates(["id"]).select(
            "id", F.col("vsig").alias("sig")
        )

        # a boilerplate stream piles every page into one bucket per
        # band; without the cap each batch's join is quadratic in it
        keys = ["band", "bucket"]
        hot = _hot_keys(corpus_bands, keys, HOT_BUCKET_CAP, "make_near_dup_batch_fn")
        # normalize with least/greatest, NOT a.id < b.id: the new doc's
        # id can sort either side of a stored doc's, and the probe side
        # is always `new` — an order filter would silently drop pairs
        # where the newcomer has the larger id
        cands = (
            new_bands.join(hot, keys, "left_anti").alias("a")
            .join(corpus_bands.join(hot, keys, "left_anti").alias("b"), on=keys)
            .filter(F.col("a.id") != F.col("b.id"))
            .select(
                F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            )
            .distinct()
        )
        est = F.col("agree") / F.lit(_VERIFY_HASHES)
        pairs = (
            _agree(cands, vsigs, vsigs)
            .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= _THRESHOLD)
        )
        # batch=<epoch> targets make replays idempotent: a retried
        # epoch overwrites its own directories, never appends twice
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={epoch_id}")
        )
        new_bands.write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"batch={epoch_id}")
        )
        new_sigs.write.mode("overwrite").parquet(
            os.path.join(sigs_dir, f"batch={epoch_id}")
        )
        new_bands.unpersist()
        new_sigs.unpersist()
        src.unpersist()

    return process


def read_near_dup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All pairs emitted so far (union of the per-batch outputs)."""
    return spark.read.parquet(os.path.join(pairs_dir, _STORE_GLOB))


def compact_near_dup_store(spark: SparkSession, store_dir: str) -> dict:
    """Fold the per-epoch batch dirs of both store tables into one
    ``batch=compacted`` dir of 8 files each — the small-files lever after many
    micro-batches (same role as the crawl's seen-table compaction).

    Crash-safe ordering: the compacted data is fully written to a
    temp dir FIRST, renamed into a glob-visible ``batch=compacted``
    dir, and only then are the old batch dirs removed — a crash at
    any point leaves the store readable (worst case: duplicate rows
    across compacted + uncompacted dirs, which the batch function
    already tolerates — bands feed a ``distinct()`` candidate set and
    sigs are ``dropDuplicates(id)``). A replayed epoch re-creating
    its batch dir after compaction duplicates rows the same benign
    way. Returns {"bands_dirs": n, "sigs_dirs": n} folded."""
    import shutil

    stats = {}
    for sub, keys in ((_BANDS_SUB, ["id", "band"]), (_SIGS_SUB, ["id"])):
        d = os.path.join(store_dir, sub)
        dirs = [e for e in os.listdir(d)] if os.path.isdir(d) else []
        dirs = [e for e in dirs if e.startswith("batch=")]
        stats[f"{sub}_dirs"] = len(dirs)
        if len(dirs) <= 1:
            continue
        tmp = os.path.join(d, ".compact_tmp")
        final = os.path.join(d, "batch=compacted")
        holding = os.path.join(d, "batch=compacted_prev")
        # The read below includes any batch=compacted_prev crash
        # leftover (it matches the batch=* glob), so no pre-cleanup
        # may delete it — it can be the only glob-visible copy of
        # previously-compacted rows.
        (
            spark.read.parquet(os.path.join(d, _STORE_GLOB))
            .dropDuplicates(keys)
            .coalesce(8)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # glob-visible at EVERY instant: park the old compacted dir
        # under a batch=* holding name (never rmtree-before-rename —
        # a crash in that window would leave the only copy of prior
        # compactions in the hidden tmp dir, invisible to the batch=*
        # glob), swap tmp in, then delete the holdover and old epoch
        # dirs LAST. Duplicate rows across holding + final during the
        # window are benign (distinct/dropDuplicates downstream).
        # Crash-leftover states resolve here: final+holding both
        # present only after a crash post-swap, where final already
        # supersedes holding.
        if os.path.isdir(final):
            if os.path.isdir(holding):
                shutil.rmtree(holding)
            os.rename(final, holding)
        os.rename(tmp, final)
        if os.path.isdir(holding):
            shutil.rmtree(holding)
        for e in dirs:
            p = os.path.join(d, e)
            if e != "batch=compacted" and os.path.isdir(p):
                shutil.rmtree(p)
    return stats
