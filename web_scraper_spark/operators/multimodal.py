"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery (schemas, partition-aware batch iteration,
Arrow-batched UDF signatures, metadata propagation) is real and
tested; the codec step is a deterministic fake decode
(:func:`_fake_decode`) because no image/audio libraries are a
dependency. Swapping in a real decoder is a one-function change.

This generalizes the reference's image handling (download → MD5 →
dedup → extension-normalized sink, contxt/scraper.py:428-502) to a
columnar representation.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: derives (width, height, n_frames)
    from the content hash — stable across partitionings and engines.
    This is the per-row reference twin of the columnar pass inside
    :func:`extract_media_features` (which reuses one md5 per payload
    rather than calling this per row); keep the two in sync."""
    h = hashlib.md5(payload or b"").digest()
    return 16 + h[0] % 64, 16 + h[1] % 64, 1 + h[2] % 8


def extract_media_features(df: DataFrame) -> DataFrame:
    """media table → per-item features via ``mapInPandas``.

    Batch shape: one Arrow batch in, one out; payload bytes never land
    in JVM rows after this projection (column pruned upstream). The
    decode seam calls the deterministic fake; a real pipeline swaps
    ``_fake_decode`` for a codec call with identical signature.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar pass over plain lists (NOT iterrows — ~50×
            # per-row overhead); the md5 is computed once per payload
            # and reused for hash, fake-decode, and feature bytes.
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf["payload"].tolist()
            ]
            kinds = pdf["kind"].tolist()
            digs = [hashlib.md5(p).digest() for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].tolist(),
                    "kind": kinds,
                    "content_hash": [d.hex() for d in digs],
                    "n_bytes": [len(p) for p in payloads],
                    "width": [
                        16 + d[0] % 64 if k == "image" else None
                        for d, k in zip(digs, kinds)
                    ],
                    "height": [
                        16 + d[1] % 64 if k == "image" else None
                        for d, k in zip(digs, kinds)
                    ],
                    "n_frames": [
                        1 + d[2] % 8 if k == "video" else None
                        for d, k in zip(digs, kinds)
                    ],
                    "feature": [
                        [float(b % 17) / 16.0 for b in d[:8]] for d in digs
                    ],
                },
                columns=[f.name for f in FEATURE_SCHEMA.fields],
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, FEATURE_SCHEMA)


def media_dedup(features: DataFrame) -> DataFrame:
    """Content-hash dedup of media items (J3 semantics at media scale):
    keep lowest media_id per digest, count duplicates.

    Single pass: ``min(struct(media_id, …))`` picks the winner row and
    ``count(*)`` the copies in ONE aggregate — one shuffle on the
    digest, map-side partial agg, and (critically) a single scan of
    the upstream Python feature stage. The window+join form scanned
    it twice."""
    rest = [c for c in features.columns if c not in ("content_hash", "media_id")]
    agg = features.groupBy("content_hash").agg(
        F.min(F.struct("media_id", *rest)).alias("_w"),
        F.count("*").alias("copies"),
    )
    return agg.select(
        "content_hash",
        F.col("_w.media_id").alias("media_id"),
        *[F.col(f"_w.{c}").alias(c) for c in rest],
        "copies",
    )


def synth_media(spark, n: int) -> DataFrame:
    """Deterministic fake media table (binary payloads from md5 chains
    seeded with 42), generated executor-side."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ("image", "audio", "video")
        for pdf in batches:
            rows = []
            for rid in pdf["id"].tolist():
                rid = int(rid)
                # payload depends only on rid//3 → every consecutive
                # triple shares identical bytes (deliberate duplicates).
                # ASCII-hex chain (not raw digest bytes) so a SQL
                # oracle can recompute md5(payload) — DuckDB 1.0's md5
                # is VARCHAR-only (see q54's oracle).
                payload = (
                    hashlib.md5(f"42:{rid // 3}".encode()).hexdigest()
                    * (1 + (rid // 3) % 5)
                ).encode("ascii")
                kind = kinds[rid % 3]
                rows.append(
                    {
                        "media_id": rid,
                        "kind": kind,
                        "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                        "payload": payload,
                        "meta": {"seed": "42"},
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return spark.range(0, n, numPartitions=max(1, n // 512 or 1)).mapInPandas(gen, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing (the UDTF shape: one video row →
    several frame rows) over ``mapInPandas``. Frame count comes from
    the deterministic fake decode (md5 byte 2 → 1..8 frames); every
    ``every_n``-th frame is emitted with a content-derived frame hash
    (md5 of ``payload:frame:i``) — all md5 arithmetic, so the q68
    oracle reproduces the fan-out AND the hashes bit-for-bit."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, p in zip(pdf["media_id"].tolist(), pdf["payload"].tolist()):
                payload = bytes(p) if p is not None else b""
                n_frames = 1 + hashlib.md5(payload).digest()[2] % 8
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(hashlib.md5(payload + f":frame:{i}".encode()).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_hash": hashes},
                columns=[f.name for f in FRAME_SCHEMA.fields],
            )

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, FRAME_SCHEMA)
    )
