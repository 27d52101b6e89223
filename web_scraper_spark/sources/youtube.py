"""Deterministic synthetic video star schema (FIXTURES.md §7).

Tables: videos, transcripts, chapters, comments, containers — the
relational re-expression of the reference's YouTube pipeline inputs
(contxt/youtube_handler.py). Seeded, generated executor-side.

Fixture coverage: videos with zero chapters, transcript lines before
the first chapter start (quirk Q12), non-timestamped lines, >30
comments per video with null like_counts and reply comments,
containers exceeding the max_videos cap.

All randomness is md5 arithmetic (no Mersenne Twister): every field
is a pure function of (seed, video index, tag) that ANSI SQL can
recompute, so the q55/q56 oracles reproduce the entire star schema —
and therefore the full rendered documents — inside DuckDB.
Timestamps are exact decimals built from integer arithmetic
(``(42*p + 10*k) / 10``) so float formatting is bit-identical across
engines.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_WORDS = (
    "so today we look at spark crawl frontier fetch queue shard bloom "
    "politeness robots schedule host delay budget round checkpoint "
    "lineage metric partition shuffle broadcast join window fold"
).split()

VIDEOS_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("channel", T.StringType(), False),
    T.StructField("description", T.StringType(), True),
    T.StructField("url", T.StringType(), False),
])

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("start", T.DoubleType(), True),   # null = no timestamp
    T.StructField("text", T.StringType(), False),
])

CHAPTERS_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("k", T.IntegerType(), False),
    T.StructField("start_time", T.DoubleType(), False),
    T.StructField("title", T.StringType(), False),
])

COMMENTS_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("comment_id", T.LongType(), False),
    T.StructField("author", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("like_count", T.LongType(), True),
    T.StructField("parent", T.StringType(), False),
])

CONTAINERS_SCHEMA = T.StructType([
    T.StructField("container_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),  # playlist|channel
    T.StructField("position", T.IntegerType(), False),
    T.StructField("video_id", T.StringType(), False),
])


def video_id_of(i: int) -> str:
    return f"vid{i:08d}xyz"[:11]


def word_at(seed: int, i: int, tag: str, j: int) -> str:
    """SQL-reproducible word pick: index = first 8 md5 hex chars of
    ``'{seed}:{i}:{tag}:{j}'`` mod len(_WORDS) (the q55/q56 oracles
    recompute the identical index with DuckDB's md5)."""
    h = hashlib.md5(f"{seed}:{i}:{tag}:{j}".encode()).hexdigest()
    return _WORDS[int(h[:8], 16) % len(_WORDS)]


def _words(seed: int, i: int, tag: str, n: int) -> str:
    return " ".join(word_at(seed, i, tag, j) for j in range(n))


def gen_video_rows(i: int) -> dict:
    seed = 42  # the q55/q56 oracles recompute every field from it
    vid = video_id_of(i)
    title = _words(seed, i, "t", 4).title()
    return {
        "video": {
            "video_id": vid,
            "title": title,
            "channel": f"channel-{i % 5}",
            "description": _words(seed, i, "d", 12) if i % 7 else "",
            "url": f"https://www.youtube.com/watch?v={vid}",
        },
        "transcript": [
            {
                "video_id": vid,
                "pos": p,
                # ~1 in 8 lines carries no timestamp (Q12 non-advance
                # path); exact-decimal seconds via integer arithmetic
                "start": None if (p % 8 == 5) else (42 * p + 10 * (i % 3)) / 10.0,
                "text": _words(seed, i, f"tr{p}", 6),
            }
            for p in range(6 + i % 10)
        ],
        "chapters": (
            []  # every 4th video has no chapters
            if i % 4 == 0
            else [
                {
                    "video_id": vid,
                    "k": k,
                    # first chapter starts at 5.0 — transcript lines at
                    # t<5 exercise quirk Q12 (header emitted anyway)
                    "start_time": 5.0 + 12.0 * k,
                    "title": f"Chapter {k} " + word_at(seed, i, f"ch{k}", 0),
                }
                for k in range(1 + i % 4)
            ]
        ),
        "comments": [
            {
                "video_id": vid,
                "comment_id": i * 1000 + c,
                "author": f"user{c % 17}",
                "text": _words(seed, i, f"c{c}", 5),
                "like_count": None if c % 9 == 4 else (c * 13) % 101,
                "parent": "root" if c % 3 else f"c{c - 1}",
            }
            for c in range(40)  # >30 to exercise the top-30 cap
        ],
    }


def _table_df(spark: SparkSession, n_videos: int, part: str, schema) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                data = gen_video_rows(int(i))[part]
                if isinstance(data, dict):
                    rows.append(data)
                else:
                    rows.extend(data)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    parts = max(1, min(16, n_videos // 8 or 1))
    return spark.range(0, n_videos, numPartitions=parts).mapInPandas(gen, schema)


def videos_df(spark, n_videos: int) -> DataFrame:
    return _table_df(spark, n_videos, "video", VIDEOS_SCHEMA)


def transcripts_df(spark, n_videos: int) -> DataFrame:
    return _table_df(spark, n_videos, "transcript", TRANSCRIPTS_SCHEMA)


def chapters_df(spark, n_videos: int) -> DataFrame:
    return _table_df(spark, n_videos, "chapters", CHAPTERS_SCHEMA)


def comments_df(spark, n_videos: int) -> DataFrame:
    return _table_df(spark, n_videos, "comments", COMMENTS_SCHEMA)


def containers_df(spark, n_videos: int) -> DataFrame:
    """Every video belongs to playlist p{i%3} at position i//3 and to
    channel ch{i%5}; containers exceed typical max_videos caps."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                i = int(i)
                vid = video_id_of(i)
                rows.append({"container_id": f"p{i % 3}", "kind": "playlist",
                             "position": i // 3, "video_id": vid})
                rows.append({"container_id": f"ch{i % 5}", "kind": "channel",
                             "position": i // 5, "video_id": vid})
            yield pd.DataFrame(rows, columns=[f.name for f in CONTAINERS_SCHEMA.fields])

    parts = max(1, min(16, n_videos // 8 or 1))
    return spark.range(0, n_videos, numPartitions=parts).mapInPandas(gen, CONTAINERS_SCHEMA)
