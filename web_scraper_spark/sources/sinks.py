"""Output sinks (SURVEY.md §2.1 S10/S11/S13, §2.8 F19).

The reference writes one file per document with filename derivation,
sanitization, and collision suffixing (contxt/outputs.py:71-146). At
engine scale the same semantics become: a deterministic output-key
column + window-based collision numbering + a partitioned write. The
actual byte-for-byte file materialization is provided for small/batch
exports via ``foreachPartition`` text writes.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from ..operators.relational import collision_numbering


def output_extension(fmt: Column) -> Column:
    """F19: format → file extension (contxt/cli.py:254-259;
    youtube raw → txt, contxt/formatters/youtube_formatter.py:375-380)."""
    return (
        F.when(fmt == "markdown", F.lit("md"))
        .when(fmt == "xml", F.lit("xml"))
        .when(fmt == "html", F.lit("html"))
        .when(fmt == "youtube_raw", F.lit("txt"))
        .otherwise(F.lit("md"))
    )


def derive_filenames(
    df: DataFrame,
    title_col: str | None = None,
    custom_name: str | None = None,
) -> DataFrame:
    """S11 filename derivation precedence (contxt/outputs.py:91-135):
    custom_name+domain > title > domain+path of ``url`` (empty→index),
    sanitized, the markdown extension ``.md`` appended, collisions
    numbered ``_1, _2, …`` by a window (the reference's
    filesystem-existence loop as a pure function)."""
    url = F.col("url")
    if custom_name is not None:
        base = F.concat(F.lit(custom_name + "_"), C.url_host(url))
    elif title_col is not None:
        base = F.when(
            F.col(title_col).isNotNull() & (F.col(title_col) != ""),
            C.sanitize_filename(F.col(title_col)),
        ).otherwise(C.filename_from_url(url))
    else:
        base = C.filename_from_url(url)
    keyed = df.withColumn("_fname_base", F.concat(base, F.lit(".md")))
    numbered = collision_numbering(keyed, "_fname_base", [url], out_col="_fname_tmp")
    # suffix goes before the extension: name_1.md, not name.md_1
    fixed = numbered.withColumn(
        "filename",
        F.when(
            F.col("_fname_tmp") == F.col("_fname_base"), F.col("_fname_base")
        ).otherwise(
            F.regexp_replace(
                F.col("_fname_tmp"), r"^(.*)\.([A-Za-z0-9]+)_([0-9]+)$", r"$1_$3.$2"
            )
        ),
    )
    return fixed.drop("_fname_base", "_fname_tmp")


def write_documents_as_files(df: DataFrame, out_dir: str) -> int:
    """S11 materialization: one UTF-8 file per row holding its ``doc``,
    named by the precomputed collision-free ``filename`` column. Executor-side
    ``foreachPartition`` — suitable for bounded exports (the
    reference's operating mode); at corpus scale prefer the parquet
    results tables."""
    os.makedirs(out_dir, exist_ok=True)
    rows = df.select("filename", "doc")

    def write_part(it):
        for row in it:
            path = os.path.join(out_dir, row[0])
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(row[1] or "")

    rows.foreachPartition(write_part)
    return len(os.listdir(out_dir))


# shard count of write_jsonl_shards and bucket count of write_bucketed
_JSONL_SHARDS = 64
_N_BUCKETS = 64


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Training-data export: sharded JSON-Lines, the interchange
    format LM data loaders consume. DETERMINISTIC layout: rows route
    to ``pmod(xxhash64(key), 64)`` shards and are sorted by the
    key within each shard, so two runs over the same data produce the
    same record→shard assignment and the same in-shard order —
    resumable downstream tokenization can trust shard identity.

    The shard id is materialized ON DISK as a hive-style
    ``_shard=N/`` directory (``partitionBy``), so the persisted shard
    identity IS the documented pmod value — a bare
    ``repartition(n, _shard)`` instead would re-hash the shard id
    into part-file indices, letting several pmod shards collide into
    one file while others come out empty. One exchange on the shard
    id; the JSON encode and gzip happen executor-side via Spark's
    native JSON writer (no Python)."""
    sharded = (
        df.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(_JSONL_SHARDS))
        )
        .repartition(_JSONL_SHARDS, F.col("_shard"))
        .sortWithinPartitions("_shard", key_col)
    )
    # After the repartition every row of a given _shard sits in ONE
    # task, sorted by (_shard, key); partitionBy then streams each
    # shard's rows into its own directory preserving that order →
    # exactly one sorted part file per non-empty _shard=N dir.
    writer = sharded.write.mode(mode).partitionBy("_shard")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-BUCKETED into 64 buckets (and sorted) by
    ``key`` — the co-located-join lever: two tables written here on the
    same key share the bucket count and join WITHOUT any Exchange (each
    task zips bucket i with bucket i), so a repeatedly-joined 100-TB
    fact table pays its shuffle once at write time instead of per
    query. Pair with :func:`bucketed_table` and see the plan test
    asserting the exchange-free join.

    Multi-column keys must list EVERY join key: Spark (with the
    default requireAllClusterKeysForCoPartition) will not co-partition
    a subset-key bucketed scan against a differently-keyed exchange —
    a (band, bucket) join over a bucket-only table reshuffles BOTH
    sides (plan-tested)."""
    keys = [key] if isinstance(key, str) else list(key)
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(_N_BUCKETS, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def bucketed_table(spark, table: str) -> DataFrame:
    """Read back a :func:`write_bucketed` table with its bucketing
    metadata intact (plain ``spark.read.parquet`` on the files would
    lose it and reintroduce the shuffle)."""
    return spark.table(table)


def console_sink(df: DataFrame) -> None:
    """S10: print the first 5 rows' ``doc``, each under a 'Content
    from {url}' header (contxt/outputs.py:40-50); debug-scale only."""
    for row in df.select("url", "doc").limit(5).collect():
        print(f"\nContent from {row[0]}:\n")
        print(row[1])


def image_map_join(images: DataFrame, image_map: DataFrame) -> DataFrame:
    """J1: remap image URLs to local paths where downloaded — the
    formatter's dict probe (contxt/formatters/markdown_formatter.py:76-81)
    as a broadcast hash join + coalesce fallback to the remote URL."""
    return images.join(
        F.broadcast(image_map.select(F.col("url"), F.col("path"))), "url", "left"
    ).withColumn("resolved", F.coalesce(F.col("path"), F.col("url")))


def image_filenames(images: DataFrame) -> DataFrame:
    """S13 naming: '{content_hash}{ext}' with the extension whitelist
    fallback to .jpg (contxt/scraper.py:476-485)."""
    return images.withColumn(
        "image_filename", F.concat(F.col("content_hash"), C.image_ext(F.col("url")))
    )
