"""WARC record source — Common-Crawl-style page ingestion.

The north star's input is "an Iceberg table of Common-Crawl-style web
pages"; the raw form of Common Crawl is WARC (ISO 28500): files of
concatenated records, each a ``WARC/1.0`` header block, a
``Content-Length``-bounded payload, and a two-CRLF terminator, usually
stored as per-record gzip members. This module turns a DataFrame of
WARC blobs (one BINARY column per file/segment — e.g. from
``spark.read.format("binaryFile")``) into a typed record table, and
adapts response records into the engine's pages schema
(url, warc_ts, html).

Parsing honors ``Content-Length`` byte offsets — the only correct
framing: payloads (HTML, nested HTTP, even other WARC text) may
contain ``WARC/1.0`` lines, so delimiter splitting is wrong; the
length-based cursor never looks inside a payload (pinned by test).
Gzip blobs (magic ``1f 8b``) decompress first — Python's zlib handles
the member-per-record concatenation Common Crawl uses in one call.

Scale shape: one ``mapInPandas`` pass — records stream out of each
blob with Arrow batching, nothing is collected, and blob rows are
independent so parallelism = input partitioning (one WARC segment per
row, ~1 GB at CC scale; set ``maxPartitionBytes``/repartition upstream
so a task holds one blob). The HTTP status/body split for
``msgtype=response`` payloads happens in the same pass (no second
Python crossing).

Reference analog: none (the reference fetches live pages one at a
time); this is the batch-ingest seam a 100-TB crawl archive needs.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("src_id", T.LongType(), False),
        T.StructField("rec_offset", T.LongType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_body", T.BinaryType(), True),
    ]
)


def _iter_warc_records(blob: bytes):
    """Yield (offset, headers_dict, payload) honoring Content-Length.

    ``offset`` is the record's byte offset in the (decompressed) blob.
    Malformed tails (no terminating header block, bad length) stop
    iteration rather than raising — a truncated segment yields its
    complete records, the archive-scan contract.
    """
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)  # concatenated members: one call
    i = 0
    n_blob = len(blob)
    while i < n_blob:
        # tolerate extra CRLFs between records (the spec's two plus
        # any padding)
        while blob[i : i + 2] == b"\r\n":
            i += 2
        if i >= n_blob:
            break
        end = blob.find(b"\r\n\r\n", i)
        if end < 0:
            break
        header_block = blob[i:end]
        if not header_block.startswith(b"WARC/"):
            break
        headers = {}
        for line in header_block.split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        payload = blob[end + 4 : end + 4 + length]
        if len(payload) < length:
            break
        yield i, headers, payload
        i = end + 4 + length


def _http_split(payload: bytes):
    """(status, body) for an HTTP-response payload, (None, None) when
    the payload isn't one. Body is everything after the first blank
    line — bytes, undecoded (charset is the extractor's problem)."""
    if not payload.startswith(b"HTTP/"):
        return None, None
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None
    status_line = payload[:head_end].split(b"\r\n", 1)[0]
    parts = status_line.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None
    return status, payload[head_end + 4 :]


def parse_warc_records(
    df: DataFrame,
    content_col: str = "content",
    id_col: str | None = None,
) -> DataFrame:
    """WARC blobs → one row per record (WARC_RECORDS_SCHEMA).

    ``id_col`` (LONG) propagates the caller's blob identity into
    ``src_id`` for lineage; default is a per-partition-independent
    xxhash of nothing — pass one (file path hash, row id). ``(src_id,
    rec_offset)`` is the stable per-record key.
    """
    sid = (
        F.col(id_col).cast("long")
        if id_col is not None
        else F.xxhash64(F.col(content_col))
    )
    src = df.select(sid.alias("_sid"), F.col(content_col).alias("_blob"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in WARC_RECORDS_SCHEMA.fields}
            for sid_v, blob in zip(pdf["_sid"], pdf["_blob"]):
                if blob is None:
                    continue
                for off, h, payload in _iter_warc_records(bytes(blob)):
                    status, body = _http_split(payload)
                    out["src_id"].append(sid_v)
                    out["rec_offset"].append(off)
                    out["warc_type"].append(
                        h.get(b"warc-type", b"").decode("utf-8", "replace") or None
                    )
                    out["target_uri"].append(
                        h.get(b"warc-target-uri", b"").decode("utf-8", "replace")
                        or None
                    )
                    out["warc_date"].append(
                        h.get(b"warc-date", b"").decode("utf-8", "replace") or None
                    )
                    out["content_length"].append(len(payload))
                    out["payload"].append(bytes(payload))
                    out["http_status"].append(status)
                    out["http_body"].append(body)
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema=WARC_RECORDS_SCHEMA)


def pages_from_warc(records: DataFrame) -> DataFrame:
    """Response records → the engine's pages shape
    (url, warc_ts, html): the adapter from a parsed WARC archive to
    everything downstream (extraction, crawl fetch join, curation).
    Pure Column work — the Python pass already split the HTTP body.
    Rows without a parseable status or body drop (non-HTTP response
    records carry no page)."""
    return (
        records.filter(
            (F.col("warc_type") == "response") & F.col("http_body").isNotNull()
        )
        .select(
            F.col("target_uri").alias("url"),
            F.to_timestamp(F.col("warc_date")).alias("warc_ts"),
            F.col("http_body").alias("html"),
        )
    )


def cdx_from_records(records: DataFrame) -> DataFrame:
    """CDX-style capture index over parsed response records — the
    random-access key a web archive needs (pywb/OpenWayback CDXJ
    convention): one row per capture with the SURT sort key, 14-digit
    timestamp, payload digest, and the (src_id, rec_offset, rec_len)
    triple that seeks straight to the record inside its segment
    without rescanning. Sorting/bucketing by ``surt`` gives the
    prefix-scan layout archive lookups want at 100 TB. Pure Column
    work over the already-parsed table; digest is md5 hex of the
    HTTP payload (repo hash idiom)."""
    from ..functions.columns import surt_url

    return records.filter(
        (F.col("warc_type") == "response") & F.col("http_body").isNotNull()
    ).select(
        surt_url(F.col("target_uri")).alias("surt"),
        F.date_format(F.to_timestamp("warc_date"), "yyyyMMddHHmmss").alias("ts14"),
        F.col("target_uri").alias("url"),
        F.col("http_status").alias("http_status"),
        F.md5("http_body").alias("digest_md5"),
        F.col("content_length").alias("rec_len"),
        F.col("rec_offset"),
        F.col("src_id"),
    )


def read_warc_dir(
    spark, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """Directory of WARC segment files → parsed record table, via
    Spark's binaryFile source (one row per file, ``content`` binary).
    Parallelism = one task per segment file, the natural CC layout
    (~1 GB gzip segments); ``src_id`` is the path hash so the CDX
    seek triple stays joinable back to a file listing. At 100 TB this
    is the scan whose partition count IS the file count — no shuffle
    anywhere before the consumer."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(F.xxhash64("path").alias("_sid"), "content")
    )
    return parse_warc_records(files, content_col="content", id_col="_sid")


def merge_cdx_snapshots(cdx: DataFrame) -> DataFrame:
    """Collapse revisit captures across crawl snapshots: unioned CDX
    rows that share (surt, digest_md5) are the same content seen
    again — keep the EARLIEST capture (min ts14, seek-triple
    tie-broken for determinism) and count the revisits, the
    Common-Crawl cross-snapshot dedup rule. One exchange on
    (surt, digest) — the collapsed key — never on payloads; at
    10^12-capture scale this is the index-maintenance job that runs
    per snapshot, so it must (and does) shuffle only key+triple
    columns."""
    keep = F.min(
        F.struct("ts14", "src_id", "rec_offset", "url", "http_status", "rec_len")
    ).alias("k")
    return (
        cdx.groupBy("surt", "digest_md5")
        .agg(keep, F.count("*").alias("n_captures"))
        .select(
            "surt",
            F.col("k.ts14").alias("ts14"),
            F.col("k.url").alias("url"),
            F.col("k.http_status").alias("http_status"),
            "digest_md5",
            F.col("k.rec_len").alias("rec_len"),
            F.col("k.rec_offset").alias("rec_offset"),
            F.col("k.src_id").alias("src_id"),
            "n_captures",
        )
    )


def wet_from_pages(pages: DataFrame) -> DataFrame:
    """Pages → WET-style conversion rows, Common Crawl's derived
    text format (one ``WARC-Type: conversion`` record per page whose
    payload is the extracted plain text). The extraction engine runs
    once (text product only — the pruned Arrow path, nothing
    page-sized crosses back), then pure Column work derives the
    record fields: ``(url, warc_ts, text, text_chars, digest_md5)``.
    ``digest_md5`` is the repo hash idiom standing in for WET's
    block digest. Serialize with :func:`write_wet_dir`; scale shape
    is the extraction scan itself — no shuffle."""
    from ..functions.udfs import extract_pages

    ex = extract_pages(pages, products=("text",))
    return ex.select(
        "url",
        *(["warc_ts"] if "warc_ts" in pages.columns else []),
        "text",
        F.length("text").alias("text_chars"),
        F.md5("text").alias("digest_md5"),
    )


def wat_from_pages(pages: DataFrame) -> DataFrame:
    """Pages → WAT-style metadata rows — Common Crawl's envelope
    format (per-page metadata: title, outlinks, sizes) as a TYPED
    table rather than nested JSON: the Spark-native form downstream
    joins/aggregations actually want (the JSON envelope is a
    serialization detail, not a data model). One pruned extraction
    pass ships title + resolved links + image count; link targets are
    absolutized against the page url by the engine's urljoin (the
    same resolution the crawl's discovery path uses)."""
    from ..functions.udfs import extract_pages

    ex = extract_pages(pages, products=("title", "links", "n_images"))
    return ex.select(
        "url",
        *(["warc_ts"] if "warc_ts" in pages.columns else []),
        "title",
        F.col("links").alias("links"),
        F.size("links").alias("n_links"),
        "n_images",
    )


def anchor_edges_from_pages(pages: DataFrame) -> DataFrame:
    """Pages → (src_url, src_host, target, anchor) link edges with
    anchor text — the WAT-outlink edge list
    :func:`~web_scraper_spark.operators.graph.anchor_text_table`
    aggregates. One pruned extraction pass ships ONLY the anchors
    struct array across Arrow (no markdown/clean_html carrier
    columns); the explode is ``posexplode_outer`` for the same
    InferFiltersFromGenerate reason as :func:`wat_from_pages`'s q100
    note — an inner generate would infer ``size(anchors)>0`` and run
    the whole extraction twice. Null edges from pages with no links
    are filtered AFTER the generate (that predicate references the
    generated column, so it cannot be pushed back through)."""
    from pyspark.sql import functions as F

    from ..functions.udfs import extract_pages

    ex = extract_pages(pages, products=("anchors",))
    return (
        ex.select(
            F.col("url").alias("src_url"),
            F.parse_url("url", F.lit("HOST")).alias("src_host"),
            F.posexplode_outer("anchors").alias("pos", "a"),
        )
        .filter(F.col("a").isNotNull())
        .select(
            "src_url",
            "src_host",
            F.col("a.url").alias("target"),
            F.col("a.text").alias("anchor"),
        )
    )


def _warc_record(
    warc_type: bytes, url, ts, body: bytes, content_type: bytes = b""
) -> bytes:
    """One uncompressed WARC/1.0 record; a missing capture time (None
    or NaT) is written as the epoch."""
    date = "1970-01-01T00:00:00Z" if pd.isna(ts) else ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + warc_type + b"\r\n"
        b"WARC-Target-URI: " + str(url).encode("utf-8") + b"\r\n"
        b"WARC-Date: " + date.encode() + b"\r\n"
        + content_type
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )


def _write_segments(rows: DataFrame, out_dir: str, ext: str, record) -> DataFrame:
    """Stream each partition of ``rows`` into one segment file
    ``seg-{partition:05d}{ext}`` under ``out_dir``: ``record`` maps a
    row's column values to its uncompressed WARC record bytes, or None
    to skip the row; each record is written as its own gzip member. Empty partitions write no file. Returns the manifest
    DataFrame (path, n_records, n_bytes); an action runs the export."""
    import os

    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    cols = rows.columns

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # write to an ATTEMPT-unique temp name and rename on success:
        # under speculative execution or a retry racing a zombie
        # attempt, two attempts would otherwise interleave writes into
        # the same seg path (r6 ADVICE); os.replace is atomic on a
        # POSIX filesystem, so the committed segment is always one
        # attempt's complete output. Re-evaluating the returned
        # manifest still rewrites segments — collect/checkpoint it
        # once (docstring contract).
        ctx = TaskContext.get()
        path = os.path.join(out_dir, f"seg-{ctx.partitionId():05d}{ext}")
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}.tmp"
        n_rec = n_bytes = 0
        fh = None
        for pdf in batches:
            for values in zip(*(pdf[c] for c in cols)):
                rec = record(*values)
                if rec is None:
                    continue
                if fh is None:
                    fh = open(tmp, "wb")
                out = gzip.compress(rec)
                fh.write(out)
                n_rec += 1
                n_bytes += len(out)
        if fh is not None:
            fh.close()
            os.replace(tmp, path)
            yield pd.DataFrame(
                {"path": [path], "n_records": [n_rec], "n_bytes": [n_bytes]}
            )

    return rows.mapInPandas(dump, schema="path string, n_records long, n_bytes long")


def write_wet_dir(wet: DataFrame, out_dir: str) -> DataFrame:
    """Serialize :func:`wet_from_pages` rows as WET segment files —
    ``WARC-Type: conversion`` records, one gzip member per record,
    mirroring :func:`write_warc_dir`'s layout so the same
    :func:`read_warc_dir` → filter(warc_type='conversion') path reads
    them back (round-trip pinned by test). Rows with null text write
    no record; without a ``warc_ts`` column every record carries the
    epoch date. Returns the manifest DataFrame (path, n_records,
    n_bytes); an action runs the export."""

    def record(url, text, ts=None):
        if text is None:
            return None
        return _warc_record(
            b"conversion", url, ts, str(text).encode("utf-8"),
            b"Content-Type: text/plain\r\n",
        )

    return _write_segments(
        wet.select("url", "text", *(["warc_ts"] if "warc_ts" in wet.columns else [])),
        out_dir,
        ".warc.wet.gz",
        record,
    )


def write_warc_dir(pages: DataFrame, out_dir: str) -> DataFrame:
    """The write side of the archive seam: a pages table (url,
    warc_ts, html) exports as WARC segment files — one segment per
    partition, one gzip member per record (the Common-Crawl layout
    read_warc_dir and every CC consumer expect). This is how a
    curated subset ships: filter/dedup/cap with the engine's
    operators, then re-shard to archive files.

    Each executor task streams its partition into
    ``seg-{partition:05d}.warc.gz`` under ``out_dir`` (at cluster
    scale ``out_dir`` is a mounted object store — the task-local write
    is the standard pattern) and emits one manifest row (path,
    n_records, n_bytes). Repartition deterministically upstream (e.g.
    by url hash) if segment contents must be reproducible. A minimal
    ``HTTP/1.1 200 OK`` head is synthesized around the stored body —
    the engine's pages shape keeps payload bytes, not response heads
    (documented lossy half of the round trip; bodies round-trip
    byte-exactly, pinned by test). Returns the manifest DataFrame —
    an ACTION is still needed to run the export."""

    def record(url, ts, html):
        if html is None:
            return None
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + bytes(html)
        return _warc_record(b"response", url, ts, http)

    return _write_segments(
        pages.select("url", "warc_ts", "html"),
        out_dir,
        ".warc.gz",
        record,
    )
