"""Structured Streaming: windowed metrics with watermark, and
foreachBatch extraction with exactly-once file processing."""

import os

from pyspark.sql import functions as F

from web_scraper_spark.sources.pages import pages_df
from web_scraper_spark.streaming.stream import (
    pages_stream,
    run_foreachbatch_extraction,
    windowed_fetch_metrics,
)


def _write_pages(spark, path, n, offset=0):
    pages_df(spark, n).write.mode("append").parquet(path)


def test_foreachbatch_extraction_and_catchup(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, 40).write.mode("append").parquet(pages_dir)

    run_foreachbatch_extraction(spark, pages_dir, out_dir, ckpt)
    res1 = spark.read.parquet(os.path.join(out_dir, "results"))
    assert res1.count() == 40
    assert res1.filter(F.col("token_count") > 0).count() == 40

    # restart with the same checkpoint: already-seen files are NOT
    # reprocessed (exactly-once), only newly arrived data is
    pages_df(spark, 60).write.mode("overwrite").parquet(str(tmp_path / "tmp2"))
    # append a new distinct file by copying new rows in
    spark.read.parquet(str(tmp_path / "tmp2")).filter("url like '%page-5%'").write.mode(
        "append"
    ).parquet(pages_dir)
    run_foreachbatch_extraction(spark, pages_dir, out_dir, ckpt)
    res2 = spark.read.parquet(os.path.join(out_dir, "results"))
    n2 = res2.count()
    assert n2 > 40  # new rows processed
    assert n2 < 80  # old files not reprocessed

    m = spark.read.parquet(os.path.join(out_dir, "metrics"))
    assert m.agg(F.sum("n_rows")).collect()[0][0] == n2


def test_windowed_metrics_with_watermark(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    pages_df(spark, 128).write.mode("append").parquet(pages_dir)
    stream = pages_stream(spark, pages_dir)
    agg = windowed_fetch_metrics(stream, window="30 seconds", watermark="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("winmetrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode only emits windows closed by the watermark; with
    # availableNow over a finite file set the final windows stay open,
    # so assert on the streaming plan having run + state semantics via
    # complete mode instead:
    q2 = (
        windowed_fetch_metrics(pages_stream(spark, pages_dir), "30 seconds", "1 minute")
        .writeStream.format("memory")
        .queryName("winmetrics_c")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = spark.sql("select * from winmetrics_c").collect()
    assert rows
    total = sum(r["n_pages"] for r in rows)
    assert total == 128
    hosts = {r["host"] for r in rows}
    assert "site0.example.com" in hosts


def test_stateful_first_seen_dedup_across_batches_and_restarts(spark, tmp_path):
    """Streaming first-seen dedup (§2.10): duplicates are dropped
    within a micro-batch, across micro-batches within a run AND across
    query restarts — the seen set lives in engine state inside the
    streaming checkpoint."""
    import pandas as pd

    from web_scraper_spark.sources.pages import PAGES_SCHEMA
    from web_scraper_spark.streaming.stateful import stream_first_seen
    from web_scraper_spark.streaming.stream import pages_stream

    pdir = tmp_path / "pages"
    pdir.mkdir()
    ck = str(tmp_path / "ck")

    def write_batch(name, lo, hi, repeat=()):
        import datetime
        ids = list(range(lo, hi)) + list(repeat)
        pdf = pd.DataFrame({
            "url": [f"https://h{i % 3}.x/p{i}" for i in ids],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * len(ids),
            "html": [b"<p>x</p>"] * len(ids),
            "text": ["x"] * (hi - lo) + ["y"] * len(repeat),
            "lang": ["en"] * len(ids),
        })
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(pdir / name))

    out_dir = str(tmp_path / "out")

    def run():
        stream = pages_stream(spark, str(pdir) + "/*", max_files_per_trigger=1)
        q = (
            stream_first_seen(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [r["url"] for r in spark.read.parquet(out_dir).select("url").collect()]
        return rows

    write_batch("b1", 0, 10)
    # 5..9 are duplicates of b1; p12 arrives twice inside b2 itself
    write_batch("b2", 5, 15, repeat=[12])
    rows = run()
    assert sorted(rows) == sorted(f"https://h{i % 3}.x/p{i}" for i in range(15))
    # exactly one row for the within-batch duplicate; which copy (text
    # "x" or "y") is not asserted — rows inside one micro-batch have no
    # defined order, so neither copy is "first"
    assert rows.count("https://h0.x/p12") == 1

    # restart with a new file: only genuinely-new URLs are appended —
    # state for u0..u14 was recovered from the checkpoint (a stateless
    # restart would re-emit 10..14 and the count would be 25)
    write_batch("b3", 10, 20)  # 10..14 are duplicates of run 1
    rows2 = run()
    assert sorted(rows2) == sorted(f"https://h{i % 3}.x/p{i}" for i in range(20))


def test_stream_content_dedup_across_batches_and_restarts(spark, tmp_path):
    """Streaming CONTENT dedup (q15's md5 fingerprint as streaming
    state): re-crawls of the same text under different URLs are
    dropped across micro-batches and across restarts; whitespace/case
    variants normalize to the same fingerprint."""
    import datetime

    import pandas as pd

    from web_scraper_spark.sources.pages import PAGES_SCHEMA
    from web_scraper_spark.streaming.stateful import stream_content_dedup
    from web_scraper_spark.streaming.stream import pages_stream

    pdir = tmp_path / "pages"
    pdir.mkdir()
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")

    def write_batch(name, rows):
        pdf = pd.DataFrame({
            "url": [u for u, _ in rows],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * len(rows),
            "html": [b"<p>x</p>"] * len(rows),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
        })
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(pdir / name))

    def run():
        stream = pages_stream(spark, str(pdir) + "/*", max_files_per_trigger=1)
        q = (
            stream_content_dedup(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r["url"] for r in spark.read.parquet(out_dir).select("url").collect()
        )

    write_batch("b1", [("https://a.x/1", "alpha beta"), ("https://a.x/2", "gamma")])
    # mirror of doc 1 (different URL, WS/case variant) + one new doc
    write_batch("b2", [("https://b.x/1", "  Alpha   BETA "), ("https://b.x/2", "delta")])
    rows = run()
    assert rows == ["https://a.x/1", "https://a.x/2", "https://b.x/2"]
    # restart: the fingerprint state survives the checkpoint — another
    # mirror is still dropped, a new doc still passes
    write_batch("b3", [("https://c.x/1", "GAMMA"), ("https://c.x/2", "epsilon")])
    rows2 = run()
    assert rows2 == [
        "https://a.x/1", "https://a.x/2", "https://b.x/2", "https://c.x/2",
    ]
    # the schema is unchanged (no _fp leakage)
    assert spark.read.parquet(out_dir).columns == [f.name for f in PAGES_SCHEMA.fields]


def test_stream_near_dup_pairs_across_batches(spark, tmp_path):
    """foreachBatch incremental MinHash-LSH: a doc arriving in batch 2
    that near-duplicates a batch-1 doc is caught via the signature
    store; unrelated docs are not; a restart with a new batch finds
    only the new cross-batch pairs (idempotent batch= dirs)."""
    import datetime

    import pandas as pd

    from web_scraper_spark.sources.pages import PAGES_SCHEMA
    from web_scraper_spark.streaming.neardup import (
        make_near_dup_batch_fn,
        read_near_dup_pairs,
    )
    from web_scraper_spark.streaming.stream import pages_stream

    pdir = tmp_path / "pages"
    pdir.mkdir()
    ck = str(tmp_path / "ck")
    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"                     # high overlap with base
    other = "completely different content about turnips and baritones"

    def write_batch(name, rows):
        pdf = pd.DataFrame({
            "url": [u for u, _ in rows],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * len(rows),
            "html": [b"<p>x</p>"] * len(rows),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
        })
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(pdir / name))

    fn = make_near_dup_batch_fn(store, pairs_dir, threshold=0.5)

    def run():
        stream = pages_stream(spark, str(pdir) + "/*", max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["id_a"], r["id_b"])
            for r in read_near_dup_pairs(spark, pairs_dir).collect()
        }

    write_batch("b1", [("https://a.x/base", base), ("https://a.x/other", other)])
    write_batch("b2", [("https://b.x/near", near)])
    got = run()
    assert ("https://a.x/base", "https://b.x/near") in got
    assert all("other" not in a and "other" not in b for a, b in got), got

    # precision of the verification estimator vs EXACT Jaccard: the
    # 64-component independent-family estimator has std ≤ 0.0625, and
    # the fixture digests are fixed — the estimate must sit within
    # 3 std + quantization of the true value
    def exact_j(x, y):
        a, b = set(x.lower().split()), set(y.lower().split())
        return len(a & b) / len(a | b)

    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in read_near_dup_pairs(spark, pairs_dir).collect()
    }
    true_j = exact_j(base, near)
    got_est = est[("https://a.x/base", "https://b.x/near")]
    assert abs(got_est - true_j) <= 3 * 0.0625 + 1 / 64, (got_est, true_j)

    # compact the two-table store (bands + sigs fold to one batch dir
    # each), then restart: a near-dup of the batch-2 doc arrives — it
    # must be caught against the COMPACTED store without reprocessing
    # old batches
    import glob as _glob

    from web_scraper_spark.streaming.neardup import compact_near_dup_store

    st = compact_near_dup_store(spark, store)
    assert st["bands_dirs"] >= 2 and st["sigs_dirs"] >= 2
    assert len(_glob.glob(store + "/bands/batch=*")) == 1
    assert len(_glob.glob(store + "/sigs/batch=*")) == 1

    write_batch("b3", [("https://c.x/near2", near + " encore")])
    got2 = run()
    assert ("https://b.x/near", "https://c.x/near2") in got2
    assert got <= got2


def test_near_dup_store_guards_and_crash_safe_compaction(spark, tmp_path):
    """Three resilience guards on the incremental near-dup store:
    (1) a legacy single-table batch=* layout under store_dir raises
    with a migration hint instead of being read as an empty store;
    (2) changing verify_hashes against an existing store raises
    instead of silently deflating est_jaccard via zip_with null-pads;
    (3) a compaction crash leftover (batch=compacted_prev holding dir)
    stays glob-visible — prior pairs are still caught — and the next
    compaction heals it."""
    import datetime
    import os
    import shutil

    import pandas as pd
    import pytest

    from web_scraper_spark.sources.pages import PAGES_SCHEMA
    from web_scraper_spark.streaming.neardup import (
        compact_near_dup_store,
        make_near_dup_batch_fn,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"

    def batch_df(rows):
        pdf = pd.DataFrame({
            "url": [u for u, _ in rows],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * len(rows),
            "html": [b"<p>x</p>"] * len(rows),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
        })
        return spark.createDataFrame(pdf, PAGES_SCHEMA)

    # (1) legacy layout fails fast
    legacy_store = tmp_path / "legacy_store"
    (legacy_store / "batch=0").mkdir(parents=True)
    fn = make_near_dup_batch_fn(str(legacy_store), str(tmp_path / "p0"))
    with pytest.raises(ValueError, match="legacy single-table"):
        fn(batch_df([("https://a.x/base", base)]), 0)

    # build a real store with one batch
    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    fn = make_near_dup_batch_fn(store, pairs, threshold=0.5)
    fn(batch_df([("https://a.x/base", base)]), 0)

    # (2) K drift against the existing store raises
    drifted = make_near_dup_batch_fn(store, pairs, threshold=0.5, verify_hashes=32)
    with pytest.raises(ValueError, match="verify_hashes"):
        drifted(batch_df([("https://b.x/near", near)]), 1)

    # (3) simulate the worst crash window: compacted dir parked under
    # the holding name, new compacted dir not yet in place — the
    # store must still serve candidate joins (holding matches batch=*)
    fn(batch_df([("https://b.x/near", near)]), 1)
    compact_near_dup_store(spark, store)
    for sub in ("bands", "sigs"):
        d = os.path.join(store, sub)
        os.rename(
            os.path.join(d, "batch=compacted"),
            os.path.join(d, "batch=compacted_prev"),
        )
    fn(batch_df([("https://c.x/near2", near + " encore")]), 2)
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs + "/batch=*").collect()
    }
    assert ("https://b.x/near", "https://c.x/near2") in got
    # next compaction folds the holding dir away and stays readable
    st = compact_near_dup_store(spark, store)
    assert st["bands_dirs"] >= 2
    for sub in ("bands", "sigs"):
        d = os.path.join(store, sub)
        assert sorted(os.listdir(d)) == ["batch=compacted"], os.listdir(d)
    fn(batch_df([("https://d.x/near3", near + " finale")]), 3)
    got2 = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(pairs + "/batch=*").collect()
    }
    assert ("https://c.x/near2", "https://d.x/near3") in got2


def test_index_dedup_and_stream_near_dup_share_candidates(spark, tmp_path):
    """Batch index dedup and the streaming near-dup store pair the
    same documents: with verification off (no signatures on the index
    side, threshold 0.0 on the stream) the new docs flagged is_dup
    against the old corpus's index are exactly the new docs in a
    cross-batch stream pair (batch 0 = old, batch 1 = new). Holds for
    integral and URL ids; a novel doc's first_match is -1 for the
    first and null for the second."""
    from web_scraper_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        minhash_signatures,
    )
    from web_scraper_spark.streaming.neardup import (
        make_near_dup_batch_fn,
        read_near_dup_pairs,
    )

    old_docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "red orange yellow green blue indigo violet"),
        (3, "one two three four five six seven"),
    ]
    new_docs = [
        (11, "alpha beta gamma delta epsilon zeta"),      # copy of 1
        (12, "red orange yellow green blue indigo"),      # near 2
        (13, "cat dog mouse horse cow sheep"),            # novel
        (14, "cat dog mouse horse cow sheep"),            # dup of 13 only
        (15, "one two three four five six seven eight"),  # near 3
    ]
    for id_type, key, novel in (
        ("long", lambda i: i, -1),
        ("string", lambda i: f"https://h{i % 2}.example/doc/{i}", None),
    ):
        def frame(docs):
            return spark.createDataFrame(
                [(key(i), t) for i, t in docs], f"doc_id {id_type}, text string"
            )

        old, new = frame(old_docs), frame(new_docs)
        index = minhash_band_index(
            minhash_signatures(old, "text", "doc_id", num_hashes=16), 16, bands=8
        )
        ann = dedup_against_index(
            new, index, "text", "doc_id", num_hashes=16, bands=8
        ).collect()
        flagged = {r["id"] for r in ann if r["is_dup"]}
        assert {r["first_match"] for r in ann if not r["is_dup"]} == {novel}

        pairs_dir = str(tmp_path / id_type / "pairs")
        fn = make_near_dup_batch_fn(
            str(tmp_path / id_type / "store"), pairs_dir, id_col="doc_id",
            num_hashes=16, bands=8, threshold=0.0,
        )
        fn(old, 0)
        fn(new, 1)
        old_ids = {key(i) for i, _ in old_docs}
        crossed = {
            i
            for r in read_near_dup_pairs(spark, pairs_dir).collect()
            if {r["id_a"], r["id_b"]} & old_ids
            for i in (r["id_a"], r["id_b"])
            if i not in old_ids
        }
        assert key(11) in flagged and key(13) not in flagged  # not vacuous
        assert flagged == crossed


def test_stream_near_dup_hot_bucket_guard(spark, tmp_path, caplog):
    """A boilerplate stream (every page alike, so one bucket per band
    holds the whole store) does not make the band join quadratic:
    buckets of the store plus the batch over HOT_BUCKET_CAP rows, the
    cap curate also defaults to, are left out of the join with a
    WARNING, and the genuine pair in normal buckets still comes out."""
    import logging

    from web_scraper_spark.operators.dedup import HOT_BUCKET_CAP
    from web_scraper_spark.pipelines import CurationConfig
    from web_scraper_spark.streaming.neardup import (
        make_near_dup_batch_fn,
        read_near_dup_pairs,
    )

    assert CurationConfig().max_bucket_size == HOT_BUCKET_CAP
    boiler = "lorem ipsum boiler plate page footer"
    base = "alpha beta gamma delta epsilon zeta"

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    pairs_dir = str(tmp_path / "pairs")
    fn = make_near_dup_batch_fn(
        str(tmp_path / "store"), pairs_dir, id_col="doc_id",
        num_hashes=16, bands=8, threshold=0.0,
    )
    with caplog.at_level(logging.WARNING, logger="web_scraper_spark.operators.dedup"):
        fn(frame([(i, boiler) for i in range(HOT_BUCKET_CAP + 1)] + [(10_000, base)]), 0)
        fn(frame([(HOT_BUCKET_CAP + 1, boiler), (10_001, base)]), 1)
    warned = [r for r in caplog.records if "make_near_dup_batch_fn" in r.getMessage()]
    assert len(warned) == 2  # one per batch
    got = {
        (r["id_a"], r["id_b"])
        for r in read_near_dup_pairs(spark, pairs_dir).collect()
    }
    assert got == {(10_000, 10_001)}  # not ~2M boilerplate pairs


def test_warc_segments_stream_exactly_once_per_segment(spark, tmp_path):
    """Archive segments landing in a directory are parsed exactly once
    across triggers/restarts (file-source checkpoint), and the parsed
    stream adapts into pages rows unchanged."""
    import gzip

    from web_scraper_spark.sources.warc import pages_from_warc
    from web_scraper_spark.streaming.stream import warc_segments_stream

    def response(url: bytes, body: bytes) -> bytes:
        payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2024-05-04T12:00:00Z\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    out = str(tmp_path / "pages_out")
    ck = str(tmp_path / "ck")

    def drain():
        pages = pages_from_warc(warc_segments_stream(spark, str(warc_dir)))
        q = (
            pages.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (warc_dir / "seg-1.warc").write_bytes(
        response(b"https://a.example/1", b"<p>one</p>")
        + response(b"https://a.example/2", b"<p>two</p>")
    )
    drain()
    assert spark.read.parquet(out).count() == 2

    (warc_dir / "seg-2.warc.gz").write_bytes(
        gzip.compress(response(b"https://b.example/9", b"<p>nine</p>"))
    )
    drain()  # restart: seg-1 must NOT be re-parsed
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert got.select("url").distinct().count() == 3
