"""S11 file sink: filename derivation precedence, collision numbering,
and actual file materialization."""

import os

from pyspark.sql import functions as F

from web_scraper_spark.sources.sinks import (
    console_sink,
    derive_filenames,
    image_filenames,
    image_map_join,
    output_extension,
    write_documents_as_files,
)


def test_filename_derivation_url_path(spark):
    df = spark.createDataFrame(
        [
            ("https://h.example.com/a/b", "doc1"),
            ("https://h.example.com/", "doc2"),
            ("https://h.example.com/a/b?q=1", "doc3"),
        ],
        "url string, doc string",
    )
    out = {r["url"]: r["filename"] for r in derive_filenames(df).collect()}
    assert out["https://h.example.com/a/b"] == "h.example.com_a_b.md"
    assert out["https://h.example.com/"] == "h.example.com_index.md"


def test_filename_collision_numbering_before_extension(spark):
    df = spark.createDataFrame(
        [("https://h.x/p", "a"), ("https://h.y/p", "b"), ("https://h.z/p", "c")],
        "url string, doc string",
    ).withColumn("title", F.lit("Same Title"))
    out = sorted(
        r["filename"] for r in derive_filenames(df, title_col="title").collect()
    )
    assert out == ["Same_Title.md", "Same_Title_1.md", "Same_Title_2.md"]


def test_filename_custom_name_precedence(spark):
    df = spark.createDataFrame([("https://h.x/p", "a")], "url string, doc string")
    out = derive_filenames(df, custom_name="myexport").collect()[0]["filename"]
    assert out == "myexport_h.x.md"


def test_output_extension_map(spark):
    df = spark.createDataFrame(
        [("markdown",), ("xml",), ("html",), ("youtube_raw",), ("??",)], "fmt string"
    )
    got = [r[0] for r in df.select(output_extension(F.col("fmt"))).collect()]
    assert got == ["md", "xml", "html", "txt", "md"]


def test_write_documents_as_files(spark, tmp_path):
    df = spark.createDataFrame(
        [("https://h.x/a", "content A"), ("https://h.x/b", "content B")],
        "url string, doc string",
    )
    named = derive_filenames(df)
    n = write_documents_as_files(named, str(tmp_path / "out"))
    assert n == 2
    files = sorted(os.listdir(tmp_path / "out"))
    assert files == ["h.x_a.md", "h.x_b.md"]
    assert (tmp_path / "out" / "h.x_a.md").read_text(encoding="utf-8") == "content A"


def test_image_map_join_broadcast_and_fallback(spark):
    images = spark.createDataFrame(
        [("https://c.dn/a.png",), ("https://c.dn/b.png",)], "url string"
    )
    image_map = spark.createDataFrame(
        [("https://c.dn/a.png", "/local/abc.png")], "url string, path string"
    )
    out = {r["url"]: r["resolved"] for r in image_map_join(images, image_map).collect()}
    assert out["https://c.dn/a.png"] == "/local/abc.png"   # mapped
    assert out["https://c.dn/b.png"] == "https://c.dn/b.png"  # fallback


def test_image_filenames_hash_plus_ext(spark):
    imgs = spark.createDataFrame(
        [("https://c.dn/x.webp", "aaaa"), ("https://c.dn/x.exe", "bbbb"), ("https://c.dn/x", "cccc")],
        "url string, content_hash string",
    )
    out = {r["content_hash"]: r["image_filename"] for r in image_filenames(imgs).collect()}
    assert out["aaaa"] == "aaaa.webp"
    assert out["bbbb"] == "bbbb.jpg"  # non-whitelisted ext → .jpg
    assert out["cccc"] == "cccc.jpg"  # no ext → .jpg


def test_write_jsonl_shards_roundtrip_and_determinism(spark, tmp_path):
    """Sharded JSONL export: lossless round-trip, deterministic
    record→file assignment across runs, gzip part files, and the
    ON-DISK shard identity (hive `_shard=N` dir) equal to the
    documented pmod(xxhash64(key), n) routing — one sorted part file
    per shard."""
    import glob
    import json
    import gzip

    from pyspark.sql import functions as F

    from web_scraper_spark.sources.sinks import write_jsonl_shards

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    p1, p2 = str(tmp_path / "j1"), str(tmp_path / "j2")
    write_jsonl_shards(d, p1, "doc_id")
    write_jsonl_shards(d.repartition(13), p2, "doc_id")

    back = spark.read.schema(d.schema).json(p1).drop("_shard")
    a = sorted(map(tuple, d.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b  # lossless round-trip

    def shard_contents(path):
        out = {}
        for dirp in sorted(glob.glob(path + "/_shard=*")):
            sid = int(dirp.rsplit("=", 1)[1])
            files = sorted(glob.glob(dirp + "/part-*.json.gz"))
            assert len(files) == 1  # one sorted part file per shard
            with gzip.open(files[0], "rt", encoding="utf-8") as fh:
                out[sid] = [json.loads(line)["doc_id"] for line in fh]
        return out

    s1, s2 = shard_contents(p1), shard_contents(p2)
    assert s1 and s1 == s2  # same assignment + in-shard order at any input partitioning
    for sid, ids in s1.items():
        assert ids == sorted(ids)  # in-shard order is the key order

    # on-disk dir id == documented routing value, row for row
    expected = {
        r["doc_id"]: r["sid"]
        for r in d.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(64)).alias("sid")
        ).collect()
    }
    placed = {i: sid for sid, ids in s1.items() for i in ids}
    assert placed == expected


def test_console_sink_prints_source_headers(spark, capsys):
    """S10: each of the first 5 rows prints a 'Content from
    {source}:' header followed by its content."""
    df = spark.createDataFrame(
        [(f"https://{c}.example/x", f"doc {c}") for c in "abcdef"],
        "url string, doc string",
    )
    console_sink(df.orderBy("url"))
    assert capsys.readouterr().out == "".join(
        f"\nContent from https://{c}.example/x:\n\ndoc {c}\n" for c in "abcde"
    )


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the same key and count must sort-merge
    join with ZERO Exchange in the plan (the write-once-shuffle
    co-location contract), and produce the same rows as the plain
    join."""
    from pyspark.sql import functions as F

    from web_scraper_spark.sources.sinks import bucketed_table, write_bucketed

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = d.select("doc_id", "lang")
    right = d.select("doc_id", "source")
    write_bucketed(left, "bkt_left", "doc_id")
    write_bucketed(right, "bkt_right", "doc_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the planner would broadcast the tiny side and
        # skip bucketing entirely; at 100 TB neither side broadcasts —
        # force the non-broadcast regime the feature exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lj = bucketed_table(spark, "bkt_left")
        rj = bucketed_table(spark, "bkt_right")
        joined = lj.join(rj, "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        got = sorted(map(tuple, joined.collect()))
        want = sorted(map(tuple, left.join(right, "doc_id").collect()))
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_incremental_dedup_bucketed_index_shuffles_new_side_only(spark):
    """The wide step of dedup_against_index is the (band, bucket)
    candidate join. With the corpus index persisted via write_bucketed
    on BOTH join keys, the index side must join WITHOUT any Exchange —
    exactly ONE Exchange total, on the new snapshot's banded keys. At
    100 TB the index is the corpus-sized artifact; re-shuffling it per
    snapshot would dominate the job, so this plan shape is the point
    of persisting it bucketed. Values must match the unbucketed
    in-memory index bit-for-bit."""
    from pyspark.sql import functions as F

    from web_scraper_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        minhash_signatures,
    )
    from web_scraper_spark.sources.sinks import bucketed_table, write_bucketed

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    index = minhash_band_index(
        minhash_signatures(old, "text", "doc_id", num_hashes=16), 16, bands=8
    )
    write_bucketed(index, "bkt_mh_index", ["band", "bucket"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ix = bucketed_table(spark, "bkt_mh_index")
        new_banded = minhash_band_index(
            minhash_signatures(new, "text", "doc_id", 16), 16, 8
        )
        cand_join = new_banded.join(
            ix.select("band", "bucket", F.col("id").alias("old_id")),
            ["band", "bucket"],
        )
        plan = cand_join._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # new side only: its (band, bucket) join exchange plus (since
        # r7) the skinny groupBy(id) exchange inside the df-shaped
        # signature build — the INDEX side must contribute none. In
        # the printed tree the new snapshot is the join's LEFT child,
        # whose subtree lines all carry the ':' rail — so every
        # Exchange line must sit behind a ':' (the bucketed index
        # subtree, printed rail-free, stays Exchange-free).
        assert plan.count("Exchange") == 2, plan
        for ln in plan.splitlines():
            if "Exchange" in ln:
                assert ":" in ln.split("Exchange")[0], plan
        # end-to-end through the operator: bucketed == in-memory index
        got = sorted(
            map(
                tuple,
                dedup_against_index(
                    new, ix, "text", "doc_id", num_hashes=16, bands=8
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                dedup_against_index(
                    new, index, "text", "doc_id", num_hashes=16, bands=8
                ).collect(),
            )
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_mh_index")
