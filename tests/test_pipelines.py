"""End-to-end curation pipeline: the operator chain a production
training-data run composes (quality → lang → exact dedup → fuzzy
dedup → decontamination → rebalance → split), asserted stage by
stage on a corpus with injected duplicates and contamination."""

import pytest
from pyspark.sql import functions as F

from web_scraper_spark.pipelines import CurationConfig, curate


def _base(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text", "lang")
    )


def test_curate_full_chain(spark):
    d = _base(spark)
    # inject: an exact duplicate of doc 0, a near-duplicate of doc 1,
    # and treat doc 2's text as a "benchmark" document (contaminates
    # doc 2 itself and any 13-gram overlap)
    row0 = d.filter(F.col("doc_id") == 0).select("text", "lang").collect()[0]
    row1 = d.filter(F.col("doc_id") == 1).select("text", "lang").collect()[0]
    near1 = row1["text"] + " extra tail token"
    inj = spark.createDataFrame(
        [
            (100000, row0["text"], row0["lang"]),   # exact dup of 0
            (100001, near1, row1["lang"]),          # near dup of 1
        ],
        "doc_id long, text string, lang string",
    )
    corpus = d.unionByName(inj)
    bench = d.filter(F.col("doc_id") == 2).select("text")

    cfg = CurationConfig(
        min_quality=0.0,          # keep the gate permissive: dedup focus
        fuzzy=True,
        bench_df=bench,
        split_fractions={"train": 0.9, "val": 0.1},
    )
    out = curate(corpus, "text", "doc_id", "lang", cfg)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}

    assert 0 in ids and 100000 not in ids          # exact dup dropped, keeper is min id
    assert 1 in ids and 100001 not in ids          # fuzzy loser dropped
    assert 2 not in ids                            # contaminated vs bench
    assert ids <= {r["doc_id"] for r in corpus.select("doc_id").collect()}
    cols = out.columns
    assert "quality" in cols and "fold" in cols and "content_hash" not in cols
    folds = {r["fold"] for r in out.select("fold").distinct().collect()}
    assert folds <= {"train", "val"}

    # deterministic at different parallelism
    out2 = curate(corpus.repartition(17), "text", "doc_id", "lang", cfg)
    ids2 = {r["doc_id"] for r in out2.select("doc_id").collect()}
    assert ids == ids2


def test_curate_stage_toggles(spark):
    d = _base(spark)
    # lang gate + rebalance only; no fuzzy, no bench, no split
    cfg = CurationConfig(
        min_quality=0.0,
        langs=["en", "de"],
        fuzzy=False,
        rates_ppm={"en": 250_000},   # downsample en, keep de whole
    )
    out = curate(d, "text", "doc_id", "lang", cfg)
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    n_en_in = d.filter(F.col("lang") == "en").count()
    n_en_out = out.filter(F.col("lang") == "en").count()
    n_de_in = d.filter(F.col("lang") == "de").count()
    n_de_out = out.filter(F.col("lang") == "de").count()
    assert n_de_out == n_de_in                     # default_ppm keeps strata whole
    assert 0 < n_en_out < n_en_in                  # en downsampled
    assert "fold" not in out.columns


def test_curate_incremental_stage(spark):
    """Incremental mode: the previous snapshot exists only as its band
    index + signature table; a new-snapshot doc that duplicates the
    old corpus is dropped, novel docs survive, and the whole chain
    stays deterministic under repartition."""
    from web_scraper_spark.operators.dedup import (
        minhash_band_index,
        minhash_signatures,
    )

    # controlled vocab: sf* synthetic docs share distinct-token SETS
    # across ids (set-based MinHash over word 1-shingles collides them fully,
    # by design), so build disjoint-vocab docs for exact assertions.
    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    old = spark.createDataFrame(
        [(i, doc(i), "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    # the new snapshot: 40 novel docs + one exact copy of old doc 3
    new = spark.createDataFrame(
        [(100 + i, doc(100 + i), "en") for i in range(40)]
        + [(200001, doc(3), "en")],
        "doc_id long, text string, lang string",
    )
    sigs = minhash_signatures(old, "text", "doc_id", num_hashes=16)
    index = minhash_band_index(sigs, num_hashes=16, bands=8)
    cfg = CurationConfig(
        min_quality=0.0, fuzzy=False,
        prev_index=index, prev_sigs=sigs, index_min_agree=8,
    )
    out = curate(new, "text", "doc_id", "lang", cfg)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 200001 not in ids                       # dup of the old corpus
    assert ids == {100 + i for i in range(40)}     # every novel doc survives
    ids2 = {
        r["doc_id"]
        for r in curate(
            new.repartition(13), "text", "doc_id", "lang", cfg
        ).select("doc_id").collect()
    }
    assert ids == ids2


def test_curate_domain_cap_stage(spark):
    d = _base(spark).withColumn(
        "host",
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot.example")).otherwise(
            F.concat(F.lit("cold"), (F.col("doc_id") % 5).cast("string"))
        ),
    )
    cfg = CurationConfig(
        min_quality=0.0, fuzzy=False,
        domain_col="host", domain_cap_ppm=200_000,
    )
    out = curate(d, "text", "doc_id", "lang", cfg).persist()
    n_in = d.count()
    hot_out = out.filter(F.col("host") == "hot.example").count()
    cold_in = d.filter(F.col("host") != "hot.example").count()
    cold_out = out.filter(F.col("host") != "hot.example").count()
    out.unpersist()
    # exact dedup may drop a couple of rows; the cap is the big cut:
    # hot had ~50% share, capped at 20% of pre-cap total
    assert hot_out <= 0.3 * n_in
    assert hot_out > 0
    assert cold_out >= 0.95 * cold_in  # cold domains pass (minus dedup)


def test_curate_line_dedup_stage(spark):
    """Line-wise correction runs BEFORE dedup: stripping shared
    template chrome exposes documents that are identical underneath,
    and exact dedup then collapses them (the motivating interaction)."""
    from web_scraper_spark.pipelines.curate import CurationConfig, curate

    chrome = "COOKIE BANNER\n"
    rows = [
        (1, "en", chrome + "alpha unique body text one"),
        (2, "en", chrome + "same hidden body"),
        (3, "en", "same hidden body"),          # identical to 2 post-strip
        (4, "en", chrome + "gamma distinct body text"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cfg = CurationConfig(min_quality=0.0, fuzzy=False, line_dedup_min_df=3)
    got = {r["doc_id"]: r["text"] for r in
           curate(d, "text", "doc_id", "lang", cfg).collect()}
    # chrome line (df=3) stripped everywhere; doc 3 deduped into doc 2
    assert set(got) == {1, 2, 4}
    assert got[2] == "same hidden body"
    assert not any("COOKIE" in t for t in got.values())


@pytest.mark.parametrize("given", ["prev_sigs", "index_min_agree"])
def test_curate_rejects_verification_without_index(spark, given):
    """prev_sigs and index_min_agree only verify matches against
    prev_index; without it they used to be ignored silently."""
    docs = spark.createDataFrame(
        [(1, "en", "alpha beta gamma delta")], "doc_id long, lang string, text string"
    )
    kw = {"prev_sigs": docs} if given == "prev_sigs" else {"index_min_agree": 8}
    cfg = CurationConfig(min_quality=0.0, fuzzy=False, **kw)
    with pytest.raises(ValueError, match="set prev_index too"):
        curate(docs, "text", "doc_id", "lang", cfg)
