"""Operator unit tests: as-of join edge semantics, LSH recall vs the
exact jaccard pairs, top-k determinism, simhash behavior, and
hypothesis property tests for the scalar functions."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from web_scraper_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash32_md5,
    simhash_near_dups_md5,
)
from web_scraper_spark.operators.relational import asof_join, topk_per_group
from web_scraper_spark.functions import columns as C


def test_asof_join_boundary_wins_at_equal_ts(spark):
    probe = spark.createDataFrame(
        [(1, 10, "p10"), (1, 5, "p5"), (1, 3, "p3"), (2, 7, "x")],
        "k int, t int, tag string",
    )
    bounds = spark.createDataFrame(
        [(1, 5, "B5"), (1, 9, "B9"), (3, 1, "other")], "k int, t int, name string"
    )
    out = asof_join(probe, bounds, key="k", probe_ts="t", boundary_ts="t", value_cols=["name"])
    rows = {(r["k"], r["t"]): r["asof_name"] for r in out.collect()}
    assert rows[(1, 3)] is None        # before first boundary
    assert rows[(1, 5)] == "B5"        # boundary at equal ts wins (>= cursor)
    assert rows[(1, 10)] == "B9"
    assert rows[(2, 7)] is None        # key with no boundaries


def test_topk_deterministic_under_repartition(spark):
    df = spark.createDataFrame(
        [(g, i, float((i * 37) % 11)) for g in range(3) for i in range(50)],
        "g int, i int, v double",
    )
    a = topk_per_group(df, ["g"], [F.desc("v"), F.asc("i")], 5).select("g", "i", "rank")
    b = topk_per_group(df.repartition(13), ["g"], [F.desc("v"), F.asc("i")], 5).select(
        "g", "i", "rank"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lsh_recall_against_exact(spark):
    """Every exact pair with jaccard ≥ 0.7 must be found via LSH
    candidates at 16 hashes / 8 bands (bands are 2-row: candidate
    P(miss) = (1-j^2)^8 ≤ 0.3% at j=0.7... but with these parameters
    on shared-vocab synthetic docs the candidate set is near-total;
    assert full recall at this threshold)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 150
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "text", "doc_id", threshold=0.7).collect()
    }
    cands = minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=16, bands=8)
    via_lsh = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, "text", "doc_id", threshold=0.7, candidates=cands
        ).collect()
    }
    assert exact, "test is vacuous: no exact pairs at this threshold"
    missed = exact - via_lsh
    assert len(missed) <= max(1, len(exact) // 50), f"LSH recall too low: missed {len(missed)}/{len(exact)}"
    assert via_lsh <= exact  # LSH-verified pairs are always true pairs


def test_minhash_signatures_match_python_reference(spark):
    """minhash_signatures against a pure-Python replay of the hash
    family: sig[k] = lexicographic min over the DISTINCT word
    1-shingles of the normalized text of md5(s + '#' + salt + k).
    Covers the banding (salt '') and verification (salt 'v')
    families, null text (no shingles: all-null sig) and empty text,
    which normalizes to the one empty token."""
    import hashlib

    rows = [
        (1, "The  quick brown fox jumps over the lazy dog the end"),
        (2, "alpha beta\tgamma ALPHA beta delta"),
        (3, None),
        (4, ""),
        (5, "solo"),
        (6, "two words"),
        (7, "a b c d e f g a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def reference(text, num_hashes, salt):
        if text is None:
            return [None] * num_hashes
        shingles = set(re.sub(r"\s+", " ", text.lower()).strip(" ").split(" "))
        return [
            min(hashlib.md5(f"{s}#{salt}{k}".encode()).hexdigest() for s in shingles)
            for k in range(num_hashes)
        ]

    from web_scraper_spark.operators.dedup import minhash_signatures

    for salt in ("", "v"):
        got = {
            r["id"]: list(r["sig"])
            for r in minhash_signatures(df, "text", "doc_id", 4, salt=salt).collect()
        }
        want = {i: reference(t, 4, salt) for i, t in rows}
        assert got == want, salt
    # the null and empty cases are exercised, not vacuous
    assert reference(None, 4, "") == [None] * 4
    assert reference("", 4, "")[0] == hashlib.md5(b"#0").hexdigest()


def test_incremental_dedup_against_index(spark, tmp_path):
    """dedup_against_index semantics pinned without replaying the hash
    family: exact copies of old docs are flagged with the SMALLEST
    matching old id, disjoint-vocab docs come back novel (-1), and the
    result is identical whether the index + signature table are used
    in-memory or round-tripped through parquet (the persisted-artifact
    property the operator exists for)."""
    from web_scraper_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        minhash_signatures,
    )

    old = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon"),
            (4, "alpha beta gamma delta epsilon"),  # same text as 2
            (6, "zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "alpha beta gamma delta epsilon"),  # copy → match min(2,4)=2
            (13, "zeta eta theta iota kappa"),       # copy of 6
            (15, "one two three four five"),          # disjoint → novel
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(old, "text", "doc_id", num_hashes=16)
    index = minhash_band_index(sigs, num_hashes=16, bands=8)
    expect = {(11, True, 2), (13, True, 6), (15, False, -1)}

    def run(ix, sg, **kw):
        return {
            (r["id"], r["is_dup"], r["first_match"])
            for r in dedup_against_index(
                new, ix, "text", "doc_id", num_hashes=16, bands=8,
                old_sigs=sg, min_agree=8, **kw,
            ).collect()
        }

    assert run(index, sigs) == expect
    # the index is a persistable artifact: parquet round-trip changes nothing
    index.write.parquet(str(tmp_path / "ix"))
    sigs.write.parquet(str(tmp_path / "sg"))
    assert run(
        spark.read.parquet(str(tmp_path / "ix")),
        spark.read.parquet(str(tmp_path / "sg")),
    ) == expect


def test_incremental_dedup_hot_bucket_guard(spark):
    """A degenerate index (every old doc identical → one bucket per
    band holding the whole corpus) must not fan out: with
    max_bucket_size below the bucket size the hot buckets are dropped
    and an identical new doc comes back novel — the guarded failure
    mode, never a quadratic join."""
    from web_scraper_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        minhash_signatures,
    )

    old = spark.createDataFrame(
        [(i, "same boilerplate text everywhere") for i in range(10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "same boilerplate text everywhere")], "doc_id long, text string"
    )
    index = minhash_band_index(
        minhash_signatures(old, "text", "doc_id", num_hashes=16), 16, bands=8
    )
    out = dedup_against_index(
        new, index, "text", "doc_id", num_hashes=16, bands=8, max_bucket_size=5
    ).collect()
    assert [(r["id"], r["is_dup"], r["first_match"]) for r in out] == [
        (100, False, -1)
    ]


@pytest.mark.parametrize("given", ["old_sigs", "min_agree", "curate_prev_sigs"])
def test_incremental_dedup_rejects_half_set_verification(spark, given):
    """Verification needs BOTH the old signature table and the
    agreement floor: either one alone used to skip verification
    silently, and so did CurationConfig(prev_sigs=...) without
    index_min_agree. All three now raise before any job runs."""
    from web_scraper_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_index,
        minhash_signatures,
    )
    from web_scraper_spark.pipelines import CurationConfig, curate

    docs = spark.createDataFrame(
        [(1, "en", "alpha beta gamma delta")], "doc_id long, lang string, text string"
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16)
    index = minhash_band_index(sigs, num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="old_sigs and min_agree"):
        if given == "curate_prev_sigs":
            cfg = CurationConfig(
                min_quality=0.0, fuzzy=False, prev_index=index, prev_sigs=sigs
            )
            curate(docs, "text", "doc_id", "lang", cfg)
        else:
            kw = {"old_sigs": sigs} if given == "old_sigs" else {"min_agree": 8}
            dedup_against_index(
                docs, index, "text", "doc_id", num_hashes=16, bands=8, **kw
            )


@pytest.mark.parametrize("num_hashes,bands", [(16, 5), (16, 32), (16, 0)])
def test_minhash_band_index_rejects_uneven_band_split(spark, num_hashes, bands):
    """A remainder would drop trailing signature components; more
    bands than components gives empty runs every document shares
    (all-pairs candidates). Both raise instead."""
    from web_scraper_spark.operators.dedup import (
        minhash_band_index,
        minhash_signatures,
    )

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=num_hashes)
    with pytest.raises(ValueError, match="divide"):
        minhash_band_index(sigs, num_hashes, bands)


def test_jaccard_doc_freq_cap_drops_hot_token(spark):
    """max_doc_freq guards the inverted-index quadratic: a stopword
    shared by EVERY document must not join the corpus against itself.
    Docs related only through the hot token lose their pair; docs that
    agree on rare tokens keep theirs (Jaccard over the capped
    vocabulary)."""
    rows = [
        (0, "the apple banana"),
        (1, "the apple banana"),
        (2, "the cherry"),
        (5, "the"),
        (6, "the"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    # 'the'-only docs are exact duplicates without the cap, and the
    # hot token alone links 'the cherry' to them at exactly 0.5
    assert uncapped == {(0, 1): 1.0, (5, 6): 1.0, (2, 5): 0.5, (2, 6): 0.5}
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, max_doc_freq=4
        ).collect()
    }
    # df('the') = 5 > 4 → its posting list never enters the join:
    # (5,6) disappears, (0,1) survives on {apple, banana} alone
    assert capped == {(0, 1): 1.0}


def test_global_running_total_matches_single_window(spark):
    """The blocked two-level prefix sum must exactly equal the naive
    single-window cumsum, including across block boundaries and with
    sparse/irregular ids."""
    from pyspark.sql import Window as W

    from web_scraper_spark.operators.relational import global_running_total

    rows = [(i * 3 + (i % 2), (i * 7) % 11) for i in range(200)]  # irregular keys
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["running_before"]
        for r in global_running_total(df, "id", "v", block_size=37).collect()
    }
    w = W.orderBy("id").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r["id"]: r["rb"]
        for r in df.select(
            "id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("rb")
        ).collect()
    }
    assert got == want


def test_global_running_total_exact_above_2_53(spark):
    """Block ids use exact integer division (SQL `div`), not
    floor(double): hash-derived keys above 2^53 — where DOUBLE loses
    integer precision — must still land in the right block and keep
    the prefix sum exact. Adjacent keys straddling 2^53+ block
    boundaries would mis-block under the old float path."""
    from pyspark.sql import Window as W

    from web_scraper_spark.operators.relational import global_running_total

    base = (1 << 60) + 12345  # far beyond double's exact-integer range
    ids = [base + i * 13 for i in range(64)] + [(1 << 61) + i * 7 for i in range(64)]
    rows = [(i, (i % 97) + 1) for i in ids]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["running_before"]
        for r in global_running_total(df, "id", "v", block_size=100).collect()
    }
    w = W.orderBy("id").rowsBetween(W.unboundedPreceding, -1)
    want = {
        r["id"]: r["rb"]
        for r in df.select(
            "id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("rb")
        ).collect()
    }
    assert got == want


def test_hash_split_disjoint_exhaustive_deterministic(spark):
    """Fold assignment: every row gets exactly one fold, folds are
    disjoint by construction, proportions are approximately honored,
    assignment is identical across reruns/parallelism, and it is
    independent of the sampling salt."""
    from web_scraper_spark.operators.relational import (
        deterministic_sample,
        hash_split,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select("doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(d, "doc_id", fr)
    rows = {r["doc_id"]: r["fold"] for r in out.collect()}
    assert len(rows) == d.count()
    assert set(rows.values()) <= {"train", "val", "test"}  # exhaustive (sums to 1)
    n = len(rows)
    from collections import Counter

    c = Counter(rows.values())
    assert abs(c["train"] / n - 0.8) < 0.1 and c["val"] > 0 and c["test"] > 0
    # deterministic across partitioning
    rows2 = {
        r["doc_id"]: r["fold"]
        for r in hash_split(d.repartition(13), "doc_id", fr).collect()
    }
    assert rows == rows2
    # independent of the sampling decision (different salt)
    samp = {r["doc_id"] for r in deterministic_sample(d, "doc_id", 500_000).collect()}
    in_train = sum(1 for i in samp if rows[i] == "train") / len(samp)
    assert abs(in_train - 0.8) < 0.12  # sample is not correlated with folds

    import pytest

    with pytest.raises(ValueError, match="> 1.0"):
        hash_split(d, "doc_id", {"a": 0.9, "b": 0.2})


def test_take_token_budget_prefix_semantics(spark):
    """Budget truncation keeps docs in id order while the tokens
    BEFORE each doc fit the budget — the boundary doc that crosses is
    kept, later docs are not; parallelism-independent."""
    from web_scraper_spark.operators.relational import take_token_budget

    rows = [(i, 10) for i in range(100)]  # 10 tokens per doc
    df = spark.createDataFrame(rows, "id long, n long")
    kept = sorted(
        r["id"] for r in take_token_budget(df, "id", "n", budget=55).collect()
    )
    # running_before: doc k has 10k before it; kept while 10k < 55 → k<=5
    assert kept == [0, 1, 2, 3, 4, 5]
    kept2 = sorted(
        r["id"]
        for r in take_token_budget(df.repartition(7), "id", "n", budget=55).collect()
    )
    assert kept2 == kept
    # exact boundary: doc whose prefix equals the budget is NOT kept
    kept3 = sorted(
        r["id"] for r in take_token_budget(df, "id", "n", budget=50).collect()
    )
    assert kept3 == [0, 1, 2, 3, 4]


def test_jaccard_pairs_rejects_candidates_plus_df_cap(spark):
    """candidates and max_doc_freq are mutually exclusive — the
    candidates branch would silently ignore the cap."""
    import pytest

    from web_scraper_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame([(0, "a b"), (1, "a b")], "doc_id long, text string")
    cands = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="mutually exclusive"):
        jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, candidates=cands, max_doc_freq=4
        )


def test_duplicate_span_stats(spark):
    """Cross-doc 3-token windows: two docs sharing a 4-token run share
    two 3-windows; a unique doc has zero; a doc shorter than the
    window has n_windows == 0 and fraction 0."""
    from web_scraper_spark.operators.dedup import duplicate_span_stats

    rows = [
        (1, "a b c d x"),   # windows: abc bcd cdx
        (2, "z a b c d"),   # windows: zab abc bcd
        (3, "p q r s t"),   # unique
        (4, "u v"),          # too short
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in duplicate_span_stats(df, "text", "id", window=3).collect()}
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 2
    assert abs(out[1]["dup_fraction"] - round(2 / 3, 6)) < 1e-9
    assert out[2]["n_dup_windows"] == 2
    assert out[3]["n_dup_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_fraction"] == 0.0


def test_duplicate_spans_merges_intervals(spark):
    """Two docs sharing a 5-token run (3-windows at pos 1..3 in doc 1)
    merge into ONE span covering tokens 1..5; a second disjoint shared
    run yields a separate span; unrelated docs emit nothing."""
    from web_scraper_spark.operators.dedup import duplicate_spans

    rows = [
        # doc 1: shared run 'c d e f g' at tokens 1-5, and 'x y z' at 8-10
        (1, "a c d e f g q r x y z"),
        (2, "c d e f g"),
        (3, "p x y z"),
        (4, "unrelated words only"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {}
    for r in duplicate_spans(df, "text", "id", window=3, min_docs=2).collect():
        out.setdefault(r["id"], []).append(
            (r["span_start"], r["span_end"], r["n_windows"])
        )
    for k in out:
        out[k].sort()
    # doc 1: windows (1..3) merge to tokens [1,5]; window at 8 → [8,10]
    assert out[1] == [(1, 5, 3), (8, 10, 1)]
    assert out[2] == [(0, 4, 3)]
    assert out[3] == [(1, 3, 1)]
    assert 4 not in out


def test_remove_duplicate_spans_cuts_located_intervals(spark):
    """ExactSubstr APPLY: cutting the spans duplicate_spans located
    leaves exactly the uncovered tokens, in order; fully-covered docs
    come back empty; docs with no spans pass through normalized."""
    from web_scraper_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    rows = [
        (1, "a c d e f g q r x y z"),
        (2, "c d e f g"),
        (3, "p x y z"),
        (4, "unrelated words only"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    spans = duplicate_spans(df, "text", "id", window=3, min_docs=2)
    cut = remove_duplicate_spans(df, spans, "text", "id")
    out = {r["id"]: r for r in cut.collect()}
    # doc 1: spans [1,5] and [8,10] cut → tokens a(0) q(6) r(7) remain
    assert out[1]["clean_text"] == "a q r"
    assert out[1]["n_tokens_kept"] == 3 and out[1]["n_tokens_removed"] == 8
    # doc 2 fully covered
    assert out[2]["clean_text"] == "" and out[2]["n_tokens_kept"] == 0
    # doc 3: span [1,3] cut → 'p'
    assert out[3]["clean_text"] == "p"
    # doc 4 untouched (normalized join)
    assert out[4]["clean_text"] == "unrelated words only"
    assert out[4]["n_tokens_removed"] == 0

    # the interval directory grows with the corpus, so the join is
    # never forced to broadcast: with the session's broadcast budget
    # off it shuffles, and the rows do not change
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = remove_duplicate_spans(df, spans, "text", "id")
        rows_shuffled = sorted(map(tuple, shuffled.collect()))
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prior)
    assert "BroadcastHashJoin" not in plan, plan
    assert rows_shuffled == sorted(map(tuple, cut.collect()))


def test_remove_duplicate_spans_overlapping_input_spans(spark):
    """The cutter's defensive per-doc interval merge: overlapping and
    touching caller spans cover each token once — counts and
    surviving text are identical to the equivalent disjoint span set
    (the single-pass left join must never duplicate a token row)."""
    from web_scraper_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], "id int, text string"
    )
    spans = spark.createDataFrame(
        # [1,4] and [3,6] overlap; [7,7] and [8,8] touch; union covers
        # tokens 1-8, leaving t0 and t9
        [(1, 1, 4), (1, 3, 6), (1, 7, 7), (1, 8, 8)],
        "id int, span_start long, span_end long",
    )
    row = remove_duplicate_spans(df, spans, "text", "id").collect()[0]
    assert row["clean_text"] == "t0 t9"
    assert row["n_tokens_kept"] == 2
    assert row["n_tokens_removed"] == 8


def test_ngram_contamination(spark):
    from web_scraper_spark.operators.dedup import (
        bench_ngram_digests,
        ngram_contamination,
    )

    bench = spark.createDataFrame([("the secret answer is here",)], "text string")
    grams = bench_ngram_digests(bench, "text", n=3)
    corpus = [
        (1, "nothing to see"),
        (2, "we know the secret answer is here too"),  # contains bench 3-grams
        (3, "secret answer elsewhere"),
    ]
    df = spark.createDataFrame(corpus, "id int, text string")
    out = {r["id"]: r for r in ngram_contamination(df, "text", "id", grams, n=3).collect()}
    assert not out[1]["contaminated"]
    assert out[2]["contaminated"] and out[2]["n_hits"] >= 1
    assert not out[3]["contaminated"]


def test_stratified_sample_nests_and_is_parallelism_independent(spark):
    from web_scraper_spark.operators.relational import (
        deterministic_sample,
        stratified_hash_sample,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    strat = stratified_hash_sample(
        d, "doc_id", "lang", {"en": 500_000}, default_ppm=100_000
    )
    got = {r["doc_id"] for r in strat.select("doc_id").collect()}
    got_repart = {
        r["doc_id"]
        for r in stratified_hash_sample(
            d.repartition(13), "doc_id", "lang", {"en": 500_000}, default_ppm=100_000
        ).select("doc_id").collect()
    }
    assert got == got_repart  # parallelism-independent
    # nesting: every stratum-sampled row is in the 50% flat sample,
    # and non-en rows are exactly the 10% flat sample's non-en rows
    flat50 = {r["doc_id"] for r in deterministic_sample(d, "doc_id", 500_000).select("doc_id").collect()}
    flat10 = {r["doc_id"] for r in deterministic_sample(d, "doc_id", 100_000).select("doc_id").collect()}
    non_en = {r["doc_id"] for r in d.filter(F.col("lang") != "en").select("doc_id").collect()}
    assert got <= flat50
    assert got & non_en == flat10 & non_en


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "totally different words here")],
        "id int, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dups_md5(df, "text", "id", max_hamming=31).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_max_hamming_validated(spark):
    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    for bad in (-1, 32, 100):
        with pytest.raises(ValueError):
            simhash_near_dups_md5(df, "text", "id", max_hamming=bad)


def test_simhash_banding_recall_vs_bruteforce(spark):
    """Round-1 verdict item 3: the fixed 4-block banding silently
    dropped pairs at Hamming 4–8 that differ in all four blocks.
    (max_hamming+1)-block banding must have PERFECT recall: the banded
    pair set equals the brute-force pair set at max_hamming 8."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    max_h = 8
    fps = {r["id"]: r["fp"] for r in
           simhash32_md5(docs, "text", "doc_id").collect()}
    ids = sorted(fps)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= max_h
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups_md5(docs, "text", "doc_id", max_hamming=max_h).collect()
    }
    assert brute, "vacuous: no brute-force pairs at this distance"
    assert banded == brute, (
        f"banding recall broken: missed {sorted(brute - banded)[:5]}, "
        f"extra {sorted(banded - brute)[:5]}"
    )
    # multi-probe banding (Manku block-subset keys) must recall the
    # SAME exact pair set — wider effective keys, no recall loss
    multi = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups_md5(
            docs, "text", "doc_id", max_hamming=max_h, n_blocks=10
        ).collect()
    }
    assert multi == brute, (
        f"multi-probe recall broken: missed {sorted(brute - multi)[:5]}, "
        f"extra {sorted(multi - brute)[:5]}"
    )


def test_lsh_hot_bucket_cap_bounds_join(spark):
    """Hot-bucket guard: a degenerate corpus (many identical docs →
    one bucket per band) must NOT produce a quadratic candidate set
    when max_bucket_size is set, and unrelated near-dup pairs in
    normal-sized buckets must survive the cap."""
    boiler = [(i, "lorem ipsum boiler plate page") for i in range(200)]
    # one genuine near-dup pair with distinct vocabulary
    pair = [(1000, "unique alpha beta gamma delta words"),
            (1001, "unique alpha beta gamma delta words")]
    df = spark.createDataFrame(boiler + pair, "id int, text string")
    capped = minhash_lsh_candidates(
        df, "text", "id", num_hashes=16, bands=4, max_bucket_size=50
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1000, 1001) in got          # normal bucket survives
    assert all(a >= 1000 for a, _ in got), f"hot-bucket pairs leaked: {sorted(got)[:5]}"
    # without the cap the boilerplate bucket explodes quadratically
    uncapped = minhash_lsh_candidates(df, "text", "id", num_hashes=16, bands=4)
    assert uncapped.count() >= 200 * 199 // 2


# ---------------------------------------------------------------------
# Property tests (hypothesis) for scalar column functions, checked
# against the reference semantics implemented in pure Python.
# ---------------------------------------------------------------------

def _py_sanitize(filename: str) -> str:
    filename = re.sub(r'[\\/*?:"<>|]', "", filename)
    filename = re.sub(r"\s+", "_", filename)
    return filename[:100]


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=1, max_size=8))
def test_sanitize_filename_matches_python(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = [r[0] for r in df.select(C.sanitize_filename(F.col("name"))).collect()]
    want = [_py_sanitize(n) for n in names]
    assert got == want


def test_sanitize_idempotent(spark):
    names = ['a b/c\\d*e?f:g"h<i>j|k', "  x  y  ", "ok_name", "a" * 200]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    once = df.select(C.sanitize_filename(F.col("name")).alias("s"))
    twice = once.select(C.sanitize_filename(F.col("s")).alias("s"))
    assert [r[0] for r in once.collect()] == [r[0] for r in twice.collect()]


def test_url_classify_matches_reference_rules(spark):
    cases = [
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "video"),
        ("https://youtu.be/abcdefghijk", "video"),
        ("https://www.youtube.com/playlist?list=PL123-x", "playlist"),
        # list= wins over watch?v= (rule order is semantic, P3)
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ&list=PL9", "playlist"),
        ("https://www.youtube.com/@somechannel", "channel"),
        ("https://www.youtube.com/channel/UCabc", "channel"),
        ("https://example.com/page", "unknown"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = df.select(
        "url",
        C.youtube_url_type(F.col("url")).alias("t"),
        C.youtube_video_id(F.col("url")).alias("vid"),
    ).collect()
    assert {r["url"]: r["t"] for r in got} == dict(cases)
    # P4: a video URL's id is its 11-char v= / youtu.be/ id
    assert {r["vid"] for r in got if r["t"] == "video"} == {"dQw4w9WgXcQ", "abcdefghijk"}


def test_is_youtube_url_substring_rule(spark):
    """P2: a URL is a YouTube URL iff it contains 'youtube.com' or
    'youtu.be' anywhere (a plain substring test, as in the
    reference); null stays null."""
    cases = [
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", True),
        ("https://youtu.be/abcdefghijk", True),
        ("https://m.youtube.com/@somechannel", True),
        ("https://example.com/?next=youtube.com", True),
        ("https://example.com/page", False),
        ("https://youtube.org/x", False),
        (None, None),
    ]
    df = spark.createDataFrame(cases, "url string, want boolean")
    got = df.select("want", C.is_youtube_url(F.col("url")).alias("got")).collect()
    assert [(r["want"], r["got"]) for r in got] == [(w, w) for _, w in cases]


def test_filename_from_url_reference_semantics(spark):
    cases = [
        ("https://h.example.com/a/b/c", "h.example.com_a_b_c"),
        ("https://h.example.com/", "h.example.com_index"),
        ("https://h.example.com/x/", "h.example.com_x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r[0]: r[1] for r in df.select("url", C.filename_from_url(F.col("url"))).collect()}
    for u, want in cases:
        assert got[u] == want, u


def test_canonical_url_semantics_and_idempotence(spark):
    cases = {
        # case + default port + fragment
        "HTTP://A.Example.COM:80/Docs/X#frag": "http://a.example.com/Docs/X",
        # https default port, utm-only query dropped entirely
        "HTTPS://h.x:443/p?utm_source=a": "https://h.x/p",
        # query params sorted, utm removed, trailing slash stripped
        "http://h.x/a/b/?b=2&utm_x=1&a=1": "http://h.x/a/b?a=1&b=2",
        # root path preserved; empty path becomes /
        "http://h.x/": "http://h.x/",
        "http://h.x": "http://h.x/",
        # non-default port kept
        "http://h.x:8080/p": "http://h.x:8080/p",
        # empty params ('&&', trailing '&') dropped, not kept as ''
        "http://h.x/p?a=1&&b=2&": "http://h.x/p?a=1&b=2",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["canon"]
        for r in df.select("url", C.canonical_url(F.col("url")).alias("canon")).collect()
    }
    assert got == cases
    # idempotence: canonicalizing a canonical URL is the identity
    df2 = spark.createDataFrame([(v,) for v in cases.values()], "url string")
    got2 = {
        r["url"]: r["canon"]
        for r in df2.select("url", C.canonical_url(F.col("url")).alias("canon")).collect()
    }
    assert all(k == v for k, v in got2.items()), got2


def test_top_ngram_char_share(spark):
    """Most-frequent-bigram character share (repetition_signals'
    top2_char_frac): occurrences × gram chars over normalized text
    chars; a doc with fewer tokens than the gram scores 0."""
    from web_scraper_spark.operators.text import repetition_signals

    docs = [
        (1, "ab cd ab cd ab"),  # bigram 'ab cd' ×2 (len 5), text len 14
        (2, "x"),               # 1 token → no bigram
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    out = {
        r["id"]: r["top2_char_frac"]
        for r in repetition_signals(df, "text", "id").collect()
    }
    assert out == {1: round(2 * 5 / 14, 6), 2: 0.0}


def test_script_ratios_dominance_and_ties(spark):
    from web_scraper_spark.operators.text import script_ratios

    rows = [
        (1, "hello world"),          # pure latin
        (2, "数据处理系统"),           # pure cjk
        (3, "данные"),               # pure cyrillic
        (4, "ab 数据"),               # 2 vs 2: tie → latin wins
        (5, "···***"),               # no scripted chars: denom guard
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    r = script_ratios(F.col("text"))
    out = {
        row["id"]: row
        for row in df.select(
            "id",
            r["latin_ratio"].alias("lr"),
            r["cjk_ratio"].alias("cr"),
            r["dominant_script"].alias("d"),
        ).collect()
    }
    assert out[1]["d"] == "latin" and out[1]["lr"] == 1.0
    assert out[2]["d"] == "cjk" and out[2]["cr"] == 1.0
    assert out[3]["d"] == "cyrillic"
    assert out[4]["d"] == "latin" and out[4]["lr"] == 0.5  # fixed tie order
    assert out[5]["lr"] == 0.0 and out[5]["cr"] == 0.0  # no div-by-zero


def test_repetition_signals(spark):
    from web_scraper_spark.operators.text import (
        duplicate_token_fraction,
        top_ngram_share,
    )

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 1 distinct / 4 tokens
            (2, "all words here are distinct"),  # no repeats
            (3, "one"),                           # single token: no bigrams
        ],
        "id int, text string",
    )
    dup = {
        r["id"]: r["f"]
        for r in df.select(
            "id", duplicate_token_fraction(F.col("text")).alias("f")
        ).collect()
    }
    assert dup[1] == 0.75 and dup[2] == 0.0 and dup[3] == 0.0
    shares = {r["id"]: r["share"] for r in top_ngram_share(df, "text", "id", 2).collect()}
    assert shares[1] == 1.0        # 'spam spam' is every bigram
    assert shares[2] == 0.25       # 4 distinct bigrams
    assert 3 not in shares         # <2 tokens -> no row (caller coalesces)


def test_embedding_near_dups_unbucketed_row_guard(spark):
    """Un-bucketed embedding_near_dups is an all-pairs self-join; it
    must fail fast above its 10^4-row bound (fail-don't-melt), and
    the bucketed path must ignore the bound entirely."""
    import pytest

    from web_scraper_spark.operators.dedup import embedding_near_dups

    # one row over the bound: unit vectors spread round the circle
    emb = spark.range(10_001).select(
        F.col("id").alias("vec_id"),
        F.array(F.cos("id"), F.sin("id")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_near_dups(emb, "embedding", "vec_id", 0.9)
    # bucketed: same rows, no count, no raise
    bucketed = emb.withColumn("bkt", F.col("vec_id") % 100)
    assert (
        embedding_near_dups(
            bucketed, "embedding", "vec_id", 0.99, bucket_col="bkt"
        ).count()
        >= 0
    )


def test_ivf_assign_arrow_matches_expr(spark):
    """The mapInPandas/BLAS assignment must reproduce the broadcast
    cross-join argmax of ivf_assign_topn(n=1) (vector → centroid)
    exactly on the gate fixture, including the lowest-cid tie-break."""
    from web_scraper_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_topn,
        label_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = label_centroids(emb, "embedding", "label")
    expr = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign_topn(emb, "embedding", "vec_id", cents, 1).collect()
    }
    arrow = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(
            emb, "embedding", cents.withColumnRenamed("centroid", "embedding")
        ).collect()
    }
    assert expr and arrow == expr


def test_kmeans_refine_arrow_matches_expr(spark):
    """The Lloyd loop with BLAS assignment must yield the same refined
    centroids as an expression reference (ivf_assign_topn(n=1) →
    label_centroids, twice) to the oracle's round-6 resolution on the
    gate fixture — the q64 gate entry runs kmeans_refine against the
    SQL oracle."""
    from web_scraper_spark.operators.similarity import (
        ivf_assign_topn,
        kmeans_refine,
        label_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = label_centroids(emb, "embedding", "label")

    def rounded(out):
        return {
            r["centroid_id"]: tuple(round(x, 6) for x in r["centroid"])
            for r in out.collect()
        }

    ref = seeds
    for _ in range(2):
        assigned = ivf_assign_topn(emb, "embedding", "vec_id", ref, 1)
        ref = label_centroids(assigned, "embedding", "centroid_id")
    a = rounded(ref)
    b = rounded(kmeans_refine(emb, "embedding", seeds, iterations=2))
    assert a and a == b


def test_embedding_near_dups_arrow_matches_expr(spark):
    """The per-bucket BLAS path must produce the exact same (id_a,
    id_b, cosine-rounded-6) set as the expression reference on the
    gate fixture, bucketed (q28's shape) and all-pairs (the truth of
    test_lsh_embedding_multi_table_recall) — the throughput path may
    not drift from the oracle-portable one."""
    from web_scraper_spark.operators.dedup import (
        _embedding_near_dups_expr,
        embedding_near_dups,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairs(df):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}

    for tau, bucket in ((0.35, "label"), (0.42, None)):
        expr = pairs(
            _embedding_near_dups_expr(emb, "embedding", "vec_id", tau, bucket)
        )
        arrow = pairs(
            embedding_near_dups(emb, "embedding", "vec_id", tau, bucket_col=bucket)
        )
        assert expr and arrow == expr, (tau, bucket)


def test_embedding_near_dups_rounds_half_up(spark):
    """The cosine of [1,0,0,0,0] and [1,127,15,5,2] is exactly 1/128 =
    0.0078125 (norm 128, every step exact in binary). Rounded half-up
    to 6 places, as Spark's round and the DuckDB oracles do, it is
    0.007813 and passes threshold 0.007813; half-to-even would give
    0.007812 and drop the pair."""
    from web_scraper_spark.operators.dedup import embedding_near_dups

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0]), (1, [1.0, 127.0, 15.0, 5.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dups(
            df, "embedding", "vec_id", 0.007813
        ).collect()
    ]
    assert got == [(0, 1, 0.007813)]


def test_global_sentence_dedup_semantics(spark):
    from web_scraper_spark.operators.dedup import global_sentence_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha one. shared line. beta two"),
            (2, "shared line. gamma three"),   # loses 'shared line'
            (3, "shared line"),                 # fully emptied
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in global_sentence_dedup(df, "text", "id").collect()}
    assert out[1]["clean_text"] == "alpha one. shared line. beta two"
    assert (out[1]["n_kept"], out[1]["n_total"]) == (3, 3)
    assert out[2]["clean_text"] == "gamma three"   # order of survivors kept
    assert (out[2]["n_kept"], out[2]["n_total"]) == (1, 2)
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    # normalization: case/whitespace variants are the same sentence
    df2 = spark.createDataFrame(
        [(1, "Hello   World. x"), (2, "hello world. y")], "id int, text string"
    )
    out2 = {r["id"]: r["clean_text"] for r in
            global_sentence_dedup(df2, "text", "id").collect()}
    assert out2[2] == "y"


def test_deterministic_sample_properties(spark):
    from web_scraper_spark.operators.relational import (
        deterministic_sample,
        stratified_hash_sample,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = {r["doc_id"] for r in deterministic_sample(d, "doc_id", 100_000).collect()}
    # identical selection under different partitioning
    s2 = {
        r["doc_id"]
        for r in deterministic_sample(d.repartition(13), "doc_id", 100_000).collect()
    }
    assert s1 == s2 and s1
    # rate roughly honored (10% of 500 ± binomial noise)
    assert 25 <= len(s1) <= 80
    # a larger rate is a superset (bucket ranges nest)
    s3 = {r["doc_id"] for r in deterministic_sample(d, "doc_id", 300_000).collect()}
    assert s1 <= s3
    # the flat sample shares its salt with the stratified one, so a
    # single-stratum rate draws the same rows
    s4 = {
        r["doc_id"]
        for r in stratified_hash_sample(
            d, "doc_id", "lang", {}, default_ppm=100_000
        ).collect()
    }
    assert s4 == s1


def test_unigram_surprisal_ordering(spark):
    """Documents made of corpus-rare tokens must score strictly higher
    mean surprisal than documents of corpus-common tokens."""
    from web_scraper_spark.operators.text import unigram_surprisal

    rows = [(i, "common words repeated " * 5) for i in range(20)]
    rows.append((100, "zyzzyva qwertyuiop xylophone"))
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r["mean_deciban"] for r in unigram_surprisal(df, "text", "id").collect()}
    assert out[100] > out[0]


def test_unigram_surprisal_vocab_broadcast_guard(spark):
    """The corpus-derived counts table is broadcast only under the
    session broadcast budget, decided by AQE from the counts table's
    RUNTIME size (r7: the r6 shape's dedicated vocabulary-probe pass
    is gone): under the budget the executed plan hash-broadcasts the
    counts side; with broadcasts disabled it falls back to a shuffle
    join on tok — the right plan for a billion-token vocabulary,
    where a forced broadcast would OOM — with IDENTICAL results."""
    from web_scraper_spark.operators.text import unigram_surprisal

    rows = [(i, "common words repeated " * 5) for i in range(20)]
    rows.append((100, "zyzzyva qwertyuiop xylophone"))
    df = spark.createDataFrame(rows, "id int, text string")

    def final_plan(out):
        out.collect()  # AQE finalizes join strategies at execution
        return out._jdf.queryExecution().executedPlan().toString()

    small = unigram_surprisal(df, "text", "id")
    a = sorted(map(tuple, small.collect()))
    assert "BroadcastHashJoin" in final_plan(small)

    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    for k, v in thresholds.items():
        spark.conf.set(k, v)
    try:
        big = unigram_surprisal(df, "text", "id")
        b = sorted(map(tuple, big.collect()))
        plan = final_plan(big)
        # the 1-row total still broadcasts (as a nested-loop cross
        # join); the counts EQUI-join must not hash-broadcast
        assert plan.count("BroadcastHashJoin") == 0, plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert a == b


def test_connected_components_chain_and_isolates(spark, monkeypatch):
    """Large-star/small-star: a chain converges to one component
    labeled by its min id; disjoint pairs stay separate;
    non-convergence raises."""
    from web_scraper_spark.operators import dedup
    from web_scraper_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10)]          # 0-1-2-...-10
    pair = [(100, 101)]
    tri = [(200, 201), (201, 202), (200, 202)]
    df = spark.createDataFrame(chain + pair + tri, "id_a int, id_b int")
    # both paths must agree exactly: the driver union-find fast path
    # (production threshold at this size) and the distributed star
    # loop, forced by a zero threshold. A zero iteration bound makes
    # the star loop raise at once, so the default call passing it
    # shows that the union-find path took the graph.
    max_iterations = dedup._CC_MAX_ITERATIONS
    monkeypatch.setattr(dedup, "_CC_MAX_ITERATIONS", 0)
    out = {r["id"]: r["component"] for r in connected_components(df).collect()}
    monkeypatch.setattr(dedup, "_CC_MAX_ITERATIONS", max_iterations)
    monkeypatch.setattr(dedup, "_CC_DRIVER_THRESHOLD", 0)
    out_star = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert out == out_star
    assert all(out[i] == 0 for i in range(11))
    assert out[100] == out[101] == 100
    assert out[200] == out[201] == out[202] == 200
    # only the star loop counts iterations, so this also shows that the
    # zero threshold took it
    monkeypatch.setattr(dedup, "_CC_MAX_ITERATIONS", 1)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        connected_components(df)


def test_connected_components_log_iterations_on_long_chain(spark, monkeypatch):
    """The two-phase star scheme converges in O(log n) iterations, not
    graph-diameter: a 128-edge chain (diameter 128 — plain min-label
    propagation would need 128 rounds) must finish in ≤ 10."""
    from web_scraper_spark.operators import dedup
    from web_scraper_spark.operators.dedup import connected_components

    n = 128
    chain = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(chain, "id_a int, id_b int")
    monkeypatch.setattr(dedup, "_CC_DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(dedup, "_CC_MAX_ITERATIONS", 10)
    out = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert len(out) == n + 1
    assert all(out[i] == 0 for i in range(n + 1))


def test_bigram_surprisal_manual(spark):
    """Hand-computed decibans on a 3-doc corpus; a <2-token doc
    reports (0, 0.0); the over-budget shuffle path is row-identical."""
    from web_scraper_spark.operators.text import bigram_surprisal

    # bigrams: doc1 -> (a,b),(b,a),(a,c); doc2 -> none; doc3 -> (a,b)
    # c2: (a,b)=2 (b,a)=1 (a,c)=1 ; c1: a=3 b=1
    # db(a,b) = round(-10*log10(2/3)) = 2 ; db(b,a)=0
    # db(a,c) = round(-10*log10(1/3)) = 5
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "x"), (3, "a b")], "id int, text string"
    )
    out = {r["id"]: r for r in bigram_surprisal(df, "text", "id").collect()}
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_deciban"] == round((2 + 0 + 5) / 3, 4)
    assert out[2]["n_bigrams"] == 0 and out[2]["mean_deciban"] == 0.0
    assert out[3]["n_bigrams"] == 1 and out[3]["mean_deciban"] == 2.0

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")  # no broadcast: both count joins shuffle
    try:
        sdf = bigram_surprisal(df, "text", "id")
        shuffled = sorted(map(tuple, sdf.collect()))
        assert "BroadcastHashJoin" not in sdf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prior)
    assert shuffled == sorted(
        map(tuple, bigram_surprisal(df, "text", "id").collect())
    )


def test_bigram_surprisal_orders_boilerplate_below_soup(spark):
    """Fixed word order (boilerplate) scores near zero; the same
    vocabulary shuffled into varying orders scores higher — the signal
    the unigram model cannot see."""
    from web_scraper_spark.operators.text import bigram_surprisal

    fixed = [(i, "the quick brown fox jumps") for i in range(10)]
    soup = [
        (100, "fox the jumps brown quick"),
        (101, "brown jumps the fox quick"),
        (102, "quick fox the jumps brown"),
    ]
    df = spark.createDataFrame(fixed + soup, "id int, text string")
    out = {r["id"]: r["mean_deciban"] for r in bigram_surprisal(df, "text", "id").collect()}
    assert out[0] < out[100] and out[0] < out[101] and out[0] < out[102]


def test_bm25_topk_manual_and_dfcap(spark):
    """Exact-match doc ranks first; score_micros matches the formula
    computed in Python; a term present in > max_df_frac of docs is
    df-capped out of the index (zero contribution)."""
    import math

    from web_scraper_spark.operators.similarity import bm25_topk

    # 'common' appears in all 4 docs -> df 4 > floor(0.5*4)=2 -> capped.
    # 'needle' appears only in doc 1 (twice, len 4); 'hay' in 2 and 3.
    docs = spark.createDataFrame(
        [
            (1, "needle needle common x"),
            (2, "hay common y z"),
            (3, "hay common y z"),
            (4, "common a b c"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(7, "needle common")], "query_id long, q_text string"
    )
    rows = bm25_topk(docs, qs).collect()
    assert [r["doc_id"] for r in rows] == [1]  # only doc 1 matches
    r = rows[0]
    assert r["rank"] == 1 and r["n_terms"] == 1  # 'common' capped out
    n, df_t, tf, dl, avgdl = 4, 1, 2, 4, 4.0
    idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1)
    tfc = (tf * (1.2 + 1)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    assert r["score_micros"] == round(idf * tfc * 1000000)


def test_bm25_topk_ranking_and_tiebreak(spark):
    """Higher-tf docs outrank lower-tf; equal scores break ties by
    doc_id ascending; k caps the result per query."""
    from web_scraper_spark.operators.similarity import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "term term term pad"),
            (2, "term pad pad pad"),
            (3, "term pad pad pad"),
            (4, "other pad pad pad"),
            (5, "x1 x2 x3 x4"),
            (6, "x5 x6 x7 x8"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(1, "term")], "query_id long, q_text string")
    rows = bm25_topk(docs, qs, k=2).collect()
    assert [r["doc_id"] for r in rows] == [1, 2]  # tf wins, then id tie-break
    assert [r["rank"] for r in rows] == [1, 2]
    full = bm25_topk(docs, qs, k=10).collect()
    assert [r["doc_id"] for r in full] == [1, 2, 3]
    assert full[1]["score_micros"] == full[2]["score_micros"]


def _bm25_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "needle needle common x"),
            (2, "hay common y z"),
            (3, "hay common y z"),
            (4, "common a b c"),
            (5, "term term term pad"),
            (6, "term pad pad pad"),
            (7, "term pad pad pad"),
            (8, "x1 x2 x3 x4"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [
            (100, "needle common"),
            (101, "term pad"),
            (102, "absent words only"),
            (103, "hay"),
        ],
        "query_id long, q_text string",
    )
    return docs, qs


def _bm25_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_topk_dense_matches_sparse(spark):
    """The dense scoring path (BLAS over Arrow batches) is
    row-identical to the inverted-index path on a corpus exercising
    df caps, ties, multi-term queries, unmatched queries and a cap
    that drops every query term (the dense path's empty term table)."""
    from web_scraper_spark.operators.similarity import bm25_topk

    docs, qs = _bm25_fixture(spark)
    for kwargs in (
        {},
        {"k": 2},
        {"max_df_frac": 0.9},
        {"max_df_frac": 0.0},
    ):
        sparse = _bm25_rows(bm25_topk(docs, qs, **kwargs))
        dense = _bm25_rows(bm25_topk(docs, qs, dense=True, **kwargs))
        assert dense == sparse, kwargs
        if kwargs.get("max_df_frac") == 0.0:
            assert sparse == []


def test_bm25_topk_dense_query_ceiling(spark, monkeypatch):
    """A query side above _DENSE_MAX_QUERIES takes the sparse path (no
    MapInPandas scorer in the plan) with the sparse rows; at the
    ceiling the dense scorer still runs and still matches."""
    from web_scraper_spark.operators import _materialize
    from web_scraper_spark.operators import similarity

    # keep the returned plan un-checkpointed so the scorer shows in it
    monkeypatch.setattr(_materialize, "PLAN_DUMP_MODE", True)
    docs, qs = _bm25_fixture(spark)  # 4 queries
    sparse = _bm25_rows(similarity.bm25_topk(docs, qs))
    for ceiling, scorer in ((2, False), (4, True)):
        monkeypatch.setattr(similarity, "_DENSE_MAX_QUERIES", ceiling)
        out = similarity.bm25_topk(docs, qs, dense=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("MapInPandas" in plan) is scorer, (ceiling, plan)
        assert _bm25_rows(out) == sparse, ceiling


def test_integer_pagerank_manual(spark):
    """Hand-computed two-iteration ranks on a 3-node chain plus a
    dangling sink; repartitioned input gives identical ranks (integer
    arithmetic is parallelism-independent)."""
    from web_scraper_spark.operators.graph import integer_pagerank

    # a -> b, a -> c, b -> c ; c dangling (sends nothing)
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],  # dup edge deduped
        "src string, dst string",
    )
    out = {r["node"]: r["rank_micros"] for r in integer_pagerank(e, iterations=2).collect()}
    # iter1: contrib a->b = 1e6 div 2 = 500000, a->c = 500000, b->c = 1e6
    #   b = 150000 + 85*500000 div 100 = 575000
    #   c = 150000 + 85*1500000 div 100 = 1425000 ; a = 150000
    # iter2: a->b = 150000 div 2 = 75000 -> b = 150000 + 63750 = 213750
    #   a->c = 75000, b->c = 575000 -> c = 150000 + (85*650000) div 100 = 702500
    assert out == {"a": 150000, "b": 213750, "c": 702500}

    out2 = {
        r["node"]: r["rank_micros"]
        for r in integer_pagerank(e.repartition(7), iterations=2).collect()
    }
    assert out2 == out


def test_integer_pagerank_validates_damping(spark):
    from web_scraper_spark.operators.graph import integer_pagerank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        integer_pagerank(e, damping_pct=101)


def test_linear_quality_score_orders_and_validates(spark):
    """Stopword-bearing prose outranks punctuation soup under the
    hand-set model, and every score lies in [0, 1]."""
    from web_scraper_spark.operators.text import linear_quality_score

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was good that it sat with us"),
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: r["s"]
        for r in df.select("id", linear_quality_score(df.text).alias("s")).collect()
    }
    assert 0.0 <= out[2] < out[1] <= 1.0


def test_perplexity_buckets_tercile_split(spark):
    """With the full corpus as the sample, terciles split 30 docs
    10/10/10 and bucket order follows surprisal order; n_buckets < 2
    raises."""
    import pytest as _pytest

    from web_scraper_spark.operators.text import perplexity_buckets

    # 3 surprisal tiers: common tokens, mixed, rare-per-doc tokens
    rows = [(i, "alpha beta gamma " * 4) for i in range(10)]
    rows += [(i, "alpha beta rare%d " % i) for i in range(10, 20)]
    rows += [(i, "unique%d only%d here%d " % (i, i, i)) for i in range(20, 30)]
    df = spark.createDataFrame(rows, "id int, text string")
    out = perplexity_buckets(
        df, "text", "id", n_buckets=3, sample_ppm=1_000_000
    ).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert {len(v) for v in by_bucket.values()} == {10}
    assert max(r["mean_deciban"] for r in by_bucket[1]) <= min(
        r["mean_deciban"] for r in by_bucket[2]
    )
    assert max(r["mean_deciban"] for r in by_bucket[2]) <= min(
        r["mean_deciban"] for r in by_bucket[3]
    )

    with _pytest.raises(ValueError):
        perplexity_buckets(df, "text", "id", n_buckets=1)


def test_perplexity_buckets_sample_budget_fail_fast(spark, monkeypatch):
    """The sample bound is enforced, not trusted: a sample larger than
    the bound raises at execution (assert_true inside the cuts
    aggregation) instead of silently feeding an unbounded
    single-partition rank window. The driver builds the guard, so a
    bound patched to test scale reaches it."""
    import pytest as _pytest

    from web_scraper_spark.operators import text
    from web_scraper_spark.operators.text import perplexity_buckets

    df = spark.createDataFrame(
        [(i, "alpha beta rare%d" % i) for i in range(30)],
        "id int, text string",
    )
    monkeypatch.setattr(text, "_MAX_SAMPLE_ROWS", 10)
    out = perplexity_buckets(df, "text", "id", sample_ppm=1_000_000)
    with _pytest.raises(Exception, match="deterministic sample has 30 rows"):
        out.collect()
    # at or under the bound the same plan runs clean
    monkeypatch.setattr(text, "_MAX_SAMPLE_ROWS", 30)
    ok = perplexity_buckets(df, "text", "id", sample_ppm=1_000_000)
    assert ok.count() == 30


def test_chunk_tokens_manual(spark):
    """10 tokens at chunk_size=4/stride=3 -> 4 chunks with the short
    remainder; disjoint mode covers exactly; bad params raise."""
    import pytest as _pytest

    from web_scraper_spark.operators.text import chunk_tokens

    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks)], "id int, text string")
    out = sorted(
        chunk_tokens(df, "text", "id", chunk_size=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["n_tokens"] for r in out] == [4, 4, 4, 1]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t3 t4 t5 t6"
    assert out[3]["chunk_text"] == "t9"

    disjoint = sorted(
        chunk_tokens(df, "text", "id", chunk_size=4).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert " ".join(r["chunk_text"] for r in disjoint) == toks

    with _pytest.raises(ValueError):
        chunk_tokens(df, "text", "id", chunk_size=0)


def test_chunk_tokens_python_parity_varied_shapes(spark):
    """Exact parity with a Python reference over varied doc lengths
    and (chunk_size, stride) combos, incl. overlap, stride > size
    (gaps are allowed by the while-start<n rule), and 1-token docs."""
    from web_scraper_spark.operators.text import chunk_tokens

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(i % 17))) for i in range(1, 40)]
    # i%17 == 0 gives empty text -> the house tokenizer yields [''] (1 token)
    df = spark.createDataFrame(docs, "id int, text string")
    for size, stride in ((5, 3), (4, 4), (3, 7), (1, 1)):
        got = {}
        for r in chunk_tokens(df, "text", "id", chunk_size=size, stride=stride).collect():
            got.setdefault(r["id"], []).append(
                (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
            )
        for i, text in docs:
            toks = text.split(" ") if text else [""]
            toks = [t for t in " ".join(toks).strip().split(" ")] if text.strip() else [""]
            want = []
            s, idx = 0, 0
            while s < len(toks):
                piece = toks[s : s + size]
                want.append((idx, " ".join(piece), len(piece)))
                s += stride
                idx += 1
            assert sorted(got.get(i, [])) == want, (i, size, stride)


def test_integer_pagerank_python_parity(spark):
    """Exact parity with a sequential Python implementation of the
    integer recurrence on a seeded pseudo-random graph, 3 iterations."""
    from web_scraper_spark.operators.graph import integer_pagerank

    edges = sorted({((i * 7) % 23, (i * i * 5 + 3) % 23) for i in range(60)})
    edges = [(a, b) for a, b in edges]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_micros"]
        for r in integer_pagerank(df, iterations=3, damping_pct=85).collect()
    }

    es = sorted(set(edges))
    nodes = sorted({a for a, _ in es} | {b for _, b in es})
    outdeg = {}
    for a, _ in es:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {v: 1_000_000 for v in nodes}
    for _ in range(3):
        inc = {}
        for a, b in es:
            inc[b] = inc.get(b, 0) + rank[a] // outdeg[a]
        rank = {v: 150_000 + (85 * inc.get(v, 0)) // 100 for v in nodes}
    assert got == rank


def test_duplicate_spans_keep_first_policy(spark):
    """keep_first: per shared digest the min-(id, pos) occurrence
    survives — including a repeat INSIDE the keeper doc — while
    cut_all reports every occurrence; bad policy raises."""
    import pytest as _pytest

    from web_scraper_spark.operators.dedup import duplicate_spans

    s = "s1 s2 s3 s4 s5 s6 s7 s8"
    df = spark.createDataFrame(
        [(1, f"{s} z {s}"), (2, s)], "doc_id int, text string"
    )
    cut_all = {
        (r["id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, "text", "doc_id", window=8).collect()
    }
    # doc 1 holds the shared window at pos 0 AND pos 9; doc 2 at pos 0
    assert cut_all == {(1, 0, 7), (1, 9, 16), (2, 0, 7)}

    keep1 = {
        (r["id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(
            df, "text", "doc_id", window=8, policy="keep_first"
        ).collect()
    }
    # keeper is (doc 1, pos 0): its second occurrence and doc 2's are cut
    assert keep1 == {(1, 9, 16), (2, 0, 7)}

    with _pytest.raises(ValueError):
        duplicate_spans(df, "text", "doc_id", policy="nope")


def test_domain_cap_downsamples_only_hot_domains(spark):
    from web_scraper_spark.operators.relational import domain_cap_sample

    rows = [(i, "hot.example" if i % 2 == 0 else f"cold{i % 10}.example")
            for i in range(2000)]
    d = spark.createDataFrame(rows, ["doc_id", "host"])
    capped = domain_cap_sample(d, "doc_id", "host", 200_000).persist()
    by_host = {r.host: r.n for r in
               capped.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # cold domains (10% share each — odd ids spread over 5 hosts,
    # under the 20% cap) pass whole
    for h, n in by_host.items():
        if h != "hot.example":
            assert n == 200, (h, n)
    # hot domain (50% share) downsamples to rate 400000 ppm of its
    # 1000 docs — md5-deterministic, so an exact count, near 400
    assert 330 <= by_host["hot.example"] <= 470
    # deterministic: same kept set across plans/parallelism
    again = domain_cap_sample(
        d.repartition(13), "doc_id", "host", 200_000
    )
    assert {r.doc_id for r in again.select("doc_id").collect()} == {
        r.doc_id for r in capped.select("doc_id").collect()
    }
    capped.unpersist()


def test_semdedup_keeps_farthest_from_centroid(spark):
    """SemDedup policy pin: in a near-dup neighborhood the item with
    the LOWEST centroid cosine (least prototypical) survives; members
    closer to the centroid are removed; singleton clusters survive."""
    from web_scraper_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),      # cluster A, prototypical
        (1, [0.99, 0.141]),   # cluster A, near-dup of 0, farther out
        (2, [0.0, 1.0]),      # cluster B, alone
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id int, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["removed"])
        for r in semdedup(df, "embedding", "vec_id", cents, threshold=0.9).collect()
    }
    assert got[0] == (0, True)    # closest to centroid → removed
    assert got[1] == (0, False)   # farthest in the pair → kept
    assert got[2] == (1, False)   # singleton cluster → kept


def test_anchor_edges_and_modal_text(spark):
    """anchors product parallels links (same filters, plus text);
    anchor_text_table elects the modal text with (count desc, text
    asc) tie-break and counts distinct referring hosts."""
    from web_scraper_spark.operators.graph import anchor_text_table
    from web_scraper_spark.sources.warc import anchor_edges_from_pages

    rows = [
        ("https://a.x/p1", '<a href="/t">home</a><a href="#frag">skip</a>'
                           '<a href="mailto:x@y">mail</a>'),
        ("https://a.x/p2", '<a href="https://a.x/t">home</a>'),
        ("https://b.x/p3", '<a href="https://a.x/t">casa</a>'),
        ("https://b.x/p4", '<a href="https://a.x/t">casa</a>'),
        ("https://b.x/p5", "<p>no links</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    edges = anchor_edges_from_pages(pages)
    got = edges.collect()
    # mailto dropped; fragment-only resolves to the page itself with
    # the fragment stripped (links_from_doc semantics, shared path)
    assert {r["target"] for r in got} == {"https://a.x/t", "https://a.x/p1"}
    assert len(got) == 5
    agg = {
        r["target"]: r
        for r in anchor_text_table(edges, src_host_col="src_host").collect()
    }
    assert agg["https://a.x/p1"]["top_anchor"] == "skip"
    r = agg["https://a.x/t"]
    assert (r["n_refs"], r["n_hosts"]) == (4, 2)
    # 2x 'home' vs 2x 'casa': tie → lexicographically smaller wins
    assert (r["top_anchor"], r["top_anchor_refs"]) == ("casa", 2)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of at least
    window+k-1 chars share at least one fingerprint hash; docs
    shorter than window+k-1 yield no fingerprints; selection is
    parallelism-independent (pure expression)."""
    from web_scraper_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps"   # 25 chars >= 4+8-1
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "xxxxxxxx " + shared + " yyyyyyyy"),
        (3, "completely unrelated body of words here"),
        (4, "tiny"),                        # < k+window-1 → no rows
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(d, "text", "doc_id", k=8, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["id"], set()).add(r["gram_hash"])
    assert 4 not in by_doc
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    # density sanity: ~2/(w+1) of windows selected, far fewer than grams
    assert 0 < len(by_doc[3]) < len(rows[2][1])
    again = winnow_fingerprints(
        d.repartition(7), "text", "doc_id", k=8, window=4
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, fp.collect()))


def test_repetition_signals_hand_values(spark):
    """Gopher repetition suite: hand-computed fractions for every rule
    family, including the dup-char cap at 1.0 and the (count, length,
    gram) most-frequent tie-break."""
    from web_scraper_spark.operators.text import repetition_signals

    rows = [
        (1, "x\ny\nx\n\np\n\np"),
        (2, "a b a b a b"),
        (3, "a b a b a b a b"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r.asDict()
        for r in repetition_signals(d, "text", "doc_id").collect()
    }
    r1 = got[1]
    # lines [x,y,x,p,p]: 4/5 dup, chars 4/5; paras [x\ny\nx, p, p]:
    # 2/3 dup, chars 2/7; norm 'x y x p p' (9 chars), all bigrams
    # unique -> top2 = 3/9 picked as max (1, 3, 'y x')
    assert r1["dup_line_frac"] == 0.8
    assert r1["dup_line_char_frac"] == 0.8
    assert r1["dup_para_frac"] == round(2 / 3, 6)
    assert r1["dup_para_char_frac"] == round(2 / 7, 6)
    assert r1["top2_char_frac"] == round(3 / 9, 6)
    assert r1["dup5_char_frac"] == 0.0
    r2 = got[2]
    # norm 'a b a b a b' (11 chars): bigram counts {'a b':3,'b a':2}
    # -> top2 = 9/11; its two 5-grams occur once each -> dup5 = 0
    assert r2["top2_char_frac"] == round(9 / 11, 6)
    assert r2["dup5_char_frac"] == 0.0
    assert r2["dup_line_frac"] == 0.0
    # norm 'a b a b a b a b' (15 chars): 5-grams 'a b a b a' and
    # 'b a b a b' twice each, covered 4*9 = 36 > 15 -> capped 1.0;
    # 6-gram 'a b a b a b' twice, covered 2*11 = 22 -> capped 1.0
    assert got[3]["dup5_char_frac"] == 1.0
    assert got[3]["dup6_char_frac"] == 1.0
