"""Deduplication family for large-scale text corpora.

Extends the reference's hash-dedup semantics (MD5 content dedup,
contxt/scraper.py:462-474; first-seen text dedup,
contxt/scraper.py:345-363) to the operators a 100 TB training-data
pipeline needs: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Scale design:
- Exact dedup: one hash-exchange on the digest; map-side partial agg.
- MinHash signatures: one (id, sig) table per corpus, built JVM-side
  as explode(shingles) → codegen md5 mins → one skinny groupBy(id);
  LSH band keys are a projection of it. Candidate pairing shuffles
  only on (band, bucket), and each band bucket is tiny by
  construction. Batch LSH, incremental index dedup and streaming
  near-dup (streaming/neardup.py) each run their own (band, bucket)
  equi-join and share one hot-bucket guard (``_hot_keys``) and one
  signature-agreement count (``_agree``).
- Jaccard verification runs only on LSH candidates, never all pairs.
- The hash family is ``md5(shingle ∥ '#' ∥ salt ∥ k)`` with *lexicographic*
  min over hex digests — deterministic, engine-portable (identical in
  DuckDB for the oracle), and uniform enough for banding.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._materialize import materialize
from .relational import first_seen_dedup

_LOG = logging.getLogger(__name__)


def normalize_text(col: Column) -> Column:
    """Canonicalization used by all dedup flavors: lowercase, collapse
    whitespace, trim (reference F4 semantics, contxt/scraper.py:317)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on md5 of normalized text (J3 analog,
    contxt/scraper.py:462-474). Keeps the lowest id per digest —
    deterministic at any parallelism."""
    digest = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    with_hash = df.select("*", digest)
    return first_seen_dedup(with_hash, ["content_hash"], [F.col(id_col)])


def word_shingles(col: Column) -> Column:
    """Word 1-shingle array, JVM-side: the distinct tokens of the
    normalized text."""
    return F.array_distinct(F.split(normalize_text(col), " "))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    salt: str = "",
) -> DataFrame:
    """(id, sig) MinHash signature table: ``sig`` is an array of
    ``num_hashes`` md5-hex minima,

        sig[k] = min over distinct word 1-shingles s of md5(s ∥ '#' ∥ salt ∥ k).

    Lexicographic min over md5 hex is a valid uniform hash family and
    is portable to the SQL oracle. ``salt`` selects an INDEPENDENT
    hash family (e.g. the streaming near-dup verifier uses salt='v'
    so its estimator is not correlated with the banding family that
    selected the candidates — conditioning on a band collision biases
    the banding components toward agreement). Null text gives an
    all-null signature.

    Computed as explode(shingles) → ``num_hashes`` codegen md5
    columns → one groupBy(id) of mins (per-k ``transform``/
    ``array_min`` higher-order functions run interpreted and measured
    2.3× slower over the sf1.0 corpus). The groupBy's partial
    aggregation collapses each document's shingles map-side
    (documents explode within one partition), so the exchange carries
    one row per (id × partition). Requires unique ``id_col`` values
    (rows sharing an id would have their shingle sets merged)."""
    sh = word_shingles(F.col(text_col))
    ex = df.select(F.col(id_col).alias("id"), F.explode_outer(sh).alias("_s"))
    aggs = [
        F.min(F.md5(F.concat(F.col("_s"), F.lit(f"#{salt}{k}")))).alias(f"_m{k}")
        for k in range(num_hashes)
    ]
    return ex.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"_m{k}") for k in range(num_hashes)]).alias("sig")
    )


def minhash_band_index(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH band-key table from an (id, sig)
    signature table (:func:`minhash_signatures`): the signature splits
    into ``bands`` runs of ``num_hashes/bands`` components and each
    run hashes to ``md5(concat_ws('|', run))``. Pure projection — no
    shuffle beyond the one that built ``sigs``. ``bands`` must be
    >= 1 and divide ``num_hashes``, else ValueError: a remainder would
    silently drop trailing components, and more bands than components
    leaves empty runs every document shares (an all-pairs join).

    This is the persistable index artifact that makes fuzzy dedup
    INCREMENTAL. Write it once for the existing corpus — ideally
    bucketed on BOTH join keys, ``write_bucketed(ix, t, ["band",
    "bucket"])``, so the per-snapshot candidate join never
    re-shuffles the index side (plan-tested; a subset-key bucketing
    reshuffles both sides under Spark's co-partition rules); each new
    snapshot then dedups against the index with
    ``dedup_against_index`` without ever rescanning the old corpus's
    text. Index size is ``bands`` skinny rows per document (two
    md5-hex strings + a byte), orders of magnitude smaller than the
    text it summarizes. Indexes COMPOSE by unionByName (per-doc rows
    are independent), so appending a curated snapshot's own index
    keeps the artifact current for the next snapshot — no rebuild."""
    if bands < 1 or num_hashes % bands:
        raise ValueError(
            f"minhash_band_index: bands={bands} must be >= 1 and divide "
            f"num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


# The hot-bucket cap of the (band, bucket) joins: curate's default
# max_bucket_size and the streaming near-dup store's fixed cap.
HOT_BUCKET_CAP = 2000


def _hot_keys(df: DataFrame, keys: list[str], cap: int, label: str) -> DataFrame:
    """The hot-key guard of every quadratic equi-join in this module:
    the ``keys`` groups of ``df`` holding more than ``cap`` rows, as a
    broadcast key table for the caller's ``left_anti`` exclusion (hot
    groups are few by construction, so the big side never shuffles
    for it). The drop is not silent: the dropped group and row counts
    are computed eagerly at call time (one small aggregate job) and
    logged at WARNING under ``label``."""
    hot = df.groupBy(*keys).agg(F.count("*").alias("n")).filter(F.col("n") > cap)
    stats = hot.agg(
        F.count("*").alias("n_keys"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
    ).collect()[0]
    if stats["n_keys"]:
        _LOG.warning(
            "%s: %d hot (%s) groups (%d rows) over the cap of %d are "
            "excluded from the join; results are computed without them",
            label, stats["n_keys"], ", ".join(keys), stats["n_rows"], cap,
        )
    return F.broadcast(hot.select(*keys))


def _agree(pairs: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame) -> DataFrame:
    """The MinHash verification step: (id_a, id_b, agree) for the
    (id_a, id_b) candidate ``pairs``, where ``agree`` counts the equal
    components of id_a's signature in ``sigs_a`` and id_b's in
    ``sigs_b`` (both (id, sig) tables); a null component never agrees.
    The signatures join AFTER the callers' candidate ``distinct``, so
    only candidate ids carry them. The count is the HOF fold: unrolled
    64-term chains measured slower."""
    fold = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(sigs_a.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs_b.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select("id_a", "id_b", fold.alias("agree"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` rows of
    ``num_hashes/bands`` values, hash each band, self-join per band
    bucket. Returns distinct (id_a < id_b) candidate pairs.

    The only shuffle is on (band_idx, band_hash); bucket sizes are
    bounded by collision probability for well-distributed content —
    but degenerate corpora (e.g. millions of empty/boilerplate pages
    sharing one signature) create hot buckets whose self-join is
    quadratic. ``max_bucket_size`` is the guard: (band, bucket) groups
    larger than the cap are excluded from the join, with the dropped
    bucket/row counts logged at WARNING (:func:`_hot_keys`)."""
    keys = ["band", "bucket"]
    banded = cached = minhash_band_index(
        minhash_signatures(df, text_col, id_col, num_hashes), num_hashes, bands
    )
    if max_bucket_size is not None:
        # persist: the bucket-size scan and the self-join both consume
        # the banded keys; without this the signature build runs
        # twice over the source.
        cached = banded.persist()
        hot = _hot_keys(cached, keys, max_bucket_size, "minhash_lsh_candidates")
        banded = cached.join(hot, keys, "left_anti")
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if max_bucket_size is not None:
        # materialize the candidate set (lineage-truncating local
        # checkpoint) so the persisted banded keys can be released HERE
        # rather than leaking cached partitions across repeated calls
        # in one session. On a real cluster swap for reliable
        # checkpoint() if fault tolerance matters.
        pairs = materialize(pairs)
        cached.unpersist()
    return pairs


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    old_sigs: DataFrame | None = None,
    min_agree: int | None = None,
) -> DataFrame:
    """Incremental fuzzy dedup: annotate a NEW snapshot against an
    EXISTING corpus's band index (``minhash_band_index`` output) —
    the steady-state shape of production corpus curation (each crawl
    snapshot dedups against everything already kept, without
    re-processing the old corpus; composes with crawl/recrawl.py's
    index-driven recrawl loop).

    Returns one row per new document: (id, is_dup, first_match) where
    ``first_match`` is the smallest matching old id (deterministic at
    any parallelism). For a novel document it is -1 when ``id_col`` is
    integral, and null for any other id type (a URL, say), which has
    no sentinel value.

    Verification without rescanning old text: pass ``old_sigs``
    (id, sig) — the signature table persisted alongside the index —
    and ``min_agree``; a candidate survives only if at least
    ``min_agree`` of the ``num_hashes`` signature components agree
    (:func:`_agree`; the unbiased MinHash Jaccard estimate ≥
    min_agree/num_hashes). The two go together: passing only one
    raises ValueError.

    Scale shape: the new snapshot's signature table is built once
    (:func:`minhash_signatures`, one skinny groupBy(id) exchange) and
    feeds both the band keys and the verification join; the other
    wide exchange is the band-key equi-join of ``bands`` skinny rows
    per new doc against the index. ``max_bucket_size`` guards
    degenerate boilerplate buckets in the index exactly like
    minhash_lsh_candidates (:func:`_hot_keys`; the hot index buckets
    are excluded from both sides). Nothing is cached."""
    if (old_sigs is None) != (min_agree is None):
        raise ValueError(
            "dedup_against_index: old_sigs and min_agree enable verification "
            "together — pass both, or neither for unverified band matches"
        )
    keys = ["band", "bucket"]
    new_sigs = minhash_signatures(new_df, text_col, id_col, num_hashes)
    new_banded = minhash_band_index(new_sigs, num_hashes, bands)
    old_banded = index.select("id", "band", "bucket")
    if max_bucket_size is not None:
        hot = _hot_keys(old_banded, keys, max_bucket_size, "dedup_against_index")
        old_banded = old_banded.join(hot, keys, "left_anti")
        new_banded = new_banded.join(hot, keys, "left_anti")
    pairs = (
        new_banded.join(old_banded.select(*keys, F.col("id").alias("id_b")), keys)
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )
    if min_agree is not None:
        pairs = _agree(pairs, new_sigs, old_sigs).filter(F.col("agree") >= min_agree)
    matched = pairs.groupBy(F.col("id_a").alias("id")).agg(
        F.min("id_b").alias("first_match")
    )
    first_match = F.col("first_match")
    if isinstance(new_df.schema[id_col].dataType, T.IntegralType):
        first_match = F.coalesce(first_match, F.lit(-1).cast("long"))
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(matched, "id", "left")
        .select(
            "id",
            F.col("first_match").isNotNull().alias("is_dup"),
            first_match.alias("first_match"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Word-set (1-shingle) Jaccard similarity pairs ≥ threshold.

    With ``candidates`` (e.g. from LSH) the exact check runs only on
    those pairs (broadcast-friendly). Without, it builds an inverted
    shingle index (explode → self-join on shingle → count commons):
    |A∩B| from the index, |A∪B| = |A|+|B|−|A∩B|.

    The inverted-index branch is quadratic in a token's posting-list
    length: a shingle shared by N documents contributes N² rows to the
    `tok` join — one corpus-wide stopword makes the join all-pairs
    (the same pathology ``max_bucket_size`` guards in
    :func:`minhash_lsh_candidates`). ``max_doc_freq`` is the guard:
    posting lists with document frequency > the cap are dropped
    BEFORE the join, and similarity is then computed over the
    df-capped vocabulary (per-document sizes are recounted from the
    surviving postings, so the Jaccard value stays a true Jaccard —
    of the filtered shingle sets, df-pruning as in tf-idf). The drop
    is not silent: dropped token/posting counts are computed eagerly
    and logged at WARNING. Without a cap and without ``candidates``
    the join is exact over the full vocabulary but only safe for
    corpora with bounded document frequencies — pass one of the two
    at scale. ``candidates`` and ``max_doc_freq`` are mutually
    exclusive: the candidates branch intersects FULL shingle arrays
    (no posting-list join, so a df cap has nothing to guard and would
    silently change the Jaccard definition) — passing both raises.
    """
    if candidates is not None and max_doc_freq is not None:
        raise ValueError(
            "jaccard_pairs: candidates and max_doc_freq are mutually "
            "exclusive — the candidate branch computes Jaccard over full "
            "shingle arrays, so a df cap would be silently ignored "
            "(df-capped similarity needs the inverted-index branch)"
        )
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))

    if candidates is not None:
        pairs = (
            candidates.join(
                sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")),
                "id_a",
            )
            .join(
                sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")),
                "id_b",
            )
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        )
    elif max_doc_freq is None:
        inv = sh.select("id", "n_sh", F.explode("sh").alias("tok"))
        a = inv.alias("a")
        b = inv.alias("b")
        pairs = (
            a.join(b, "tok")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count("*").alias("common"))
        )
    else:
        # df-capped inverted index. persist: the hot-token scan, the
        # size recount, and the pair join all consume the postings.
        inv = sh.select("id", F.explode("sh").alias("tok")).persist()
        hot = _hot_keys(inv, ["tok"], max_doc_freq, "jaccard_pairs")
        kept = inv.join(hot, "tok", "left_anti")
        sizes = kept.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = kept.alias("a")
        b = kept.alias("b")
        # sizes join AFTER the pair aggregate: the heavy tok-join never
        # carries the width, and the (much smaller) pair set picks up
        # na/nb from one row per doc.
        pairs = (
            a.join(b, "tok")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("common"))
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    out = (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if candidates is None and max_doc_freq is not None:
        # materialize so the persisted postings can be released here
        # (same leak-avoidance pattern as minhash_lsh_candidates)
        out = materialize(out)
        inv.unpersist()
    return out


def _window_hash_rows(
    df: DataFrame, text_col: str, id_col: str, window: int,
    digest: str = "md5",
) -> DataFrame:
    """(id, pos, h) rows: a digest of every ``window``-token rolling
    window (stride 1) over the normalized token stream; only complete
    windows emit (docs shorter than the window contribute nothing).

    Built as ``lead()`` compositions over the exploded token stream —
    whole-stage-codegen window functions, one exchange on the doc id.
    The obvious array form (``transform`` over indices with a
    ``slice`` per window) is a higher-order function evaluated
    interpreted, re-touching the token array per window — measured 6×
    slower at sf0.1 (10 s vs 1.7 s for 236k windows); this form is
    also the one that keeps working when single documents are huge
    (the array form materializes all windows of a doc in one row).

    ``digest`` picks the window key. ``"md5"`` (32-hex string) keys
    :func:`duplicate_span_stats` and the decontamination digests
    (:func:`bench_ngram_digests`, :func:`ngram_contamination`): bench
    digest tables are md5, so those join keys stay comparable across
    engines. ``"xx64"`` (xxhash64 BIGINT) keys :func:`duplicate_spans`:
    8-byte shuffle keys instead of 56-byte hex strings for the
    shared-set aggregate and the flagged join. Span digests never
    appear in results, so any injective-in-practice window key yields
    identical spans (64-bit collision odds over n windows are
    ~n²/2⁶⁵)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, window)]
    last = F.lead("tok", window - 1).over(w)
    hfn = F.xxhash64 if digest == "xx64" else F.md5
    return (
        toks.select("id", "pos", F.concat_ws(" ", *parts).alias("_win"), last.alias("_l"))
        .filter(F.col("_l").isNotNull())
        .select("id", "pos", hfn("_win").alias("h"))
    )


def _n_windows(text: Column, window: int) -> Column:
    """Pure-expression window count for a document (the denominator
    side — no explode needed)."""
    return F.greatest(
        F.size(F.split(normalize_text(text), " ")) - window + 1, F.lit(0)
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span statistics — the signal behind
    suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed as
    rolling md5 windows so it distributes: for each document, the
    fraction of its ``window``-token windows that also occur in at
    least ``min_docs - 1`` OTHER documents.

    Scale shape: windows explode to (id, digest) rows; shared-window
    detection is ONE groupBy on the 32-hex digest — never a self-join,
    so a boilerplate window shared by N docs costs N rows in one
    aggregation group, not N². The per-doc denominator is a pure
    column expression (no explode). The window rows feed both the
    shared-set aggregate and the semi-join and are recomputed for
    each, never cached: a round-trip through a materialized cache
    measured 7× slower than recompute on q72. Returns
    (id, n_windows, n_dup_windows, dup_fraction).
    """
    exploded = _window_hash_rows(df, text_col, id_col, window)
    shared = (
        exploded.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    dup = (
        exploded.join(shared.select("h"), "h", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        _n_windows(F.col(text_col), window).cast("long").alias("n_windows"),
    )
    nd = F.coalesce(F.col("n_dup_windows"), F.lit(0))
    return totals.join(dup, "id", "left").select(
        "id",
        "n_windows",
        nd.alias("n_dup_windows"),
        F.when(F.col("n_windows") > 0, F.round(nd / F.col("n_windows"), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    min_docs: int = 2,
    policy: str = "cut_all",
) -> DataFrame:
    """Merged duplicated-token INTERVALS per document — the span-level
    output of ExactSubstr dedup (which tokens to cut, not just how
    many): windows shared across ≥ ``min_docs`` docs are merged into
    maximal contiguous token ranges (windows overlapping or touching
    — gap ≤ 0 tokens — coalesce). Same scale shape as
    :func:`duplicate_span_stats` (one digest groupBy, no self-join)
    plus one per-doc ordering window (exchange on id only). The window
    key is the xxhash64 digest (see :func:`_window_hash_rows`). The
    window rows feed the shared-set aggregate and the flagged join
    and are recomputed for each, never cached: with the cache, q77 and
    q89 ran 1.6-1.8× slower in interleaved suite runs (4-core box).

    ``policy`` selects which occurrences are reported for cutting:

    - ``"cut_all"`` (default): every occurrence of a shared window is
      a span — feeding :func:`remove_duplicate_spans` deletes the
      duplicated text EVERYWHERE (decontamination-style).
    - ``"keep_first"``: the canonical Lee et al. 2022 rule — the
      duplicated substring survives in exactly one place. Per shared
      digest the lexicographically-first occurrence (min (id, pos))
      is the keeper and is NOT reported; all other occurrences are.
      Keeper election is one more groupBy + join on the digest key
      (same shuffle key the shared-set aggregate already used), so
      the scale shape is unchanged.

    Returns (id, span_start, span_end, n_windows) in 0-based token
    coordinates, span_end inclusive.
    """
    if policy not in ("cut_all", "keep_first"):
        raise ValueError(
            f"policy must be 'cut_all' or 'keep_first', got {policy!r}"
        )
    exploded = _window_hash_rows(df, text_col, id_col, window, digest="xx64")
    aggs = [F.count_distinct("id").alias("nd")]
    if policy == "keep_first":
        # keeper = min (id, pos) per digest, computed INSIDE the
        # shared-set aggregate the digests already shuffle through
        # (min over the digest's flagged rows == min over all its
        # rows); riding the broadcast join back costs zero extra
        # exchanges — the r6 shape's per-h window re-shuffled every
        # flagged row onto h and back onto id.
        aggs.append(F.min(F.struct("id", "pos")).alias("_k"))
    shared = exploded.groupBy("h").agg(*aggs).filter(F.col("nd") >= min_docs)
    if policy == "keep_first":
        flagged = (
            exploded.join(shared.select("h", "_k"), "h")
            .filter(
                ~(
                    (F.col("id") == F.col("_k.id"))
                    & (F.col("pos") == F.col("_k.pos"))
                )
            )
            .drop("_k")
        )
    else:
        flagged = exploded.join(shared.select("h"), "h", "left_semi")
    w_ord = Window.partitionBy("id").orderBy("pos")
    # break when the previous window's last token (lag+W-1) leaves a
    # gap before this window's first (pos): pos > lag + W
    brk = F.coalesce(
        (F.col("pos") - F.lag("pos", 1).over(w_ord) > window).cast("int"), F.lit(0)
    )
    grouped = flagged.withColumn("_brk", brk).withColumn(
        "_grp",
        F.sum("_brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        grouped.groupBy("id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + window - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("id", "span_start", "span_end", "n_windows")
    )


def bench_ngram_digests(bench_df: DataFrame, text_col: str, n: int = 13) -> DataFrame:
    """All distinct n-token window digests of a benchmark corpus —
    the broadcast side of :func:`ngram_contamination`."""
    keyed = bench_df.select(
        F.col(text_col), F.md5(F.col(text_col)).alias("_bid")
    )
    return _window_hash_rows(keyed, text_col, "_bid", n).select("h").distinct()


def ngram_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bench_ngrams: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination flag — the 13-gram overlap rule of
    GPT-3/PaLM-style pipelines: a document is contaminated when any of
    its ``n``-token rolling windows exactly matches a benchmark
    n-gram digest. ``bench_ngrams`` (one digest column) is small —
    benchmarks are 10^5–10^6 grams — so it broadcasts and the corpus
    NEVER shuffles: explode windows → broadcast left_semi → per-doc
    count. Returns (id, n_hits, contaminated)."""
    rows = _window_hash_rows(df, text_col, id_col, n)
    hcol = bench_ngrams.columns[0]
    hits = (
        rows.join(
            F.broadcast(bench_ngrams.select(F.col(hcol).alias("h")).distinct()),
            "h",
            "left_semi",
        )
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(hits, "id", "left").select(
        "id", nh.alias("n_hits"), (nh > 0).alias("contaminated")
    )


def _explode_units(
    df: DataFrame, text_col: str, id_col: str, sep: str, unit: str, key
) -> DataFrame:
    """Split each document on the literal ``sep`` into (id, pos,
    ``unit``) rows, keyed by ``_k = key(unit column)`` — a digest, so
    the units shuffle as 32-byte keys, never as text."""
    import re as _re

    return df.select(
        F.col(id_col).alias("id"),
        # Spark split takes a REGEX — escape the literal separator
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias("pos", unit),
    ).withColumn("_k", key(F.col(unit)))


def _rebuild_units(units: DataFrame, kept: DataFrame, unit: str, sep: str) -> DataFrame:
    """(id, n_total, clean_text, n_kept): each document of ``units``
    with its ``kept`` units rejoined in original order (one groupBy(id)
    array_sort fold); NULL clean_text/n_kept if none was kept."""
    totals = units.groupBy("id").agg(F.count("*").alias("n_total"))
    rebuilt = (
        kept.select("id", F.struct("pos", unit).alias("p"))
        .groupBy("id")
        .agg(
            F.concat_ws(
                sep, F.transform(F.array_sort(F.collect_list("p")), lambda x: x[unit])
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return totals.join(rebuilt, "id", "left")


def global_sentence_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """C4-style GLOBAL span dedup: every sentence (``". "``-delimited
    span) is kept only at its first occurrence across the WHOLE
    corpus; later occurrences are dropped and each document is
    reassembled from its surviving sentences in original order.

    First-seen is by (document id, position) — deterministic at any
    parallelism. The dedup window keys on md5(normalized sentence)
    (32-byte shuffle keys, never sentence text — same scale rule as
    q09); reassembly is one groupBy(id) with an array_sort fold.

    Returns (id, clean_text, n_kept, n_total).
    """
    sent = _explode_units(
        df, text_col, id_col, ". ", "s", lambda s: F.md5(normalize_text(s))
    )
    kept = first_seen_dedup(sent, ["_k"], [F.col("id"), F.col("pos")])
    # a document whose every sentence was seen earlier has no rebuilt
    # row → empty clean_text, n_kept 0
    return _rebuild_units(sent, kept, "s", ". ").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        "n_total",
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): hash every k-gram, slide a window of
    ``window`` consecutive k-gram hashes, and from each window select
    the minimal hash — rightmost on ties, per the paper — recording
    each selected (position, hash) once. Guarantee: any two documents
    sharing a substring of at least ``window + k - 1`` chars share at
    least one fingerprint, with ~2/(window+1) density — the classic
    local fingerprinting scheme between per-doc digests (q15) and the
    ExactSubstr span family (every window is represented, so matches
    can't fall between samples).

    Scale shape: ENTIRELY per-row Column expressions (transform over
    a sequence + an aggregate fold per window) — no exchange, no UDF,
    no join; fingerprinting is document-local so the operator adds
    zero shuffle at any corpus size. Hashes are md5 hex (lexicographic
    min — the engine-portable idiom; the oracle replays with DuckDB's
    md5 and a rank window). Cost is O(n·window) expression evaluations
    per doc — the window is a small constant by construction.

    Returns (id, gram_pos, gram_hash) — one row per distinct selected
    fingerprint; documents shorter than ``window + k - 1`` chars
    contribute no rows."""
    txt = F.col(text_col)
    n_g = (F.length(txt) - F.lit(k - 1)).cast("int")
    grams = F.transform(
        F.sequence(F.lit(0), n_g - 1),
        lambda i: F.md5(txt.substr(i + 1, F.lit(k))),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(n_g >= F.lit(window), grams)
        .otherwise(F.array().cast("array<string>"))
        .alias("_g"),
    )
    g = F.col("_g")
    init = F.struct(
        F.lit("g").alias("h"), F.lit(-1).cast("int").alias("p")
    )  # 'g' > any md5 hex char

    def elect(i):
        # rightmost minimal hash in [i, i+window-1]: '<=' lets a later
        # equal hash displace an earlier one (the paper's tie rule)
        return F.aggregate(
            F.sequence(i, i + F.lit(window - 1)),
            init,
            lambda acc, j: F.when(
                F.element_at(g, j.cast("int") + 1) <= acc["h"],
                F.struct(
                    F.element_at(g, j.cast("int") + 1).alias("h"),
                    j.cast("int").alias("p"),
                ),
            ).otherwise(acc),
        )

    sel = F.when(
        F.size(g) >= F.lit(window),
        F.array_distinct(
            F.transform(F.sequence(F.lit(0), F.size(g) - window), elect)
        ),
    ).otherwise(F.array().cast("array<struct<h:string,p:int>>"))
    return (
        base.select("id", F.explode(sel).alias("fp"))
        .select(
            "id",
            F.col("fp.p").cast("bigint").alias("gram_pos"),
            F.col("fp.h").alias("gram_hash"),
        )
    )


def boilerplate_line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_doc_freq: int = 3,
) -> DataFrame:
    """Corpus-frequency line dedup — the RefinedWeb/CCNet 'line-wise
    correction' (Penedo et al. 2023 §dedup; CCNet's hashed-paragraph
    dedup): a ``\\n``-separated line occurring in ``min_doc_freq``+
    DISTINCT documents is boilerplate (nav bars, cookie banners,
    footers) and is stripped from EVERY document; lines below the
    threshold survive in original order. Unlike
    :func:`global_sentence_dedup` (keep-first), this is
    frequency-thresholded: a repeated line vanishes from all its
    hosts, including the first.

    Scale shape: lines shuffle as (md5 digest, id) pairs — 32-byte
    keys, never line text — for the distinct-doc count (one digest
    groupBy over a pre-distinct); the hot-digest set that comes back
    is the DISTINCT boilerplate vocabulary (tiny vs the corpus — AQE
    broadcasts the join in practice); reassembly is one groupBy(id)
    array_sort fold. Exact line identity (no normalization): the
    boilerplate this removes is byte-identical template output.

    Returns (id, clean_text, n_removed, n_total)."""
    lines = _explode_units(df, text_col, id_col, "\n", "line", F.md5)
    freq = (
        lines.select("_k", "id")
        .distinct()
        .groupBy("_k")
        .agg(F.count("*").alias("_df"))
    )
    hot = freq.filter(F.col("_df") >= min_doc_freq).select("_k")
    kept = lines.join(hot, "_k", "left_anti")
    return _rebuild_units(lines, kept, "line", "\n").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        "n_total",
    )


_SIMHASH_BITS = 32


def banded_hamming_pairs(
    fps: DataFrame, max_hamming: int, n_blocks: int | None = None
) -> DataFrame:
    """Pairs of (id, fp) rows of 32-bit fingerprints within Hamming
    distance ``max_hamming``, via block banding with PERFECT recall
    (Charikar/Manku pigeonhole).

    Default (``n_blocks = max_hamming+1``): a pair with ≤
    ``max_hamming`` differing bits spread over ``max_hamming+1``
    disjoint blocks must agree exactly on ≥ 1 block, so the
    per-(block_idx, block_value) equi-join recalls every true pair —
    a fixed block count under-recalls silently (round-1 verdict
    item 2).

    Multi-probe (``n_blocks > max_hamming+1``, the Manku WWW'07
    table scheme): the ≤ ``max_hamming`` differing bits hit at most
    ``max_hamming`` of the ``n_blocks`` blocks, so the pair agrees on
    some (``n_blocks − max_hamming``)-subset of blocks — joining on
    every such subset's concatenated value (hashed to one 64-bit key;
    equal values always collide, so recall is still perfect — hash
    collisions only add candidates, which the exact ``bit_count``
    filter removes) trades C(n_blocks, max_hamming) keys per row for
    MUCH wider effective keys. E.g. h=3: the default joins on 8-bit
    keys (buckets of N/2^8 — quadratic pain at scale); n_blocks=8
    joins 56 keys of ~20 effective bits (buckets of N/2^20). Use the
    default for small/medium corpora where per-row fan-out dominates;
    raise n_blocks when bucket sizes do. Keep C(n_blocks, max_hamming)
    modest (≲ 64): hundreds of key structs overflow the
    whole-stage-codegen method-size limit and the explode falls back
    to interpreted evaluation (correct, slower — measured at
    C(10,6)=210).

    Shuffles only small block keys; the final ``bit_count`` filter
    keeps precision exact. Returns (id_a, id_b, hamming) with
    id_a < id_b.
    """
    n_bits = _SIMHASH_BITS
    if not 0 <= max_hamming <= n_bits - 1:
        raise ValueError(
            f"max_hamming must be in [0, {n_bits - 1}], got {max_hamming}"
        )
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if not max_hamming + 1 <= n_blocks <= n_bits:
        raise ValueError(
            f"n_blocks must be in [{max_hamming + 1}, {n_bits}], got {n_blocks}"
        )
    # nearly-equal contiguous bit spans covering all n_bits bits
    bounds = [round(i * n_bits / n_blocks) for i in range(n_blocks + 1)]
    block_exprs = [
        F.shiftrightunsigned("fp", bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(n_blocks)
    ]
    if n_blocks == max_hamming + 1:
        keys = [
            F.struct(F.lit(i).alias("blk"), block_exprs[i].cast("long").alias("val"))
            for i in range(n_blocks)
        ]
    else:
        from itertools import combinations

        subsets = list(combinations(range(n_blocks), n_blocks - max_hamming))
        keys = [
            F.struct(
                F.lit(ci).alias("blk"),
                F.xxhash64(F.lit(ci), *[block_exprs[i] for i in subset]).alias("val"),
            )
            for ci, subset in enumerate(subsets)
        ]
    blocks = fps.select(
        "id",
        "fp",
        F.explode(F.array(*keys)).alias("b"),
    ).select("id", "fp", "b.blk", "b.val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(b, on=["blk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups_md5(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs over the 32-bit md5 family — every stage
    (fingerprint AND pair set) is reproducible bit-for-bit in ANSI SQL
    (q51's oracle brute-forces the pairs; recall equality is exactly
    what the banding guarantees). ``n_blocks`` > max_hamming+1 enables
    the multi-probe banding for huge corpora (see
    :func:`banded_hamming_pairs`)."""
    return banded_hamming_pairs(
        simhash32_md5(df, text_col, id_col), max_hamming, n_blocks
    )


# row bound of embedding_near_dups' all-pairs (un-bucketed) self-join
_MAX_UNBUCKETED_ROWS = 10_000


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ threshold), as
    (id_a < id_b, cosine rounded to 6 places).

    With ``bucket_col`` (e.g. an IVF/LSH bucket or a label) the
    self-join is restricted per bucket — the scale path. Without, it
    is ALL-PAIRS, so the call fails fast (ValueError) when the input
    exceeds ``_MAX_UNBUCKETED_ROWS`` (10^4; one count job) — fail,
    don't melt: a 10^6 row corpus reaching the quadratic join would be
    a 10^12-row shuffle, not a slow query. Pass a bucket column.

    One exchange on the bucket key, then a per-bucket
    ``applyInPandas`` computes the bucket's whole cosine matrix as ONE
    numpy/BLAS ``M @ M.T`` (measured ~5-10× over the interpreted
    per-pair HOF fold on q69's edge generation). Per-bucket memory is
    O(bucket²) doubles, so keep buckets ≤ ~10^4 rows (the LSH/IVF
    bucketing this operator expects already does). Python returns the
    raw cosine of every pair within 1e-6 below ``threshold``; the JVM
    then rounds half-up to 6 places and applies the threshold, exactly
    as the Spark and DuckDB oracles do. BLAS may sum in a different
    order than a sequential fold; the round-6 output matches
    :func:`_embedding_near_dups_expr` on the gate fixture by test."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    if bucket_col is None:
        n = df.count()
        if n > _MAX_UNBUCKETED_ROWS:
            raise ValueError(
                f"embedding_near_dups without bucket_col is an all-pairs "
                f"self-join: input has {n} rows > {_MAX_UNBUCKETED_ROWS} "
                f"(~{n * n:,} candidate pairs). Pass bucket_col (IVF/LSH "
                "bucket)."
            )
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    # a superset of the pairs whose half-up round-6 cosine reaches threshold
    floor = threshold - 1e-6

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        nrm = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(pdf), k=1)
        keep = cos[iu, ju] >= floor
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo = np.minimum(ia, jb)
        hi = np.maximum(ia, jb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[iu, ju][keep]})

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        *( [F.col(bucket_col).alias("_bkt")] if bucket_col else [F.lit(0).alias("_bkt")] ),
    )
    return (
        base.groupBy("_bkt")
        .applyInPandas(bucket_pairs, out_schema)
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
    )


def _embedding_near_dups_expr(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    bucket_col: str | None = None,
) -> DataFrame:
    """Test reference for :func:`embedding_near_dups`, with no
    production caller: the bucket-restricted self-join with the cosine
    as a zip_with+aggregate JVM expression, summed in the same
    sequential order as the DuckDB oracles. No row guard."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        norm.alias("nrm"),
        *( [F.col(bucket_col).alias("bkt")] if bucket_col else [F.lit(0).alias("bkt")] ),
    )
    a = base.alias("a")
    b = base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, on="bkt")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """APPLY ExactSubstr dedup: cut the duplicated token intervals out
    of each document — the step after :func:`duplicate_spans` locates
    them (Lee et al. 2022 remove the duplicated substring from all
    but one occurrence; this removes every located span — pass spans
    filtered to the occurrences you want cut, e.g. anti-joined
    against a keeper per digest, for the keep-one policy).

    Coordinates are the NORMALIZED token positions duplicate_spans
    emits (0-based, span_end inclusive, over normalize_text tokens),
    so the returned ``clean_text`` is normalized tokens re-joined
    with single spaces. Scale shape — ONE corpus scan: the caller's
    span set is first merged per doc into disjoint intervals (a
    window over the spans table only — spans ≪ corpus) and folded
    into one interval-array row per doc. That skinny directory
    left-joins the corpus with no broadcast hint: it grows with the
    corpus, so AQE picks broadcast (zero corpus-side exchanges) or a
    shuffle join from its runtime size. The cut is a per-row
    positional ``filter`` over the token array (a token survives iff
    no interval covers its index) re-joined in place — order is
    positional by construction, so no sort is ever needed. The
    r1–r6 shape (token posexplode → range join → groupBy(id) with
    array_sort(collect_list(...)) reassembly) moved every token
    through an exchange and a per-doc sort; measured 2.6 s → 0.9 s
    for the q80 cut step at sf1.0 (guide §2.4: remove shuffles
    outright). Docs with every token covered return
    ``clean_text = ''``; docs with no spans pass through normalized.

    Returns (id, clean_text, n_tokens_kept, n_tokens_removed).
    """
    sp = spans.select(
        F.col("id").alias("s_id"),
        F.col("span_start").alias("s0"),
        F.col("span_end").alias("s1"),
    )
    w_sp = Window.partitionBy("s_id").orderBy("s0", "s1")
    prev_end = F.max("s1").over(w_sp.rowsBetween(Window.unboundedPreceding, -1))
    sp = (
        sp.withColumn(
            "_brk", F.coalesce((F.col("s0") > prev_end).cast("int"), F.lit(1))
        )
        .withColumn(
            "_g",
            F.sum("_brk").over(
                w_sp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("s_id", "_g")
        .agg(F.min("s0").alias("s0"), F.max("s1").alias("s1"))
        .groupBy("s_id")
        .agg(F.collect_list(F.struct("s0", "s1")).alias("_iv"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_t"),
    )
    joined = base.join(sp, base["id"] == sp["s_id"], "left").select(
        "id", "_t", F.coalesce(F.col("_iv"), F.array()).alias("_iv")
    )
    covered = lambda i: F.exists(
        F.col("_iv"), lambda s: (i >= s["s0"]) & (i <= s["s1"])
    )
    kept = F.filter(F.col("_t"), lambda x, i: ~covered(i))
    out = joined.select(
        "id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.when(F.col("_t").isNull(), F.lit(0))
        .otherwise(F.size(kept))
        .cast("long")
        .alias("n_tokens_kept"),
        F.when(F.col("_t").isNull(), F.lit(0))
        .otherwise(F.size("_t"))
        .cast("long")
        .alias("_n"),
    )
    return out.select(
        "id",
        "clean_text",
        "n_tokens_kept",
        (F.col("_n") - F.col("n_tokens_kept")).cast("long").alias(
            "n_tokens_removed"
        ),
    )


def simhash32_md5(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash over the md5 hash family — engine-portable (the
    per-token hash is the first 8 hex chars of md5, so a SQL oracle
    can reproduce the fingerprint bit-for-bit; see q58). Explode the
    distinct tokens, hash each, let every bit vote ±1 in ONE
    groupBy(id) of 32 conditional sums, and set the bits with positive
    vote sums. Returns (id, fp). One shuffle on the id; a
    single-expression fold (``transform`` + ``aggregate`` per bit)
    builds a lambda tree whose compile time blows up (measured 25 s on
    300 docs)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("id", fp.alias("fp"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round over canonically-oriented edges (a > b):
    for each node u, attach every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Output keeps the (big, small) orientation."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), m.alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: key each edge by its larger endpoint u
    (so Γ(u) holds only smaller nodes), then point u and all of Γ(u)
    except the minimum at min(Γ(u))."""
    mins = e.groupBy("a").agg(F.min("b").alias("mn"))
    relinked = (
        e.join(mins, "a")
        .filter(F.col("b") != F.col("mn"))
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
    )
    anchors = mins.select(F.col("a"), F.col("mn").alias("b"))
    return relinked.unionByName(anchors).distinct()


# connected_components: star-loop iteration bound, and the canonical
# edge count up to which the driver's union-find runs instead
_CC_MAX_ITERATIONS = 20
_CC_DRIVER_THRESHOLD = 100_000


def connected_components(edges: DataFrame) -> DataFrame:
    """Near-dup (id_a, id_b) pair edges → clusters: (id, component)
    where component is the MIN id in the connected component — the
    fuzzy-dedup capstone (keep the row with id == component, drop the
    rest).

    Alternating large-star/small-star (the two-phase MapReduce
    connected-components scheme of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each iteration is
    two groupBy-min + co-partitioned join-back rounds over the edge
    set, and the edge set contracts toward a star forest pointing at
    each component's minimum in O(log n) iterations — vs
    graph-DIAMETER iterations for plain min-label propagation (a
    10^6-long chain converges in ~20 rounds, not 10^6). Lineage is
    truncated per iteration with localCheckpoint (use reliable
    checkpoint() on a real cluster for fault tolerance); nothing is
    ever collected to the driver. Convergence is detected from a
    (count, xor-of-edge-hashes) signature over the already-
    materialized iterate — no recomputation — and then CONFIRMED with
    one exact set-difference check, so a 2^-64 signature collision
    costs an extra iteration rather than a wrong answer.

    Vertices are edge-induced; callers union isolated ids as their own
    components if needed. Raises if not converged within
    ``_CC_MAX_ITERATIONS`` (20) iterations.

    Small graphs take a driver-side union-find fast path: the
    canonical edge count comes for free from the first signature
    aggregate, and up to ``_CC_DRIVER_THRESHOLD`` (10^5) edges
    (bounded driver memory — ~tens of MB) the distributed loop is pure
    scheduling overhead (measured 9 s for a 391-edge graph at 32
    shuffle partitions vs milliseconds of union-find). Near-dup
    graphs at 100-TB scale blow past the threshold and run the star
    loop.
    """
    e = (
        edges.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("a"),
            F.least(F.col("id_a"), F.col("id_b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def signature(d: DataFrame):
        row = d.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("x"),
        ).collect()[0]
        return row["n"], row["x"]

    sig = signature(e)

    if sig[0] <= _CC_DRIVER_THRESHOLD:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in e.collect():
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by VALUE (smaller root wins) — the final root
                # of every set is therefore its minimum member, the
                # same component label the star loop produces
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        id_type = e.schema["a"].dataType
        out_schema = T.StructType(
            [
                T.StructField("id", id_type, False),
                T.StructField("component", id_type, False),
            ]
        )
        return e.sparkSession.createDataFrame(
            [(k, find(k)) for k in parent], out_schema
        )

    for _ in range(_CC_MAX_ITERATIONS):
        new_e = _small_star(_large_star(e)).localCheckpoint()
        new_sig = signature(new_e)
        if new_sig == sig:
            # exact confirmation over the two materialized iterates
            if new_e.exceptAll(e).limit(1).count() == 0:
                e = new_e
                break
        sig = new_sig
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ITERATIONS} iterations"
        )
    # fixpoint edges are (member, component-min) stars; the minima
    # themselves label their own component
    members = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("id"), F.col("b").alias("component")).distinct()
    return members.unionByName(roots)
