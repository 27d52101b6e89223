"""Text-analysis operators for training-data pipelines.

Language ID (stopword-profile heuristic), quality scoring
(length/punctuation/stopword ratios), token counting (whitespace and a
BPE-ish regex), and document fingerprinting (normalized-hash +
positional rolling hash). Everything is a Column expression —
JVM-side, shuffle-free, and oracle-checkable in ANSI SQL.

Token-count semantics extend the reference's two counters:
whitespace word count (contxt/scraper.py:533-534,624-625) and the
``len(text)//4`` estimator fallback (contxt/scraper.py:423-426).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small + deterministic; this is a heuristic operator, not
# a model. Scores are whole-word match counts.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "que", "por", "con"),
}


def _word_set_count(text: Column, words: tuple[str, ...]) -> Column:
    """Total whole-word occurrences of any word in ``words`` — ONE
    alternation scan instead of one regex pass per word (the scans
    were the q75/q13 profile cost: 8 passes per doc per language).
    Count-identical to the per-word sum: matches are whole tokens and
    a token equals at most one of the (distinct) words."""
    alt = "|".join(words)
    return F.regexp_count(F.lower(text), F.lit(rf"\b({alt})\b"))


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: _word_set_count(text, words)
        for lang, words in LANG_PROFILES.items()
    }


def detect_lang(text: Column) -> Column:
    """Argmax of stopword-profile scores; ties broken by language code
    order (deterministic); all-zero → ``"und"``."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_PROFILES)
        ]
    )
    best = F.array_min(pairs)  # struct compare: lowest neg = highest score
    return F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))


def whitespace_token_count(text: Column) -> Column:
    """A2/A3 semantics: ``len(text.split())`` — count of
    whitespace-separated words (contxt/scraper.py:533-534)."""
    t = F.trim(text)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate, routed through the pluggable
    tokenizer seam (functions/tokenizer.py — A4). With no real BPE
    library installed this compiles to the gpt2-style pretokenizer
    regex as a pure JVM expression; plugging tiktoken/minibpe swaps in
    the Arrow UDF path with no caller changes."""
    from ..functions.tokenizer import get_encoder, token_count_column

    return token_count_column(text, get_encoder("regex"))


def char_token_estimate(text: Column) -> Column:
    """Reference fallback estimator: len // 4 (contxt/scraper.py:426)."""
    return (F.length(text) / 4).cast("int")


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features: char/word counts, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    n_chars = F.length(text)
    n_words = whitespace_token_count(text)
    # counts via translate length-diffs instead of regex scans —
    # identical by construction to the ASCII classes Java regex uses
    # here (\w = [a-zA-Z0-9_], \s = [ \t\n\x0B\f\r], no unicode flag):
    # n_punct = chars surviving deletion of \w ∪ \s; n_upper = chars
    # deleted by removing A-Z. ~2x cheaper per scan than regexp_count.
    _word_space = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "0123456789_ \t\n\x0b\f\r"
    )
    _uppers = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    n_punct = F.length(F.translate(text, _word_space, ""))
    n_stop = _word_set_count(text, LANG_PROFILES["en"])
    n_upper = n_chars - F.length(F.translate(text, _uppers, ""))
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_words = F.greatest(n_words, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.round(n_chars.cast("double") / safe_words, 4),
        "punct_ratio": F.round(n_punct.cast("double") / safe_chars, 4),
        "stopword_ratio": F.round(n_stop.cast("double") / safe_words, 4),
        "upper_ratio": F.round(n_upper.cast("double") / safe_chars, 4),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: rewards mid-length documents and
    stopword presence, penalizes punctuation soup and shouting.
    Deterministic, monotone in each feature; thresholds are the
    C4/Gopher-style rules of thumb."""
    f = quality_features(text)
    length_ok = F.when((f["n_words"] >= 10) & (f["n_words"] <= 100000), 0.4).otherwise(0.0)
    stop_ok = F.when(f["stopword_ratio"] >= 0.01, 0.3).otherwise(0.0)
    punct_ok = F.when(f["punct_ratio"] <= 0.2, 0.2).otherwise(0.0)
    upper_ok = F.when(f["upper_ratio"] <= 0.3, 0.1).otherwise(0.0)
    return F.round(length_ok + stop_ok + punct_ok + upper_ok, 4)


# PII patterns shared by detection and redaction. Java regex and
# DuckDB's RE2 agree on this subset (\b, \d, {m,n} all portable).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII pattern counts (pretraining-scrub signal):
    emails, phone numbers, IPv4 literals. Pure Column expressions."""
    return {
        name: F.regexp_count(text, F.lit(pat)) for name, pat in PII_PATTERNS.items()
    }


def scrub_pii(text: Column) -> Column:
    """Redact PII in place: email → [EMAIL], phone → [PHONE],
    IPv4 → [IP]. Order matters — emails first so their host parts
    are not half-eaten by the ip pattern."""
    out = F.regexp_replace(text, PII_PATTERNS["email"], "[EMAIL]")
    out = F.regexp_replace(out, PII_PATTERNS["phone"], "[PHONE]")
    return F.regexp_replace(out, PII_PATTERNS["ip"], "[IP]")


_SCRIPT_CLASSES = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cjk": "[一-鿿]",
    "cyrillic": "[Ѐ-ӿ]",
}


def script_ratios(text: Column) -> dict[str, Column]:
    """Per-document writing-script composition — the multilingual
    routing signal a curation pipeline uses before language-specific
    filters: counts of Latin (incl. Latin-1/Extended letters), CJK
    unified ideographs, and Cyrillic characters, each as a fraction of
    the scripted characters, plus the dominant script (ties break
    latin > cjk > cyrillic, matching a fixed CASE order in the
    oracle). Pure Column expressions — shuffle-free."""
    counts = {
        name: F.regexp_count(text, F.lit(cls)) for name, cls in _SCRIPT_CLASSES.items()
    }
    denom = F.greatest(sum(counts.values(), F.lit(0)), F.lit(1))
    out: dict[str, Column] = {
        f"{name}_ratio": F.round(c / denom, 4) for name, c in counts.items()
    }
    out["dominant_script"] = (
        F.when(
            (counts["latin"] >= counts["cjk"]) & (counts["latin"] >= counts["cyrillic"]),
            F.lit("latin"),
        )
        .when(counts["cjk"] >= counts["cyrillic"], F.lit("cjk"))
        .otherwise(F.lit("cyrillic"))
    )
    return out


def duplicate_token_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: 1 − distinct/total over the
    normalized token stream (boilerplate and looped generations score
    high). Pure Column expression — shuffle-free."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return F.round((n - nd).cast("double") / n, 4)


def top_ngram_share(df, text_col: str, id_col: str, n: int = 2):
    """Gopher repetition rule: the occupancy share of the most
    frequent n-gram per document (max count / total count over raw,
    NON-distinct n-grams).

    Scalable form: explode → one groupBy on (id, gram) with map-side
    partial counts → per-id ratio. Documents with fewer than ``n``
    tokens produce no row (callers left-join and coalesce to 0.0).
    Returns (id, share)."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    size = F.size(toks)
    idx = F.sequence(F.lit(0), size - n)

    def gram(i):
        return F.concat_ws(" ", F.slice(toks, i + 1, n))

    grams = F.when(size >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )
    ex = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
    cnt = ex.groupBy("id", "g").agg(F.count("*").alias("c"))
    return cnt.groupBy("id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("share")
    )


def unigram_surprisal(df, text_col: str, id_col: str):
    """CCNet-style LM quality signal: mean per-token surprisal of each
    document against the CORPUS'S OWN unigram distribution — gibberish
    and rare-token soup score high, boilerplate scores low.

    Engine-portability trick: per-token surprisal is quantized to
    integer DECIBANS (round(−10·log10(count/total))) before summing —
    integer sums are order-independent, so the oracle hash-matches no
    matter how either engine schedules the aggregation.

    Scale shape: one explode + one (token) groupBy for the counts, a
    broadcast of the 1-row total, one (id) groupBy for the fold. The
    counts table is built FROM THE CORPUS, so its size is unbounded:
    at web scale the distinct-token tail runs to billions of rows and
    force-broadcasting it would OOM the driver long before the query
    is slow. The join strategy is therefore left to ADAPTIVE QUERY
    EXECUTION: the counts side is a post-shuffle aggregate whose REAL
    size AQE knows at runtime, so the tok⨝counts join is planned
    without a hint and AQE converts it to a broadcast join exactly
    when the actual counts table fits
    ``spark.sql.autoBroadcastJoinThreshold`` (bytes — the direct
    memory bound); above it the sort-merge join on ``tok`` stands,
    same results, with no extra pass over the corpus to measure it.
    Returns (id, n_tokens, mean_deciban)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.round(-10 * F.log10(F.col("c") / F.col("t"))).cast("int").alias("db"),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("db").cast("double") / F.count("*"), 4).alias("mean_deciban"),
    )


def bigram_surprisal(df, text_col: str, id_col: str):
    """Bigram extension of :func:`unigram_surprisal` — the CCNet-style
    LM-perplexity quality filter one order up: mean per-bigram
    surprisal of each document under the corpus's own bigram model
    P(r | l) = count(l, r) / count(l, ·). Repeated boilerplate scores
    near zero; token soup with no stable word order scores high — a
    sharper quality separator than the unigram model, which only sees
    vocabulary rarity.

    Same engine-portability trick as the unigram operator: per-bigram
    surprisal quantized to integer decibans before the per-doc sum,
    so aggregation order can't move the hash. Every corpus bigram has
    count ≥ 1 under its own model — no smoothing term is needed.

    Scale shape: one explode to bigram rows, two groupBys for the
    (l, r) and (l, ·) counts, then joins back. The bigram table grows
    faster than the vocabulary, so a forced broadcast would be even
    less safe than for the unigram operator: AQE broadcasts the count
    tables only when their runtime size fits
    ``spark.sql.autoBroadcastJoinThreshold``; above it both count
    joins shuffle on their token keys — the OOM-safe plan at web
    scale. Docs with < 2 tokens have no bigrams and report
    (0, 0.0). Returns (id, n_bigrams, mean_deciban)."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    n1 = F.greatest(F.size("t") - 1, F.lit(0))
    bg = (
        base.select(
            "id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, n1),
                    F.slice(F.col("t"), 2, n1),
                    lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                )
            ).alias("p"),
        )
        .select("id", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    )
    # r7: no dedicated size probe and no hints — the (l, r) counts
    # are a post-shuffle aggregate whose real size AQE reads at
    # runtime, converting both count joins to broadcast exactly when
    # they fit spark.sql.autoBroadcastJoinThreshold (the sort-merge
    # fallback on the token keys stands above it — the r1–r6 guard's
    # plan). The (l, ·) marginal is DERIVED from the bigram counts
    # (sum of c2 grouped by l == count of bigrams with that left
    # token; ReusedExchange shares the c2 shuffle) instead of
    # re-exploding the corpus — two full corpus passes removed
    # (guide §1.2/§2.4).
    c2 = bg.groupBy("l", "r").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("l").agg(F.sum("c2").alias("c1"))
    scored = (
        bg.join(c2, ["l", "r"])
        .join(c1, "l")
        .select(
            "id",
            F.round(-10 * F.log10(F.col("c2").cast("double") / F.col("c1")))
            .cast("int")
            .alias("db"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("db").cast("double") / F.count("*"), 4).alias("mean_deciban"),
    )
    return base.select("id").join(agg, "id", "left").select(
        "id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.col("mean_deciban"), F.lit(0.0)).alias("mean_deciban"),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the normalized text — the
    content-identity key used by exact dedup and the URL-seen family
    (reference analog: md5 content hash, contxt/scraper.py:464)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


#: fixed feature order for the linear quality model — the z-sum is
#: evaluated in THIS order on both engines (float addition is not
#: associative; a fixed order keeps the sigmoid argument bit-identical)
QUALITY_MODEL_FEATURES: tuple[str, ...] = (
    "mean_word_len",
    "punct_ratio",
    "stopword_ratio",
    "upper_ratio",
)

#: default hand-set model: rewards stopword-bearing prose, penalizes
#: punctuation soup and shouting (DCLM-style classifier inference
#: seam — swap in trained weights without touching the plan)
DEFAULT_QUALITY_WEIGHTS: dict[str, float] = {
    "mean_word_len": 0.1,
    "punct_ratio": -3.0,
    "stopword_ratio": 2.0,
    "upper_ratio": -1.5,
}


def linear_quality_score(
    text: Column,
    weights: dict[str, float] | None = None,
) -> Column:
    """Model-based quality filter inference (the DCLM/fineweb-edu
    pattern: a lightweight classifier scores every document and a
    threshold gates the corpus): sigmoid(0.5 + w·f) over the
    :func:`quality_features` ratio vector, as a pure Column
    expression — classifier inference at 100 TB is exactly a scan.

    Engine portability: the features are the ROUNDED ratios (4 dp,
    identical on both engines), the weighted sum is accumulated in
    the fixed ``QUALITY_MODEL_FEATURES`` order, and the sigmoid
    output is rounded to 6 dp. Returns a DOUBLE in [0, 1]."""
    w = dict(DEFAULT_QUALITY_WEIGHTS) if weights is None else weights
    unknown = set(w) - set(QUALITY_MODEL_FEATURES)
    if unknown:
        raise ValueError(f"unknown quality features: {sorted(unknown)}")
    f = quality_features(text)
    z = F.lit(0.5)
    for name in QUALITY_MODEL_FEATURES:
        if name in w:
            z = z + F.lit(float(w[name])) * f[name]
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def perplexity_buckets(
    df,
    text_col: str,
    id_col: str,
    n_buckets: int = 3,
    sample_ppm: int = 100_000,
    salt: str = "ppl",
    max_sample_rows: int = 2_000_000,
):
    """CCNet-style perplexity partitioning: split the corpus into
    head/middle/tail (or ``n_buckets`` generally) by LM surprisal —
    CCNet trains on the head, inspects the tail.

    Scale design: bucket THRESHOLDS come from a bounded DETERMINISTIC
    hash sample (``sample_ppm`` of :func:`unigram_surprisal` rows by
    the shared md5-ppm bucket of the id — same idiom as
    deterministic_sample), ranked with one row_number window over the
    sample ONLY (bounded rows — never a global sort of the corpus);
    the full corpus is then bucketed by comparing each row's
    (mean_deciban, id) key to the broadcast cutoffs — a pure
    expression scan. This is how quantile bucketing survives 100 TB:
    exact quantiles of a deterministic sample, not a total order over
    the data. Cutoff ranks are ``ceil(i·m/n)`` over the m sample rows;
    ties break by id, so the split is exact and engine-portable
    (the oracle replays sample, ranks, and comparisons in SQL).

    The sample bound is ENFORCED, not trusted: the cuts aggregation
    carries an ``assert_true(m <= max_sample_rows)`` guard (zero extra
    jobs — ``m`` is already computed there), so a misconfigured
    ``sample_ppm`` on a huge corpus fails fast instead of silently
    feeding an unbounded single-partition rank window.

    Returns (id, n_tokens, mean_deciban, bucket) with bucket in
    [1, n_buckets]; bucket 1 is the LOW-surprisal head."""
    from .relational import _ppm_bucket

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    s = unigram_surprisal(df, text_col, id_col)
    samp = s.filter(_ppm_bucket("id", salt) < sample_ppm)
    w = Window.orderBy("mean_deciban", "id")
    m_w = Window.partitionBy()
    ordered = samp.select(
        "id",
        "mean_deciban",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(m_w).alias("m"),
    )
    cut_aggs = [
        F.assert_true(
            F.max("m") <= F.lit(max_sample_rows),
            F.concat(
                F.lit(
                    "perplexity_buckets: deterministic sample has "
                ),
                F.max("m").cast("string"),
                F.lit(
                    f" rows > max_sample_rows={max_sample_rows}; lower"
                    " sample_ppm or raise max_sample_rows explicitly"
                ),
            ),
        ).alias("_guard")
    ]
    for i in range(1, n_buckets):
        rank_i = F.ceil(F.col("m") / F.lit(float(n_buckets)) * i).cast("long")
        hit = F.col("rn") == rank_i
        cut_aggs.append(
            F.max(F.when(hit, F.col("mean_deciban"))).alias(f"c{i}db")
        )
        cut_aggs.append(F.max(F.when(hit, F.col("id"))).alias(f"c{i}id"))
    cuts = ordered.agg(*cut_aggs)
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        above = (F.col("mean_deciban") > F.col(f"c{i}db")) | (
            (F.col("mean_deciban") == F.col(f"c{i}db"))
            & (F.col("id") > F.col(f"c{i}id"))
        )
        bucket = bucket + F.when(above, 1).otherwise(0)
    # referencing _guard (null when the assertion passes) keeps the
    # assert_true from being pruned as an unused aggregate column;
    # coalesce(null, 0) leaves bucket unchanged
    guard_zero = F.coalesce(F.col("_guard").cast("int"), F.lit(0))
    return s.crossJoin(F.broadcast(cuts)).select(
        "id",
        "n_tokens",
        "mean_deciban",
        (bucket + guard_zero).cast("int").alias("bucket"),
    )


def chunk_tokens(
    df,
    text_col: str,
    id_col: str,
    chunk_size: int,
    stride: int | None = None,
):
    """Context-window chunking: split each document's normalized
    token stream into ``chunk_size``-token windows starting every
    ``stride`` tokens (``stride`` defaults to ``chunk_size`` —
    disjoint; smaller gives the standard overlapped training chunks)
    for as long as the start is inside the document. The last chunk
    is the remainder (short), matching the usual LM data-prep rule.

    Pure per-row expression (sequence → posexplode → slice): no
    shuffle, no UDF — chunking 100 TB is one scan. Returns
    (id, chunk_idx, chunk_text, n_tokens)."""
    if stride is None:
        stride = chunk_size
    if chunk_size < 1 or stride < 1:
        raise ValueError(
            f"chunk_size and stride must be >= 1, got {chunk_size}, {stride}"
        )
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    n = F.size("t")
    n_chunks = F.ceil(n / F.lit(float(stride))).cast("int")
    idxs = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    piece = F.slice(
        F.col("t"), F.col("chunk_idx") * stride + 1, chunk_size
    )
    return (
        base.select("id", "t", F.explode(idxs).alias("chunk_idx"))
        .select(
            "id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", piece).alias("chunk_text"),
            F.size(piece).cast("long").alias("n_tokens"),
        )
    )


def repetition_signals(
    df,
    text_col: str,
    id_col: str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
):
    """The full Gopher repetition-filter signal suite (Rae et al. 2021
    §A1.1, the rules Dolma/FineWeb/datatrove re-implement): per
    document —

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of
      non-empty ``\\n``-lines (and of their characters) occurring 2+
      times within the document;
    - ``dup_para_frac`` / ``dup_para_char_frac``: same over
      ``\\n\\n``-paragraphs;
    - ``top{n}_char_frac`` (n in ``top_ns``): characters covered by
      the MOST frequent word n-gram over the normalized token stream
      (count × gram length / normalized length), most-frequent chosen
      by the (count, gram length, gram) struct max;
    - ``dup{n}_char_frac`` (n in ``dup_ns``): characters covered by
      ALL n-grams occurring 2+ times (Σ count·len over duplicated
      distinct grams / normalized length, capped at 1.0 — the
      overlap-unaware upper bound; documented rule, oracled exactly).

    Line/paragraph rules run over the RAW text (normalization would
    destroy the line structure); n-gram rules run over the same
    lowercased whitespace-collapsed stream as the other Gopher ops.

    Scale shape: ENTIRELY per-row Column expressions — zero
    exchanges, zero UDFs at any corpus size (the signals are
    document-local; the plan is scan → project). N-gram counting is a
    run-length fold over the sorted gram array — O(G log G) per
    document per n, no distinct×scan quadratic; line/paragraph
    counting stays the direct O(U²) scan (U is tiny). Returns
    (id, <all signal columns>), one row per input document, all
    fractions rounded to 6."""
    # All signals are built as SQL expression STRINGS (one F.expr per
    # output column): the first cut composed them from pyspark Column
    # calls and spent 2.6-5 s per job just constructing the tree over
    # py4j (execution itself was 0.3-1 s). Same semantics, pinned by
    # the same hand-value tests.
    t = text_col
    norm = f"trim(regexp_replace(lower({t}), '\\\\s+', ' '))"
    toks = f"split({norm}, ' ')"
    nc = f"length({norm})"

    def seg_sql(sep):
        units = f"filter(split({t}, '{sep}', -1), s -> s != '')"
        dup = f"filter({units}, x -> size(filter({units}, y -> y = x)) >= 2)"
        chars = "aggregate({a}, cast(0 as bigint), (acc, x) -> acc + length(x))"
        frac = (
            f"round(if(size({units}) > 0, "
            f"cast(size({dup}) as double) / size({units}), 0.0), 6)"
        )
        cfrac = (
            f"round(if({chars.format(a=units)} > 0, "
            f"cast({chars.format(a=dup)} as double) / {chars.format(a=units)}, "
            f"0.0), 6)"
        )
        return frac, cfrac

    def fold_sql(n):
        grams = (
            f"if(size({toks}) >= {n}, "
            f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))), "
            f"cast(array() as array<string>))"
        )
        fin_best = (
            "(case when acc.r >= 1 then greatest(acc.b, named_struct("
            "'c', acc.r, 'l', cast(length(acc.p) as int), 'g', acc.p)) "
            "else acc.b end)"
        )
        fin_cov = (
            "(acc.v + case when acc.r >= 2 then "
            "cast(acc.r * length(acc.p) as bigint) "
            "else cast(0 as bigint) end)"
        )
        return (
            f"aggregate(array_sort({grams}), "
            "named_struct('p', '', 'r', 0, "
            "'b', named_struct('c', -1, 'l', 0, 'g', ''), "
            "'v', cast(0 as bigint)), "
            "(acc, x) -> case when x = acc.p then "
            "named_struct('p', acc.p, 'r', acc.r + 1, 'b', acc.b, 'v', acc.v) "
            f"else named_struct('p', x, 'r', 1, 'b', {fin_best}, "
            f"'v', {fin_cov}) end, "
            f"acc -> named_struct('b', {fin_best}, 'v', {fin_cov}))"
        )

    line_f, line_cf = seg_sql("\\n")
    para_f, para_cf = seg_sql("\\n\\n")
    inter = [
        F.col(id_col).alias("id"),
        F.expr(nc).alias("_nc"),
        F.expr(line_f).alias("dup_line_frac"),
        F.expr(line_cf).alias("dup_line_char_frac"),
        F.expr(para_f).alias("dup_para_frac"),
        F.expr(para_cf).alias("dup_para_char_frac"),
    ]
    for n in sorted(set(top_ns) | set(dup_ns)):
        inter.append(F.expr(fold_sql(n)).alias(f"_f{n}"))
    mid = df.select(*inter)
    out = [
        "id", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
    ]
    for n in top_ns:
        out.append(
            F.expr(
                f"round(if(_nc > 0 and _f{n}.b.c > 0, "
                f"cast(_f{n}.b.c * _f{n}.b.l as double) / _nc, 0.0), 6)"
            ).alias(f"top{n}_char_frac")
        )
    for n in dup_ns:
        out.append(
            F.expr(
                f"round(if(_nc > 0, "
                f"least(cast(_f{n}.v as double) / _nc, 1.0), 0.0), 6)"
            ).alias(f"dup{n}_char_frac")
        )
    return mid.select(*out)
