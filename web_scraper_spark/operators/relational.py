"""Relational operator patterns (SURVEY.md §2.3-§2.7).

Each function is a DataFrame→DataFrame transformation built purely from
built-in expressions so Catalyst plans it (no Python in the data path).
Scale notes are in each docstring — these run on 100 TB inputs, so the
shuffle structure is the design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    boundaries: DataFrame,
    key: str,
    probe_ts: str,
    boundary_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join (J2 analog: assign each transcript line the last
    chapter whose start_time <= t, contxt/youtube_handler.py:72-113).

    Implemented as union + window ``last(ignorenulls)`` rather than a
    range join: one shuffle on ``key``, no O(n·m) interval explosion,
    and AQE can still split skewed keys. Rows of ``probe`` get, for
    each value column ``v``, ``asof_v`` = value from the most recent
    boundary at-or-before the probe timestamp (a backward as-of join;
    forward and nearest are not implemented).

    Boundary-vs-probe ordering at equal timestamps: boundaries sort
    first, so a boundary exactly at the probe time wins (the
    reference's ``>=`` cursor advance).
    """
    b = boundaries.select(
        F.col(key).alias(key),
        F.col(boundary_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(v).alias(f"_b_{v}") for v in value_cols],
        *[
            F.lit(None).cast(probe.schema[c].dataType).alias(f"_p_{c}")
            for c in probe.columns
        ],
    )
    p = probe.select(
        F.col(key).alias(key),
        F.col(probe_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(boundaries.schema[v].dataType).alias(f"_b_{v}") for v in value_cols],
        *[F.col(c).alias(f"_p_{c}") for c in probe.columns],
    )
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = b.unionByName(p).select(
        "*",
        *[
            F.last(f"_b_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ],
    )
    out = joined.filter(F.col("_side") == 1).select(
        *[F.col(f"_p_{c}").alias(c) for c in probe.columns],
        *[F.col(f"asof_{v}") for v in value_cols],
    )
    return out


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """W1/L1/L2: deterministic per-group top-k via ``row_number``
    (contxt/youtube_handler.py:151-156 top-30 comments;
    :167-171 playlistend cap). Callers must include a unique
    tie-breaker in ``order_by`` for determinism. The 1-based position
    lands in a ``rank`` column.

    One shuffle on the group key. At 100 TB, prefer this over
    ``orderBy().limit()`` per group — Spark plans a single hash
    exchange + in-partition sort, and AQE handles group skew.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def first_seen_dedup(
    df: DataFrame, dedup_cols: list[str], order_by: list[Column]
) -> DataFrame:
    """A5/SO1: global first-occurrence dedup (reference's
    seen-set over <li> text, contxt/scraper.py:345-363) —
    ``row_number() == 1`` over (dedup key, arrival order)."""
    w = Window.partitionBy(*dedup_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def collision_numbering(
    df: DataFrame, key_col: str, order_by: list[Column], out_col: str = "final_name"
) -> DataFrame:
    """W5/S11: filename-collision suffixing ``_1, _2, …``
    (contxt/outputs.py:130-135) as a window — the reference's
    filesystem-existence loop becomes a pure function of the batch."""
    w = Window.partitionBy(key_col).orderBy(*order_by)
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col,
        F.when(rn == 1, F.col(key_col)).otherwise(
            F.concat(F.col(key_col), F.lit("_"), (rn - 1).cast("string"))
        ),
    )


def combined_document(
    df: DataFrame, content_col: str, order_by: list[Column]
) -> DataFrame:
    """A7: combine-documents fold with the reference's separator quirk
    (Q6): ``"\\n\\n" + "="*50 + "\\n\\n".join(contents)`` — the ruler
    appears once, then plain blank-line joins (contxt/cli.py:316-318).
    Single-row result. Ordering is made shuffle-safe by collecting
    (order-key, content) structs and ``array_sort``-ing before the
    fold — ``collect_list`` order is otherwise nondeterministic across
    partial aggregation."""
    pairs = df.select(F.struct(*order_by, F.col(content_col).alias("_c")).alias("_s"))
    return pairs.agg(
        F.concat(
            F.lit("\n\n" + "=" * 50),
            F.concat_ws(
                "\n\n",
                F.transform(F.array_sort(F.collect_list("_s")), lambda s: s["_c"]),
            ),
        ).alias("combined")
    )


def global_running_total(
    df: DataFrame, order_col: str, value_col: str, block_size: int = 100_000
) -> DataFrame:
    """Deterministic, SCALABLE global prefix sum: for each row, the
    sum of ``value_col`` over all rows strictly before it in
    ``order_col`` order (non-negative integer keys).

    A bare ``Window.orderBy(...)`` computes this in ONE task — a
    100-TB non-starter. Instead: rows bucket into key-range blocks
    (``order_col div block_size`` — deterministic, unlike sampled
    range partitioning), the within-block cumsum is a partitioned
    window, and the cross-block offsets come from a window over the
    BLOCK TOTALS only (tiny — that single-task window touches
    n_blocks rows, not the data) broadcast back onto the rows.
    Adds ``running_before``.

    CONTRACT: ``order_col`` values must be UNIQUE non-negative
    integers — they ARE the global order, and the within-block ROWS
    window has no other tie-breaker, so duplicate keys would make
    "strictly before" nondeterministic. Hash-derived 64-bit ids
    (e.g. the frontier's stable-hash seq) satisfy this. The block id
    uses SQL ``div`` (exact integer division, stays in long): the
    earlier ``floor(col / lit)`` form went through DOUBLE, which
    silently mis-blocks keys above 2^53."""
    with_blk = df.withColumn(
        "_blk", F.expr(f"cast((`{order_col}` div {int(block_size)}) as bigint)")
    )
    w_in = (
        Window.partitionBy("_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = with_blk.groupBy("_blk").agg(F.sum(value_col).alias("_t"))
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.select(
        "_blk", F.coalesce(F.sum("_t").over(w_blk), F.lit(0)).alias("_prefix")
    )
    return (
        with_blk.withColumn(
            "_within", F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
        )
        .join(F.broadcast(prefix), "_blk")
        .withColumn("running_before", (F.col("_prefix") + F.col("_within")).cast("long"))
        .drop("_blk", "_within", "_prefix")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    block_size: int = 100_000,
) -> DataFrame:
    """Sequence packing for LM training-batch assembly: documents in
    deterministic ``id_col`` order are laid head-to-tail into one
    token stream, and each document's bin is the ``capacity``-token
    sequence where its FIRST token lands (documents may straddle
    boundaries — the standard concat-then-split packing). Built on
    :func:`global_running_total`, so it distributes; same rows at any
    parallelism. ``id_col`` must hold UNIQUE non-negative integers
    (see :func:`global_running_total`'s contract).
    Returns (id, n_tokens, stream_offset, bin_id)."""
    r = global_running_total(df, id_col, tokens_col, block_size)
    return r.select(
        F.col(id_col),
        F.col(tokens_col),
        F.col("running_before").alias("stream_offset"),
        F.expr(f"cast((running_before div {int(capacity)}) as bigint)").alias("bin_id"),
    )


def _ppm_bucket(key_col: str, salt: str):
    """md5-derived bucket in [0, 10^6) — the shared sampling hash of
    :func:`deterministic_sample` / :func:`stratified_hash_sample`
    (identical salt+key ⇒ identical bucket, so per-stratum rates nest:
    a 10% sample is a subset of a 50% sample of the same salt)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )


def deterministic_sample(df: DataFrame, key_col: str, rate_ppm: int) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5-derived bucket
    (out of 10^6) falls below ``rate_ppm``. This — not rand() — is how
    a 100 TB corpus gets subsampled reproducibly: the same rows are
    selected at any parallelism, on any engine, across reruns, and
    non-overlapping bucket ranges give disjoint folds. Pure expression
    (no shuffle, no RNG state); the q67 oracle recomputes the buckets
    bit-for-bit in SQL. Its salt, ``"sample"``, is the one
    :func:`stratified_hash_sample` uses, so the two nest."""
    return df.filter(_ppm_bucket(key_col, "sample") < rate_ppm)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_ppm: dict,
    default_ppm: int = 0,
) -> DataFrame:
    """Per-stratum deterministic hash sampling — corpus rebalancing
    (downsample the dominant language, keep low-resource strata
    whole): a row is kept iff its md5 bucket (out of 10^6) falls below
    its stratum's ppm rate. The rate lookup is a pure CASE expression
    (no join, no shuffle), and the bucket is shared with
    :func:`deterministic_sample` (same salt), so samples at
    different rates nest.
    Same reproducibility contract: identical rows at any parallelism,
    on any engine, across reruns."""
    rate = None
    for k, v in sorted(rates_ppm.items()):
        cond = F.col(strata_col) == k
        rate = F.when(cond, F.lit(v)) if rate is None else rate.when(cond, F.lit(v))
    rate = F.lit(default_ppm) if rate is None else rate.otherwise(F.lit(default_ppm))
    return df.filter(_ppm_bucket(key_col, "sample") < rate)


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict,
) -> DataFrame:
    """Deterministic train/val/test fold assignment: each row's fold
    is decided by which DISJOINT ppm range its md5 bucket falls into
    (ranges laid out in sorted fold-name order). Pure expression — no
    shuffle, no RNG; the same row lands in the same fold at any
    parallelism, on any engine, across reruns, and folds are exactly
    disjoint by construction (a row can never appear in two folds,
    the failure mode of per-fold independent sampling). Fractions
    must sum to ≤ 1.0; any remainder gets fold NULL (drop or treat as
    holdout). Uses the same bucket function as
    :func:`deterministic_sample` (under its own salt ``"split"``, so
    splits are independent of sampling decisions)."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1.0")
    bucket = _ppm_bucket(key_col, "split")
    lo = 0
    expr = None
    for name, frac in sorted(fractions.items()):
        hi = lo + int(round(frac * 1_000_000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    expr = expr.otherwise(F.lit(None).cast("string"))
    return df.withColumn("fold", expr)


def take_token_budget(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    block_size: int = 100_000,
) -> DataFrame:
    """Deterministic token-budget truncation: keep documents, in
    ``id_col`` order, until the running token total reaches
    ``budget`` — "the first N-token slice of the corpus", the shape a
    fixed-budget training run or a proportional data-mixture recipe
    needs. A document is kept iff the tokens BEFORE it fit strictly
    inside the budget (so the boundary doc that crosses the budget is
    the last one kept, matching concat-then-truncate semantics).
    Built on :func:`global_running_total` — distributes, same rows at
    any parallelism; ``id_col`` must satisfy its unique-key contract.
    For an unbiased random slice rather than a prefix, hash-order ids
    first (e.g. xxhash64 of the natural key)."""
    r = global_running_total(df, id_col, tokens_col, block_size)
    return r.filter(F.col("running_before") < budget).drop("running_before")


def domain_cap_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    cap_share_ppm: int,
) -> DataFrame:
    """Domain balancing (the RefinedWeb/C4 curation step): no single
    domain may exceed ``cap_share_ppm``/10^6 of the corpus — hot
    domains are deterministically downsampled to the cap, everything
    else passes whole. Per-domain keep rate = min(10^6,
    cap_share_ppm * N DIV n_domain) applied through the shared ppm
    bucket under the salt ``"domcap"``, so the kept set is
    reproducible at any parallelism. Targets are
    computed against the pre-cap total N (no fixpoint iteration —
    the documented, replayable rule). Scale shape: one partial-agg
    shuffle on domain for counts (tiny output), a 1-row total
    broadcast, and the rate join back on domain — AQE broadcasts it
    while the domain table fits and falls back to a sort-merge join
    (with skew split on exactly the hot domains being capped) when it
    doesn't. The integer arithmetic is exact to N ≈ 9e12 even at
    cap 10^6."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n_d"))
    total = counts.agg(F.sum("_n_d").alias("_n"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        domain_col,
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(f"CAST({cap_share_ppm} AS BIGINT) * _n DIV _n_d"),
        ).alias("_rate_ppm"),
    )
    return (
        df.join(rates, domain_col)
        .filter(_ppm_bucket(key_col, "domcap") < F.col("_rate_ppm"))
        .drop("_rate_ppm")
    )
