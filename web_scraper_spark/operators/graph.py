"""Link-graph operators for crawl prioritization.

A URL frontier at 10^10 scale cannot fetch everything first-come:
the scheduler wants a host-authority signal (which hosts does the
already-crawled web point at?) to order the priority queue. This
module provides an integer-exact PageRank over an edge DataFrame —
the classic authority score, engineered for engine portability the
same way the dedup family is: ALL arithmetic is integer (micros
scale, ``div`` floor division), so sums are order-independent and a
SQL oracle reproduces every rank bit-for-bit. Floating-point
PageRank would drift across aggregation schedules and engines;
integer PageRank cannot.

Reference analog: none — the reference crawls breadth-first within
one site (contxt/scraper.py's queue). This is the beyond-reference
scale feature: cross-host frontier prioritization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rank unit: 1.0 == 1_000_000 micros
_UNIT = 1_000_000

#: PageRank cuts its rank lineage with localCheckpoint every this many
#: iterations
_CHECKPOINT_EVERY = 4


def integer_pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping_pct: int = 85,
) -> DataFrame:
    """Unnormalized PageRank with exact integer arithmetic.

    Semantics (fixed, engine-portable):
    - edges are deduplicated (distinct (src, dst));
    - every node (union of srcs and dsts) starts at 1.0 ( = 1e6
      micros);
    - one iteration: each node sends ``rank div outdeg`` micros down
      every out-edge (floor division — exact); each node's new rank is
      ``base + (damping_pct * incoming_sum) div 100`` where
      ``base = (100 - damping_pct) * 10_000`` micros;
    - nodes with no out-edges keep receiving but send nothing (their
      rank mass vanishes — the standard simplification; documented
      rather than redistributed so the oracle stays one join per
      iteration);
    - nodes with no in-edges settle at ``base``.

    Because every step is integer, the result is identical at any
    parallelism and in any engine with 64-bit integer division — the
    q85 oracle replays both iterations in SQL.

    Scale shape: per iteration, one equi-join of edges with the rank
    table on ``src`` and one ``groupBy(dst)`` sum — shuffles only on
    node keys. At web scale pre-partition ``edges`` by ``src`` once
    (the join then reuses that exchange every iteration) and let AQE
    split the hot-dst aggregation (popular hosts are exactly the
    skewed keys). Lineage is cut with ``localCheckpoint`` every
    ``_CHECKPOINT_EVERY`` iterations, as in connected_components.
    Nothing is cached: ReusedExchange already shares the edge
    ``distinct`` across its consumers, and caching the sends table
    with a materialized result measured slower (q85 at sf1.0: 11.3 s
    cached vs 4.5 s uncached). Overflow headroom: the damped update is
    computed as ``(s div 100)·d + ((s mod 100)·d) div 100`` — exactly
    equal to ``(d·s) div 100`` for s ≥ 0, but the largest intermediate
    is ~0.85·s instead of 85·s, so the headroom is s itself nearing
    int64 (~9.2·10^18 micros ≈ 9.2·10^12 rank units into ONE node)
    rather than the naive form's ~1.08·10^17-micros ceiling — beyond
    any real graph's hottest host even at 10^10 nodes (total system
    mass is bounded by N·1e6 / (1 − damping) ≈ 6.7·10^16 micros).

    Returns (node, rank_micros).
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    base = (100 - damping_pct) * 10_000
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    sends = e.join(outdeg, "src")
    ranks = nodes.select(
        "node", F.lit(_UNIT).cast("long").alias("rank_micros")
    )
    for i in range(iterations):
        contrib = sends.join(
            ranks.select(F.col("node").alias("src"), "rank_micros"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank_micros div outdeg").alias("c"),
        )
        inc = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # deferred multiply: identical to (damping_pct * s) div 100 for
        # s >= 0, but the largest intermediate is ~s, not 85*s (see
        # docstring overflow note)
        damp = (
            f"(coalesce(s, 0L) div 100) * {damping_pct}"
            f" + ((coalesce(s, 0L) % 100) * {damping_pct}) div 100"
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (F.lit(base).cast("long") + F.expr(damp).cast("long")).alias(
                "rank_micros"
            ),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks


def anchor_text_table(
    edges: DataFrame,
    target_col: str = "target",
    text_col: str = "anchor",
    src_host_col: str | None = None,
) -> DataFrame:
    """Per-target anchor-text aggregation — the off-page description
    corpus (how the web refers to each URL), the classic relevance /
    title-fallback / quality signal search and curation pipelines
    build from WAT-style outlink metadata. For every target URL:
    total in-refs, distinct referring hosts (when ``src_host_col`` is
    given), and the modal anchor text with a deterministic
    (count desc, text asc) tie-break.

    Scale shape: one (target, text) groupBy for the per-text counts,
    a target-partitioned window over THAT aggregate (already one row
    per distinct text — never the raw edge list), and one (target)
    groupBy for totals; the two results join on target. Nothing
    exchanges on anything wider than (target, text); anchor strings
    are typically short, and the aggregate the window sorts is
    |distinct texts per target|, bounded by template-ness of the web
    (hot targets have millions of refs but few distinct texts).

    Returns (target, n_refs[, n_hosts], top_anchor, top_anchor_refs).
    """
    from pyspark.sql import Window

    per_text = edges.groupBy(
        F.col(target_col).alias("target"), F.col(text_col).alias("top_anchor")
    ).agg(F.count("*").alias("top_anchor_refs"))
    w = Window.partitionBy("target").orderBy(
        F.desc("top_anchor_refs"), F.asc("top_anchor")
    )
    top = (
        per_text.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    aggs = [F.count("*").alias("n_refs")]
    if src_host_col is not None:
        aggs.append(F.countDistinct(F.col(src_host_col)).alias("n_hosts"))
    totals = edges.groupBy(F.col(target_col).alias("target")).agg(*aggs)
    return totals.join(top, "target")
