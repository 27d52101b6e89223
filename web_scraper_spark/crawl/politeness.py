"""Per-host politeness scheduler.

The reference is strictly sequential — at most one in-flight request,
implicit politeness (contxt/cli.py:276 loop; Selenium wait budgets
5/15 s, contxt/scraper.py:106-124). At cluster scale politeness must be
explicit: per-host crawl-delay budgets (robots), per-round quotas, and
deterministic ordering independent of parallelism.

Structure (SURVEY.md §4.2):
1. **Two-stage skew-guarded quota trim** — a hot host would funnel its
   millions of frontier rows into one ``applyInPandas`` group. Before
   grouping, trim per (host, salt) with ``row_number() <= quota`` and
   then per host — two cheap window passes whose first stage spreads
   the hot host over ``_N_SALTS`` partitions. After this, every
   politeness group holds ≤ quota rows regardless of skew.
2. **Stateful windowed scheduler** — a pure JVM cumulative-sum window
   over the host partitions: orders by (priority, seq), enforces
   crawl_delay spacing from the host's ``next_allowed_ms`` (broadcast
   -joined carry-over from the previous round), emits
   ``scheduled_offset_ms`` and the updated host state. Runs inside
   whole-stage codegen — no Arrow crossing (the earlier grouped-map
   pandas form was the scheduler's measured scaling floor).

Ordering key contract (parity with the sequential reference): within a
host, rows are scheduled in (priority, seq) order — seq is the seed /
discovery sequence — which equals the reference's processing order
restricted to that host (SURVEY.md §7 hard-part 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def update_host_delays(
    host_stats: DataFrame,
    prev_delays: DataFrame | None,
    default_delay_ms: int = 1000,
) -> DataFrame:
    """AIMD adaptive per-host crawl delay — what a production crawler
    does for the (majority of) hosts whose robots.txt declares no
    Crawl-delay: back off multiplicatively when a host shows fetch
    errors, recover additively while it stays healthy (the TCP
    congestion-control shape, used by Heritrix/BUbiNG-style fetchers).

    ``host_stats``: (host, n_ok, n_err) — one row per host fetched
    this round (run_round derives it from the fetch ledger's
    ``fetch_status``). ``prev_delays``: (host, delay_ms) carry-over
    state, or None on round 0.

    Per-host update, all pure integer Column arithmetic (deterministic
    at any parallelism):

        err_rate > 10% → delay · 2, ≤ 60,000 ms
        otherwise      → delay − 250 ms, ≥ 250 ms

    Hosts in ``prev_delays`` but absent from this round's stats KEEP
    their delay (full outer join) — an unfetched host's budget must
    not silently decay while the crawler isn't even visiting it.
    Scale shape: one host-keyed outer join of two host-level tables
    (both orders of magnitude smaller than the frontier), nothing
    wider than (host, three longs) shuffles."""
    stats = host_stats.select(
        "host",
        F.col("n_ok").cast("long").alias("n_ok"),
        F.col("n_err").cast("long").alias("n_err"),
    )
    if prev_delays is None:
        joined = stats.withColumn("delay_ms", F.lit(None).cast("long"))
    else:
        joined = stats.join(
            prev_delays.select("host", "delay_ms"), "host", "full_outer"
        )
    cur = F.coalesce(F.col("delay_ms"), F.lit(default_delay_ms))
    total = F.coalesce(F.col("n_ok"), F.lit(0)) + F.coalesce(F.col("n_err"), F.lit(0))
    # integer-exact error-rate test: n_err/total > 10% ⇔ n_err·10^6 >
    # 100,000·total (no float division — engine-portable and immune
    # to fp rounding at any host volume)
    backoff = F.coalesce(F.col("n_err"), F.lit(0)) * 1_000_000 > F.lit(100_000) * total
    updated = (
        F.when(total == 0, cur)  # unfetched host: keep
        .when(backoff, F.least(cur * 2, F.lit(60_000)))
        .otherwise(F.greatest(cur - 250, F.lit(250)))
    )
    return joined.select(
        "host", updated.cast("long").alias("delay_ms")
    )


#: salt count of the two-stage top-K trims: stage 1 spreads a hot
#: host (or the global cap) over this many window partitions
_N_SALTS = 16

HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("next_allowed_ms", T.LongType(), False),
    ]
)


def quota_trim(
    candidates: DataFrame,
    quota_per_host: int,
) -> DataFrame:
    """Two-stage per-host top-``quota`` by (priority, seq); the first
    stage shards the hot host across ``_N_SALTS`` window partitions so
    no single task sorts the whole hot host."""
    order = [F.asc("priority"), F.asc("seq")]
    salt = F.pmod(F.xxhash64("url"), F.lit(_N_SALTS))
    stage1 = (
        candidates.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(Window.partitionBy("host", "_salt").orderBy(*order)))
        .filter(F.col("_rn1") <= quota_per_host)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        stage1.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= quota_per_host)
        .drop("_rn2")
    )


def schedule_round(
    candidates: DataFrame,
    host_state: DataFrame | None,
    quota_per_host: int = 64,
    default_delay_ms: int = 1000,
    round_budget_ms: int | None = None,
    host_rank: DataFrame | None = None,
    max_scheduled_per_round: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Politeness scheduling for one crawl round.

    candidates: url, host, depth, priority, seq, crawl_delay_ms
    host_state: host, next_allowed_ms (carry-over; None for round 0)

    Returns (schedule, new_host_state). ``schedule`` rows carry
    ``scheduled_offset_ms`` — the virtual time offset within the round
    at which the fetch may start. Rows beyond the round budget are
    dropped from the schedule (they stay pending in the frontier and
    return next round).

    **Authority-ordered global cap** (the north star's cross-host
    priority queue): with ``max_scheduled_per_round`` set, the
    post-quota candidate set (bounded by hosts × quota) is trimmed to
    the global top-K ordered by ``(host_rank desc, priority, seq)`` —
    ``host_rank`` is the integer-PageRank table ``run_round``
    maintains from discovered-link host edges (operators/graph.py).
    The trim is the same two-stage salted top-K as :func:`quota_trim`
    (stage 2's single window sees at most ``_N_SALTS × K`` rows, never
    the frontier). Unranked hosts sort as rank 0. WITHIN a host the
    order stays ``(priority, seq)`` — the cap changes which hosts'
    rows enter the round, never the per-host fetch order, so the
    reference-parity contract and the eventual seen SET are unchanged
    (cut rows stay pending and return next round). The rank join is a
    host-keyed equi-join; the rank table is host-level (small next to
    the frontier), so Catalyst's size-based planning broadcasts it
    when it fits and falls back to a shuffled join when it doesn't.
    """
    spark = candidates.sparkSession
    trimmed = quota_trim(candidates, quota_per_host)

    if max_scheduled_per_round is not None:
        if host_rank is not None:
            trimmed = trimmed.join(
                host_rank.select(
                    "host", F.col("rank_micros").alias("_rank")
                ),
                "host",
                "left",
            ).withColumn("_rank", F.coalesce(F.col("_rank"), F.lit(0).cast("long")))
        else:
            trimmed = trimmed.withColumn("_rank", F.lit(0).cast("long"))
        order = [
            F.desc("_rank"),
            F.asc_nulls_last("priority"),
            F.asc_nulls_last("seq"),
            F.asc("url"),  # seq is unique per space; url guards the seam
        ]
        salt = F.pmod(F.xxhash64("url", F.lit("cap")), F.lit(_N_SALTS))
        stage1 = (
            trimmed.withColumn("_s", salt)
            .withColumn(
                "_r1",
                F.row_number().over(Window.partitionBy("_s").orderBy(*order)),
            )
            .filter(F.col("_r1") <= max_scheduled_per_round)
            .drop("_r1", "_s")
        )
        trimmed = (
            stage1.withColumn("_r2", F.row_number().over(Window.orderBy(*order)))
            .filter(F.col("_r2") <= max_scheduled_per_round)
            .drop("_r2", "_rank")
        )

    if host_state is None:
        host_state = spark.createDataFrame([], HOST_STATE_SCHEMA)

    joined = trimmed.join(F.broadcast(host_state), "host", "left")

    # Virtual-clock assignment: offset[i] = start + cumsum(delays)[i-1]
    # within each host in (priority, seq) order — a pure JVM window
    # over the host partitions (whole-stage codegen, no Arrow
    # crossing; this stage was a grouped-map pandas UDF and the
    # scheduler's scaling floor until it moved here). The stateful
    # carry-over (``next_allowed_ms``) arrives via the broadcast join
    # above, constant per host, so the "state" is just the window
    # frame's additive start. nulls_last ordering matches the
    # previous pandas sort_values semantics (NaNs last).
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms)).cast("long")
    w_cum = (
        Window.partitionBy("host")
        .orderBy(F.asc_nulls_last("priority"), F.asc_nulls_last("seq"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.col("next_allowed_ms"), F.lit(0)).cast("long")
    schedule = joined.select(
        "url",
        "host",
        F.col("depth").cast("int").alias("depth"),
        F.col("priority").cast("double").alias("priority"),
        F.col("seq").cast("long").alias("seq"),
        delay.alias("crawl_delay_ms"),
        (start + F.coalesce(F.sum(delay).over(w_cum), F.lit(0)))
        .cast("long")
        .alias("scheduled_offset_ms"),
    )
    if round_budget_ms is not None:
        schedule = schedule.filter(
            F.col("scheduled_offset_ms") <= F.lit(round_budget_ms)
        )

    # new host state: where the virtual clock ended per host, minus the
    # round budget (next round restarts its virtual clock at 0).
    agg = schedule.groupBy("host").agg(
        (F.max("scheduled_offset_ms") + F.max("crawl_delay_ms")).alias("end_ms")
    )
    if round_budget_ms is not None:
        carry = F.greatest(F.col("end_ms") - F.lit(round_budget_ms), F.lit(0))
    else:
        carry = F.lit(0)
    new_state = agg.select("host", carry.cast("long").alias("next_allowed_ms"))
    return schedule, new_state
