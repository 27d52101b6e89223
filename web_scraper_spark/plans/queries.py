"""Driver-contract query registry (SURVEY.md §2 coverage).

Every SQL-expressible operator gets a Spark implementation AND a
DuckDB-runnable ANSI-SQL oracle with *identical output column names*
(the driver sorts columns by name and value-hashes — aliases must
line up on both sides).

Engine-portability rules used throughout:
- money/metric sums → integer cents (``sum(round(x*100)::bigint)``):
  order-independent, hash-stable across engines;
- hashes → md5 hex strings (identical in Spark and DuckDB);
- ratios → ``round(x, 4)`` computed from integer counts;
- timestamps → epoch seconds as BIGINT;
- every ranking carries a unique tie-breaker column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import columns as C
from ..operators import dedup as D
from ..operators import relational as R
from ..operators import graph as G
from ..operators import similarity as S
from ..operators import text as TX

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


#: per-session reader memo — `spark.read.parquet` re-lists the path
#: and re-reads the footer schema on every call; across a 91-query
#: suite that is pure repeated driver work. The cached object is the
#: lazy DataFrame (plan + file index) only — no data is cached, every
#: action still scans the parquet input (the no-precomputation rule).
_LOAD_MEMO: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (sf_dir, name)
    hit = _LOAD_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _LOAD_MEMO[key] = (spark, df)
    return df


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def cents(col) -> F.Column:
    """Integer-cents accumulator: order-independent, engine-portable."""
    return F.sum(F.round(col * 100).cast("long"))


def epoch_s(col) -> F.Column:
    """Epoch seconds from a (possibly NTZ) timestamp — session tz is
    pinned to UTC so NTZ→LTZ is the identity wall-clock mapping,
    matching DuckDB's epoch() on naive timestamps."""
    return col.cast("timestamp_ltz").cast("long")


# =====================================================================
# A1 — run-stats aggregate (contxt/cli.py:243-251,286-297): the TPC-H
# Q1-shaped partial+final hash aggregation.
# =====================================================================
@query(
    "q01_run_stats",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_c
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_run_stats(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        cents(F.col("l_quantity")).alias("sum_qty_c"),
        cents(F.col("l_extendedprice")).alias("sum_price_c"),
        cents(F.col("l_discount")).alias("sum_disc_c"),
    )


# =====================================================================
# J1/J5 — broadcast dimension join (image-map/robots lookup analog,
# contxt/formatters/markdown_formatter.py:76-81, cli.py:56-67).
# =====================================================================
@query(
    "q02_broadcast_dims",
    oracle="""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_bal_c
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q02_broadcast_dims(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            cents(F.col("c_acctbal")).alias("sum_bal_c"),
        )
    )


# =====================================================================
# J6/J3 — anti join (URL-seen / 404-analog, contxt/scraper.py:467).
# =====================================================================
@query(
    "q03_unseen_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
)
def q03_unseen_anti_join(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# =====================================================================
# SO2 — semi join (seen-hash membership, contxt/scraper.py:467).
# =====================================================================
@query(
    "q04_seen_semi_join",
    oracle="""
    SELECT p_brand, count(*) AS n_parts FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p_brand
    """,
)
def q04_seen_semi_join(spark, sf_dir):
    p = _load(spark, sf_dir, "part")
    li = _load(spark, sf_dir, "lineitem")
    # Semi-join against the DISTINCT probe keys (identical semantics):
    # the partial aggregate dedupes map-side, the exchange carries
    # ~|distinct keys| instead of the raw fact rows, and AQE sees the
    # deduped side's real (tiny) size and broadcasts it — so the part
    # side is never shuffled (guide §2.3/§3.1; 2.4 s → 0.7 s at sf1.0
    # vs the two-sided sort-merge semi join).
    lk = li.select("l_partkey").distinct()
    return (
        p.join(lk, p.p_partkey == lk.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


# =====================================================================
# W1/L1 — per-group top-k (top-30 comments by likes,
# contxt/youtube_handler.py:151-156).
# =====================================================================
@query(
    "q05_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
)
def q05_topk_per_group(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    ranked = R.topk_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    )
    return ranked.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "rank",
    )


# =====================================================================
# L1 global top-k — sorted(key=-like_count)[:30]
# (contxt/youtube_handler.py:152-156).
# =====================================================================
@query(
    "q06_global_topk",
    oracle="""
    SELECT event_id, CAST(round(value*100) AS BIGINT) AS value_c
    FROM events ORDER BY value DESC, event_id LIMIT 30
    """,
)
def q06_global_topk(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    return (
        e.orderBy(F.desc("value"), F.asc("event_id"))
        .limit(30)
        .select("event_id", F.round(F.col("value") * 100).cast("long").alias("value_c"))
    )


# =====================================================================
# J2/W6 — as-of join (transcript-line → chapter assignment,
# contxt/youtube_handler.py:72-113): each 'click' gets the most recent
# 'signup' at-or-before it per user.
# =====================================================================
@query(
    "q07_asof_join",
    oracle="""
    SELECT c.event_id, c.user_id,
           (SELECT CAST(floor(epoch(max(s.ts))) AS BIGINT) FROM events s
             WHERE s.event_type = 'signup' AND s.user_id = c.user_id
               AND s.ts <= c.ts) AS asof_boundary_ts
    FROM events c WHERE c.event_type = 'click'
    """,
)
def q07_asof_join(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", "ts")
        .withColumn("boundary_ts", epoch_s(F.col("ts")))
    )
    out = R.asof_join(
        clicks, signups, key="user_id", probe_ts="ts", boundary_ts="ts",
        value_cols=["boundary_ts"],
    )
    return out.select(
        "event_id", "user_id", F.col("asof_boundary_ts").alias("asof_boundary_ts")
    )


# =====================================================================
# W4 analog — sessionization (adjacent-run grouping,
# contxt/scraper.py:365-405 re-expressed relationally).
# =====================================================================
@query(
    "q08_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def q08_sessionize(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    # tie-break equal timestamps by event_id for full determinism
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_s(F.col("ts")) - F.lag(epoch_s(F.col("ts"))).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("_n", new_s)
        .groupBy("user_id")
        .agg(F.sum("_n").cast("long").alias("n_sessions"))
    )


# =====================================================================
# A5/SO1 — first-seen dedup (li text seen-set, contxt/scraper.py:345-363).
# =====================================================================
@query(
    "q09_first_seen_dedup",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))))
                                ORDER BY doc_id) AS rn
      FROM documents)
    SELECT lang, count(*) AS n_unique FROM ranked WHERE rn = 1 GROUP BY lang
    """,
)
def q09_first_seen_dedup(spark, sf_dir):
    # Scale note: the dedup window keys on md5(normalized_text), a
    # 32-byte digest, NOT the multi-KB text itself — the shuffle moves
    # fixed-width keys regardless of document size (same trick as
    # exact_dedup, operators/dedup.py:41). Mirrored in the oracle.
    d = _load(spark, sf_dir, "documents")
    normed = d.withColumn("_k", F.md5(D.normalize_text(F.col("text"))))
    kept = R.first_seen_dedup(normed, ["_k"], [F.col("doc_id")])
    return kept.groupBy("lang").agg(F.count("*").alias("n_unique"))


# =====================================================================
# W5/S11 — collision numbering (contxt/outputs.py:130-135).
# =====================================================================
@query(
    "q10_collision_numbering",
    oracle="""
    SELECT doc_id,
           CASE WHEN rn = 1 THEN source
                ELSE source || '_' || CAST(rn - 1 AS VARCHAR) END AS final_name
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents)
    """,
)
def q10_collision_numbering(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    out = R.collision_numbering(d, "source", [F.col("doc_id")])
    return out.select("doc_id", "final_name")


# =====================================================================
# F16/F3 — filename derivation from URL (contxt/outputs.py:103-113,
# utils.py:15-24). URLs synthesized deterministically from doc fields;
# Spark side uses real parse_url, oracle reconstructs relationally.
# =====================================================================
@query(
    "q11_filename_from_url",
    oracle="""
    SELECT doc_id,
           source || '.example.com_docs_' || lang || '_' || CAST(doc_id AS VARCHAR) AS fname
    FROM documents
    """,
)
def q11_filename_from_url(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", C.filename_from_url(url).alias("fname"))


# =====================================================================
# A2/A3/A4 — the three token counters (contxt/scraper.py:533-534,
# :624-625, :423-426) + BPE-ish estimate.
# =====================================================================
@query(
    "q12_token_counts",
    oracle="""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens,
           CAST(floor(length(text) / 4) AS INT) AS char_est
    FROM documents
    """,
)
def q12_token_counts(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        TX.char_token_estimate(F.col("text")).alias("char_est"),
    )


# =====================================================================
# Text analysis — language-ID heuristic.
# =====================================================================
def _langid_oracle() -> str:
    score_exprs = []
    for lang in sorted(TX.LANG_PROFILES):
        words = TX.LANG_PROFILES[lang]
        parts = " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
        )
        score_exprs.append(f"({parts}) AS s_{lang}")
    langs = sorted(TX.LANG_PROFILES)
    # argmax with tie-break to the EARLIEST language code (matches
    # Spark's array_min over (neg_score, lang)): a lang must strictly
    # beat every earlier lang (else the earlier one wins the tie) and
    # only tie-or-beat later ones.
    best = "CASE "
    for lang in langs:
        others = [f"s_{lang} > s_{o}" for o in langs if o < lang]
        others += [f"s_{lang} >= s_{o}" for o in langs if o > lang]
        cond = " AND ".join([f"s_{lang} > 0"] + others) if others else f"s_{lang} > 0"
        best += f"WHEN {cond} THEN '{lang}' "
    best += "ELSE 'und' END"
    return f"""
    WITH scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM documents)
    SELECT doc_id, {best} AS pred_lang FROM scored
    """


@query("q13_lang_detect", oracle=_langid_oracle())
def q13_lang_detect(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", TX.detect_lang(F.col("text")).alias("pred_lang"))


# =====================================================================
# Text analysis — quality features + composite score.
# =====================================================================
@query(
    "q14_quality",
    oracle="""
    WITH f AS (
      SELECT doc_id,
        length(text) AS n_chars,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_words,
        len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
        (len(regexp_extract_all(lower(text),'\\bthe\\b'))
         + len(regexp_extract_all(lower(text),'\\band\\b'))
         + len(regexp_extract_all(lower(text),'\\bof\\b'))
         + len(regexp_extract_all(lower(text),'\\bto\\b'))
         + len(regexp_extract_all(lower(text),'\\bin\\b'))
         + len(regexp_extract_all(lower(text),'\\bis\\b'))
         + len(regexp_extract_all(lower(text),'\\bthat\\b'))
         + len(regexp_extract_all(lower(text),'\\bwith\\b'))) AS n_stop,
        len(regexp_extract_all(text, '[A-Z]')) AS n_upper
      FROM documents)
    SELECT doc_id, n_chars, n_words,
      round(CAST(n_chars AS DOUBLE)/greatest(n_words,1), 4) AS mean_word_len,
      round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1), 4) AS punct_ratio,
      round(CAST(n_stop AS DOUBLE)/greatest(n_words,1), 4) AS stopword_ratio,
      CAST(round(
        (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END)
        + (CASE WHEN round(CAST(n_stop AS DOUBLE)/greatest(n_words,1),4) >= 0.01 THEN 0.3 ELSE 0 END)
        + (CASE WHEN round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1),4) <= 0.2 THEN 0.2 ELSE 0 END)
        + (CASE WHEN round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1),4) <= 0.3 THEN 0.1 ELSE 0 END)
      , 4) AS DOUBLE) AS quality
    FROM f
    """,
)
def q14_quality(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    f = TX.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        f["n_chars"].cast("long").alias("n_chars"),
        f["n_words"].cast("long").alias("n_words"),
        f["mean_word_len"].alias("mean_word_len"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        TX.quality_score(F.col("text")).alias("quality"),
    )


# =====================================================================
# F14/J3 — md5 fingerprint + duplicate counting (contxt/scraper.py:464).
# =====================================================================
@query(
    "q15_fingerprint",
    oracle="""
    SELECT md5(trim(lower(regexp_replace(text,'\\s+',' ','g')))) AS fp,
           count(*) AS copies, min(doc_id) AS first_doc
    FROM documents GROUP BY 1
    """,
)
def q15_fingerprint(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.groupBy(TX.fingerprint(F.col("text")).alias("fp")).agg(
        F.count("*").alias("copies"), F.min("doc_id").alias("first_doc")
    )


# =====================================================================
# MinHash signature (first component) — md5-lex-min hash family,
# engine-portable.
# =====================================================================
@query(
    "q16_minhash_sig",
    oracle="""
    SELECT doc_id,
      list_min(list_transform(
        list_distinct(string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ')),
        s -> md5(s || '#0'))) AS sig0
    FROM documents
    """,
)
def q16_minhash_sig(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(d, "text", "doc_id", num_hashes=1)
    return sigs.select(
        F.col("id").alias("doc_id"), F.element_at("sig", 1).alias("sig0")
    )


# =====================================================================
# n-gram Jaccard dup pairs — exact, via inverted shingle index.
# Restricted to doc_id < 300 to keep the oracle cheap.
# =====================================================================
@query(
    "q17_jaccard_pairs",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ')) AS toks
      FROM documents WHERE doc_id < 300),
    inv AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM docs),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS common
      FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1,2,3,4)
    SELECT id_a, id_b, round(CAST(common AS DOUBLE)/(na+nb-common), 6) AS jaccard
    FROM pairs WHERE CAST(common AS DOUBLE)/(na+nb-common) >= 0.5
    """,
)
def q17_jaccard_pairs(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.jaccard_pairs(d, "text", "doc_id", threshold=0.5)


# =====================================================================
# SO3 — union/append (contxt/cli.py:242,284).
# =====================================================================
@query(
    "q20_union_append",
    oracle="""
    SELECT event_type, count(*) AS n FROM (
      SELECT event_type FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_type FROM events WHERE event_type = 'purchase'
    ) GROUP BY event_type
    """,
)
def q20_union_append(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    u = e.filter(F.col("event_type") == "click").select("event_type").unionByName(
        e.filter(F.col("event_type") == "purchase").select("event_type")
    )
    return u.groupBy("event_type").agg(F.count("*").alias("n"))


# =====================================================================
# W6 — chapter-cursor carry-forward: last purchase value at-or-before
# each event, per user (contxt/youtube_handler.py:100-104 pattern).
# =====================================================================
@query(
    "q21_carry_forward",
    oracle="""
    SELECT event_id,
           CAST(round(last_value(CASE WHEN event_type='purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) AS BIGINT)
           AS last_purchase_c
    FROM events
    """,
)
def q21_carry_forward(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        F.round(F.last(pv, ignorenulls=True).over(w) * 100).cast("long").alias("last_purchase_c"),
    )


# =====================================================================
# W3 — positional index within container (Video {i+1},
# contxt/scraper.py:577).
# =====================================================================
@query(
    "q22_position_index",
    oracle="""
    SELECT event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    """,
)
def q22_position_index(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select("event_id", F.row_number().over(w).cast("long").alias("seq"))


# =====================================================================
# A7 — combined-documents fold with the Q6 separator quirk
# (contxt/cli.py:316-318); md5 of the fold keeps the row small.
# =====================================================================
@query(
    "q23_combined_fold",
    oracle="""
    SELECT md5(e'\\n\\n' || '==================================================' ||
               string_agg(text, e'\\n\\n' ORDER BY doc_id)) AS combined_md5
    FROM documents WHERE doc_id < 5
    """,
)
def q23_combined_fold(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    folded = R.combined_document(d, "text", [F.col("doc_id")])
    return folded.select(F.md5(F.col("combined")).alias("combined_md5"))


# =====================================================================
# S14/A1 — overall run summary (contxt/cli.py:372-395).
# =====================================================================
@query(
    "q24_run_summary",
    oracle="""
    SELECT count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts
    FROM events
    """,
)
def q24_run_summary(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        cents(F.col("value")).alias("sum_value_c"),
        F.min(epoch_s(F.col("ts"))).alias("min_ts"),
        F.max(epoch_s(F.col("ts"))).alias("max_ts"),
    )


# =====================================================================
# S5/F11 — transcript assembly: ordered per-group line folding
# (contxt/youtube_handler.py:45-49). Deciseconds avoid printf
# rounding differences between engines.
# =====================================================================
@query(
    "q25_transcript_fold",
    oracle="""
    SELECT user_id,
           md5(string_agg('[' || CAST(CAST(floor(value*10) AS BIGINT) AS VARCHAR) || 'ds] ' || event_type,
                          e'\\n' ORDER BY ts, event_id)) AS transcript_md5
    FROM events GROUP BY user_id
    """,
)
def q25_transcript_fold(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    line = F.concat(
        F.lit("["),
        F.floor(F.col("value") * 10).cast("long").cast("string"),
        F.lit("ds] "),
        F.col("event_type"),
    )
    pair = F.struct(F.col("ts"), F.col("event_id"), line.alias("line"))
    return (
        e.select("user_id", pair.alias("p"))
        .groupBy("user_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "\n", F.transform(F.array_sort(F.collect_list("p")), lambda s: s["line"])
                )
            ).alias("transcript_md5")
        )
    )


# =====================================================================
# S7/L2 — container expansion with per-container cap
# (contxt/youtube_handler.py:165-204): word explode + distinct count.
# =====================================================================
@query(
    "q26_word_explode",
    oracle="""
    SELECT lang, count(DISTINCT tok) AS n_distinct_words
    FROM (SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents)
    GROUP BY lang
    """,
)
def q26_word_explode(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_distinct_words"))
    )


# =====================================================================
# Embedding brute-force cosine top-k (ANN baseline).
# =====================================================================
@query(
    "q27_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine
      FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q27_cosine_topk(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk_bruteforce(q, emb, "embedding", "vec_id", k=5)


# =====================================================================
# Embedding near-dup pairs within label buckets (scale path of
# embedding dedup — bucket-restricted self-join).
# =====================================================================
@query(
    "q28_embed_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
    """,
)
def q28_embed_near_dup(spark, sf_dir):
    """Label-bucketed embedding near-dups on the per-bucket BLAS path
    (as q69): cosine is rounded half-up to 6 places in the JVM before
    the threshold, which absorbs BLAS-vs-sequential summation order on
    this fixture (twin-verified)."""
    emb = _load(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(
        emb, "embedding", "vec_id", threshold=0.35, bucket_col="label"
    )


# =====================================================================
# robots.txt parsing (raw bodies → the broadcastable rules table).
# =====================================================================
@query(
    "q65_robots_parse",
    oracle="""
    WITH hosts AS (
      SELECT DISTINCT source AS host, CAST(substr(source, 4) AS INT) AS k
      FROM documents),
    bodies AS (
      SELECT host, array_to_string([
        '# robots for ' || host,
        'Disallow: /early-ignored',
        'User-agent: googlebot',
        'Disallow: /google-' || CAST(k AS VARCHAR),
        'User-agent: *',
        CASE WHEN k % 2 = 0 THEN 'User-agent: fetchbot'
             ELSE 'Disallow: /a' || CAST(k AS VARCHAR) END,
        'Disallow: /private # comment',
        'Allow: /private/ok-' || CAST(k AS VARCHAR),
        CASE WHEN k % 3 = 0 THEN 'Crawl-delay: ' || CAST(k + 1 AS VARCHAR)
             WHEN k % 3 = 1 THEN 'Crawl-delay: fast'
             ELSE '' END,
        'Disallow:',
        'User-agent: *',
        'Disallow: /tail-' || CAST(k AS VARCHAR)
      ], chr(10)) AS body
      FROM hosts),
    lines AS (
      SELECT host, unnest(range(len(string_split(body, chr(10))))) AS pos,
             trim(string_split(unnest(string_split(body, chr(10))), '#')[1]) AS line
      FROM bodies),
    cls AS (
      SELECT host, pos,
        CASE WHEN lower(line) LIKE 'user-agent:%' THEN 'ua'
             WHEN lower(line) LIKE 'disallow:%' THEN 'dis'
             WHEN lower(line) LIKE 'allow:%' THEN 'allow'
             WHEN lower(line) LIKE 'crawl-delay:%' THEN 'delay'
             ELSE 'other' END AS kind,
        trim(regexp_extract(line, '^[^:]*:(.*)$', 1)) AS value
      FROM lines),
    lagged AS (
      SELECT host, pos, kind, value,
        coalesce(lag(kind) OVER (PARTITION BY host ORDER BY pos), 'other') AS prev_kind
      FROM cls),
    grouped AS (
      SELECT host, pos, kind, value,
        sum(CASE WHEN kind = 'ua' AND prev_kind <> 'ua' THEN 1 ELSE 0 END)
          OVER (PARTITION BY host ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS grp
      FROM lagged),
    star AS (
      SELECT DISTINCT host, grp FROM grouped
      WHERE kind = 'ua' AND value = '*'),
    rules AS (
      SELECT g.* FROM grouped g SEMI JOIN star s
        ON g.host = s.host AND g.grp = s.grp
      WHERE g.kind IN ('dis', 'allow', 'delay') AND g.grp > 0)
    SELECT host,
      array_to_string(list(value ORDER BY pos) FILTER (kind = 'dis' AND value <> ''), '|') AS disallow_str,
      array_to_string(list(value ORDER BY pos) FILTER (kind = 'allow' AND value <> ''), '|') AS allow_str,
      TRY_CAST(min_by(value, pos) FILTER (kind = 'delay') AS DOUBLE) AS crawl_delay
    FROM rules GROUP BY host
    """,
)
def q65_robots_parse(spark, sf_dir):
    """RFC-9309-subset robots.txt parsing over deterministic bodies
    (stacked UA lines, agent-specific groups to skip, trailing
    comments, empty Disallow, non-numeric Crawl-delay, rules before
    any UA, a second '*' group). Relational implementation — lag +
    running-sum block assignment — mirrored exactly by the oracle."""
    from ..crawl.robots import parse_robots

    d = _load(spark, sf_dir, "documents")
    k = F.substring(F.col("source"), 4, 10).cast("int")
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("# robots for "), F.col("source")),
        F.lit("Disallow: /early-ignored"),
        F.lit("User-agent: googlebot"),
        F.concat(F.lit("Disallow: /google-"), k.cast("string")),
        F.lit("User-agent: *"),
        F.when(k % 2 == 0, F.lit("User-agent: fetchbot")).otherwise(
            F.concat(F.lit("Disallow: /a"), k.cast("string"))
        ),
        F.lit("Disallow: /private # comment"),
        F.concat(F.lit("Allow: /private/ok-"), k.cast("string")),
        F.when(k % 3 == 0, F.concat(F.lit("Crawl-delay: "), (k + 1).cast("string")))
        .when(k % 3 == 1, F.lit("Crawl-delay: fast"))
        .otherwise(F.lit("")),
        F.lit("Disallow:"),
        F.lit("User-agent: *"),
        F.concat(F.lit("Disallow: /tail-"), k.cast("string")),
    )
    bodies = d.select(F.col("source").alias("host"), body.alias("robots_txt")).distinct()
    rules = parse_robots(bodies)
    return rules.select(
        "host",
        F.concat_ws("|", F.col("disallow")).alias("disallow_str"),
        F.concat_ws("|", F.col("allow")).alias("allow_str"),
        "crawl_delay",
    )


# =====================================================================
# IVF index refinement: one Lloyd k-means iteration from label seeds,
# oracled per (cluster, dimension).
# =====================================================================
@query(
    "q64_kmeans_refine",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims0 AS (SELECT label, i, avg(v[i]) AS m
              FROM e, generate_series(1, 64) AS t(i) GROUP BY label, i),
    c0 AS (SELECT label AS cid, list(m ORDER BY i) AS cv FROM dims0 GROUP BY label),
    a1 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) /
                          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid ASC) AS rn
        FROM e, c0 c) WHERE rn = 1),
    dims1 AS (SELECT cid, i, avg(v[i]) AS m
              FROM a1, generate_series(1, 64) AS t(i) GROUP BY cid, i),
    c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM dims1 GROUP BY cid),
    a2 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) /
                          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid ASC) AS rn
        FROM e, c1 c) WHERE rn = 1),
    dims2 AS (
      SELECT cid, i, avg(v[i]) AS m
      FROM a2, generate_series(1, 64) AS t(i) GROUP BY cid, i)
    SELECT cid AS centroid_id, CAST(i AS INT) AS dim, round(m, 6) AS m
    FROM dims2
    """,
)
def q64_kmeans_refine(spark, sf_dir):
    """IVF index build with TWO Lloyd refinement iterations: label-mean
    seeds → assign → means → re-assign against the refined centroids →
    means again. The oracle re-derives both iterations (assignment
    argmax with the same lowest-centroid-id tie-break each round, then
    per-(cluster, dim) means), so the engine's multi-iteration loop —
    not just one step — is value-checked. Assignment is the BLAS
    argmax of S.ivf_assign (row-identical to the broadcast cross-join
    argmax of S.ivf_assign_topn by test); the mean aggregation the
    oracle hashes is pure JVM."""
    emb = _load(spark, sf_dir, "embeddings")
    seeds = S.label_centroids(emb, "embedding", "label")
    refined = S.kmeans_refine(emb, "embedding", seeds, iterations=2)
    return refined.select(
        "centroid_id",
        F.posexplode("centroid").alias("pos", "x"),
    ).select(
        "centroid_id",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round("x", 6).alias("m"),
    )


# =====================================================================
# C4-style global sentence dedup: keep every sentence at its first
# corpus-wide occurrence, reassemble documents from survivors.
# =====================================================================
@query(
    "q63_sentence_dedup",
    oracle="""
    WITH paras AS (
      SELECT doc_id // 5 AS pid,
             'copyright footer all rights reserved. '
             || string_agg(text, '. ' ORDER BY doc_id) AS para
      FROM documents GROUP BY (doc_id // 5)),
    split_s AS (SELECT pid, string_split(para, '. ') AS s FROM paras),
    sent AS (SELECT pid, unnest(s) AS stext, unnest(range(len(s))) AS pos FROM split_s),
    keyed AS (
      SELECT pid, pos, stext,
             md5(trim(lower(regexp_replace(stext, '\\s+', ' ', 'g')))) AS k
      FROM sent),
    kept AS (
      SELECT pid, pos, stext FROM (
        SELECT pid, pos, stext,
               row_number() OVER (PARTITION BY k ORDER BY pid, pos) AS rn
        FROM keyed) WHERE rn = 1),
    totals AS (SELECT pid, count(*) AS n_total FROM sent GROUP BY pid),
    rebuilt AS (
      SELECT pid, md5(string_agg(stext, '. ' ORDER BY pos)) AS clean_md5,
             count(*) AS n_kept
      FROM kept GROUP BY pid)
    SELECT t.pid, coalesce(r.clean_md5, md5('')) AS clean_md5,
           coalesce(r.n_kept, 0) AS n_kept, t.n_total
    FROM totals t LEFT JOIN rebuilt r ON r.pid = t.pid
    """,
)
def q63_sentence_dedup(spark, sf_dir):
    """C4's global span dedup over composed paragraphs (5 docs → one
    '. '-joined paragraph, each prefixed with the SAME boilerplate
    sentence — the canonical C4 target: the first paragraph keeps it,
    every later one drops it). First-seen is by (pid, pos); the dedup
    window shuffles md5 digests only."""
    d = _load(spark, sf_dir, "documents")
    pid = F.floor(F.col("doc_id") / 5).cast("long")
    paras = (
        d.select(pid.alias("pid"), F.struct("doc_id", "text").alias("p"))
        .groupBy("pid")
        .agg(
            F.concat(
                F.lit("copyright footer all rights reserved. "),
                F.concat_ws(
                    ". ",
                    F.transform(F.array_sort(F.collect_list("p")), lambda x: x["text"]),
                ),
            ).alias("para")
        )
    )
    out = D.global_sentence_dedup(paras, "para", "pid")
    return out.select(
        F.col("id").alias("pid"),
        F.md5("clean_text").alias("clean_md5"),
        "n_kept",
        "n_total",
    )


# =====================================================================
# Sign-LSH bucketed embedding near-dup (the LSH counterpart of the
# IVF path; deterministic md5-derived hyperplanes shared as decimal
# literals by both engines).
# =====================================================================
def _lsh_bucket_sql(planes: list[list[float]]) -> str:
    terms = []
    for k, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(c) for c in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {1 << k} ELSE 0 END)"
        )
    return " + ".join(terms)


_HP_PLANES = S.random_hyperplanes(dim=64, n_planes=6)


@query(
    "q62_lsh_embed_near_dup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket_sql(_HP_PLANES)} AS bucket FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.v, c.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round(list_dot_product(a.v, c.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 6) >= 0.35
    """,
)
def q62_lsh_embed_near_dup(spark, sf_dir):
    """Embedding near-dup with sign-LSH bucketing (Charikar random
    hyperplanes): buckets are a pure expression, the self-join is
    bucket-restricted (never all-pairs), and even the bucket bits are
    oracle-checked — the SQL recomputes them from the same hyperplane
    literals."""
    emb = _load(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn(
        "bucket", S.hyperplane_lsh_bucket(F.col("embedding"), _HP_PLANES)
    )
    return D.embedding_near_dups(
        bucketed, "embedding", "vec_id", threshold=0.35, bucket_col="bucket"
    )


# =====================================================================
# Rows-only queries (no SQL oracle — non-relational or Spark-specific):
# =====================================================================
@query(
    "q50_extract_pages",
    oracle="""
    SELECT doc_id,
           'https://' || source || '.example.com/doc/' || doc_id AS url,
           'doc ' || doc_id AS title,
           'doc ' || doc_id || ' ' || source || ' ' || text AS text,
           chr(10) || '# ' || source || chr(10) || chr(10) || source ||
             chr(10) || text || chr(10) || chr(10) || text AS markdown,
           CAST(length('<html><head><title>doc ' || doc_id ||
                       '</title></head><body><main><h1>' || source ||
                       '</h1><p>' || text || '</p></main></body></html>')
                // 4 AS BIGINT) AS token_count,
           CAST(0 AS BIGINT) AS n_images
    FROM documents
    """,
)
def q50_extract_pages(spark, sf_dir):
    """Flagship extraction pipeline, FULLY ORACLED: each document is
    wrapped into a deterministic HTML page (title/h1/p — same wrap as
    __spark_entry__.entry), the REAL extraction engine runs (stdlib-
    parser DOM → clean → get_text → markdown, the contract of
    contxt/scraper.py:263-322 + markdown_formatter.py:85-283), and
    because the wrap is a closed-form concat of (source, doc_id,
    text) with no markup-special characters in the synthetic corpus,
    every product — title, extracted text, markdown (incl. the Q5
    traversal quirk's h1-then-body repetition), char4 token count —
    is a closed-form string expression the oracle recomputes in SQL.
    Byte-level engine parity beyond this wrap is covered by
    tests/test_extract_spark.py."""
    from ..functions.udfs import extract_pages

    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
            F.lit("</title></head><body><main><h1>"), F.col("source"),
            F.lit("</h1><p>"), F.col("text"), F.lit("</p></main></body></html>"),
        ).alias("html"),
    )
    ex = extract_pages(
        pages, products=("title", "text", "markdown", "token_count", "n_images")
    )
    return ex.select(
        "doc_id",
        "url",
        "title",
        "text",
        "markdown",
        F.col("token_count").cast("long").alias("token_count"),
        F.col("n_images").cast("long").alias("n_images"),
    )


# q51 is registered further down, next to q58: its oracle wraps
# _SIMHASH_ORACLE (the bit-for-bit fingerprint SQL) in a brute-force
# pair join.


# =====================================================================
# Gopher-style repetition signals (training-data quality filtering).
# =====================================================================
@query(
    "q59_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents),
    dup AS (
      SELECT doc_id,
             round(CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS dup_word_frac
      FROM toks),
    bg AS (
      SELECT doc_id, unnest(list_filter(
        list_transform(list_zip(t, t[2:]),
          s -> CASE WHEN s[2] IS NULL THEN NULL ELSE s[1] || ' ' || s[2] END),
        x -> x IS NOT NULL)) AS g
      FROM toks),
    cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
    share AS (
      SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_share
      FROM cnt GROUP BY doc_id)
    SELECT d.doc_id, d.dup_word_frac,
           coalesce(s.top_bigram_share, 0.0) AS top_bigram_share
    FROM dup d LEFT JOIN share s ON s.doc_id = d.doc_id
    """,
)
def q59_repetition(spark, sf_dir):
    """Gopher repetition rules as first-class ops: duplicate-token
    fraction (pure expression) + top-bigram occupancy share (explode +
    one (id, gram) groupBy — the scalable form)."""
    d = _load(spark, sf_dir, "documents")
    dup = d.select(
        "doc_id", TX.duplicate_token_fraction(F.col("text")).alias("dup_word_frac")
    )
    shares = TX.top_ngram_share(d, "text", "doc_id", 2).withColumnRenamed("id", "doc_id")
    return dup.join(shares, "doc_id", "left").select(
        "doc_id",
        "dup_word_frac",
        F.coalesce(F.col("share"), F.lit(0.0)).alias("top_bigram_share"),
    )


# =====================================================================
# CCNet-style LM quality: mean per-token surprisal vs the corpus's
# own unigram distribution (integer decibans — order-independent).
# =====================================================================
@query(
    "q66_unigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
    scored AS (
      SELECT doc_id, CAST(round(-10 * log10(c / t)) AS INT) AS db
      FROM toks JOIN cnt USING (tok), tot)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(db) AS DOUBLE) / count(*), 4) AS mean_deciban
    FROM scored GROUP BY doc_id
    """,
)
def q66_unigram_surprisal(spark, sf_dir):
    """Per-document mean token surprisal against the corpus unigram
    LM, quantized to integer decibans per token so the aggregate is
    order-independent and hash-stable across engines."""
    d = _load(spark, sf_dir, "documents")
    out = TX.unigram_surprisal(d, "text", "doc_id")
    return out.select(F.col("id").alias("doc_id"), "n_tokens", "mean_deciban")


# =====================================================================
# Fuzzy-dedup capstone: near-dup pairs → connected components.
# =====================================================================
@query(
    "q69_components",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35),
    sym AS (SELECT id_a AS src, id_b AS dst FROM edges
            UNION SELECT id_b, id_a FROM edges),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    reach AS (
      SELECT v AS src, v AS dst FROM verts
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst)
    SELECT src AS id, min(dst) AS component,
           CAST(src = min(dst) AS BOOLEAN) AS keep
    FROM reach GROUP BY src
    """,
)
def q69_components(spark, sf_dir):
    """Near-dup pairs (q28's label-bucketed embedding edges) clustered
    into connected components via min-label propagation; keep =
    (id == component) is the fuzzy-dedup survivor flag. The oracle
    computes the same components with a recursive reachability CTE.
    Edge generation is q28's per-bucket BLAS pair search (identical
    round-6 pair set to the expression reference by test)."""
    emb = _load(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(
        emb, "embedding", "vec_id", threshold=0.35, bucket_col="label"
    )
    comps = D.connected_components(pairs)
    return comps.select(
        "id", "component", (F.col("id") == F.col("component")).alias("keep")
    )


# =====================================================================
# Deterministic hash sampling (reproducible corpus subsampling).
# =====================================================================
def _bucket_sql(key: str, salt: str) -> str:
    h = f"md5('{salt}:' || CAST({key} AS VARCHAR))"
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({hex8}) % 1000000)"


@query(
    "q67_hash_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_bucket_sql('doc_id', 'sample')} < 100000
    """,
)
def q67_hash_sample(spark, sf_dir):
    """10% deterministic sample of documents (md5-bucket < 100000 ppm)
    — same rows at any parallelism, on any engine; the oracle
    recomputes the buckets bit-for-bit."""
    from ..operators.relational import deterministic_sample

    d = _load(spark, sf_dir, "documents")
    return deterministic_sample(d, "doc_id", 100_000).select("doc_id", "lang")


# =====================================================================
# PII detection + redaction (pretraining scrub).
# =====================================================================
@query(
    "q61_pii_scrub",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
        text
        || (CASE doc_id % 3
              WHEN 0 THEN ' reach me at ' || source || '@mail.example.com'
              WHEN 1 THEN ' call 555-123-4567 or 555.987.6543 now'
              ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0
                 THEN ' server 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
                 ELSE '' END) AS t
      FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
      len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
      len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
      md5(regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g')) AS scrubbed_md5
    FROM injected
    """,
)
def q61_pii_scrub(spark, sf_dir):
    """PII detection counts + in-place redaction over documents with
    deterministically injected emails/phones/IPs (the raw corpus has
    none — injection makes the oracle non-vacuous). All pure
    expressions; the redacted text is md5'd for the hash gate."""
    d = _load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" reach me at "), F.col("source"), F.lit("@mail.example.com")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(" call 555-123-4567 or 555.987.6543 now"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" server 10.0.0."), (F.col("doc_id") % 250).cast("string")),
        ).otherwise(F.lit("")),
    )
    counts = TX.pii_counts(t)
    return d.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["phone"].cast("long").alias("n_phone"),
        counts["ip"].cast("long").alias("n_ip"),
        F.md5(TX.scrub_pii(t)).alias("scrubbed_md5"),
    )


# =====================================================================
# Frontier URL canonicalization (crawl-dedup key).
# =====================================================================
@query(
    "q60_canonical_url",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END)
        || upper(source) || '.Example.COM'
        || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
        || '/Docs/' || lang || '/' || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed'
                            WHEN 1 THEN '?b=2&a=1'
                            WHEN 2 THEN '?b=2&utm_x=1&a=1'
                            ELSE '' END)
        || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
    parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS proto,
        lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS auth,
        regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM raw),
    norm AS (
      SELECT doc_id, proto,
        CASE WHEN proto = 'http' THEN regexp_replace(auth, ':80$', '')
             WHEN proto = 'https' THEN regexp_replace(auth, ':443$', '')
             ELSE auth END AS auth,
        CASE WHEN path = '' THEN '/'
             WHEN path <> '/' THEN regexp_replace(path, '/$', '')
             ELSE path END AS path,
        list_sort(list_filter(string_split(q, '&'),
                  x -> x NOT LIKE 'utm_%' AND x <> '')) AS params
      FROM parts)
    SELECT doc_id,
      proto || '://' || auth || path
      || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
               ELSE '' END) AS canon
    FROM norm
    """,
)
def q60_canonical_url(spark, sf_dir):
    """F-family: frontier URL canonicalization over deterministically
    messy URLs (case-shuffled scheme/host, default ports, utm params,
    unsorted query, fragments, trailing slashes)."""
    d = _load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("HTTPS://")),
        F.upper(F.col("source")), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/Docs/"), F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 1, F.lit("?b=2&a=1"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?b=2&utm_x=1&a=1"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return d.select("doc_id", C.canonical_url(url).alias("canon"))


_LSH_ORACLE = "\n    WITH docs AS (\n      SELECT doc_id,\n             list_distinct(string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ')) AS toks\n      FROM documents WHERE doc_id < 300),\n    sigs AS (\n      SELECT doc_id,\n      list_min(list_transform(toks, s -> md5(s || '#0'))) AS s0,\n      list_min(list_transform(toks, s -> md5(s || '#1'))) AS s1,\n      list_min(list_transform(toks, s -> md5(s || '#2'))) AS s2,\n      list_min(list_transform(toks, s -> md5(s || '#3'))) AS s3,\n      list_min(list_transform(toks, s -> md5(s || '#4'))) AS s4,\n      list_min(list_transform(toks, s -> md5(s || '#5'))) AS s5,\n      list_min(list_transform(toks, s -> md5(s || '#6'))) AS s6,\n      list_min(list_transform(toks, s -> md5(s || '#7'))) AS s7,\n      list_min(list_transform(toks, s -> md5(s || '#8'))) AS s8,\n      list_min(list_transform(toks, s -> md5(s || '#9'))) AS s9,\n      list_min(list_transform(toks, s -> md5(s || '#10'))) AS s10,\n      list_min(list_transform(toks, s -> md5(s || '#11'))) AS s11,\n      list_min(list_transform(toks, s -> md5(s || '#12'))) AS s12,\n      list_min(list_transform(toks, s -> md5(s || '#13'))) AS s13,\n      list_min(list_transform(toks, s -> md5(s || '#14'))) AS s14,\n      list_min(list_transform(toks, s -> md5(s || '#15'))) AS s15\n      FROM docs),\n    bands AS (\n      SELECT doc_id, unnest([{'band': 0, 'bucket': md5(s0 || '|' || s1)}, {'band': 1, 'bucket': md5(s2 || '|' || s3)}, {'band': 2, 'bucket': md5(s4 || '|' || s5)}, {'band': 3, 'bucket': md5(s6 || '|' || s7)}, {'band': 4, 'bucket': md5(s8 || '|' || s9)}, {'band': 5, 'bucket': md5(s10 || '|' || s11)}, {'band': 6, 'bucket': md5(s12 || '|' || s13)}, {'band': 7, 'bucket': md5(s14 || '|' || s15)}], recursive := true)\n      FROM sigs),\n    cand AS (\n      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket\n      WHERE a.doc_id < b.doc_id),\n    inv AS (SELECT doc_id, len(toks) AS n, toks FROM docs),\n    scored AS (\n      SELECT c.id_a, c.id_b,\n             len(list_intersect(x.toks, y.toks)) AS common,\n             x.n AS na, y.n AS nb\n      FROM cand c JOIN inv x ON x.doc_id = c.id_a JOIN inv y ON y.doc_id = c.id_b)\n    SELECT id_a, id_b,\n           round(CAST(common AS DOUBLE)/(na+nb-common), 6) AS jaccard\n    FROM scored WHERE CAST(common AS DOUBLE)/(na+nb-common) >= 0.5\n    "


@query("q52_minhash_lsh", oracle=_LSH_ORACLE)
def q52_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs → verified jaccard (the scale path
    of q17). The md5-lex-min hash family and banding are engine-
    portable, so even the LSH bucketing is oracle-checked in SQL."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    cands = D.minhash_lsh_candidates(d, "text", "doc_id", num_hashes=16, bands=8)
    return D.jaccard_pairs(d, "text", "doc_id", threshold=0.5, candidates=cands)


# =====================================================================
# Fuzzy-dedup capstone COMPOSITION: the full pipeline a production
# 100-TB dedup run executes, as one gate entry.
# =====================================================================
@query(
    "q70_fuzzy_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({_LSH_ORACLE})),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    reach AS (
      SELECT v AS src, v AS dst FROM verts
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst),
    comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component,
           CAST(d.doc_id = coalesce(c.component, d.doc_id) AS BOOLEAN) AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    LEFT JOIN comp c ON c.id = d.doc_id
    """,
)
def q70_fuzzy_dedup_pipeline(spark, sf_dir):
    """End-to-end fuzzy dedup: MinHash-LSH candidates (q52) → exact
    Jaccard verify on candidates only (q17) → connected components
    over the verified pairs (q69) → per-component survivor election
    over the WHOLE corpus slice (keep = doc is its component's min id;
    docs in no near-dup pair are their own singleton component and
    keep themselves). The oracle composes the pieces' SQL the same
    way: the q52 banding+verify query feeds a recursive reachability
    CTE, left-joined back onto the corpus."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    cands = D.minhash_lsh_candidates(d, "text", "doc_id", num_hashes=16, bands=8)
    pairs = D.jaccard_pairs(d, "text", "doc_id", threshold=0.5, candidates=cands)
    comps = D.connected_components(pairs)
    comp = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        d.select("doc_id")
        .join(comps, F.col("doc_id") == comps["id"], "left")
        .select(
            "doc_id",
            comp.alias("component"),
            (F.col("doc_id") == comp).alias("keep"),
        )
    )


# =====================================================================
# df-capped Jaccard — the guarded inverted-index branch, oracled.
# =====================================================================
@query(
    "q71_jaccard_df_capped",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ')) AS toks
      FROM documents WHERE doc_id < 300),
    inv AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
    hot AS (SELECT tok FROM inv GROUP BY tok HAVING count(*) > 150),
    kept AS (SELECT doc_id, tok FROM inv WHERE tok NOT IN (SELECT tok FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, common, sa.n AS na, sb.n AS nb
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, round(CAST(common AS DOUBLE)/(na+nb-common), 6) AS jaccard
    FROM j WHERE CAST(common AS DOUBLE)/(na+nb-common) >= 0.5
    """,
)
def q71_jaccard_df_capped(spark, sf_dir):
    """The document-frequency-capped inverted-index Jaccard (the guard
    closing the round-2 verdict's last unguarded quadratic), proven
    end-to-end against SQL: tokens with df > 150 never enter the
    join, per-doc sizes are recounted from the surviving postings, and
    the oracle reproduces both the df filter and the capped-vocabulary
    Jaccard."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.jaccard_pairs(
        d, "text", "doc_id", threshold=0.5, max_doc_freq=150
    )


# =====================================================================
# ExactSubstr-style duplicated-window statistics.
# =====================================================================
@query(
    "q72_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(n - 7, 0)),
                    i -> md5(array_to_string(t[i+1:i+8], ' ')))) AS h
      FROM base),
    shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    dup AS (
      SELECT doc_id, count(*) AS c
      FROM wins WHERE h IN (SELECT h FROM shared) GROUP BY doc_id)
    SELECT b.doc_id,
           greatest(n - 7, 0) AS n_windows,
           coalesce(d.c, 0) AS n_dup_windows,
           CASE WHEN n - 7 > 0
                THEN round(CAST(coalesce(d.c, 0) AS DOUBLE)/(n - 7), 6)
                ELSE 0.0 END AS dup_fraction
    FROM base b LEFT JOIN dup d ON d.doc_id = b.doc_id
    """,
)
def q72_duplicate_spans(spark, sf_dir):
    """Per-document duplicated-window fraction (8-token rolling md5
    windows shared across ≥ 2 docs) — the distributable form of
    suffix-array ExactSubstr dedup. One digest groupBy, no self-join."""
    d = _load(spark, sf_dir, "documents")
    out = D.duplicate_span_stats(d, "text", "doc_id", window=8, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_windows", "n_dup_windows", "dup_fraction"
    )


# =====================================================================
# ExactSubstr span OUTPUT: merged duplicated-token intervals.
# =====================================================================
@query(
    "q77_duplicate_span_ranges",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    wins AS (
      SELECT doc_id,
             unnest(range(greatest(n - 7, 0))) AS pos,
             unnest(list_transform(range(greatest(n - 7, 0)),
                    i -> md5(array_to_string(t[i+1:i+8], ' ')))) AS h
      FROM base),
    shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (SELECT doc_id, pos FROM wins WHERE h IN (SELECT h FROM shared)),
    lagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM flagged),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM lagged)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, g
    """,
)
def q77_duplicate_span_ranges(spark, sf_dir):
    """The span-level ExactSubstr output: duplicated 8-token windows
    merged into maximal contiguous token intervals per document —
    the ranges a dedup pass would actually cut. One digest groupBy +
    one per-doc ordering window; the oracle re-derives the interval
    merge with the same lag/cumsum sessionization."""
    d = _load(spark, sf_dir, "documents")
    out = D.duplicate_spans(d, "text", "doc_id", window=8, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"), "span_start", "span_end", "n_windows"
    )


# =====================================================================
# ExactSubstr span APPLY: cut the located intervals out of the text —
# the dedup pass's actual output corpus (Lee et al. 2022 step 3).
# =====================================================================
@query(
    "q80_remove_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    wins AS (
      SELECT doc_id,
             unnest(range(greatest(n - 7, 0))) AS pos,
             unnest(list_transform(range(greatest(n - 7, 0)),
                    i -> md5(array_to_string(t[i+1:i+8], ' ')))) AS h
      FROM base),
    shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (SELECT doc_id, pos FROM wins WHERE h IN (SELECT h FROM shared)),
    lagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM flagged),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM lagged),
    spans AS (
      SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS s1
      FROM grp GROUP BY doc_id, g),
    tokpos AS (
      SELECT doc_id, unnest(range(n)) AS pos, unnest(t) AS tok FROM base),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s0 AND s.s1)),
    reb AS (
      SELECT doc_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           coalesce(r.clean_md5, md5('')) AS clean_md5,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(b.n - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
    FROM base b LEFT JOIN reb r ON r.doc_id = b.doc_id
    """,
)
def q80_remove_spans(spark, sf_dir):
    """ExactSubstr APPLY: q77 locates the merged duplicated-token
    intervals; this entry CUTS them — one per-doc interval directory
    left-joined onto the corpus, then a positional filter over each
    token array (see remove_duplicate_spans). clean_text is
    md5'd for the hash compare (long strings); the oracle re-derives
    the spans and the cut with a NOT-EXISTS range condition."""
    d = _load(spark, sf_dir, "documents")
    spans = D.duplicate_spans(d, "text", "doc_id", window=8, min_docs=2)
    out = D.remove_duplicate_spans(d, spans, "text", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        F.md5("clean_text").alias("clean_md5"),
        F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
        F.col("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


# =====================================================================
# Benchmark decontamination (13-gram overlap).
# =====================================================================
@query(
    "q73_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    bench AS (
      SELECT DISTINCT md5(array_to_string(t[1:13], ' ')) AS h
      FROM toks WHERE doc_id % 97 = 0 AND len(t) >= 13),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(t) - 12, 0)),
                    i -> md5(array_to_string(t[i+1:i+13], ' ')))) AS h
      FROM toks),
    hits AS (
      SELECT doc_id, count(*) AS c
      FROM wins WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
    SELECT t.doc_id, coalesce(c, 0) AS n_hits, coalesce(c, 0) > 0 AS contaminated
    FROM toks t LEFT JOIN hits ON hits.doc_id = t.doc_id
    """,
)
def q73_decontamination(spark, sf_dir):
    """GPT-3/PaLM-style 13-gram decontamination: the benchmark set is
    the leading 13-gram of every 97th document; any document whose
    rolling 13-token windows hit a benchmark gram is flagged. The
    bench digests broadcast; the corpus never shuffles."""
    d = _load(spark, sf_dir, "documents")
    toks = F.split(D.normalize_text(F.col("text")), " ")
    bench = d.filter((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 13)).select(
        F.md5(F.concat_ws(" ", F.slice(toks, 1, 13))).alias("h")
    )
    out = D.ngram_contamination(d, "text", "doc_id", bench, n=13)
    return out.select(F.col("id").alias("doc_id"), "n_hits", "contaminated")


# =====================================================================
# Stratified deterministic sampling (corpus rebalancing).
# =====================================================================
@query(
    "q74_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {_bucket_sql('doc_id', 'sample')} <
          (CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 100000 ELSE 50000 END)
    """,
)
def q74_stratified_sample(spark, sf_dir):
    """Per-language rebalanced sample: keep 50% of English, 10% of
    German, 5% of everything else — deterministically (md5 ppm
    buckets shared with q67, so rates nest and rows are identical at
    any parallelism). Pure expression; the oracle recomputes the
    buckets and the CASE rates bit-for-bit."""
    from ..operators.relational import stratified_hash_sample

    d = _load(spark, sf_dir, "documents")
    return stratified_hash_sample(
        d, "doc_id", "lang", {"en": 500_000, "de": 100_000}, default_ppm=50_000
    ).select("doc_id", "lang")


# =====================================================================
# Deterministic train/val/test fold split (disjoint ppm ranges).
# =====================================================================
@query(
    "q81_hash_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN b < 100000 THEN 'test'
                WHEN b < 900000 THEN 'train'
                ELSE 'val' END AS fold
    FROM (SELECT doc_id, lang, {_bucket_sql('doc_id', 'split')} AS b
          FROM documents)
    """,
)
def q81_hash_split(spark, sf_dir):
    """80/10/10 train/val/test fold assignment: each row's fold is the
    DISJOINT ppm range its md5 bucket falls into (ranges laid out in
    sorted fold-name order: test [0,100k), train [100k,900k), val
    [900k,1M)) — exactly one fold per row by construction, no RNG, no
    shuffle, identical at any parallelism. The oracle recomputes the
    buckets and the range CASE bit-for-bit."""
    from ..operators.relational import hash_split

    d = _load(spark, sf_dir, "documents")
    out = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "lang", "fold")


# =====================================================================
# Fixed token-budget corpus prefix (training-mixture slices).
# =====================================================================
@query(
    "q82_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text)='' THEN 0
                  ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS rb
      FROM t)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM r WHERE rb < 10000
    """,
)
def q82_token_budget(spark, sf_dir):
    """The first 10,000-token slice of the corpus in doc_id order —
    the shape a fixed-budget training run or a proportional mixture
    recipe takes. A doc is kept iff the tokens strictly before it fit
    the budget (the boundary doc that crosses it is the last one
    kept). The engine's running total is the scalable two-level
    blocked cumsum (block_size 100 → the cross-block offset path is
    genuinely exercised); the oracle is the textbook single-window
    prefix sum."""
    from ..operators.relational import take_token_budget

    d = _load(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    toks = d.select(
        "doc_id", "lang", feats["n_words"].cast("long").alias("n_tokens")
    )
    return take_token_budget(
        toks, "doc_id", "n_tokens", budget=10_000, block_size=100
    )


# =====================================================================
# End-to-end CURATION RUN: the document-side composition capstone
# (quality gate → language gate → exact-dedup survivors → stratified
# rebalance), the q70 pattern one level up.
# =====================================================================
_QUALITY_SQL = """
    SELECT doc_id, lang, text, n_words,
      CAST(round(
        (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END)
        + (CASE WHEN round(CAST(n_stop AS DOUBLE)/greatest(n_words,1),4) >= 0.01 THEN 0.3 ELSE 0 END)
        + (CASE WHEN round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1),4) <= 0.2 THEN 0.2 ELSE 0 END)
        + (CASE WHEN round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1),4) <= 0.3 THEN 0.1 ELSE 0 END)
      , 4) AS DOUBLE) AS quality
    FROM (
      SELECT doc_id, lang, text,
        length(text) AS n_chars,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_words,
        len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
        (len(regexp_extract_all(lower(text),'\\bthe\\b'))
         + len(regexp_extract_all(lower(text),'\\band\\b'))
         + len(regexp_extract_all(lower(text),'\\bof\\b'))
         + len(regexp_extract_all(lower(text),'\\bto\\b'))
         + len(regexp_extract_all(lower(text),'\\bin\\b'))
         + len(regexp_extract_all(lower(text),'\\bis\\b'))
         + len(regexp_extract_all(lower(text),'\\bthat\\b'))
         + len(regexp_extract_all(lower(text),'\\bwith\\b'))) AS n_stop,
        len(regexp_extract_all(text, '[A-Z]')) AS n_upper
      FROM corpus)
"""


@query(
    "q75_curation_run",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, lang, text FROM documents WHERE doc_id % 10 = 7),
    q AS ({_QUALITY_SQL}),
    filt AS (SELECT * FROM q WHERE quality >= 0.8 AND lang IN ('en','de','fr')),
    fp AS (SELECT doc_id, lang, quality, n_words,
           md5(trim(lower(regexp_replace(text,'\\s+',' ','g')))) AS h FROM filt),
    firsts AS (SELECT h, min(doc_id) AS fd FROM fp GROUP BY h),
    kept AS (
      SELECT fp.doc_id, fp.lang, fp.quality, fp.n_words
      FROM fp JOIN firsts ON fp.h = firsts.h AND fp.doc_id = firsts.fd)
    SELECT doc_id, lang, quality, n_words AS n_tokens FROM kept
    WHERE {_bucket_sql('doc_id', 'sample')} <
          (CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 200000 ELSE 100000 END)
    """,
)
def q75_curation_run(spark, sf_dir):
    """The document-side composition a 100-TB curation run executes,
    as ONE oracled gate entry: corpus (with injected re-crawl
    duplicates: every 10th-mod-7 doc again under a shifted id) →
    Gopher-style quality gate (q14's score ≥ 0.8) → language gate →
    exact-dedup survivor election (first-seen md5, originals beat
    re-crawls by id order — q15 semantics) → stratified per-language
    rebalance (q74's nested ppm buckets). Every stage is a pure
    expression or a digest-keyed shuffle; the oracle re-derives the
    whole chain. The chain executes through the REUSABLE entry point
    (pipelines.curate.curate) — this row oracles the production code
    path itself, not a parallel gate-only composition."""
    from ..pipelines.curate import CurationConfig, curate

    d = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    recrawl = d.filter(F.col("doc_id") % 10 == 7).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = d.unionByName(recrawl)
    cfg = CurationConfig(
        min_quality=0.8,
        langs=["en", "de", "fr"],
        fuzzy=False,
        rates_ppm={"en": 500_000, "de": 200_000},
        default_ppm=100_000,
    )
    curated = curate(corpus, "text", "doc_id", "lang", cfg)
    feats = TX.quality_features(F.col("text"))
    return curated.select(
        "doc_id", "lang", "quality", feats["n_words"].cast("long").alias("n_tokens")
    )


# =====================================================================
# Writing-script composition (multilingual routing signal).
# =====================================================================
@query(
    "q79_script_detect",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
        text || (CASE WHEN doc_id % 3 = 1
                      THEN ' ' || repeat('数据处理', CAST(1 + doc_id % 40 AS INT))
                      WHEN doc_id % 3 = 2
                      THEN ' ' || repeat('данные системы ', CAST(1 + doc_id % 30 AS INT))
                      ELSE '' END) AS t
      FROM documents),
    c AS (
      SELECT doc_id,
        len(regexp_extract_all(t, '[A-Za-zÀ-ɏ]')) AS n_lat,
        len(regexp_extract_all(t, '[一-鿿]')) AS n_cjk,
        len(regexp_extract_all(t, '[Ѐ-ӿ]')) AS n_cyr
      FROM injected)
    SELECT doc_id,
      round(CAST(n_lat AS DOUBLE)/greatest(n_lat+n_cjk+n_cyr, 1), 4) AS latin_ratio,
      round(CAST(n_cjk AS DOUBLE)/greatest(n_lat+n_cjk+n_cyr, 1), 4) AS cjk_ratio,
      round(CAST(n_cyr AS DOUBLE)/greatest(n_lat+n_cjk+n_cyr, 1), 4) AS cyrillic_ratio,
      CASE WHEN n_lat >= n_cjk AND n_lat >= n_cyr THEN 'latin'
           WHEN n_cjk >= n_cyr THEN 'cjk'
           ELSE 'cyrillic' END AS dominant_script
    FROM c
    """,
)
def q79_script_detect(spark, sf_dir):
    """Writing-script composition over documents with deterministically
    injected CJK/Cyrillic runs (the raw corpus is ASCII — injection
    makes the oracle non-vacuous, q61's pattern; the repeat length
    varies per doc so some become CJK/Cyrillic-dominant). Pure Column
    expressions; the oracle recomputes counts/ratios/dominance
    bit-for-bit."""
    d = _load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" "), F.expr("repeat('数据处理', CAST(1 + doc_id % 40 AS INT))")),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(F.lit(" "), F.expr("repeat('данные системы ', CAST(1 + doc_id % 30 AS INT))")),
        )
        .otherwise(F.lit("")),
    )
    r = TX.script_ratios(t)
    return d.select(
        "doc_id",
        r["latin_ratio"].alias("latin_ratio"),
        r["cjk_ratio"].alias("cjk_ratio"),
        r["cyrillic_ratio"].alias("cyrillic_ratio"),
        r["dominant_script"].alias("dominant_script"),
    )


# =====================================================================
# Corpus distribution report (exact percentiles).
# =====================================================================
@query(
    "q78_token_distribution",
    oracle="""
    WITH t AS (
      SELECT lang,
             CASE WHEN trim(text)='' THEN 0
                  ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_tokens
      FROM documents)
    SELECT lang, count(*) AS n_docs,
           round(avg(n_tokens), 4) AS mean_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90,
           round(quantile_cont(n_tokens, 0.99), 4) AS p99
    FROM t GROUP BY lang
    """,
)
def q78_token_distribution(spark, sf_dir):
    """Per-language token-count distribution — the corpus report a
    curation run starts from. EXACT percentiles (Spark's percentile
    aggregate and DuckDB's quantile_cont share the continuous
    p·(n−1) linear-interpolation definition, so values match to the
    rounding guard); one groupBy on lang."""
    d = _load(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    t = d.select("lang", feats["n_words"].alias("n_tokens"))
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("n_tokens", F.lit(0.99)), 4).alias("p99"),
    )


# =====================================================================
# Sequence packing (LM training-batch assembly).
# =====================================================================
@query(
    "q76_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text)='' THEN 0
                  ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS stream_offset
      FROM t)
    SELECT doc_id, n_tokens, stream_offset,
           CAST(stream_offset // 512 AS BIGINT) AS bin_id
    FROM r
    """,
)
def q76_pack_sequences(spark, sf_dir):
    """Concat-then-split sequence packing into 512-token training
    bins: documents in doc_id order lay head-to-tail into one token
    stream; each doc's bin is where its first token lands. The engine
    computes the global prefix sum SCALABLY (key-range blocks +
    block-total offsets — no single-task global window over the
    data); the oracle is the textbook single-window form, proving the
    two-level cumsum exactly equals it."""
    from ..operators.relational import pack_sequences

    d = _load(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    toks = d.select("doc_id", feats["n_words"].cast("long").alias("n_tokens"))
    # block_size 100 → tens of blocks even at sf0.01: the cross-block
    # offset path is genuinely exercised, not a one-block degenerate
    return pack_sequences(toks, "doc_id", "n_tokens", capacity=512, block_size=100)


_IVF_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT label, i, avg(v[i]) AS m
         FROM e, generate_series(1, 64) AS t(i) GROUP BY label, i),
cent AS (SELECT label AS cid, list(m ORDER BY i) AS cv FROM dims GROUP BY label),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qc AS (
  SELECT query_id, cid, qv,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_dot_product(qv, cv) /
                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
                    cid ASC) AS crank
  FROM q, cent),
probes AS (SELECT query_id, cid, qv FROM qc WHERE crank <= 2),
cand AS (
  SELECT p.query_id, p.qv, c.vec_id AS neighbor_id, c.v AS cv
  FROM probes p JOIN e c ON c.label = p.cid AND c.vec_id <> p.query_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM cand),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("q53_ivf_topk", oracle=_IVF_ORACLE)
def q53_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN top-k (label-mean centroids, nprobe=2) — the
    whole index build + probe path is oracle-checked in SQL."""
    emb = _load(spark, sf_dir, "embeddings")
    cents_df = S.label_centroids(emb, "embedding", "label")
    assigned = emb.withColumn("centroid_id", F.col("label"))
    q = emb.filter(F.col("vec_id") < 10)
    return S.cosine_topk_ivf(q, assigned, cents_df, "embedding", "vec_id", k=5, nprobe=2)


@query(
    "q54_media_features",
    oracle="""
    WITH m AS (
      SELECT g AS media_id,
             CASE g % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             repeat(md5('42:' || CAST(g // 3 AS VARCHAR)), 1 + (g // 3) % 5) AS payload
      FROM range(300) t(g))
    SELECT min(media_id) AS media_id,
           arg_min(kind, media_id) AS kind,
           md5(payload) AS content_hash,
           CAST(length(payload) AS INT) AS n_bytes,
           count(*) AS copies
    FROM m GROUP BY payload
    """,
)
def q54_media_features(spark, sf_dir):
    """Multimodal plumbing: synthetic media → features → content dedup.

    The synthetic payload is an ASCII md5-hex chain, so the DuckDB
    oracle reproduces content_hash/n_bytes/copies exactly (the binary
    column, Arrow batch shape, and decode seam are still exercised on
    the Spark side)."""
    from ..operators.multimodal import extract_media_features, media_dedup, synth_media

    # shuffle boundary between the synth (Python) and feature (Python)
    # stages — same rationale as q50
    media = synth_media(spark, 300).repartition(16)
    feats = extract_media_features(media)
    return media_dedup(feats).select(
        "media_id", "kind", "content_hash", "n_bytes", "copies"
    )


# =====================================================================
# Multimodal frame sampling (UDTF shape: one video row → N frame rows)
# =====================================================================
@query(
    "q68_frame_sample",
    oracle="""
    WITH m AS (
      SELECT g AS media_id,
             CASE g % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             repeat(md5('42:' || CAST(g // 3 AS VARCHAR)), 1 + (g // 3) % 5) AS payload
      FROM range(300) t(g)),
    v AS (
      SELECT media_id, payload,
             1 + ((strpos('0123456789abcdef', substr(md5(payload), 5, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(payload), 6, 1)) - 1)) % 8 AS nf
      FROM m WHERE kind = 'video'),
    f AS (SELECT media_id, payload, unnest(range(0, nf, 2)) AS frame_idx FROM v)
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           md5(payload || ':frame:' || CAST(frame_idx AS VARCHAR)) AS frame_hash
    FROM f
    """,
)
def q68_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: every 2nd frame of each synthetic
    video (frame count from the deterministic fake decode). The
    oracle reproduces the per-video fan-out AND the content-derived
    frame hashes bit-for-bit."""
    from ..operators.multimodal import sample_frames, synth_media

    media = synth_media(spark, 300).repartition(16)
    return sample_frames(media, every_n=2)


# =====================================================================
# Video star-schema pipeline (E3/D6 — rows-only: star tables are
# engine-synthesized, not driver-registered).
# =====================================================================
def _yt_docs_cte(n: int, standalone: bool) -> str:
    """CTE chain reproducing the synthetic video star schema AND the
    'complete'-style rendered document per video in ANSI SQL — the
    fixtures are md5 arithmetic (sources/youtube.py::word_at), so
    DuckDB recomputes every title/description/transcript/comment word
    bit-for-bit, and the document assembly mirrors
    render_video_complete line by line. Ends with a ``docs(i,
    video_id, doc)`` CTE (no leading WITH)."""
    from ..sources.youtube import _WORDS

    h = "#" if standalone else "##"
    cap = 10 if standalone else 5
    words_list = "['" + "', '".join(_WORDS) + "']"
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {k + 1}, 1)) - 1) * {16 ** (7 - k)}"
        for k in range(8)
    )
    word = f"list_extract({words_list}, (({hex8}) % {len(_WORDS)}) + 1)"
    return f"""
  vids AS (
    SELECT g AS i,
           'vid' || lpad(CAST(g AS VARCHAR), 8, '0') AS video_id,
           'channel-' || CAST(g % 5 AS VARCHAR) AS channel,
           'https://www.youtube.com/watch?v=vid' || lpad(CAST(g AS VARCHAR), 8, '0') AS url
    FROM range({n}) t(g)),
  t_toks AS (
    SELECT i, j, md5('42:' || CAST(i AS VARCHAR) || ':t:' || CAST(j AS VARCHAR)) AS h
    FROM vids, generate_series(0, 3) s(j)),
  titles AS (
    SELECT i, string_agg(upper(substr(w, 1, 1)) || substr(w, 2), ' ' ORDER BY j) AS title
    FROM (SELECT i, j, {word} AS w FROM t_toks) GROUP BY i),
  d_toks AS (
    SELECT i, j, md5('42:' || CAST(i AS VARCHAR) || ':d:' || CAST(j AS VARCHAR)) AS h
    FROM vids, generate_series(0, 11) s(j) WHERE i % 7 <> 0),
  descs AS (
    SELECT i, string_agg(w, ' ' ORDER BY j) AS description
    FROM (SELECT i, j, {word} AS w FROM d_toks) GROUP BY i),
  tr_toks AS (
    SELECT i, p, j,
           md5('42:' || CAST(i AS VARCHAR) || ':tr' || CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
    FROM vids, generate_series(0, 15) sp(p), generate_series(0, 5) sj(j)
    WHERE p < 6 + i % 10),
  tr_lines AS (
    SELECT i, p, string_agg(w, ' ' ORDER BY j) AS text
    FROM (SELECT i, p, j, {word} AS w FROM tr_toks) GROUP BY i, p),
  trs AS (
    SELECT i, string_agg(
      CASE WHEN p % 8 = 5 THEN text
           ELSE printf('[%.1fs] %s', (42 * p + 10 * (i % 3)) / 10.0, text) END,
      e'\\n' ORDER BY p) AS transcript
    FROM tr_lines GROUP BY i),
  c_toks AS (
    SELECT i, c, j,
           md5('42:' || CAST(i AS VARCHAR) || ':c' || CAST(c AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
    FROM vids, generate_series(0, 39) sc(c), generate_series(0, 4) sj(j)
    WHERE c % 3 <> 0),
  c_text AS (
    SELECT i, c, string_agg(w, ' ' ORDER BY j) AS text
    FROM (SELECT i, c, j, {word} AS w FROM c_toks) GROUP BY i, c),
  c_ranked AS (
    SELECT i, c, text,
           row_number() OVER (PARTITION BY i ORDER BY
             coalesce(CASE WHEN c % 9 = 4 THEN NULL ELSE (c * 13) % 101 END, 0) DESC,
             i * 1000 + c ASC) AS rn
    FROM c_text),
  cms AS (
    SELECT i, string_agg('**user' || CAST(c % 17 AS VARCHAR) || '**: ' || text,
                         e'\\n\\n' ORDER BY rn) AS comments
    FROM c_ranked WHERE rn <= {cap} GROUP BY i),
  docs AS (
    SELECT v.i, v.video_id,
      '{h} ' || t.title || e'\\n'
      || 'Channel: **' || v.channel || '**' || e'\\n'
      || 'URL: [' || v.url || '](' || v.url || ')' || e'\\n\\n'
      || CASE WHEN d.description IS NOT NULL
              THEN '{h}# Description' || e'\\n' || d.description || e'\\n\\n'
              ELSE '' END
      || '{h}# Transcript' || e'\\n' || '```' || e'\\n' || tr.transcript
      || e'\\n' || '```' || e'\\n\\n'
      || '{h}# Top Comments' || e'\\n' || cm.comments || e'\\n' AS doc
    FROM vids v
    JOIN titles t ON t.i = v.i
    LEFT JOIN descs d ON d.i = v.i
    JOIN trs tr ON tr.i = v.i
    JOIN cms cm ON cm.i = v.i)"""


@query(
    "q55_video_docs",
    oracle=f"""
    WITH {_yt_docs_cte(24, standalone=True)}
    SELECT video_id, CAST(length(doc) AS INT) AS doc_len, md5(doc) AS doc_md5
    FROM docs
    """,
)
def q55_video_docs(spark, sf_dir):
    """videos⨝transcripts⨝chapters⨝comments → one document per video
    (complete style): the reference's single-video pipeline as one
    DataFrame query, rendered entirely by Column expressions. The
    oracle regenerates the md5-arithmetic star fixtures AND the full
    document assembly in SQL (bit-for-bit, incl. %.1f timestamps)."""
    from ..operators.video import video_documents
    from ..sources import youtube as Y

    n = 24
    docs = video_documents(
        Y.videos_df(spark, n), Y.transcripts_df(spark, n),
        Y.chapters_df(spark, n), Y.comments_df(spark, n), style="complete",
    )
    return docs.select("video_id", F.length("doc").alias("doc_len"), F.md5("doc").alias("doc_md5"))


@query(
    "q56_container_docs",
    oracle=f"""
    WITH {_yt_docs_cte(24, standalone=False)},
    members AS (
      SELECT 'p' || CAST(i % 3 AS VARCHAR) AS container_id, 'playlist' AS kind,
             i // 3 AS position, i FROM vids
      UNION ALL
      SELECT 'ch' || CAST(i % 5 AS VARCHAR), 'channel', i // 5, i FROM vids),
    m2 AS (
      SELECT m.container_id, m.kind, v.video_id, t.title, v.url, v.channel, d.doc,
             row_number() OVER (PARTITION BY m.container_id
                                ORDER BY m.position, v.video_id) AS rn
      FROM members m
      JOIN vids v ON v.i = m.i
      JOIN titles t ON t.i = m.i
      JOIN docs d ON d.i = m.i),
    cap5 AS (SELECT * FROM m2 WHERE rn <= 5),
    folded AS (
      SELECT container_id, kind,
             count(*) AS nv,
             min(CASE WHEN rn = 1 THEN channel END) AS first_channel,
             string_agg(CAST(rn AS VARCHAR) || '. [' || title || '](' || url || ')',
                        e'\\n' ORDER BY rn) AS idx_lines,
             string_agg(doc, e'\\n---\\n\\n' ORDER BY rn) AS docs_fold
      FROM cap5 GROUP BY container_id, kind),
    cdocs AS (
      SELECT container_id,
        '# YouTube ' || (CASE WHEN kind = 'playlist' THEN 'Playlist'
                              ELSE 'Channel: ' || first_channel END) || e'\\n'
        || 'URL: [https://www.youtube.com/' || kind || '/' || container_id
        || '](https://www.youtube.com/' || kind || '/' || container_id || ')' || e'\\n'
        || 'Videos: ' || CAST(nv AS VARCHAR) || e'\\n\\n'
        || (CASE WHEN kind = 'playlist' THEN '## Videos in this Playlist'
                 ELSE '## Recent Videos' END) || e'\\n'
        || idx_lines || e'\\n\\n'
        || docs_fold AS doc
      FROM folded)
    SELECT container_id, CAST(length(doc) AS INT) AS doc_len, md5(doc) AS doc_md5
    FROM cdocs
    """,
)
def q56_container_docs(spark, sf_dir):
    """S7/L2/A8: capped per-container fold of member video documents —
    the whole playlist/channel assembly (index list, separators,
    member docs) is a Column expression on the Spark side and is
    reproduced byte-for-byte by the SQL oracle."""
    from ..operators.video import container_documents, video_documents
    from ..sources import youtube as Y

    n = 24
    vids = Y.videos_df(spark, n)
    docs = video_documents(
        vids, Y.transcripts_df(spark, n), Y.chapters_df(spark, n),
        Y.comments_df(spark, n), style="complete", standalone=False,
    )
    out = container_documents(Y.containers_df(spark, n), vids, docs, max_videos=5)
    return out.select("container_id", F.length("doc").alias("doc_len"), F.md5("doc").alias("doc_md5"))


@query(
    "q57_chapter_asof",
    oracle="""
    WITH lines AS (
      SELECT CAST(user_id AS VARCHAR) AS video_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS pos,
             CASE WHEN event_id % 8 = 5 THEN -1.0
                  ELSE CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) END AS t,
             event_type AS text
      FROM events),
    ch AS (
      SELECT CAST(user_id AS VARCHAR) AS video_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS k,
             CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS start_time
      FROM events WHERE event_id % 10 = 0),
    anchors AS (
      SELECT c.video_id, c.k, min(l.pos) AS anchor_pos
      FROM ch c JOIN lines l ON l.video_id = c.video_id AND l.t >= c.start_time
      GROUP BY c.video_id, c.k),
    parts AS (
      SELECT video_id, anchor_pos AS pos, 0 AS kind, k AS sub,
             e'\\n' || '## Chapter ' || CAST(k AS VARCHAR) AS line
      FROM anchors
      UNION ALL
      SELECT l.video_id, l.pos, 1 AS kind, 0 AS sub, l.text AS line
      FROM lines l SEMI JOIN ch c ON l.video_id = c.video_id)
    SELECT video_id,
           md5(string_agg(line, e'\\n' ORDER BY pos, kind, sub)) AS organized_md5
    FROM parts GROUP BY video_id
    """,
)
def q57_chapter_asof(spark, sf_dir):
    """J2's anchor-join organization (organize_by_chapters_df), driven
    by chapter/transcript tables derived from the registered ``events``
    table so the whole ordered-fold + anchor-join path is oracle-
    checked (the video-star parity stays in tests/test_video.py).
    Every 10th event is a chapter boundary; lines with
    ``event_id % 8 == 5`` carry no timestamp (the quirk-Q12 non-advance
    path: t=-1 matches no chapter)."""
    from ..operators.video import organize_by_chapters_df

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lines = e.select(
        F.col("user_id").cast("string").alias("video_id"),
        F.row_number().over(w).alias("pos"),
        F.when(F.col("event_id") % 8 == 5, F.lit(None).cast("double"))
        .otherwise(epoch_s(F.col("ts")).cast("double"))
        .alias("start"),
        F.col("event_type").alias("text"),
    )
    chapters = (
        e.filter(F.col("event_id") % 10 == 0)
        .select(
            F.col("user_id").cast("string").alias("video_id"),
            F.row_number().over(w).alias("k"),
            epoch_s(F.col("ts")).cast("double").alias("start_time"),
        )
        .withColumn("title", F.concat(F.lit("Chapter "), F.col("k").cast("string")))
    )
    org = organize_by_chapters_df(lines, chapters)
    return org.select("video_id", F.md5("organized").alias("organized_md5"))


# =====================================================================
# F15 — image-extension whitelist (contxt/scraper.py:476-482).
# =====================================================================
@query(
    "q18_image_ext",
    oracle="""
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN '.png'
                WHEN lang = 'de' THEN '.webp'
                ELSE '.jpg' END AS ext
    FROM documents
    """,
)
def q18_image_ext(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    # synthesize image URLs whose path extension depends on lang:
    # en → .png (whitelisted), de → .webp (whitelisted),
    # others → .bin or none (both fall back to .jpg)
    raw_ext = (
        F.when(F.col("lang") == "en", F.lit(".png"))
        .when(F.col("lang") == "de", F.lit(".webp"))
        .when(F.col("lang") == "fr", F.lit(".bin"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://cdn.example.com/img/"), F.col("doc_id").cast("string"), raw_ext
    )
    return d.select("doc_id", C.image_ext(url).alias("ext"))


# =====================================================================
# J4 — first-per-group lookup (first successful title,
# contxt/cli.py:326-335).
# =====================================================================
@query(
    "q19_first_per_group",
    oracle="""
    SELECT o_custkey,
           CAST(floor(epoch(min(o_orderdate))) AS BIGINT) AS first_order_ts,
           min(o_orderkey) AS first_orderkey
    FROM orders GROUP BY o_custkey
    """,
)
def q19_first_per_group(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min(epoch_s(F.col("o_orderdate"))).alias("first_order_ts"),
        F.min("o_orderkey").alias("first_orderkey"),
    )


# =====================================================================
# L4 — combined-name fallback: first 3 domains joined
# (contxt/cli.py:333-335).
# =====================================================================
@query(
    "q29_combined_name",
    oracle="""
    SELECT string_agg(source, '_' ORDER BY source) AS combined_name
    FROM (SELECT DISTINCT source FROM documents ORDER BY source LIMIT 3)
    """,
)
def q29_combined_name(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    domains = F.slice(F.array_sort(F.collect_set("source")), 1, 3)
    return d.agg(F.concat_ws("_", domains).alias("combined_name"))

_SIMHASH_ORACLE = "\nWITH toks AS (\n  SELECT doc_id AS id,\n         unnest(list_distinct(string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' '))) AS tok\n  FROM documents WHERE doc_id < 300),\nhashed AS (SELECT id, substr(md5(tok), 1, 8) AS h8 FROM toks),\nvals AS (SELECT id, (strpos('0123456789abcdef', substr(h8, 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(h8, 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(h8, 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(h8, 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(h8, 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(h8, 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(h8, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h8, 8, 1)) - 1) * 1 AS v FROM hashed),\nvotes AS (SELECT id, sum(CASE WHEN (v >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0,\n      sum(CASE WHEN (v >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,\n      sum(CASE WHEN (v >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2,\n      sum(CASE WHEN (v >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3,\n      sum(CASE WHEN (v >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS v4,\n      sum(CASE WHEN (v >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS v5,\n      sum(CASE WHEN (v >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS v6,\n      sum(CASE WHEN (v >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS v7,\n      sum(CASE WHEN (v >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS v8,\n      sum(CASE WHEN (v >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS v9,\n      sum(CASE WHEN (v >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS v10,\n      sum(CASE WHEN (v >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS v11,\n      sum(CASE WHEN (v >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS v12,\n      sum(CASE WHEN (v >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS v13,\n      sum(CASE WHEN (v >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS v14,\n      sum(CASE WHEN (v >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS v15,\n      sum(CASE WHEN (v >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS v16,\n      sum(CASE WHEN (v >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS v17,\n      sum(CASE WHEN (v >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS v18,\n      sum(CASE WHEN (v >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS v19,\n      sum(CASE WHEN (v >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS v20,\n      sum(CASE WHEN (v >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS v21,\n      sum(CASE WHEN (v >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS v22,\n      sum(CASE WHEN (v >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS v23,\n      sum(CASE WHEN (v >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS v24,\n      sum(CASE WHEN (v >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS v25,\n      sum(CASE WHEN (v >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS v26,\n      sum(CASE WHEN (v >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS v27,\n      sum(CASE WHEN (v >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS v28,\n      sum(CASE WHEN (v >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS v29,\n      sum(CASE WHEN (v >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS v30,\n      sum(CASE WHEN (v >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS v31 FROM vals GROUP BY id)\nSELECT id, CAST((CASE WHEN v0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN v4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN v5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN v6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN v7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN v8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN v9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN v10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN v11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN v12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN v13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN v14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN v15 > 0 THEN 32768 ELSE 0 END) + (CASE WHEN v16 > 0 THEN 65536 ELSE 0 END) + (CASE WHEN v17 > 0 THEN 131072 ELSE 0 END) + (CASE WHEN v18 > 0 THEN 262144 ELSE 0 END) + (CASE WHEN v19 > 0 THEN 524288 ELSE 0 END) + (CASE WHEN v20 > 0 THEN 1048576 ELSE 0 END) + (CASE WHEN v21 > 0 THEN 2097152 ELSE 0 END) + (CASE WHEN v22 > 0 THEN 4194304 ELSE 0 END) + (CASE WHEN v23 > 0 THEN 8388608 ELSE 0 END) + (CASE WHEN v24 > 0 THEN 16777216 ELSE 0 END) + (CASE WHEN v25 > 0 THEN 33554432 ELSE 0 END) + (CASE WHEN v26 > 0 THEN 67108864 ELSE 0 END) + (CASE WHEN v27 > 0 THEN 134217728 ELSE 0 END) + (CASE WHEN v28 > 0 THEN 268435456 ELSE 0 END) + (CASE WHEN v29 > 0 THEN 536870912 ELSE 0 END) + (CASE WHEN v30 > 0 THEN 1073741824 ELSE 0 END) + (CASE WHEN v31 > 0 THEN 2147483648 ELSE 0 END) AS BIGINT) AS fp FROM votes\n"

# =====================================================================
# SimHash over the md5 family — fully oracle-checkable fingerprints
# (bit-for-bit SQL reproduction; q51's xxhash64 variant stays the
# fast path).
# =====================================================================
@query("q58_simhash_md5", oracle=_SIMHASH_ORACLE)
def q58_simhash_md5(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.simhash32_md5(d, "text", "doc_id")


@query(
    "q51_simhash_near_dup",
    oracle=f"""
    WITH fps AS ({_SIMHASH_ORACLE})
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.id < b.id
    WHERE bit_count(xor(a.fp, b.fp)) <= 4
    """,
)
def q51_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs over the md5-32 family. The Spark side
    uses pigeonhole banding (the scale path: shuffles only block
    keys); the oracle brute-forces all pairs from the bit-identical
    fingerprint SQL — set equality is exactly the banding's perfect-
    recall guarantee (tested brute-vs-banded in test_operators.py).
    The xxhash64 fast path keeps its own Spark-internal tests.
    n_blocks=6 engages the multi-probe banding (15 subset keys of
    ~11 effective bits vs 5 keys of ~6.4 bits — this corpus is dense,
    so the wider keys cut spurious candidates; the pair set is
    identical by the perfect-recall guarantee)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.simhash_near_dups_md5(d, "text", "doc_id", max_hamming=4, n_blocks=6)


# =====================================================================
# Lexical similarity search: BM25 top-k over an inverted index — the
# sparse-retrieval complement to the embedding-cosine family (q27/q53).
# =====================================================================
@query(
    "q83_bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
    tfc AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl),
    dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
    posting AS (
      SELECT f.doc_id, f.term, f.tf, d.dl, g.df
      FROM tfc f JOIN dl d USING (doc_id) JOIN dfreq g USING (term), stats s
      WHERE g.df <= CAST(floor(0.78 * s.n) AS BIGINT)),
    qterms AS (
      SELECT DISTINCT query_id, term
      FROM (SELECT doc_id AS query_id, unnest(t[1:5]) AS term FROM toks
            WHERE doc_id % 50 = 0)),
    scored AS (
      SELECT q.query_id, p.doc_id,
             CAST(round(ln((s.n - p.df + 0.5)/(p.df + 0.5) + 1) *
                  ((p.tf * (1.2 + 1)) /
                   (p.tf + 1.2 * (0.25 + 0.75 * (p.dl / s.avgdl))))
                  * 1000000) AS BIGINT) AS contrib
      FROM qterms q JOIN posting p USING (term), stats s),
    agg AS (
      SELECT query_id, doc_id,
             CAST(sum(contrib) AS BIGINT) AS score_micros,
             count(*) AS n_terms
      FROM scored GROUP BY query_id, doc_id),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rnk,
             score_micros, n_terms
      FROM agg)
    SELECT query_id, doc_id, rnk, score_micros, n_terms
    FROM ranked WHERE rnk <= 10
    """,
)
def q83_bm25_topk(spark, sf_dir):
    """BM25 top-10 retrieval: every 50th document's first five tokens
    form a query; scores are summed integer-micros contributions over
    the df-capped inverted index, ranked with the (score desc, doc_id)
    unique tie-break. The df cap is the hot-term skew bound —
    identical rule in the oracle; 0.78 here (vs the operator's 0.5
    default) because the synthetic corpus draws from a ~31-term
    vocabulary whose document frequencies cluster at ~75-80%, so the
    gate exercises BOTH cap outcomes instead of capping everything."""
    d = _load(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    qs = d.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("q_text"),
    )
    out = S.bm25_topk(d, qs, k=10, max_df_frac=0.78, dense=True)
    return out.select(
        "query_id", "doc_id", F.col("rank").alias("rnk"), "score_micros", "n_terms"
    )


# =====================================================================
# CCNet-style LM quality, bigram order: mean per-bigram surprisal
# under the corpus's own bigram model (q66's sharper sibling).
# =====================================================================
@query(
    "q84_bigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS l, unnest(t[2:len(t)]) AS r
      FROM toks WHERE len(t) >= 2),
    c2 AS (SELECT l, r, count(*) AS c2 FROM bg GROUP BY l, r),
    c1 AS (SELECT l, count(*) AS c1 FROM bg GROUP BY l),
    scored AS (
      SELECT doc_id,
             CAST(round(-10 * log10(CAST(c2 AS DOUBLE) / c1)) AS INT) AS db
      FROM bg JOIN c2 USING (l, r) JOIN c1 USING (l)),
    agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(CAST(sum(db) AS DOUBLE) / count(*), 4) AS mean_deciban
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.mean_deciban, 0.0) AS mean_deciban
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q84_bigram_surprisal(spark, sf_dir):
    """Per-document mean bigram surprisal against the corpus's own
    P(r | l) model, quantized to integer decibans per bigram (order-
    independent sums). Docs with < 2 tokens report (0, 0.0)."""
    d = _load(spark, sf_dir, "documents")
    out = TX.bigram_surprisal(d, "text", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"), "n_bigrams", "mean_deciban"
    )


# =====================================================================
# Crawl prioritization: integer-exact PageRank host authority over
# the supplier→customer shipment graph (the frontier's priority
# signal at 10^10-URL scale; see operators/graph.py).
# =====================================================================
@query(
    "q85_host_authority",
    oracle="""
    WITH e AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    i1 AS (
      SELECT e.dst AS node, CAST(sum(r.r // o.outdeg) AS BIGINT) AS s
      FROM e JOIN outd o USING (src) JOIN r0 r ON r.node = e.src
      GROUP BY e.dst),
    r1 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN i1 i ON i.node = n.node),
    i2 AS (
      SELECT e.dst AS node, CAST(sum(r.r // o.outdeg) AS BIGINT) AS s
      FROM e JOIN outd o USING (src) JOIN r1 r ON r.node = e.src
      GROUP BY e.dst),
    r2 AS (
      SELECT n.node,
             CAST(150000 + (85 * coalesce(i.s, 0)) // 100 AS BIGINT)
               AS rank_micros
      FROM nodes n LEFT JOIN i2 i ON i.node = n.node)
    SELECT node, rank_micros FROM r2
    """,
)
def q85_host_authority(spark, sf_dir):
    """Two integer-PageRank iterations over the distinct
    supplier→customer edge set (damping 85%, micros scale, floor
    division) — every arithmetic step is 64-bit integer, so the rank
    table is identical at any parallelism and the oracle replays both
    iterations in SQL. The real deployment feeds host→host link
    edges from crawled pages into the same operator to order the
    frontier's priority queue."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    # nodes ride the iterations as packed BIGINTs (suppkey*2 / the odd
    # custkey lane) and decode to the 's<k>'/'c<k>' labels only on the
    # final projection: every distinct/join/groupBy in the two
    # PageRank iterations then shuffles 8-byte longs instead of hex
    # strings (guide §2.3 narrower types; 4.0 s → 3.4 s at sf1.0,
    # equality-checked against the string-keyed run at sf0.1). Rank
    # arithmetic never touches the label, so rank_micros is unchanged.
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("o_custkey") * 2 + 1).alias("dst"),
    )
    r = G.integer_pagerank(edges, iterations=2, damping_pct=85)
    return r.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("s"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("c"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "rank_micros",
    )


# =====================================================================
# Model-based quality filtering: linear classifier inference over the
# quality-feature vector (the DCLM/fineweb-edu pattern) — q14's rule
# score replaced by a weighted sigmoid, still a pure expression scan.
# =====================================================================
@query(
    "q86_quality_model",
    oracle="""
    WITH f AS (
      SELECT doc_id,
        length(text) AS n_chars,
        CASE WHEN trim(text)='' THEN 0
             ELSE len(string_split_regex(trim(text),'\\s+')) END AS n_words,
        len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
        (len(regexp_extract_all(lower(text),'\\bthe\\b'))
         + len(regexp_extract_all(lower(text),'\\band\\b'))
         + len(regexp_extract_all(lower(text),'\\bof\\b'))
         + len(regexp_extract_all(lower(text),'\\bto\\b'))
         + len(regexp_extract_all(lower(text),'\\bin\\b'))
         + len(regexp_extract_all(lower(text),'\\bis\\b'))
         + len(regexp_extract_all(lower(text),'\\bthat\\b'))
         + len(regexp_extract_all(lower(text),'\\bwith\\b'))) AS n_stop,
        len(regexp_extract_all(text, '[A-Z]')) AS n_upper
      FROM documents),
    r AS (
      SELECT doc_id,
        round(CAST(n_chars AS DOUBLE)/greatest(n_words,1), 4) AS mwl,
        round(CAST(n_punct AS DOUBLE)/greatest(n_chars,1), 4) AS pr,
        round(CAST(n_stop AS DOUBLE)/greatest(n_words,1), 4) AS sr,
        round(CAST(n_upper AS DOUBLE)/greatest(n_chars,1), 4) AS ur
      FROM f)
    SELECT doc_id,
      round(1.0/(1.0 + exp(-(0.5 + 0.1*mwl + -3.0*pr + 2.0*sr + -1.5*ur))), 6)
        AS model_score
    FROM r
    """,
)
def q86_quality_model(spark, sf_dir):
    """Linear quality-classifier inference: sigmoid over the rounded
    feature ratios with the default hand-set weights, weighted sum
    accumulated in the fixed QUALITY_MODEL_FEATURES order so the
    float arithmetic is bit-identical to the oracle's left-assoc
    expression."""
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.linear_quality_score(F.col("text")).alias("model_score"),
    )


# =====================================================================
# CCNet perplexity partitioning: head/middle/tail buckets by LM
# surprisal, thresholds from a bounded deterministic hash sample.
# =====================================================================
@query(
    "q87_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt),
    scored AS (
      SELECT doc_id, CAST(round(-10 * log10(c / t)) AS INT) AS db
      FROM toks JOIN cnt USING (tok), tot),
    s AS (
      SELECT doc_id, count(*) AS n_tokens,
             round(CAST(sum(db) AS DOUBLE) / count(*), 4) AS mean_deciban
      FROM scored GROUP BY doc_id),
    samp AS (SELECT doc_id, mean_deciban FROM s
             WHERE {{bucket}} < 500000),
    ordered AS (
      SELECT doc_id, mean_deciban,
             row_number() OVER (ORDER BY mean_deciban, doc_id) AS rn,
             count(*) OVER () AS m
      FROM samp),
    cut AS (
      SELECT
        max(CASE WHEN rn = CAST(ceil(m / 3.0 * 1) AS BIGINT) THEN mean_deciban END) AS c1db,
        max(CASE WHEN rn = CAST(ceil(m / 3.0 * 1) AS BIGINT) THEN doc_id END) AS c1id,
        max(CASE WHEN rn = CAST(ceil(m / 3.0 * 2) AS BIGINT) THEN mean_deciban END) AS c2db,
        max(CASE WHEN rn = CAST(ceil(m / 3.0 * 2) AS BIGINT) THEN doc_id END) AS c2id
      FROM ordered)
    SELECT doc_id, n_tokens, mean_deciban,
      CAST(1
        + CASE WHEN (mean_deciban > c1db
                     OR (mean_deciban = c1db AND doc_id > c1id)) THEN 1 ELSE 0 END
        + CASE WHEN (mean_deciban > c2db
                     OR (mean_deciban = c2db AND doc_id > c2id)) THEN 1 ELSE 0 END
        AS INT) AS bucket
    FROM s, cut
    """.replace("{bucket}", _bucket_sql("doc_id", "ppl")),
)
def q87_perplexity_buckets(spark, sf_dir):
    """Head/middle/tail perplexity terciles: surprisal thresholds are
    exact quantiles of a 50% deterministic hash sample (rank window
    over the BOUNDED sample only — never a global corpus sort), the
    corpus bucketed by a broadcast comparison. CCNet's partitioning,
    scale-shaped."""
    d = _load(spark, sf_dir, "documents")
    out = TX.perplexity_buckets(
        d, "text", "doc_id", n_buckets=3, sample_ppm=500_000, salt="ppl"
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "mean_deciban", "bucket"
    )


# =====================================================================
# Context-window chunking: the tokenize→chunk step of LM data prep
# (overlapped fixed-size windows), as a pure expression scan.
# =====================================================================
@query(
    "q88_chunk_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    c AS (
      SELECT doc_id, t,
             unnest(range(CAST(ceil(len(t) / 48.0) AS BIGINT))) AS chunk_idx
      FROM toks)
    SELECT doc_id, chunk_idx,
           array_to_string(list_slice(t, chunk_idx*48 + 1, chunk_idx*48 + 64), ' ')
             AS chunk_text,
           CAST(len(list_slice(t, chunk_idx*48 + 1, chunk_idx*48 + 64)) AS BIGINT)
             AS n_tokens
    FROM c
    """,
)
def q88_chunk_tokens(spark, sf_dir):
    """64-token chunks every 48 tokens (16-token overlap) over the
    normalized token stream — sequence+slice+posexplode, one scan, no
    shuffle; the remainder chunk is short, per the usual LM data-prep
    rule."""
    d = _load(spark, sf_dir, "documents")
    out = TX.chunk_tokens(d, "text", "doc_id", chunk_size=64, stride=48)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_text", "n_tokens"
    )


# =====================================================================
# ExactSubstr keep-one policy: the canonical Lee et al. 2022 rule —
# the duplicated substring survives in exactly one occurrence.
# =====================================================================
@query(
    "q89_keep_first_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    wins AS (
      SELECT doc_id,
             unnest(range(greatest(n - 7, 0))) AS pos,
             unnest(list_transform(range(greatest(n - 7, 0)),
                    i -> md5(array_to_string(t[i+1:i+8], ' ')))) AS h
      FROM base),
    shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    flg AS (SELECT doc_id, pos, h FROM wins WHERE h IN (SELECT h FROM shared)),
    k1 AS (SELECT h, min(doc_id) AS kid FROM flg GROUP BY h),
    k2 AS (SELECT f.h, k1.kid, min(f.pos) AS kpos
           FROM flg f JOIN k1 ON f.h = k1.h AND f.doc_id = k1.kid
           GROUP BY f.h, k1.kid),
    cut AS (SELECT f.doc_id, f.pos FROM flg f JOIN k2 ON f.h = k2.h
            WHERE NOT (f.doc_id = k2.kid AND f.pos = k2.kpos)),
    lagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM cut),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM lagged)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, g
    """,
)
def q89_keep_first_spans(spark, sf_dir):
    """ExactSubstr spans under the keep-first policy: per shared
    8-token digest the lexicographically-first occurrence (min
    (doc_id, pos)) survives; every other occurrence is reported for
    cutting. The keeper election is the only addition over q77 — one
    digest-keyed groupBy + join (Spark's min(struct(id, pos)) equals
    the oracle's two-level min exactly)."""
    d = _load(spark, sf_dir, "documents")
    out = D.duplicate_spans(
        d, "text", "doc_id", window=8, min_docs=2, policy="keep_first"
    )
    return out.select(
        F.col("id").alias("doc_id"), "span_start", "span_end", "n_windows"
    )


# =====================================================================
# ExactSubstr END-TO-END under keep-first: q89 elects keepers and
# locates spans, q80's cutter applies them — the canonical Lee et al.
# 2022 pipeline (every duplicated substring survives in exactly one
# place) oracled as ONE path.
# =====================================================================
@query(
    "q91_keep_first_pipeline",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks),
    wins AS (
      SELECT doc_id,
             unnest(range(greatest(n - 7, 0))) AS pos,
             unnest(list_transform(range(greatest(n - 7, 0)),
                    i -> md5(array_to_string(t[i+1:i+8], ' ')))) AS h
      FROM base),
    shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    flg AS (SELECT doc_id, pos, h FROM wins WHERE h IN (SELECT h FROM shared)),
    k1 AS (SELECT h, min(doc_id) AS kid FROM flg GROUP BY h),
    k2 AS (SELECT f.h, k1.kid, min(f.pos) AS kpos
           FROM flg f JOIN k1 ON f.h = k1.h AND f.doc_id = k1.kid
           GROUP BY f.h, k1.kid),
    cut AS (SELECT f.doc_id, f.pos FROM flg f JOIN k2 ON f.h = k2.h
            WHERE NOT (f.doc_id = k2.kid AND f.pos = k2.kpos)),
    lagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM cut),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM lagged),
    spans AS (
      SELECT doc_id, min(pos) AS s0, max(pos) + 7 AS s1
      FROM grp GROUP BY doc_id, g),
    tokpos AS (
      SELECT doc_id, unnest(range(n)) AS pos, unnest(t) AS tok FROM base),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s0 AND s.s1)),
    reb AS (
      SELECT doc_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           coalesce(r.clean_md5, md5('')) AS clean_md5,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(b.n - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
    FROM base b LEFT JOIN reb r ON r.doc_id = b.doc_id
    """,
)
def q91_keep_first_pipeline(spark, sf_dir):
    """ExactSubstr end-to-end, keep-first policy (Lee et al. 2022):
    duplicate_spans elects per-digest keepers (min (id, pos)) and
    merges the non-keeper occurrences into intervals;
    remove_duplicate_spans cuts them — so each duplicated substring
    survives in EXACTLY one document. Same plan shape as q80 plus the
    keeper groupBy+join on the digest key the shared-set aggregate
    already shuffled on. The oracle replays keeper election, span
    merge, and the NOT-EXISTS range cut in SQL."""
    d = _load(spark, sf_dir, "documents")
    spans = D.duplicate_spans(
        d, "text", "doc_id", window=8, min_docs=2, policy="keep_first"
    )
    out = D.remove_duplicate_spans(d, spans, "text", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        F.md5("clean_text").alias("clean_md5"),
        F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
        F.col("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


# =====================================================================
# Sitemap parsing (the north star's seeding path): deterministic
# sitemap XML synthesized per host, parsed with the pure-Column
# regex parser — urlset leaves, index files, entity unescaping,
# optional lastmod, multi-line entries all exercised.
# =====================================================================
@query(
    "q90_sitemap_parse",
    oracle="""
    WITH hosts AS (
      SELECT DISTINCT source AS host, CAST(substr(source, 4) AS INT) AS k
      FROM documents),
    bodies AS (
      SELECT host, k,
        CASE WHEN k % 4 = 0 THEN
          '<?xml version="1.0"?><sitemapindex>'
          || '<sitemap><loc>https://' || host || '.example.com/sitemap-a-'
          || CAST(k AS VARCHAR) || '.xml</loc><lastmod>2024-03-05</lastmod></sitemap>'
          || '<sitemap><loc>' || chr(10) || ' https://' || host
          || '.example.com/sitemap-b-' || CAST(k AS VARCHAR) || '.xml </loc></sitemap>'
          || '</sitemapindex>'
        ELSE
          '<?xml version="1.0"?><urlset>'
          || '<url><loc>https://' || host || '.example.com/p/'
          || CAST(k AS VARCHAR) || '/1</loc><lastmod>2024-01-15</lastmod></url>'
          || '<url><loc>https://' || host || '.example.com/p/'
          || CAST(k AS VARCHAR) || '/2?a=1&amp;b=2&#47;c&#x3D;d</loc></url>'
          || '<url>' || chr(10) || '<loc> https://' || host || '.example.com/p/'
          || CAST(k AS VARCHAR) || '/3 </loc></url>'
          || '</urlset>'
        END AS body
      FROM hosts),
    src AS (
      SELECT 'https://' || host || '.example.com/sitemap.xml' AS sitemap_url,
             body
      FROM bodies),
    blk AS (
      SELECT sitemap_url, body,
        regexp_extract_all(body, '(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>') AS bs
      FROM src),
    rows_ AS (
      SELECT sitemap_url, contains(body, '<sitemapindex') AS is_index,
        unnest(range(len(bs))) AS pos, unnest(bs) AS b
      FROM blk),
    ex AS (
      SELECT sitemap_url, is_index, CAST(pos AS BIGINT) AS pos,
        trim(regexp_extract(b, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1)) AS loc_raw,
        nullif(trim(regexp_extract(b, '<lastmod>\\s*([^<]*?)\\s*</lastmod>', 1)), '')
          AS lastmod
      FROM rows_)
    SELECT sitemap_url, pos,
      replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(
          replace(replace(replace(replace(loc_raw,
            '&lt;','<'), '&gt;','>'), '&quot;','"'), '&apos;', ''''),
          '&#(?:34|[xX]22);', '"', 'g'),
          '&#(?:39|[xX]27);', '''', 'g'),
          '&#(?:47|[xX]2[fF]);', '/', 'g'),
          '&#(?:60|[xX]3[cC]);', '<', 'g'),
          '&#(?:61|[xX]3[dD]);', '=', 'g'),
          '&#(?:62|[xX]3[eE]);', '>', 'g'),
          '&#(?:38|[xX]26);', '&', 'g'),
        '&amp;','&')
        AS loc,
      lastmod, is_index
    FROM ex
    """,
)
def q90_sitemap_parse(spark, sf_dir):
    """Deterministic per-host sitemap bodies (every 4th host gets an
    INDEX file; urlset hosts get a lastmod entry, an entity-escaped
    query URL, and a multi-line whitespace-padded entry) parsed by
    crawl.sitemaps.parse_sitemaps — the pure-Column regex parser the
    sitemap-driven frontier seeds from. The oracle synthesizes the
    same bytes and replays both regex passes in SQL."""
    from ..crawl.sitemaps import parse_sitemaps

    d = _load(spark, sf_dir, "documents")
    hosts = d.select(
        F.col("source").alias("host"),
        F.substring("source", 4, 10).cast("int").alias("k"),
    ).distinct()
    h = F.col("host")
    ks = F.col("k").cast("string")
    nl = F.lit("\n")
    index_body = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex>'),
        F.lit("<sitemap><loc>https://"), h, F.lit(".example.com/sitemap-a-"),
        ks, F.lit(".xml</loc><lastmod>2024-03-05</lastmod></sitemap>"),
        F.lit("<sitemap><loc>"), nl, F.lit(" https://"), h,
        F.lit(".example.com/sitemap-b-"), ks, F.lit(".xml </loc></sitemap>"),
        F.lit("</sitemapindex>"),
    )
    urlset_body = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc>https://"), h, F.lit(".example.com/p/"),
        ks, F.lit("/1</loc><lastmod>2024-01-15</lastmod></url>"),
        F.lit("<url><loc>https://"), h, F.lit(".example.com/p/"),
        ks, F.lit("/2?a=1&amp;b=2&#47;c&#x3D;d</loc></url>"),
        F.lit("<url>"), nl, F.lit("<loc> https://"), h, F.lit(".example.com/p/"),
        ks, F.lit("/3 </loc></url>"),
        F.lit("</urlset>"),
    )
    src = hosts.select(
        F.concat(F.lit("https://"), h, F.lit(".example.com/sitemap.xml")).alias(
            "sitemap_url"
        ),
        F.when(F.col("k") % 4 == 0, index_body).otherwise(urlset_body).alias("body"),
    )
    return parse_sitemaps(src)


# =====================================================================
# Sitemap discovery via robots.txt (the directive half of the
# sitemap-driven frontier): Sitemap: lines are group-independent
# (RFC 9309 / sitemaps.org), so extraction is a shuffle-free line
# filter over the raw bodies.
# =====================================================================
@query(
    "q92_robots_sitemaps",
    oracle="""
    WITH hosts AS (
      SELECT DISTINCT source AS host, CAST(substr(source, 4) AS INT) AS k
      FROM documents),
    bodies AS (
      SELECT host, array_to_string([
        '# robots for ' || host,
        'User-agent: *',
        'Disallow: /private',
        'Sitemap: https://' || host || '.example.com/sitemap.xml',
        CASE WHEN k % 2 = 0
             THEN 'sitemap: https://' || host || '.example.com/news-'
                  || CAST(k AS VARCHAR) || '.xml   '
             ELSE 'SITEMAP: https://' || host || '.example.com/caps-'
                  || CAST(k AS VARCHAR) || '.xml' END,
        'User-agent: googlebot',
        'Sitemap: https://cdn.example.com/shared-'
          || CAST(k % 3 AS VARCHAR) || '.xml # mirror',
        'Sitemap:'
      ], chr(10)) AS body
      FROM hosts),
    lines AS (
      SELECT host, unnest(range(len(string_split(body, chr(10))))) AS pos,
             trim(string_split(unnest(string_split(body, chr(10))), '#')[1]) AS line
      FROM bodies)
    SELECT host,
           trim(substr(line, strpos(line, ':') + 1)) AS sitemap_url,
           CAST(pos AS BIGINT) AS pos
    FROM lines
    WHERE lower(line) LIKE 'sitemap:%'
      AND trim(substr(line, strpos(line, ':') + 1)) <> ''
    """,
)
def q92_robots_sitemaps(spark, sf_dir):
    """Sitemap: directive extraction from deterministic robots bodies
    (mixed-case directives, trailing whitespace, a directive inside a
    foreign user-agent group — still valid, group-independence — a
    trailing-comment URL, and an empty directive that must drop).
    crawl.robots.robots_sitemaps is a shuffle-free line filter; the
    oracle replays the same comment-strip + first-colon split."""
    from ..crawl.robots import robots_sitemaps

    d = _load(spark, sf_dir, "documents")
    h = F.col("host")
    ks = F.col("k").cast("string")
    hosts = d.select(
        F.col("source").alias("host"),
        F.substring("source", 4, 10).cast("int").alias("k"),
    ).distinct()
    body = F.concat_ws(
        "\n",
        F.concat(F.lit("# robots for "), h),
        F.lit("User-agent: *"),
        F.lit("Disallow: /private"),
        F.concat(F.lit("Sitemap: https://"), h, F.lit(".example.com/sitemap.xml")),
        F.when(
            F.col("k") % 2 == 0,
            F.concat(
                F.lit("sitemap: https://"), h, F.lit(".example.com/news-"),
                ks, F.lit(".xml   "),
            ),
        ).otherwise(
            F.concat(
                F.lit("SITEMAP: https://"), h, F.lit(".example.com/caps-"),
                ks, F.lit(".xml"),
            )
        ),
        F.lit("User-agent: googlebot"),
        F.concat(
            F.lit("Sitemap: https://cdn.example.com/shared-"),
            (F.col("k") % 3).cast("string"), F.lit(".xml # mirror"),
        ),
        F.lit("Sitemap:"),
    )
    src = hosts.select("host", body.alias("robots_txt"))
    return robots_sitemaps(src)


# =====================================================================
# WARC archive round-trip (sources/warc.py): Common-Crawl-style ingest.
# Deterministic per-doc WARC blobs (warcinfo + response + request
# records; every even doc_id gzip-compressed; the response body embeds
# a fake "WARC/1.0" header block so delimiter splitting would corrupt
# the stream) -> parse_warc_records -> pages_from_warc. The oracle
# recomputes the response body directly from documents — the archive
# round-trip must be lossless.
# =====================================================================
def _synth_warc_blobs(docs: DataFrame) -> DataFrame:
    """Deterministic WARC fixture blobs from documents rows (doc_id,
    source, text): one 3-record blob per doc (warcinfo + response +
    request), 404 status on doc_id%7==0, whole-blob gzip on even
    doc_id, and a fake ``WARC/1.0`` header block embedded in the
    response body so delimiter splitting would corrupt the stream.
    Shared by q93 (round-trip) and q95 (CDX index) so their oracles
    replay one layout. Ends with a repartition barrier — the consumer
    is another Python stage (CLAUDE.md rule)."""
    import gzip as _gzip

    import pandas as pd

    blob_schema = "doc_id long, blob binary"

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did, src, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                body = (
                    "<html><body><p>WARC/1.0\r\nContent-Length: 7\r\n\r\n"
                    "not-a-record</p><pre>" + ("" if text is None else text)
                    + "</pre></body></html>"
                ).encode("utf-8")
                url = f"https://{src}.example.com/doc/{did}".encode()
                status = b"200 OK" if did % 7 else b"404 Not Found"
                http = (
                    b"HTTP/1.1 " + status
                    + b"\r\nContent-Type: text/html\r\n\r\n" + body
                )

                def rec(rtype: bytes, payload: bytes, extra: bytes = b"") -> bytes:
                    return (
                        b"WARC/1.0\r\nWARC-Type: " + rtype + b"\r\n" + extra
                        + b"Content-Length: " + str(len(payload)).encode()
                        + b"\r\n\r\n" + payload + b"\r\n\r\n"
                    )

                blob = (
                    rec(b"warcinfo", b"software: synthetic\r\n")
                    + rec(
                        b"response",
                        http,
                        b"WARC-Target-URI: " + url + b"\r\n"
                        + b"WARC-Date: 2024-05-04T12:00:"
                        + b"%02d" % (did % 60) + b"Z\r\n",
                    )
                    + rec(
                        b"request",
                        b"GET / HTTP/1.1\r\nHost: " + url + b"\r\n\r\n",
                        b"WARC-Target-URI: " + url + b"\r\n",
                    )
                )
                ids.append(did)
                blobs.append(_gzip.compress(blob) if did % 2 == 0 else blob)
            yield pd.DataFrame({"doc_id": ids, "blob": blobs})

    return docs.mapInPandas(synth, schema=blob_schema).repartition(8, "doc_id")


@query(
    "q93_warc_roundtrip",
    oracle="""
    SELECT 'https://' || source || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           md5('<html><body><p>WARC/1.0' || chr(13) || chr(10)
               || 'Content-Length: 7' || chr(13) || chr(10) || chr(13)
               || chr(10) || 'not-a-record</p><pre>' || coalesce(text, '')
               || '</pre></body></html>') AS body_md5,
           CAST(octet_length(encode(
               '<html><body><p>WARC/1.0' || chr(13) || chr(10)
               || 'Content-Length: 7' || chr(13) || chr(10) || chr(13)
               || chr(10) || 'not-a-record</p><pre>' || coalesce(text, '')
               || '</pre></body></html>')) AS BIGINT) AS body_len,
           CAST(1714824000 + doc_id % 60 AS BIGINT) AS ts_epoch
    FROM documents
    """,
)
def q93_warc_roundtrip(spark, sf_dir):
    """WARC ingest round-trip: synthesize one 3-record WARC blob per
    document (mapInPandas, _synth_warc_blobs), parse it back with the
    Content-Length cursor, adapt responses into the pages shape, and
    digest the body. Scale shape: both passes are Arrow-batched and
    per-blob independent — at CC scale a blob is a ~1 GB segment, not
    a page."""
    from ..sources.warc import pages_from_warc, parse_warc_records

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    blobs = _synth_warc_blobs(docs)
    recs = parse_warc_records(blobs, content_col="blob", id_col="doc_id")
    return pages_from_warc(recs).select(
        "url",
        F.md5("html").alias("body_md5"),
        F.length("html").cast("long").alias("body_len"),
        F.col("warc_ts").cast("long").alias("ts_epoch"),
    )


# =====================================================================
# SURT archive keys (functions/columns.py:surt_url): three families of
# trivially-distinct spellings per page (uppercase+www+default-port+
# fragment; param reorder+utm noise; trailing slash+default port) must
# collapse to ONE analytically-known SURT bucket. The oracle does NOT
# replay the algorithm — it constructs the same spellings and asserts
# the expected key directly, an independent check.
# =====================================================================
@query(
    "q94_surt_collapse",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS k,
             source || '.example.com' AS host
      FROM documents),
    u AS (
      SELECT doc_id, source, k,
        'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR)
          || CASE WHEN k % 3 = 1 THEN '?a=1&b=2' ELSE '' END AS u1,
        CASE k % 3
          WHEN 0 THEN upper('https://www.' || host || ':443/doc/')
                      || CAST(doc_id AS VARCHAR) || '#frag'
          WHEN 1 THEN 'https://www.' || host || '/doc/'
                      || CAST(doc_id AS VARCHAR) || '?b=2&a=1&utm_source=x'
          ELSE 'https://' || host || ':443/doc/'
                      || CAST(doc_id AS VARCHAR) || '/'
        END AS u2
      FROM d)
    SELECT 'com,example,' || source || ')/doc/' || CAST(doc_id AS VARCHAR)
             || CASE WHEN k % 3 = 1 THEN '?a=1&b=2' ELSE '' END AS surt,
           CAST(2 AS BIGINT) AS n_urls,
           least(u1, u2) AS url_min
    FROM u
    """,
)
def q94_surt_collapse(spark, sf_dir):
    """Two spellings per doc explode through surt_url and must meet in
    one bucket: groupBy(surt) sees exactly 2 urls whose min the oracle
    predicts. The groupBy key is the SURT string — the same prefix-scan
    key a CDX index buckets by, so this is also the dedup-by-archive-
    key plan shape (exchange on surt only, urls never compared
    pairwise)."""
    from ..functions.columns import surt_url

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.substring("source", 4, 10).cast("int").alias("k"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
    )
    ids = F.col("doc_id").cast("string")
    u1 = F.concat(
        F.lit("https://"), F.col("host"), F.lit("/doc/"), ids,
        F.when(F.col("k") % 3 == 1, F.lit("?a=1&b=2")).otherwise(F.lit("")),
    )
    u2 = (
        F.when(
            F.col("k") % 3 == 0,
            F.concat(
                F.upper(F.concat(F.lit("https://www."), F.col("host"),
                                 F.lit(":443/doc/"))),
                ids, F.lit("#frag"),
            ),
        )
        .when(
            F.col("k") % 3 == 1,
            F.concat(F.lit("https://www."), F.col("host"), F.lit("/doc/"),
                     ids, F.lit("?b=2&a=1&utm_source=x")),
        )
        .otherwise(
            F.concat(F.lit("https://"), F.col("host"), F.lit(":443/doc/"),
                     ids, F.lit("/"))
        )
    )
    urls = d.select(F.explode(F.array(u1, u2)).alias("url"))
    return urls.groupBy(surt_url(F.col("url")).alias("surt")).agg(
        F.count("*").alias("n_urls"),
        F.min("url").alias("url_min"),
    )


# =====================================================================
# CDX capture index (sources/warc.py:cdx_from_records) over the shared
# _synth_warc_blobs layout: the oracle recomputes every field from
# documents + the fixed record framing — rec_offset is the warcinfo
# record's byte size (constant by construction), rec_len is the HTTP
# status line + headers + body byte count. A wrong Content-Length
# cursor or a wrong SURT shows up as a value-hash mismatch.
# =====================================================================
@query(
    "q95_warc_cdx",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             '<html><body><p>WARC/1.0' || chr(13) || chr(10)
               || 'Content-Length: 7' || chr(13) || chr(10) || chr(13)
               || chr(10) || 'not-a-record</p><pre>' || coalesce(text, '')
               || '</pre></body></html>' AS body
      FROM documents)
    SELECT 'com,example,' || source || ')/doc/'
             || CAST(doc_id AS VARCHAR) AS surt,
           '202405041200' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
             AS ts14,
           'https://' || source || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INTEGER)
             AS http_status,
           md5(body) AS digest_md5,
           CAST(octet_length(encode(body))
                + CASE WHEN doc_id % 7 = 0 THEN 51 ELSE 44 END AS BIGINT)
             AS rec_len,
           CAST(78 AS BIGINT) AS rec_offset,
           doc_id AS src_id
    FROM b
    """,
)
def q95_warc_cdx(spark, sf_dir):
    """CDX index build over the synthesized archive: parse the blobs,
    index the responses. rec_offset/rec_len come from the parser's
    Content-Length cursor; the oracle derives them from the framing
    arithmetic instead — the two must agree byte-for-byte or the seek
    triple is useless."""
    from ..sources.warc import cdx_from_records, parse_warc_records

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    blobs = _synth_warc_blobs(docs)
    recs = parse_warc_records(blobs, content_col="blob", id_col="doc_id")
    return cdx_from_records(recs)


# =====================================================================
# CDX snapshot merge (sources/warc.py:merge_cdx_snapshots): two crawl
# snapshots of the same corpus, one month apart; docs with id%5==0
# changed content. Revisits (same surt+digest) must collapse to the
# EARLIEST capture with n_captures=2; changed docs keep both rows.
# The oracle constructs the expected merged index analytically.
# =====================================================================
@query(
    "q96_cdx_snapshot_merge",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars, coalesce(text, '') AS t,
             'com,example,' || source || ')/doc/'
               || CAST(doc_id AS VARCHAR) AS surt,
             'https://' || source || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS url,
             lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS ss
      FROM documents)
    SELECT surt, '202405041200' || ss AS ts14, url,
           CAST(200 AS INTEGER) AS http_status,
           md5(t) AS digest_md5,
           n_chars AS rec_len, doc_id AS rec_offset,
           CAST(1 AS BIGINT) AS src_id,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END AS BIGINT)
             AS n_captures
    FROM d
    UNION ALL
    SELECT surt, '202406041200' || ss AS ts14, url,
           CAST(200 AS INTEGER) AS http_status,
           md5(t || ' v2') AS digest_md5,
           n_chars AS rec_len, doc_id + 7 AS rec_offset,
           CAST(2 AS BIGINT) AS src_id,
           CAST(1 AS BIGINT) AS n_captures
    FROM d WHERE doc_id % 5 = 0
    """,
)
def q96_cdx_snapshot_merge(spark, sf_dir):
    """Cross-snapshot index maintenance: union two months' CDX rows,
    collapse revisits to the earliest capture, count recrawls. The
    only exchange is on (surt, digest) — key + seek-triple columns,
    never payloads — the per-snapshot maintenance job shape that holds
    at 10^12 captures."""
    from ..sources.warc import merge_cdx_snapshots

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.coalesce("text", F.lit("")).alias("t"),
        F.concat(F.lit("com,example,"), F.col("source"), F.lit(")/doc/"),
                 F.col("doc_id").cast("string")).alias("surt"),
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0").alias("ss"),
    )

    def snap(ts_prefix: str, content, src_id: int, off_delta: int):
        return d.select(
            "surt",
            F.concat(F.lit(ts_prefix), F.col("ss")).alias("ts14"),
            "url",
            F.lit(200).alias("http_status"),
            F.md5(content).alias("digest_md5"),
            F.col("n_chars").alias("rec_len"),
            (F.col("doc_id") + off_delta).alias("rec_offset"),
            F.lit(src_id).cast("long").alias("src_id"),
        )

    a = snap("202405041200", F.col("t"), 1, 0)
    # month 2 recrawls everything; docs with id%5==0 changed content
    # (new digest), the rest revisit byte-identically
    changed = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("t"), F.lit(" v2"))
    ).otherwise(F.col("t"))
    b = snap("202406041200", changed, 2, 7)
    cdx = a.unionByName(b)
    return merge_cdx_snapshots(cdx)


# =====================================================================
# Domain balancing (operators/relational.py:domain_cap_sample): a
# synthesized hot domain holds 50% of the corpus; capped at 20% it
# must downsample to rate 400000 ppm while every cold domain (~2.5%)
# passes whole. The oracle replays counts + the integer-div rate +
# the md5 ppm bucket bit-for-bit.
# =====================================================================
@query(
    "q97_domain_cap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'hot.example'
                  ELSE source || '.example.com' END AS host
      FROM documents),
    c AS (
      SELECT doc_id, host,
             count(*) OVER (PARTITION BY host) AS n_d,
             count(*) OVER () AS n
      FROM d)
    SELECT doc_id, host FROM c
    WHERE {_bucket_sql('doc_id', 'domcap')}
          < least(1000000, (200000 * n) // n_d)
    """,
)
def q97_domain_cap(spark, sf_dir):
    """Cap any domain at 20% of the corpus: the hot half downsamples
    deterministically, cold domains are untouched. The corpus-side
    work is one count shuffle on host + the rate join back — rows are
    never compared pairwise and the kept set is identical at any
    parallelism."""
    from ..operators.relational import domain_cap_sample

    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot.example"))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
        .alias("host"),
    )
    return domain_cap_sample(d, "doc_id", "host", 200_000).select(
        "doc_id", "host"
    )


# =====================================================================
# Recrawl scheduling (crawl/recrawl.py): the capture index drives the
# next crawl. Two raw snapshots; month 2 recrawls only doc_id%3 != 0,
# so the stale set at a June cutoff is exactly the id%3==0 docs with
# their May timestamps. The oracle predicts the frontier analytically.
# =====================================================================
@query(
    "q98_recrawl_frontier",
    oracle="""
    SELECT 'https://' || source || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           source || '.example.com' AS host,
           CAST(0 AS INTEGER) AS depth,
           CAST('202405041200'
                || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS BIGINT)
             AS last_seen
    FROM documents
    WHERE doc_id % 3 = 0
    """,
)
def q98_recrawl_frontier(spark, sf_dir):
    """Stale-capture frontier: latest capture per surt (one groupBy on
    the index key), cutoff filter, pure-Column frontier projection —
    stalest-first priority comes out as the numeric timestamp the
    politeness scheduler orders on."""
    from ..crawl.recrawl import frontier_from_recrawl, recrawl_candidates

    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("com,example,"), F.col("source"), F.lit(")/doc/"),
                 F.col("doc_id").cast("string")).alias("surt"),
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0").alias("ss"),
    )
    may = d.select(
        "surt", F.concat(F.lit("202405041200"), F.col("ss")).alias("ts14"), "url"
    )
    june = d.filter(F.col("doc_id") % 3 != 0).select(
        "surt", F.concat(F.lit("202406041200"), F.col("ss")).alias("ts14"), "url"
    )
    cands = recrawl_candidates(may.unionByName(june), "20240601000000")
    fr = frontier_from_recrawl(cands)
    return fr.select(
        "url", "host", "depth",
        F.col("priority").cast("long").alias("last_seen"),
    )


# =====================================================================
# Common Crawl's derived formats over the archive seam: WET (extracted
# text conversion records) and WAT (per-page metadata). Same closed-
# form wrap trick as q50 — the synthetic corpus has no markup-special
# characters, so every extraction product the records carry is a SQL
# expression the oracle recomputes independently.
# =====================================================================
@query(
    "q99_wet_conversion",
    oracle="""
    SELECT 'https://' || source || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           'doc ' || CAST(doc_id AS VARCHAR) || ' ' || source || ' ' || text
             AS text,
           CAST(length('doc ' || CAST(doc_id AS VARCHAR) || ' ' || source
                       || ' ' || text) AS BIGINT) AS text_chars,
           md5('doc ' || CAST(doc_id AS VARCHAR) || ' ' || source || ' '
               || text) AS digest_md5
    FROM documents
    """,
)
def q99_wet_conversion(spark, sf_dir):
    """WET derivation (sources/warc.py:wet_from_pages): pages wrap →
    pruned extraction (text-only Arrow return) → conversion-record
    fields. The oracle recomputes the extracted text closed-form from
    the wrap, so a drifting extraction engine OR a wrong field
    derivation both hash-fail. Scale shape: the extraction scan is the
    whole plan — zero shuffles."""
    from ..sources.warc import wet_from_pages

    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
            F.lit("</title></head><body><main><h1>"), F.col("source"),
            F.lit("</h1><p>"), F.col("text"), F.lit("</p></main></body></html>"),
        ).alias("html"),
    )
    w = wet_from_pages(pages)
    return w.select(
        "url", "text", F.col("text_chars").cast("long").alias("text_chars"),
        "digest_md5",
    )


@query(
    "q100_wat_links",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             'https://' || source || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents)
    SELECT url, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(2 AS INTEGER) AS n_links, CAST(0 AS INTEGER) AS pos,
           'https://' || source || '.example.com/l/'
             || CAST(doc_id % 7 AS VARCHAR) AS link
    FROM base
    UNION ALL
    SELECT url, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(2 AS INTEGER) AS n_links, CAST(1 AS INTEGER) AS pos,
           'https://ext.example.org/p/' || CAST(doc_id % 5 AS VARCHAR) AS link
    FROM base
    """,
)
def q100_wat_links(spark, sf_dir):
    """WAT derivation (sources/warc.py:wat_from_pages): pages with one
    relative and one absolute anchor → typed metadata rows; posexplode
    of the resolved outlinks pins BOTH the urljoin absolutization and
    document order. The relative href resolves against the page url —
    the same resolution the crawl's discovery path trusts.

    posexplode_OUTER, deliberately: with an inner explode Catalyst's
    InferFiltersFromGenerate adds `size(links)>0` and pushes it
    through the deterministic Arrow UDF, so the WHOLE extraction ran
    TWICE (measured 2× on this entry — the plan showed two
    ArrowEvalPython nodes). Outer generate infers no filter → one
    extraction pass; every synthetic page has links, so the output is
    identical. (The crawl's own link explode is immune: `extracted`
    is persisted, so inferred filters land on the cached relation.)"""
    from ..sources.warc import wat_from_pages

    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
            F.lit('</title></head><body><a href="/l/'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('">x</a><a href="https://ext.example.org/p/'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit('">y</a><p>'), F.col("text"), F.lit("</p></body></html>"),
        ).alias("html"),
    )
    # one small parquet = one input split; without this the whole
    # Python extraction pass runs in ONE task (measured: the full
    # suite's slowest entry). The crawl path repartitions before
    # extraction for the same reason (url-keyed — deterministic).
    pages = pages.repartition(
        spark.sparkContext.defaultParallelism, "url"
    )
    w = wat_from_pages(pages)
    return w.select(
        "url", "title", "n_links",
        F.posexplode_outer("links").alias("pos", "link"),
    )


@query(
    "q101_adaptive_delay",
    oracle="""
    WITH stats AS (
      SELECT source || '.example.com' AS host,
             count(*) FILTER (WHERE NOT (doc_id % 7 = 0
                 AND CAST(substr(source, 4) AS INT) % 3 = 0)) AS n_ok,
             count(*) FILTER (WHERE doc_id % 7 = 0
                 AND CAST(substr(source, 4) AS INT) % 3 = 0) AS n_err
      FROM documents GROUP BY source),
    prev AS (
      SELECT DISTINCT source || '.example.com' AS host,
             CAST(4000 AS BIGINT) AS delay_ms
      FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 0
      UNION ALL SELECT 'ghost.example.com', CAST(7777 AS BIGINT)),
    j AS (
      SELECT coalesce(s.host, p.host) AS host, s.n_ok, s.n_err, p.delay_ms
      FROM stats s FULL OUTER JOIN prev p ON s.host = p.host)
    SELECT host,
      CAST(CASE
        WHEN coalesce(n_ok, 0) + coalesce(n_err, 0) = 0
          THEN coalesce(delay_ms, 1000)
        WHEN coalesce(n_err, 0) * 1000000
             > 100000 * (coalesce(n_ok, 0) + coalesce(n_err, 0))
          THEN least(coalesce(delay_ms, 1000) * 2, 60000)
        ELSE greatest(coalesce(delay_ms, 1000) - 250, 250)
      END AS BIGINT) AS delay_ms
    FROM j
    """,
)
def q101_adaptive_delay(spark, sf_dir):
    """AIMD politeness update (crawl/politeness.py:update_host_delays):
    per-host fetch outcomes synthesized from documents (every-7th doc
    errors on every-3rd source ⇒ ~14% error rate > the 10% backoff
    threshold), half the hosts carry a prior 4000 ms budget, one
    ghost host has state but no fetches. Covers all three branches —
    multiplicative backoff, additive recovery with the floor clamp,
    and keep-on-unfetched — against a SQL replay of the integer
    arithmetic. Scale shape: one host-keyed outer join of two
    host-level tables."""
    from ..crawl.politeness import update_host_delays

    d = _load(spark, sf_dir, "documents")
    err = (F.col("doc_id") % 7 == 0) & (
        F.substring("source", 4, 10).cast("int") % 3 == 0
    )
    stats = d.groupBy(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).agg(
        F.count(F.when(~err, 1)).alias("n_ok"),
        F.count(F.when(err, 1)).alias("n_err"),
    )
    prev = (
        d.filter(F.substring("source", 4, 10).cast("int") % 2 == 0)
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("host"))
        .distinct()
        .withColumn("delay_ms", F.lit(4000).cast("long"))
        .unionByName(
            spark.createDataFrame(
                [("ghost.example.com", 7777)], "host string, delay_ms long"
            )
        )
    )
    return update_host_delays(stats, prev)


@query(
    "q102_incremental_dedup",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(
                 regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS toks
      FROM documents WHERE doc_id < 400),
    sigs AS (
      SELECT doc_id,
      list_min(list_transform(toks, s -> md5(s || '#0'))) AS s0,
      list_min(list_transform(toks, s -> md5(s || '#1'))) AS s1,
      list_min(list_transform(toks, s -> md5(s || '#2'))) AS s2,
      list_min(list_transform(toks, s -> md5(s || '#3'))) AS s3,
      list_min(list_transform(toks, s -> md5(s || '#4'))) AS s4,
      list_min(list_transform(toks, s -> md5(s || '#5'))) AS s5,
      list_min(list_transform(toks, s -> md5(s || '#6'))) AS s6,
      list_min(list_transform(toks, s -> md5(s || '#7'))) AS s7
      FROM docs),
    bands AS (
      SELECT doc_id, unnest([
        {'band': 0, 'bucket': md5(s0 || '|' || s1)},
        {'band': 1, 'bucket': md5(s2 || '|' || s3)},
        {'band': 2, 'bucket': md5(s4 || '|' || s5)},
        {'band': 3, 'bucket': md5(s6 || '|' || s7)}], recursive := true)
      FROM sigs),
    cand AS (
      SELECT DISTINCT n.doc_id AS id, o.doc_id AS old_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.bucket = o.bucket
      WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
    ver AS (
      SELECT c.id, c.old_id
      FROM cand c
      JOIN sigs a ON a.doc_id = c.id
      JOIN sigs b ON b.doc_id = c.old_id
      WHERE CAST(a.s0 = b.s0 AS INT) + CAST(a.s1 = b.s1 AS INT)
          + CAST(a.s2 = b.s2 AS INT) + CAST(a.s3 = b.s3 AS INT)
          + CAST(a.s4 = b.s4 AS INT) + CAST(a.s5 = b.s5 AS INT)
          + CAST(a.s6 = b.s6 AS INT) + CAST(a.s7 = b.s7 AS INT) >= 4),
    agg AS (SELECT id, min(old_id) AS first_match FROM ver GROUP BY id)
    SELECT d.doc_id,
           (a.first_match IS NOT NULL) AS is_dup,
           CAST(coalesce(a.first_match, -1) AS BIGINT) AS first_match
    FROM (SELECT doc_id FROM documents
          WHERE doc_id < 400 AND doc_id % 2 = 1) d
    LEFT JOIN agg a ON a.id = d.doc_id
    """,
)
def q102_incremental_dedup(spark, sf_dir):
    """Incremental fuzzy dedup — the steady-state corpus-curation
    shape: the even-id half of documents is the EXISTING corpus,
    persisted only as its (band, bucket) MinHash index + signature
    table; the odd-id half is the NEW snapshot, annotated against the
    index (dedup_against_index) with signature-agreement verification
    (≥4/8 components ⇒ estimated Jaccard ≥ 0.5). The old corpus's
    text is never rescanned. Oracle replays signatures, banding,
    cross-snapshot candidates, agreement filter, and the min-match
    election in SQL. Scale shape: one band-key equi-join of skinny
    rows; sig verification joins only matched old ids."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    sigs = D.minhash_signatures(old, "text", "doc_id", num_hashes=8)
    index = D.minhash_band_index(sigs, num_hashes=8, bands=4)
    res = D.dedup_against_index(
        new, index, "text", "doc_id", num_hashes=8, bands=4,
        old_sigs=sigs, min_agree=4,
    )
    return res.select(
        F.col("id").alias("doc_id"), "is_dup", "first_match"
    )


_INCR_SIG_SQL = """
    docs AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(
                 regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS toks
      FROM alltx),
    sigs AS (
      SELECT doc_id,
      list_min(list_transform(toks, s -> md5(s || '#0'))) AS s0,
      list_min(list_transform(toks, s -> md5(s || '#1'))) AS s1,
      list_min(list_transform(toks, s -> md5(s || '#2'))) AS s2,
      list_min(list_transform(toks, s -> md5(s || '#3'))) AS s3,
      list_min(list_transform(toks, s -> md5(s || '#4'))) AS s4,
      list_min(list_transform(toks, s -> md5(s || '#5'))) AS s5,
      list_min(list_transform(toks, s -> md5(s || '#6'))) AS s6,
      list_min(list_transform(toks, s -> md5(s || '#7'))) AS s7
      FROM docs),
    bands AS (
      SELECT doc_id, unnest([
        {'band': 0, 'bucket': md5(s0 || '|' || s1)},
        {'band': 1, 'bucket': md5(s2 || '|' || s3)},
        {'band': 2, 'bucket': md5(s4 || '|' || s5)},
        {'band': 3, 'bucket': md5(s6 || '|' || s7)}], recursive := true)
      FROM sigs),
    cand AS (
      SELECT DISTINCT n.doc_id AS id, o.doc_id AS old_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.bucket = o.bucket
      WHERE (n.doc_id % 2 = 1 OR n.doc_id >= 100000)
        AND (o.doc_id < 400 AND o.doc_id % 2 = 0)),
    ver AS (
      SELECT DISTINCT c.id
      FROM cand c
      JOIN sigs a ON a.doc_id = c.id
      JOIN sigs b ON b.doc_id = c.old_id
      WHERE CAST(a.s0 = b.s0 AS INT) + CAST(a.s1 = b.s1 AS INT)
          + CAST(a.s2 = b.s2 AS INT) + CAST(a.s3 = b.s3 AS INT)
          + CAST(a.s4 = b.s4 AS INT) + CAST(a.s5 = b.s5 AS INT)
          + CAST(a.s6 = b.s6 AS INT) + CAST(a.s7 = b.s7 AS INT) >= 8)
"""


@query(
    "q103_incremental_curation",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      WHERE doc_id < 400 AND doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 100000, lang, text FROM documents
      WHERE doc_id < 400 AND doc_id % 20 = 0),
    q AS ({_QUALITY_SQL}),
    fp AS (SELECT doc_id, lang, quality, text,
           md5(trim(lower(regexp_replace(text,'\\s+',' ','g')))) AS h FROM q),
    firsts AS (SELECT h, min(doc_id) AS fd FROM fp GROUP BY h),
    kept AS (
      SELECT fp.doc_id, fp.lang, fp.quality, fp.text
      FROM fp JOIN firsts ON fp.h = firsts.h AND fp.doc_id = firsts.fd),
    alltx AS (
      SELECT doc_id, text FROM kept
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id < 400 AND doc_id % 2 = 0),
    {_INCR_SIG_SQL}
    SELECT k.doc_id, k.lang, k.quality
    FROM kept k LEFT JOIN ver v ON v.id = k.doc_id
    WHERE v.id IS NULL
    """,
)
def q103_incremental_curation(spark, sf_dir):
    """Incremental curation executed through the REUSABLE entry point
    (pipelines.curate.curate): the odd-id half of documents plus
    injected re-crawls of the existing corpus (every 20th even doc
    under a shifted id) is curated as a NEW snapshot against the
    even-id half, which exists only as its persisted band index +
    signature table. Chain: quality score → within-snapshot exact
    dedup → incremental fuzzy dedup vs the index (8/8 signature
    agreement — estimated Jaccard 1.0, so only near-copies of the
    existing corpus drop; this synthetic corpus is deliberately
    duplicative, q52 proves 31k+ true ≥0.5 pairs in 300 docs).
    Re-crawled copies vanish without the old text being
    read; novel docs survive. The oracle re-derives every stage —
    quality arithmetic, first-seen election, signatures, banding,
    cross-snapshot agreement — in SQL."""
    from ..pipelines.curate import CurationConfig, curate

    d = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "lang", "text")
    )
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1).unionByName(
        old.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    sigs = D.minhash_signatures(old, "text", "doc_id", num_hashes=8)
    index = D.minhash_band_index(sigs, num_hashes=8, bands=4)
    cfg = CurationConfig(
        min_quality=0.0, fuzzy=False, lsh_num_hashes=8, lsh_bands=4,
        prev_index=index, prev_sigs=sigs, index_min_agree=8,
    )
    return curate(new, "text", "doc_id", "lang", cfg).select(
        "doc_id", "lang", "quality"
    )


@query(
    "q104_trap_urls",
    oracle="""
    WITH u AS (
      SELECT doc_id, 'https://' || source || '.example.com' ||
        CASE doc_id % 5
          WHEN 0 THEN '/docs/d' || doc_id
          WHEN 1 THEN '/s01/s02/s03/s04/s05/s06/s07/s08/s09/s10/s11/s12/s13/d'
                      || doc_id
          WHEN 2 THEN '/loop/x/loop/x/loop/d' || doc_id
          WHEN 3 THEN '/search/d' || doc_id ||
                      '?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1'
          ELSE '/long/' || repeat('a', 2100) || '/d' || doc_id
        END AS url
      FROM documents WHERE doc_id < 500),
    f AS (
      SELECT url,
             regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
             CASE WHEN contains(url, '?')
                  THEN regexp_extract(url, '\\?([^#]*)', 1)
                  ELSE '' END AS q
      FROM u),
    seg AS (
      SELECT url, q,
             list_filter(string_split(path, '/'), s -> s <> '') AS segs
      FROM f)
    SELECT url,
      (len(segs) > 12
       OR len(list_filter(segs,
              s -> len(list_filter(segs, x -> x = s)) >= 3)) > 0
       OR len(list_filter(string_split(q, '&'), p -> p <> '')) > 8
       OR length(url) > 2048) AS is_trap
    FROM seg
    """,
)
def q104_trap_urls(spark, sf_dir):
    """Crawler-trap detection (functions/columns.py:is_crawler_trap,
    wired as CrawlConfig.trap_filter → apply_url_filters): documents
    synthesize five URL shapes — clean, 14-segment depth trap,
    /loop/x/loop/x/loop segment-repetition trap, 9-param query
    explosion, >2048-char length trap — and the predicate flags each.
    The oracle re-derives all four rules from regex decomposition +
    list lambdas, so a drifting bound or a miscounted segment
    hash-fails. Pure Column expression (parse_url + array HOFs): at
    discovery scale this runs inside the validity filter's codegen
    stage, no exchange, no Python."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    path = (
        F.when(m == 0, F.concat(F.lit("/docs/d"), i))
        .when(m == 1, F.concat(
            F.lit("/s01/s02/s03/s04/s05/s06/s07/s08/s09/s10/s11/s12/s13/d"), i))
        .when(m == 2, F.concat(F.lit("/loop/x/loop/x/loop/d"), i))
        .when(m == 3, F.concat(
            F.lit("/search/d"), i,
            F.lit("?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1")))
        .otherwise(F.concat(F.lit("/long/"), F.repeat(F.lit("a"), 2100),
                            F.lit("/d"), i))
    )
    urls = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com"), path).alias("url")
    )
    return urls.select("url", C.is_crawler_trap(F.col("url")).alias("is_trap"))


@query(
    "q105_semdedup",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT label, i, avg(v[i]) AS m
             FROM e, generate_series(1, 64) AS t(i) GROUP BY label, i),
    cent AS (SELECT label AS cid, list(m ORDER BY i) AS cv
             FROM dims GROUP BY label),
    a AS (
      SELECT vec_id, v, cid, round(cc, 6) AS ccos FROM (
        SELECT e.vec_id, e.v, c.cid,
               list_dot_product(e.v, c.cv) /
                 (sqrt(list_dot_product(e.v, e.v)) *
                  sqrt(list_dot_product(c.cv, c.cv))) AS cc,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.v, c.cv) /
                          (sqrt(list_dot_product(e.v, e.v)) *
                           sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid ASC) AS rn
        FROM e, cent c) WHERE rn = 1),
    pairs AS (
      SELECT p.vec_id AS x, q.vec_id AS y
      FROM a p JOIN a q ON p.cid = q.cid AND p.vec_id <> q.vec_id
      WHERE round(list_dot_product(p.v, q.v) /
            (sqrt(list_dot_product(p.v, p.v)) *
             sqrt(list_dot_product(q.v, q.v))), 6) >= 0.30),
    rm AS (
      SELECT DISTINCT pr.x AS vec_id
      FROM pairs pr
      JOIN a kx ON kx.vec_id = pr.x
      JOIN a ky ON ky.vec_id = pr.y
      WHERE ky.ccos < kx.ccos
         OR (ky.ccos = kx.ccos AND ky.vec_id < kx.vec_id))
    SELECT a.vec_id, a.cid AS centroid_id, a.ccos AS centroid_cos,
           (rm.vec_id IS NOT NULL) AS removed
    FROM a LEFT JOIN rm ON rm.vec_id = a.vec_id
    """,
)
def q105_semdedup(spark, sf_dir):
    """SemDedup (operators/similarity.py:semdedup — Abbas et al. 2023):
    label-mean centroids → BLAS nearest-centroid assignment →
    per-cluster BLAS cosine pairs (threshold 0.30) → keep-farthest-
    from-centroid survivor election. The oracle re-derives centroids,
    the assignment argmax (lowest-cid tie-break), the cluster-
    restricted pair set, and the (centroid_cos, id) removal key — a
    drifted assignment, a missed pair, or a flipped keep policy all
    hash-fail. Exchanges: (centroid_id) for pairs, (id) for the
    removal joins — never all-pairs, never wider than the id."""
    emb = _load(spark, sf_dir, "embeddings")
    seeds = S.label_centroids(emb, "embedding", "label")
    return S.semdedup(emb, "embedding", "vec_id", seeds, threshold=0.30)


@query(
    "q106_line_dedup",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             'hdr ' || source || chr(10) || text || chr(10) ||
             'pair ' || (doc_id // 2) || chr(10) ||
             'quad ' || (doc_id // 4) AS t
      FROM documents WHERE doc_id < 600),
    lines AS (
      SELECT doc_id, unnest(s) AS line, unnest(range(len(s))) AS pos
      FROM (SELECT doc_id, string_split(t, chr(10)) AS s FROM docs)),
    freq AS (SELECT line, count(DISTINCT doc_id) AS dfq
             FROM lines GROUP BY line),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l JOIN freq f ON f.line = l.line WHERE f.dfq < 3),
    reb AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id)
    SELECT t.doc_id AS id, coalesce(r.clean_text, '') AS clean_text,
           CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(t.n_total AS BIGINT) AS n_total
    FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
    """,
)
def q106_line_dedup(spark, sf_dir):
    """Corpus-frequency boilerplate line removal (operators/dedup.py:
    boilerplate_line_dedup — RefinedWeb's line-wise correction):
    documents synthesize four lines each — a per-source header (df ≈
    docs-per-source → removed), the unique text (kept), a pair-shared
    line (df 2 < 3 → kept) and a quad-shared line (df 4 ≥ 3 →
    removed). The oracle recomputes document frequencies over RAW
    lines while the engine counts md5 digests — the digest indirection
    (32-byte shuffle keys, never text) must be semantically invisible
    or the rebuilt texts hash-fail."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    synth = d.select(
        "doc_id",
        F.concat(
            F.lit("hdr "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("pair "), (F.col("doc_id") / 2).cast("long").cast("string"),
            F.lit("\n"),
            F.lit("quad "), (F.col("doc_id") / 4).cast("long").cast("string"),
        ).alias("t"),
    )
    return D.boilerplate_line_dedup(synth, "t", "doc_id", min_doc_freq=3)


@query(
    "q107_anchor_text",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 800),
    e AS (
      SELECT 'https://' || source || '.example.com/l/' || (doc_id % 7) AS target,
             'nav ' || (doc_id % 3) AS anchor,
             source || '.example.com' AS src_host
      FROM d
      UNION ALL
      SELECT 'https://ext.example.org/p/' || (doc_id % 5),
             'ext page', source || '.example.com'
      FROM d),
    pt AS (SELECT target, anchor AS top_anchor, count(*) AS top_anchor_refs
           FROM e GROUP BY target, anchor),
    top AS (
      SELECT target, top_anchor, top_anchor_refs FROM (
        SELECT *, row_number() OVER (
          PARTITION BY target
          ORDER BY top_anchor_refs DESC, top_anchor) AS rn
        FROM pt) WHERE rn = 1),
    tot AS (SELECT target, count(*) AS n_refs,
                   count(DISTINCT src_host) AS n_hosts
            FROM e GROUP BY target)
    SELECT t.target, t.n_refs, t.n_hosts, p.top_anchor, p.top_anchor_refs
    FROM tot t JOIN top p USING (target)
    """,
)
def q107_anchor_text(spark, sf_dir):
    """Anchor-text corpus (sources/warc.py:anchor_edges_from_pages →
    operators/graph.py:anchor_text_table): pages carry one relative
    nav link (text 'nav {id%3}') and one absolute external link
    ('ext page'); the REAL extraction engine parses them (anchors
    product, pruned Arrow pass), edges explode outer (single
    extraction — the q100 lesson), and the per-target aggregate
    elects the modal anchor with the (count desc, text asc)
    tie-break. The oracle predicts the whole edge list analytically —
    a urljoin drift, a lost anchor text, or a flipped tie-break
    hash-fails."""
    from ..sources.warc import anchor_edges_from_pages

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 800)
    pages = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<html><body><a href="/l/'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit('">nav '), (F.col("doc_id") % 3).cast("string"),
            F.lit('</a><a href="https://ext.example.org/p/'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit('">ext page</a><p>'), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    pages = pages.repartition(spark.sparkContext.defaultParallelism, "url")
    edges = anchor_edges_from_pages(pages)
    return G.anchor_text_table(
        edges, target_col="target", text_col="anchor", src_host_col="src_host"
    )


@query(
    "q108_winnow_fingerprints",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
    g AS (
      -- DuckDB 1.0: no correlated lateral generate_series — use an
      -- uncorrelated range (documents cap well under 4000 chars)
      -- filtered per doc
      SELECT doc_id, i AS pos, md5(substr(text, i + 1, 8)) AS h
      FROM d, generate_series(0, 4000) AS t(i)
      WHERE i <= length(text) - 8),
    lim AS (SELECT doc_id, length(text) - 7 AS n_g FROM d),
    wins AS (
      SELECT a.doc_id, a.pos AS ws, b.pos, b.h
      FROM g a
      JOIN lim l ON l.doc_id = a.doc_id
      JOIN g b ON b.doc_id = a.doc_id
            AND b.pos BETWEEN a.pos AND a.pos + 3
      WHERE a.pos <= l.n_g - 4),
    sel AS (
      SELECT doc_id, ws, pos, h,
             row_number() OVER (
               PARTITION BY doc_id, ws
               ORDER BY h ASC, pos DESC) AS rn
      FROM wins)
    SELECT DISTINCT doc_id AS id, CAST(pos AS BIGINT) AS gram_pos,
           h AS gram_hash
    FROM sel WHERE rn = 1
    """,
)
def q108_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (operators/dedup.py:winnow_fingerprints
    — Schleimer et al. 2003 / MOSS): k=8 md5 k-grams, window 4,
    rightmost-minimal selection, distinct (pos, hash) per document.
    The oracle replays every window with a (hash asc, pos desc) rank
    — a drifted tie rule, an off-by-one window bound, or a missed
    dedup all hash-fail. The engine side is pure per-row expression
    work: zero exchanges at any corpus size (PLANS.md)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.winnow_fingerprints(d, "text", "doc_id", k=8, window=4)


def _rep_seg_sql(col: str) -> tuple[str, str]:
    """(frac, char_frac) SQL for one unit list column (lines/paras)."""
    dup = f"list_filter({col}, x -> len(list_filter({col}, y -> y = x)) >= 2)"
    chars = "CAST(coalesce(list_aggregate(list_transform({a}, x -> length(x)), 'sum'), 0) AS DOUBLE)"
    return (
        f"round(CASE WHEN len({col}) > 0 THEN CAST(len({dup}) AS DOUBLE) / len({col}) ELSE 0.0 END, 6)",
        f"round(CASE WHEN {chars.format(a=col)} > 0 THEN {chars.format(a=dup)} / {chars.format(a=col)} ELSE 0.0 END, 6)",
    )


def _rep_gram_sql(n: int) -> str:
    return (
        f"list_transform(generate_series(1, len(tk) - {n} + 1), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' '))"
    )


def _rep_top_sql(n: int) -> str:
    g = _rep_gram_sql(n)
    best = (
        f"list_aggregate(list_transform(list_distinct({g}), "
        f"d2 -> {{'c': len(list_filter({g}, x -> x = d2)), "
        f"'l': length(d2), 'g': d2}}), 'max')"
    )
    return (
        f"round(coalesce(CAST(({best}).c * ({best}).l AS DOUBLE) / nc, 0.0), 6) "
        f"AS top{n}_char_frac"
    )


def _rep_dup_sql(n: int) -> str:
    g = _rep_gram_sql(n)
    cov = (
        f"coalesce(CAST(list_aggregate(list_transform("
        f"list_filter(list_distinct({g}), "
        f"d2 -> len(list_filter({g}, x -> x = d2)) >= 2), "
        f"d2 -> len(list_filter({g}, x -> x = d2)) * length(d2)), 'sum') "
        f"AS DOUBLE), 0.0)"
    )
    return f"round(least({cov} / nc, 1.0), 6) AS dup{n}_char_frac"


_REP_LINE_F, _REP_LINE_CF = _rep_seg_sql("lines")
_REP_PARA_F, _REP_PARA_CF = _rep_seg_sql("paras")
_REP_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         'nav home' || chr(10) || text || chr(10) || 'nav home' ||
         chr(10) || chr(10) || 'footer ' || source || chr(10) ||
         chr(10) || 'footer ' || source AS t
  FROM documents WHERE doc_id < 300),
seg AS (
  SELECT doc_id, t,
         list_filter(string_split(t, chr(10)), s -> s <> '') AS lines,
         list_filter(string_split(t, chr(10) || chr(10)), s -> s <> '')
           AS paras,
         string_split(trim(lower(regexp_replace(t, '\\s+', ' ', 'g'))), ' ')
           AS tk,
         length(trim(lower(regexp_replace(t, '\\s+', ' ', 'g')))) AS nc
  FROM d)
SELECT doc_id AS id,
       {_REP_LINE_F} AS dup_line_frac,
       {_REP_LINE_CF} AS dup_line_char_frac,
       {_REP_PARA_F} AS dup_para_frac,
       {_REP_PARA_CF} AS dup_para_char_frac,
       {", ".join(_rep_top_sql(n) for n in (2, 3, 4))},
       {", ".join(_rep_dup_sql(n) for n in (5, 6, 7, 8, 9, 10))}
FROM seg
"""


@query("q109_repetition_signals", oracle=_REP_ORACLE)
def q109_repetition_signals(spark, sf_dir):
    """Full Gopher repetition-filter suite (operators/text.py:
    repetition_signals — Rae et al. 2021 §A1.1): documents synthesize
    a nav line duplicated around the body and a doubled footer
    paragraph, so every rule family fires — duplicate line/paragraph
    (count and char) fractions over RAW text, top-{2,3,4}-gram char
    coverage with the (count, length, gram) struct-max tie-break, and
    dup-{5..10}-gram char coverage capped at 1.0. The oracle
    re-derives all 13 signals with DuckDB list lambdas over the same
    unit definitions — a drifted split rule, tie-break, or cap
    hash-fails. Engine side: pure per-row expressions, zero exchanges
    (PLANS.md)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    synth = d.select(
        "doc_id",
        F.concat(
            F.lit("nav home\n"), F.col("text"), F.lit("\nnav home\n\n"),
            F.lit("footer "), F.col("source"), F.lit("\n\n"),
            F.lit("footer "), F.col("source"),
        ).alias("t"),
    )
    # one small parquet = one input split; without this the heavy
    # per-row expression pass runs in ONE task (the q100 lesson)
    synth = synth.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return TX.repetition_signals(synth, "t", "doc_id")


@query(
    "q110_url_blocklist",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 600),
    u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 1 THEN 'shop.' ELSE '' END ||
               source || '.example.com' AS host,
             CASE WHEN doc_id % 11 = 0 THEN '/casino/d' ELSE '/docs/d' END
               || doc_id AS path
      FROM d),
    urls AS (SELECT doc_id, 'https://' || host || path AS url, host FROM u),
    bl AS (SELECT DISTINCT source || '.example.com' AS domain FROM d
           WHERE CAST(substr(source, 4) AS INT) % 3 = 0)
    SELECT url FROM urls
    WHERE NOT contains(url, 'casino')
      AND NOT EXISTS (SELECT 1 FROM bl
                      WHERE urls.host = bl.domain
                         OR urls.host LIKE '%.' || bl.domain)
    """,
)
def q110_url_blocklist(spark, sf_dir):
    """RefinedWeb URL filtering (crawl/frontier.py:apply_url_blocklist
    — UT1-blocklist + keyword stage): every third source's domain is
    blocklisted, every fourth URL lives on a 'shop.' SUBDOMAIN of its
    source (the suffix-expansion case a naive host equality misses),
    and every eleventh path carries a blocked keyword. The survivors
    must reflect domain containment (host_suffixes equi-join against
    the broadcast blocklist) AND the keyword predicate; the oracle
    replays containment with an EXISTS over exact-or-dot-suffix
    matches — a missed subdomain or an over-broad substring match
    hash-fails."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 600)
    i = F.col("doc_id").cast("string")
    host = F.concat(
        F.when(F.col("doc_id") % 4 == 1, F.lit("shop.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com"),
    )
    path = F.concat(
        F.when(F.col("doc_id") % 11 == 0, F.lit("/casino/d")).otherwise(
            F.lit("/docs/d")
        ),
        i,
    )
    f = d.select(F.concat(F.lit("https://"), host, path).alias("url"))
    bl = (
        d.filter(F.substring("source", 4, 10).cast("int") % 3 == 0)
        .select(F.concat("source", F.lit(".example.com")).alias("domain"))
        .distinct()
    )
    from ..crawl.frontier import apply_url_blocklist

    return apply_url_blocklist(f, bl, ["casino"]).select("url")
