"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact). Scale path: IVF-style
bucketed search — assign vectors to coarse centroids, probe only the
nearest ``nprobe`` buckets. Top-k scoring, LSH bucketing and the
nprobe fan-out are JVM expressions (``zip_with``/``aggregate`` in
double precision). Nearest-centroid assignment (:func:`ivf_assign`)
and dense BM25 cross into Python once per Arrow batch for a BLAS
matmul.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._materialize import materialize


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector, cosine
    rounded to 6 decimals.

    ``queries`` is broadcast (the expected shape: few queries × huge
    corpus), so the corpus never shuffles for the join — one exchange
    on query_id for the top-k window only. Ties broken by neighbor id
    for determinism at any parallelism."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))

    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: DataFrame,
    keep_cos: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest row of ``centroids``
    (``centroid_id`` plus the vector in ``vec_col``; max cosine, ties to
    the lowest centroid id). Output: ``df``'s columns plus
    ``centroid_id``; ``keep_cos`` also keeps the winning cosine as
    ``centroid_cos`` (the keep/remove ranking key SemDedup needs).

    Eager: the centroid table (tiny by definition — it is the k of
    k-means) is collected when this is called, one job, and closed
    over a ``mapInPandas`` pass that scores every Arrow batch with ONE
    ``V @ C.T`` matmul and arg-maxes it. The corpus is only mapped,
    never joined or shuffled. This is the build step of an IVF index."""
    import numpy as np

    rows = centroids.select(
        F.col("centroid_id").alias("_cid"), _as_double(F.col(vec_col)).alias("_cv")
    ).collect()
    rows.sort(key=lambda r: r["_cid"])  # ascending cid → argmax tie → lowest
    cids = np.array([r["_cid"] for r in rows])
    cmat = np.stack([np.asarray(r["_cv"], dtype=np.float64) for r in rows])
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cid_field = centroids.schema["centroid_id"].dataType

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("centroid_id", cid_field)]
        + ([StructField("centroid_cos", DoubleType())] if keep_cos else [])
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            vn = np.sqrt((v * v).sum(axis=1))
            cos = (v @ cmat.T) / np.outer(vn, cnorm)
            best = cos.argmax(axis=1)  # first max = lowest cid on ties
            out = pdf.copy()
            out["centroid_id"] = pd.Series(cids[best], index=pdf.index)
            if keep_cos:
                out["centroid_cos"] = pd.Series(
                    cos[np.arange(len(pdf)), best], index=pdf.index
                )
            yield out

    return df.mapInPandas(assign, out_schema)


def label_centroids(df: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Mean vector per label — a cheap deterministic centroid set
    (k-means would converge here; labels give the partition directly).
    Per-dimension means via posexplode + groupBy — one shuffle."""
    dim = F.size(F.col(vec_col))
    exploded = df.select(
        F.col(label_col).alias("centroid_id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
    )
    means = exploded.groupBy("centroid_id", "pos").agg(F.avg("val").alias("m"))
    return (
        means.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "centroid_id",
            F.transform("pm", lambda s: s["m"]).alias("centroid"),
        )
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k: probe only the ``nprobe`` nearest centroids' buckets.

    corpus_assigned must carry ``centroid_id`` (from :func:`ivf_assign`).
    Query→bucket fan-out is a broadcast of (query × nprobe) rows; the
    corpus-side join is an equi-join on centroid_id, so at 100 TB each
    task reads only its bucket — the brute-force cross join never
    materializes."""
    q_assigned = ivf_assign_topn(queries, vec_col, id_col, centroids, nprobe)
    return _ivf_topk(q_assigned, corpus_assigned, vec_col, id_col, k)


def _ivf_topk(
    q_assigned: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Scoring tail of both IVF probes: broadcast the (query ×
    probed centroid) rows onto the corpus rows of the same
    ``centroid_id``, score the cosine rounded to 6 decimals, keep
    each query's top ``k`` (ties to the lowest neighbor id)."""
    q = q_assigned.select(
        F.col(id_col).alias("query_id"),
        F.col("centroid_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("centroid_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    pairs = c.join(F.broadcast(q), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)


def ivf_assign_topn(
    df: DataFrame, vec_col: str, id_col: str, centroids: DataFrame, n: int
) -> DataFrame:
    """Top-n nearest centroids per vector (the nprobe fan-out)."""
    c = centroids.select(
        F.col("centroid_id").alias("_cid"), _as_double(F.col("centroid")).alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    v = df.withColumn("_v", _as_double(F.col(vec_col))).withColumn("_n", _norm(F.col("_v")))
    cos = _dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn"))
    scored = v.crossJoin(F.broadcast(c)).withColumn("_cos", cos)
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_v", "_n", "_cv", "_cn", "_cos")
        .withColumnRenamed("_cid", "centroid_id")
    )


def random_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 arithmetic —
    component k,i = (md5-hex8("7:hp:k:i") % 2001 − 1000) / 1000 ∈
    [−1, 1]. Both
    engines consume the SAME decimal literals (embedded in the plan
    and in the SQL oracle), so bucket bits match bit-for-bit."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"7:hp:{k}:{i}".encode()).hexdigest()[:8], 16)
             % 2001 - 1000) / 1000.0
            for i in range(dim)
        ]
        for k in range(n_planes)
    ]


def hyperplane_lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-LSH bucket id: bit k = [dot(v, plane_k) ≥ 0] (Charikar
    sign-random-projection — collision probability 1 − θ/π). Pure
    Column expression, no shuffle; 2^n_planes buckets partition the
    corpus for bucket-restricted near-dup joins (the LSH counterpart
    of the IVF path; mandate: 'IVF or LSH-bucketed')."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for k, plane in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in plane])
        dot = _dot(v, arr)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << k)).otherwise(F.lit(0))
    return bucket


def kmeans_refine(
    df: DataFrame,
    vec_col: str,
    centroids: DataFrame,
    iterations: int = 1,
) -> DataFrame:
    """Lloyd refinement from seed centroids: assign every vector to
    its nearest centroid (:func:`ivf_assign`, ties to the lowest
    centroid_id) and recompute each centroid as the per-cluster mean
    (:func:`label_centroids` over the assignment) — repeated
    ``iterations`` times. Each iteration is one (cluster, dim) groupBy
    with map-side partial means; the corpus never shuffles on anything
    wider than those keys. Seeds that attract no vectors drop out
    (standard Lloyd behavior).

    Eager: every iteration collects the current centroid table inside
    :func:`ivf_assign`, so ``iterations`` jobs run before this returns.
    Returns (centroid_id, centroid)."""
    cur = centroids
    for _ in range(iterations):
        assigned = ivf_assign(
            df, vec_col, cur.select("centroid_id", F.col("centroid").alias(vec_col))
        )
        cur = label_centroids(assigned, vec_col, "centroid_id")
    return cur


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDedup — semantic (embedding-space) deduplication via
    cluster-restricted cosine neighborhoods (Abbas et al. 2023,
    arXiv:2303.09540). Items are assigned to their nearest centroid;
    within each cluster, pairs with cosine ≥ ``threshold`` are
    semantic duplicates, and from every duplicate neighborhood the
    item FARTHEST from its centroid survives (the paper's keep-low-
    centroid-similarity policy: the retained example is the least
    prototypical one). Deterministically: an item is removed iff some
    cosine-neighbor has a strictly lower (centroid_cos, id) key — so
    each neighborhood's local minima survive and every removal is
    justified by a surviving-or-lower neighbor, replayable in SQL.

    Scale shape: assignment is :func:`ivf_assign`, a shuffle-free
    mapInPandas BLAS argmax over the collected centroid matrix (one
    eager job at call time); the pair search is
    :func:`~web_scraper_spark.operators.
    dedup.embedding_near_dups` restricted per cluster (one exchange on
    centroid_id — never all-pairs; each cluster's cosine matrix is one
    BLAS matmul); the removal rule is
    two id-keyed joins of the SMALL pair table against the per-item
    key. Nothing exchanges on anything wider than (centroid_id) or
    (id). Cosines are rounded to 6 before comparison — engine-portable
    keys (CLAUDE.md determinism idioms).

    Returns (id, centroid_id, centroid_cos, removed)."""
    from .dedup import embedding_near_dups

    if vec_col not in centroids.columns and "centroid" in centroids.columns:
        # accept label_centroids/kmeans_refine output (centroid_id, centroid)
        centroids = centroids.select(
            "centroid_id", F.col("centroid").alias(vec_col)
        )
    assigned = ivf_assign(df, vec_col, centroids, keep_cos=True)
    pairs = embedding_near_dups(
        assigned, vec_col, id_col, threshold, bucket_col="centroid_id"
    )
    key = assigned.select(
        F.col(id_col).alias("_kid"), F.round("centroid_cos", 6).alias("_kcos")
    )
    edges = pairs.select(
        F.col("id_a").alias("_x"), F.col("id_b").alias("_y")
    ).unionByName(pairs.select(F.col("id_b").alias("_x"), F.col("id_a").alias("_y")))
    keyed = (
        edges.join(
            key.select(F.col("_kid").alias("_x"), F.col("_kcos").alias("_xcos")), "_x"
        ).join(
            key.select(F.col("_kid").alias("_y"), F.col("_kcos").alias("_ycos")), "_y"
        )
    )
    removed = (
        keyed.filter(
            (F.col("_ycos") < F.col("_xcos"))
            | ((F.col("_ycos") == F.col("_xcos")) & (F.col("_y") < F.col("_x")))
        )
        .select(F.col("_x").alias(id_col))
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    return (
        assigned.join(removed, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            F.round("centroid_cos", 6).alias("centroid_cos"),
            F.coalesce("_rm", F.lit(False)).alias("removed"),
        )
    )


#: query-side ceiling of ``bm25_topk(dense=True)``: per Arrow batch
#: (4,096 rows) the scorer holds batch × nq float64 score matrices,
#: 128 MiB each at this ceiling; larger query sets take the sparse path
_DENSE_MAX_QUERIES = 4096

#: BM25 term-frequency saturation and length normalization
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_df_frac: float = 0.5,
    dense: bool = False,
) -> DataFrame:
    """Lexical similarity search: BM25 top-k retrieval over an
    inverted index built from the corpus — the sparse complement to
    the embedding-cosine family (reference analog: none; this is a
    training-data-pipeline addition, e.g. dedup-aware retrieval or
    decontamination lookup by keyword).

    ``docs`` carries (doc_id, text), ``queries`` (query_id, q_text).
    Scoring is Robertson/Spärck-Jones BM25 with k1 = 1.2, b = 0.75:
    ``idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`` and
    ``tf_c = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``, summed over
    the query's DISTINCT terms. Engine portability: each term's
    contribution is quantized to integer MICROS
    (``round(idf·tf_c·1e6)`` as BIGINT) before the per-(query, doc)
    sum — integer sums are order-independent, so the oracle
    hash-matches regardless of aggregation schedule. Ranking carries
    the unique (score desc, doc_id asc) tie-break.

    Scale shape: the inverted index is one explode + one
    (doc, term) groupBy — the document length rides the explode as a
    carried column, so there is NO doc-keyed length join-back;
    document frequency is one (term) groupBy. The query-term
    restriction is applied FIRST (queries ≪ corpus, broadcast), so
    per-term statistics join the index as a second broadcast: after
    the two index-build exchanges (doc+term groupBy, term groupBy),
    scoring itself shuffles nothing but the per-(query, doc) partial
    sums. ``max_df_frac`` drops terms appearing in more than that
    fraction of documents — the stopword/hot-posting-list cap that
    bounds the worst key in the broadcast term probe (a term in half
    the corpus is pure skew and carries ~no BM25 signal anyway;
    drops are by the same df-cap rule on both engines). Per-query
    top-k is one window over query_id — fine while queries fit a
    partition each; at huge query batches swap the window for
    groupBy + slice(sort_array(...)).

    ``dense=True`` selects the dense-corpus scoring shape (optimization
    guide §2.3/§2.4 "shuffle keys and metadata, aggregate before you
    shuffle" applied to retrieval): when query terms hit a constant
    fraction of the corpus — tiny vocabularies, stopword-heavy query
    logs — the inverted-index join emits Θ(|pairs|·|terms/query|) rows
    that must then be re-aggregated per (query, doc) through an
    exchange with ~|Q|·|N| groups, which dominates the runtime. The
    dense path instead groups each document's matched (uncapped query)
    term ids in ONE doc-keyed exchange and scores every (doc, query)
    pair of an Arrow batch with a BLAS matmul in a ``mapInPandas``
    stage, emitting only rows at or above each query's per-batch k-th
    score; the final window ranks those few. Documents with no
    uncapped query term drop out, exactly the inverted index's
    candidate set. For SELECTIVE workloads (big vocabulary, rare query
    terms) keep ``dense=False``: there the index join emits few
    candidates and the per-batch all-pairs matmul would be Θ(|Q|·N).

    The dense path is EAGER: at call time it runs two small driver
    collects — the query side, capped at ``_DENSE_MAX_QUERIES + 1``
    rows, and the df-capped query-term table — and it returns a
    materialized (localCheckpoint) result so the tokenized corpus it
    caches between its consumers is released here. A query side above
    ``_DENSE_MAX_QUERIES`` rows falls back to the sparse path.

    Returns (query_id, doc_id, rank, score_micros, n_terms).
    """
    tok = lambda c: F.split(
        F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " "
    )
    if dense:
        out = _bm25_topk_dense(docs, queries, k, max_df_frac, tok)
        if out is not None:
            return out
    base = docs.select("doc_id", tok(F.col("text")).alias("t"))
    tf = (
        base.select(
            "doc_id",
            F.size("t").cast("long").alias("dl"),
            F.explode("t").alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    stats = base.select(F.size("t").cast("long").alias("dl")).agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = queries.select("query_id", F.explode(tok(F.col("q_text"))).alias("term")).distinct()
    # per-term stats restricted to query terms (tiny), df cap applied
    # here — non-query terms never score, so the cap's reach is
    # unchanged — then broadcast onto the index
    term_stats = (
        dfreq.join(F.broadcast(qterms.select("term").distinct()), "term")
        .crossJoin(F.broadcast(stats))
        .filter(
            F.col("df")
            <= F.floor(F.lit(max_df_frac) * F.col("n")).cast("long")
        )
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    tfc = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * ((1 - _BM25_B) + _BM25_B * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        F.broadcast(qterms)
        .join(tf, "term")
        .join(F.broadcast(term_stats), "term")
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfc * 1000000).cast("long").alias("contrib"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score_micros"),
        F.count("*").alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score_micros", "n_terms")
    )


def _bm25_topk_dense(
    docs: DataFrame,
    queries: DataFrame,
    k: int,
    max_df_frac: float,
    tok,
) -> DataFrame | None:
    """Dense-corpus BM25 scoring shape (see :func:`bm25_topk`,
    ``dense=True``); None when the query side exceeds
    ``_DENSE_MAX_QUERIES``. Bit-identical to the inverted-index path:
    corpus stats, df cap and the per-(term, doc) contribution keep the
    sparse path's exact arithmetic (the contribution is evaluated in
    float64 with the identical IEEE operation order, idf/avgdl are
    COLLECTED from the JVM-computed term table so no libm difference
    can leak in, and the HALF_UP micros rounding is floor(x+0.5) —
    exactly BigDecimal HALF_UP for 0 ≤ x < 2^52); only the
    per-(query, doc) aggregation moves — from a post-join groupBy over
    the Θ(pairs × terms) row stream into an in-batch sum (integer
    micros are order-independent, so the sum is the same BIGINT either
    way)."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # round-robin repartition ahead of the explode: a compact parquet
    # file may plan only 1-2 input splits, which would serialize the
    # tokenize+aggregate work; scale-adaptive count, rows-only shuffle
    base = docs.select("doc_id", tok(F.col("text")).alias("t")).repartition(n_parts)
    stats = base.select(F.size("t").cast("long").alias("dl")).agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qdf = queries.select("query_id", F.array_distinct(tok(F.col("q_text"))).alias("qt"))
    # the query-side collect, bounded BEFORE anything is cached
    qrows = qdf.limit(_DENSE_MAX_QUERIES + 1).collect()
    if len(qrows) > _DENSE_MAX_QUERIES:
        return None
    base = base.persist()
    qterm_df = qdf.select(F.explode("qt").alias("term")).distinct()

    # document frequency straight from the distinct-terms-per-doc
    # explode (== a (doc, term) table's groupBy(term) count) — the
    # (doc, term) pre-aggregation exchange disappears entirely; term
    # counting happens per document in the scorer below
    dfreq = (
        base.select(F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    term_stats = (
        dfreq.join(F.broadcast(qterm_df), "term")
        .crossJoin(F.broadcast(stats))
        .filter(
            F.col("df")
            <= F.floor(F.lit(max_df_frac) * F.col("n")).cast("long")
        )
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    # the surviving (df-capped, query-restricted) term set is tiny by
    # the operator's contract → dense integer term ids
    term_ids = term_stats.withColumn(
        "_tid", F.row_number().over(Window.orderBy("term")) - 1
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("doc_id")
    )

    # BLAS scoring (guide §4.2): ONE corpus-side exchange — a
    # groupBy(doc_id) that collects each document's matched term ids
    # (token explode ⨝ broadcast term ids; capped/non-query tokens drop
    # here, so documents with no uncapped query term vanish exactly
    # like the inverted index's candidate set). Per batch the scorer
    # bincounts tids into the tf matrix and scores every (doc, query)
    # pair with one C @ M.T matmul (float64 exact: all values integers
    # < 2^53). Each batch emits only rows at or above its per-query
    # k-th score (ties kept conservatively), so the final exact window
    # ranks ~nq·k rows per batch instead of |Q|·N pairs.
    trows = term_ids.select(
        "term", "_tid", idf.alias("_idf"), "avgdl"
    ).collect()
    trows.sort(key=lambda r: r["_tid"])
    nv = len(trows)
    idf_arr = np.array([r["_idf"] for r in trows], dtype=np.float64)
    avgdl = float(trows[0]["avgdl"]) if trows else 1.0
    tid_map_rows = [(r["term"], r["_tid"]) for r in trows]
    tid_df = docs.sparkSession.createDataFrame(
        tid_map_rows, "term string, _tid int"
    ) if tid_map_rows else None

    nq = len(qrows)
    term_to_tid = dict(tid_map_rows)
    qid_vals = [r["query_id"] for r in qrows]
    qt_sets = [
        sorted(
            {
                term_to_tid[t]
                for t in (r["qt"] or [])
                if t in term_to_tid
            }
        )
        for r in qrows
    ]
    M = np.zeros((nq, nv), dtype=np.float64)
    for j, ts in enumerate(qt_sets):
        for t in ts:
            M[j, t] = 1.0

    out_schema = StructType(
        [
            StructField("query_id", qdf.schema["query_id"].dataType),
            StructField("doc_id", base.schema["doc_id"].dataType),
            StructField("score_micros", LongType()),
            StructField("n_terms", LongType()),
        ]
    )

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            nb = len(pdf)
            if not nb or not nq or not nv:
                continue
            C = np.zeros((nb, nv), dtype=np.float64)
            for r, tids in enumerate(pdf["tids"]):
                C[r] = np.bincount(
                    np.asarray(tids, dtype=np.int64), minlength=nv
                )
            dl = pdf["dl"].to_numpy().astype(np.float64)
            # EXACT sparse-path op order:
            # tfc = (tf*(k1+1)) / (tf + ((dl/avgdl)*b + (1-b))*k1)
            dn = ((dl / avgdl) * _BM25_B + (1.0 - _BM25_B)) * _BM25_K1
            tfc = (C * (_BM25_K1 + 1.0)) / (C + dn[:, None])
            contrib = np.floor(idf_arr[None, :] * tfc * 1000000.0 + 0.5)
            P = C > 0
            contrib = np.where(P, contrib, 0.0)
            S = contrib @ M.T
            N = P.astype(np.float64) @ M.T
            S = np.where(N > 0, S, -1.0)
            kk = min(k, nb)
            thr = -np.partition(-S, kk - 1, axis=0)[kk - 1, :]
            ids = pdf["doc_id"].to_numpy()
            doc_out, qj_out, s_out, n_out = [], [], [], []
            for j in range(nq):
                mask = (N[:, j] > 0) & (S[:, j] >= thr[j])
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                doc_out.append(ids[idx])
                qj_out.append(np.full(len(idx), j))
                s_out.append(S[idx, j])
                n_out.append(N[idx, j])
            if not doc_out:
                continue
            qj = np.concatenate(qj_out)
            yield pd.DataFrame(
                {
                    "query_id": [qid_vals[j] for j in qj],
                    "doc_id": np.concatenate(doc_out),
                    "score_micros": np.concatenate(s_out).astype(np.int64),
                    "n_terms": np.concatenate(n_out).astype(np.int64),
                }
            )

    if tid_df is None:
        # no uncapped query terms → empty result, correct schema
        cand = docs.sparkSession.createDataFrame([], out_schema)
    else:
        gro = (
            base.select(
                "doc_id",
                F.size("t").cast("long").alias("dl"),
                F.explode("t").alias("term"),
            )
            .join(F.broadcast(tid_df), "term")
            .groupBy("doc_id")
            .agg(
                F.min("dl").alias("dl"),
                F.collect_list("_tid").alias("tids"),
            )
        )
        cand = gro.mapInPandas(score_batches, out_schema)
    out = materialize(
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score_micros", "n_terms")
    )
    base.unpersist()
    return out
