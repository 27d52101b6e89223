"""End-to-end training-corpus curation — the operators composed the
way a production run chains them (the reusable twin of the q75/q70
gate compositions):

    quality gate → language gate → boilerplate line removal →
    exact dedup → fuzzy dedup
    (MinHash-LSH → Jaccard verify → connected components → survivor
    election) → incremental dedup vs the previous snapshot's stored
    band index → benchmark decontamination → domain cap →
    stratified rebalance → fold split

Every stage is one of this package's tested operators; this module
only sequences them, so the scale shapes are the ones documented (and
plan-tested) on each operator: digest-keyed exchanges, banded-key
LSH shuffles, broadcast decontamination, pure-expression sampling and
splitting. Nothing here collects data-plane rows to the driver.

Determinism: every stage is a pure function of the data (hash
sampling/splitting, lowest-id survivor election), so the same input
yields the same curated corpus at any parallelism — the property the
whole repo's oracles gate on.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import text as TX
from ..operators.dedup import (
    HOT_BUCKET_CAP,
    bench_ngram_digests,
    boilerplate_line_dedup,
    connected_components,
    dedup_against_index,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_candidates,
    ngram_contamination,
)
from ..operators.relational import (
    domain_cap_sample,
    hash_split,
    stratified_hash_sample,
)

# fuzzy dedup keeps a candidate pair at exact shingle Jaccard >= 0.8
_JACCARD_THRESHOLD = 0.8
# decontamination flags a document sharing any 13-token window with
# the benchmark (the GPT-3/PaLM rule)
_CONTAMINATION_N = 13


@dataclass
class CurationConfig:
    min_quality: float = 0.5
    langs: list[str] | None = None          # None = keep all languages
    # corpus-frequency boilerplate line removal (RefinedWeb line-wise
    # correction): ``\n``-lines in >= this many distinct docs are
    # stripped before any dedup stage sees the text. None = off.
    line_dedup_min_df: int | None = None
    # LSH → Jaccard → components; LSH buckets over HOT_BUCKET_CAP rows
    # are left out (here and in the incremental stage)
    fuzzy: bool = True
    lsh_num_hashes: int = 16
    lsh_bands: int = 8
    # incremental mode: the EXISTING corpus as its persisted artifacts
    # (minhash_band_index output + (id, sig) signature table, built
    # with the SAME lsh_num_hashes/lsh_bands) — new-snapshot docs that
    # fuzzily match it are dropped without reading the old text.
    prev_index: DataFrame | None = None
    prev_sigs: DataFrame | None = None      # sig verification: set both
    index_min_agree: int | None = None      # or neither; ≥k/num_hashes
    bench_df: DataFrame | None = None       # decontamination corpus; text in "text"
    rates_ppm: dict = field(default_factory=dict)   # per-lang rebalance
    domain_col: str | None = None           # set both to cap hot domains
    domain_cap_ppm: int | None = None       # max per-domain corpus share
    default_ppm: int = 1_000_000            # strata not listed: keep all
    split_fractions: dict | None = None     # e.g. {"train":.98,"val":.01,"test":.01}


def curate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    cfg: CurationConfig,
) -> DataFrame:
    """Run the curation chain over ``df``; returns the curated corpus
    with the original columns plus ``quality`` (score that gated the
    row) and, when ``cfg.split_fractions`` is set, a ``fold`` column.
    Stages toggle off naturally: no ``bench_df`` → no decontamination
    scan; empty ``rates_ppm`` with the keep-all default → no
    rebalance filter; ``fuzzy=False`` → exact dedup only.

    ``prev_sigs`` and ``index_min_agree`` verify matches against
    ``prev_index``; setting either without it raises ValueError."""
    if cfg.prev_index is None and (
        cfg.prev_sigs is not None or cfg.index_min_agree is not None
    ):
        raise ValueError(
            "curate: prev_sigs and index_min_agree verify matches against "
            "prev_index — set prev_index too, or neither"
        )
    # 1-2. quality + language gates: pure column predicates — these
    # run inside the scan's WholeStageCodegen and prune early.
    out = df.withColumn("quality", TX.quality_score(F.col(text_col))).filter(
        F.col("quality") >= cfg.min_quality
    )
    if cfg.langs is not None:
        out = out.filter(F.col(lang_col).isin(*cfg.langs))

    # 2b. boilerplate line removal: corpus-frequency thresholded line
    # strip (digest-keyed) BEFORE dedup, so template chrome can't make
    # distinct documents look identical (or near-identical) downstream.
    # Quality (stage 1) scored the raw text — the gate order keeps the
    # cheap pure-expression prunes ahead of this shuffling stage.
    if cfg.line_dedup_min_df is not None:
        cleaned = boilerplate_line_dedup(
            out, text_col, id_col, min_doc_freq=cfg.line_dedup_min_df
        ).select(F.col("id").alias(id_col), F.col("clean_text"))
        out = out.drop(text_col).join(cleaned, id_col).withColumnRenamed(
            "clean_text", text_col
        )

    # 3. exact dedup (first-seen by lowest id on the md5 digest).
    out = exact_dedup(out, text_col, id_col).drop("content_hash")

    # 4. fuzzy dedup: candidates only ever come from LSH buckets;
    # survivors are each component's minimum id (the same election
    # the q70 gate entry oracles).
    if cfg.fuzzy:
        cands = minhash_lsh_candidates(
            out,
            text_col,
            id_col,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            max_bucket_size=HOT_BUCKET_CAP,
        )
        pairs = jaccard_pairs(
            out, text_col, id_col, _JACCARD_THRESHOLD, candidates=cands
        )
        comps = connected_components(pairs)
        losers = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        out = out.join(losers, id_col, "left_anti")

    # 4b. incremental dedup: docs already (fuzzily) in the EXISTING
    # corpus — represented only by its band index + signature table —
    # are dropped (dedup_against_index); the steady-state
    # snapshot-over-snapshot shape, composing with index-driven
    # recrawl (crawl/recrawl.py).
    if cfg.prev_index is not None:
        ann = dedup_against_index(
            out,
            cfg.prev_index,
            text_col,
            id_col,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            max_bucket_size=HOT_BUCKET_CAP,
            old_sigs=cfg.prev_sigs,
            min_agree=cfg.index_min_agree,
        )
        dups = ann.filter(F.col("is_dup")).select(F.col("id").alias(id_col))
        out = out.join(dups, id_col, "left_anti")

    # 5. decontamination: benchmark digests broadcast; corpus never
    # shuffles for this check.
    if cfg.bench_df is not None:
        bench = bench_ngram_digests(cfg.bench_df, "text", n=_CONTAMINATION_N)
        flags = ngram_contamination(
            out, text_col, id_col, bench, n=_CONTAMINATION_N
        )
        dirty = flags.filter(F.col("contaminated")).select(
            F.col("id").alias(id_col)
        )
        out = out.join(F.broadcast(dirty), id_col, "left_anti")

    # 6a. domain balancing: hot domains deterministically capped at
    # domain_cap_ppm of the corpus (counts shuffle + rate join only).
    if cfg.domain_col is not None and cfg.domain_cap_ppm is not None:
        out = domain_cap_sample(
            out, id_col, cfg.domain_col, cfg.domain_cap_ppm
        )

    # 6. stratified rebalance: pure-expression ppm buckets, rates nest.
    if cfg.rates_ppm:
        out = stratified_hash_sample(
            out,
            id_col,
            lang_col,
            cfg.rates_ppm,
            default_ppm=cfg.default_ppm,
        )

    # 7. fold split: disjoint ppm ranges, exactly one fold per row.
    if cfg.split_fractions:
        out = hash_split(out, id_col, cfg.split_fractions)
    return out
