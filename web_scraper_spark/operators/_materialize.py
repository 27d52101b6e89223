"""Returned-frame materialization switch.

Operators that persist intermediates materialize their RESULT with an
eager ``localCheckpoint`` so the caches can be released before
returning: the hot-bucket-guarded ``minhash_lsh_candidates``, the
df-capped ``jaccard_pairs`` and dense ``bm25_topk``. Eager checkpoints
collapse ``.explain()`` to ``Scan ExistingRDD``, so
``tools/dump_plans.py`` flips ``PLAN_DUMP_MODE`` to dump the real
operator tree.

Only *returned-frame* materializations route through this switch; the
mid-loop lineage cuts inside iterative operators (connected
components' alternating-star rounds, PageRank's ``_CHECKPOINT_EVERY``)
stay unconditional — they bound lineage growth during execution and
never sit on a dumped query's top-level plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: set True by tools/dump_plans.py (and nothing else) so dumped plans
#: show the join/exchange tree instead of Scan ExistingRDD
PLAN_DUMP_MODE = False


def materialize(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint — skipped under PLAN_DUMP_MODE."""
    if PLAN_DUMP_MODE:
        return df
    return df.localCheckpoint()
