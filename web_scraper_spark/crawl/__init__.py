"""The frontier engine: distributed URL-frontier + fetch scheduler.

Realizes the reference's declared-but-unbuilt crawl capability
(``max_depth`` config + TODO.md sitemap/concurrency notes,
contxt/config.py:20, TODO.md:1,7) as a Spark-native micro-batch loop:

- :mod:`frontier`   — frontier schema, seed ingestion, candidate
                      filtering (validity, ignore patterns, robots,
                      exact anti-join against the seen table — the
                      analog of the reference's ``processed_hashes``
                      set, contxt/scraper.py:440).
- :mod:`politeness` — per-host crawl-delay scheduler as a pure JVM
                      cumulative-sum window over host partitions,
                      with skew-guarded two-stage quota trimming.
- :mod:`rounds`     — the micro-batch round loop with atomic parquet
                      checkpoints, per-partition lineage + metrics, and
                      mid-crawl resume.
- :mod:`simulator`  — pure-Python sequential reference-semantics
                      simulator (ordering/seen-set oracle for parity
                      tests; models contxt/cli.py:276-307).
"""
