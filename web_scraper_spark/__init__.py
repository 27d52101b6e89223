"""web_scraper_spark — a PySpark-native web-content analytics / crawl engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
``danhilse/web-scraper`` ("contxt"): a distributed URL-frontier + fetch
scheduler + content-extraction pipeline expressed as DataFrame
transformations, vectorized Arrow UDFs, and grouped-map operators.

Subpackages
-----------
html       pure-Python HTML engine (a DOM with ``html.parser``'s tree,
           built by a regex token scanner; cleaning, markdown/xml/html
           rendering, image extraction) —
           the deterministic per-row extraction core used inside
           pandas UDFs.  Semantics mirror the reference's extraction
           behavior (cited per function) but share no code with it.
functions  Column-expression helpers (URL parsing, filenames, token
           counts) and the pandas-UDF wrappers over ``html``.
operators  generic relational/data-pipeline operators: as-of join,
           grouped top-k, dedup family (exact / minhash-LSH / simhash /
           n-gram jaccard / embedding-cosine), similarity search,
           text analysis, multimodal plumbing.
sources    deterministic synthetic ``pages`` generator (FIXTURES.md §1)
           and testdata readers.
crawl      the frontier engine: exact URL-seen table, per-host politeness
           scheduler, salted partitioning, micro-batch round loop with
           checkpoint/resume and per-partition lineage + metrics.
"""

__version__ = "0.1.0"
