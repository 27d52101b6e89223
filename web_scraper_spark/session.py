"""SparkSession factory tuned for the crawl/analytics workload.

Defaults target local[32] testing but every knob is the one you would
set on a 1000-executor cluster: AQE on (skew-join splitting + partition
coalescing), Arrow enabled for the pandas-UDF extraction stages, and a
shuffle-partition count sized to the parallelism level.

Spark keeps generated classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). One crawl
round generates more classes than that, so at the default each round
evicts the classes the next round asks for, and tasks that need the
same class block on its compile. The factory sets the cache to
:data:`CODEGEN_CACHE_ENTRIES`, which holds every class of a full
``bench.py`` pass. Measured on 4 cores: a second ``bench.py`` pass
over the 90 queries at sf0.1 compiled 13-41 classes instead of
981-997, and a ``perfbench`` ``crawl_frontier`` round 15-23 instead of
89-97 (per-round mean of a traced run). The setting changes no plan, only
how often a generated class is reused. It is a static conf: it takes
effect only when the factory starts the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: at least the number of
#: distinct generated classes one full ``bench.py`` pass needs
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "web_scraper_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or 32. shuffle_partitions
    defaults to max(cores, 32) — on a real cluster you would size this
    to ~2-3x total executor cores and let AQE coalesce.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    # Ship the package to Python workers — the local-mode analog of
    # `spark-submit --py-files`. Workers inherit PYTHONPATH, so the
    # repo root must be on it before the JVM (and its python daemons)
    # start. Workers run `python -m pyspark.daemon`, which puts the
    # launch cwd first on sys.path; PYTHONSAFEPATH (Python 3.11+)
    # keeps it off, so a `web_scraper_spark/` in the cwd cannot shadow
    # this package.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
