"""SparkSession factory tuned for this engine.

Local-mode defaults are sized for the test container (local[32], single
JVM); on a real cluster the same settings (AQE on, sensible shuffle
partitioning, Arrow enabled) are the ones you want anyway — only
`spark.sql.shuffle.partitions` should be raised to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, default 100; a static conf, so it is set before the
# session starts). The cache is LRU, so a re-run recompiles every class
# that more than this many newer classes pushed out. Counted with
# CodegenMetrics.METRIC_COMPILATION_TIME, one pass generates 177
# distinct classes on the perfbench de_matrix workload and 195 on
# corpus_curation, and the largest single bench.py HEADLINE query
# (pipe_fineweb_recipe, sf0.1) 93. With the default, every warm pass
# of either workload recompiled 173-191 classes. This size, twice the
# largest per-pass count rounded up, holds a whole pass plus the few
# classes a re-run adds where a plan inlines a data-derived literal:
# the first warm pass compiles 0-12 classes and every later one 0.
CODEGEN_CACHE_ENTRIES = 400


def get_spark(
    app_name: str = "mdataframe_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE is enabled so runtime statistics can coalesce shuffle partitions,
    convert sort-merge joins to broadcast, and split skewed partitions —
    all load-bearing at 100 TB where static planning guesses wrong.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # ContextCleaner reclaims broadcasts/shuffle files only when the
        # DRIVER JVM garbage-collects their references; the default
        # periodic-GC interval (30min) lets a long multi-query session
        # accumulate gigabytes of dead broadcast/shuffle state, and the
        # resulting heap pressure was measured to inflate late-session
        # queries 2-3x. One minute bounds the accumulation window.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
