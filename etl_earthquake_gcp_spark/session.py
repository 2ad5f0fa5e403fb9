"""SparkSession factory.

Mirrors the reference's session setup (scripts/process_bronze_to_silver.py:151-155
builds a plain SparkSession with Delta/GCS jars) minus the GCP plumbing, plus
the scale-hygiene settings SURVEY.md §7 tier 4(c) calls for: AQE on (runtime
partition coalescing + skew-join splitting), UTC session timezone (oracle
comparison), Arrow for any pandas exchange.

On a real cluster the same builder is used with ``master`` unset (taken from
spark-submit) and ``shuffle_partitions`` sized to ~2-3× total executor cores.

Spark caches compiled whole-stage-codegen classes in a JVM-wide LRU of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). A warm pass of
the 11 BI star-schema queries visits ~150 distinct classes in a cycle, so at
100 each class was evicted before its next use and every pass recompiled
~120 of them (and the JIT re-optimised the copies). ``CODEGEN_CACHE_MAX_ENTRIES``
was sized by counting compiles under a cache too large to evict: a whole
bi_star benchmark run compiles 171 distinct classes, a whole medallion_etl
run 200-212 (its merges keep adding a few new shapes each pass). 500 is the
smallest round hundred above twice the larger count; the headroom matters
because the cache is four segments that evict independently (125 entries
each here). A whole test-suite session compiles ~4,500 distinct classes,
which it does not cover. The setting is static: it reaches sessions built
by ``get_spark`` only, never a caller's own already-running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_MAX_ENTRIES = 500


def get_spark(
    app_name: str = "etl_earthquake_gcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults target the local harness (``local[$SPARK_GRAFT_CPUS]``); every
    setting below is equally valid on a multi-executor cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: post-shuffle coalescing, runtime join-strategy switch, skew split
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # deterministic timestamps vs the DuckDB oracle (naive-UTC parquet)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / toPandas exchange
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # broadcast small dims aggressively (dims here are KB-scale)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # compiled-class cache sized to hold a whole workload (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
