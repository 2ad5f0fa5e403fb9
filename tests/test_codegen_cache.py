"""Steady-state codegen: a warm pass of the BI star-schema queries must not
recompile any generated class.

Spark caches compiled whole-stage classes in a JVM-wide LRU cache;
``get_spark`` sizes it (``CODEGEN_CACHE_MAX_ENTRIES``) so one pass of the
11 BI queries fits. At Spark's default of 100 entries every pass recompiled
~120 classes, because the pass visits ~150 distinct classes in a cycle.
"""

from __future__ import annotations

from bench import materialize
from etl_earthquake_gcp_spark.plans import QUERIES
from etl_earthquake_gcp_spark.session import CODEGEN_CACHE_MAX_ENTRIES

from .conftest import SF_DIR

# the 11 JVM-only BI queries of the benchmark's bi_star workload
BI_STAR = [
    "flagship_events_by_region", "pricing_summary", "join_broadcast_hint",
    "join_sortmerge_hint", "latest_event_dedup", "latest_event_dedup_maxby",
    "date_hierarchy_rollup", "window_rank_suite", "sessionize_events",
    "asof_purchase_prior_click", "asof_nearest_click",
]


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _bi_star_pass(spark) -> None:
    for name in BI_STAR:
        spark.catalog.clearCache()
        materialize(QUERIES[name].spark_fn(spark, SF_DIR))
    spark.catalog.clearCache()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_warm_bi_star_pass_recompiles_nothing(spark):
    _bi_star_pass(spark)  # warm: compiles whatever the session lacks
    before = _compiles(spark)
    _bi_star_pass(spark)
    assert _compiles(spark) - before == 0
