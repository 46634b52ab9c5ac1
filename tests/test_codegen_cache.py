"""The ``get_spark`` session keeps an ad-hoc working set's generated code.

Spark's whole-stage code cache holds ``spark.sql.codegen.cache.maxEntries``
classes, 100 by default; the ad-hoc entries below compile more than that,
so under the default every pass evicts and recompiles them. ``get_spark``
sizes the cache to 2000, so a second pass over the same entries in the
same session compiles almost nothing.
"""

from __future__ import annotations

from reddit_data_engineering_project_spark import registry

from conftest import SF_DIR

# perfbench's adhoc_analytics queries and curation entries, plus a few
# text entries. q21_copurchase_lift is left out: with the cache sized it
# still recompiles 0-10 classes on some warm passes and none on others
# (its physical plan varies from run to run), which no cache size removes.
ENTRIES = (
    "q04_topk",
    "q07_hash_aggregate",
    "q09_cube",
    "q10_star_report",
    "q10_bloom_prune",
    "q11_asof_join",
    "q13_topn_per_group",
    "q21_funnel_conversion",
    "q21_sessionize_gap",
    "q22_rolling_zscore",
    "q17_higher_order_funcs",
    "q14_string_funcs2",
    "x02_dedup_clusters",
    "x02_semantic_dedup",
    "q17_array_funcs",
    "q14_string_funcs",
)


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark) -> None:
    for name in ENTRIES:
        spark.catalog.clearCache()
        registry.QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()


def test_second_pass_over_the_working_set_recompiles_almost_nothing(spark):
    registry.load_all_operators()
    assert set(ENTRIES) <= set(registry.QUERIES)
    _run_all(spark)
    before = _compilations(spark)
    _run_all(spark)
    assert _compilations(spark) - before <= 10
