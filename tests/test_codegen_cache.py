"""Spark's generated-class cache holds the registry's working set.

Kept early in the collection order on purpose: the compile-count test needs
a cache with room left, which is true for the first few thousand classes a
session compiles.
"""

from gcp_cloudsql_to_bigquery_spark.session import DEFAULT_CONFS
from gcp_cloudsql_to_bigquery_spark.workload import queries

# Distinct classes one pass over all 375 registry queries compiles at
# sf0.001 (measured with a cache that never evicts).
REGISTRY_WORKING_SET = 4415

# Interactive headline queries whose generated code does not depend on the
# data: a second run over the same inputs reuses every class.  Together they
# compile ~170 classes, more than Spark's default 100-entry cache holds, so
# with that default every run recompiles nearly all of them.
CODE_STABLE = (
    "q1_pricing_summary",
    "join_star_q3",
    "join_q5_region_revenue",
    "join_asof",
    "agg_rollup",
    "agg_count_distinct",
    "window_running_sum",
    "topk_per_group",
    "dedup_exact",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "text_quality_score",
    "sessionize_batch",
    "stream_tumbling_window",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_capacity_covers_registry_working_set(spark):
    configured = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert configured == DEFAULT_CONFS["spark.sql.codegen.cache.maxEntries"]
    assert int(configured) >= REGISTRY_WORKING_SET


def test_second_run_compiles_nothing(spark, sf_dir):
    qs = queries()

    def run_all() -> int:
        before = _compiles(spark)
        for name in CODE_STABLE:
            qs[name](spark, sf_dir).toPandas()
        return _compiles(spark) - before

    first = run_all()
    assert first > 100  # the set outgrows Spark's default cache
    assert run_all() == 0
