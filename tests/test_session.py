"""The engine session keeps compiled query code across queries.

Whole-stage codegen caches compiled classes per JVM; at Spark's default
size (100 entries) a repeat of a few queries already finds its classes
evicted and compiles them again.
"""

from engine.registry import all_queries_including_library
from tests.conftest import SF_SMOKE


def _compiles(spark) -> int:
    """Classes codegen has compiled in this JVM so far (one Janino run
    each; a cache hit does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_repeated_queries_compile_nothing(spark):
    specs = all_queries_including_library()

    def run() -> int:
        before = _compiles(spark)
        for name in ("graph_analytics", "ann_topk"):
            specs[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return _compiles(spark) - before

    run()  # compiles only what earlier tests in this JVM did not
    assert _compiles(spark) > 0  # the counter counts
    assert run() == 0


def test_session_runs_with_the_ui_off(spark):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None
