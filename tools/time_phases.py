"""Split each query's wall time into build (Python DataFrame
construction incl. eager jobs), plan (Catalyst analyze+optimize+
physical planning via queryExecution().executedPlan()), and execute
(noop save of the already-planned frame). ``compiles`` is the number
of classes codegen compiled during the query (Janino runs, read from
Spark's ``CodegenMetrics``); after the warm-up pass it should be 0.

Usage: python tools/time_phases.py [names...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.registry import all_queries_including_library  # noqa: E402
from engine.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    specs = all_queries_including_library()
    names = sys.argv[1:] or [n for n, s in specs.items() if "headline" in s.tags]
    spark = get_spark("phases")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    # Warm once: class loading, file listing, and the codegen cache,
    # which get_spark sizes to hold every query's compiled classes.
    for name in names:
        specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    print(f"{'query':32} {'build':>8} {'plan':>8} {'exec':>8} {'total':>8} {'compiles':>8}")
    for name in names:
        c0 = compiles().getCount()
        t0 = time.perf_counter()
        df = specs[name].fn(spark, SF_DIR)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        c1 = compiles().getCount()
        spark.catalog.clearCache()
        print(
            f"{name:32} {t1-t0:8.3f} {t2-t1:8.3f} {t3-t2:8.3f} {t3-t0:8.3f} {c1-c0:8d}"
        )


if __name__ == "__main__":
    main()
