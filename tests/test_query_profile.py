"""``tools/query_profile.py`` profiles one query in process with the UI off:
jobs and stages from Spark's status store, py4j build calls with GC
detaches apart, and the classes codegen compiled."""

import importlib.util
import os

from engine.registry import all_queries_including_library
from tests.conftest import SF_SMOKE

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "query_profile.py"
)


def _load_tool():
    spec = importlib.util.spec_from_file_location("query_profile", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_query_reads_jobs_build_calls_and_compiles(spark):
    tool = _load_tool()
    status = tool.SparkStatus(spark)
    q1 = all_queries_including_library()["q1_pricing_summary"].fn

    def build(spark, sf_dir):
        # py4j sends GC detaches from its finalizer thread whenever that
        # runs; send one for an id that names nothing, synchronously
        client = spark.sparkContext._gateway._gateway_client
        client.garbage_collect_object("o-no-such-object", enqueue=False)
        return q1(spark, sf_dir)

    a, b = (
        tool.profile_query(spark, status, "q1_pricing_summary", build, SF_SMOKE)
        for _ in range(2)
    )
    assert a["jobs"] > 0 and a["tasks"] > 0 and a["cpu_ms"] > 0
    assert a["gc_detaches"] > 0
    assert a["build_calls"] == b["build_calls"] > 0
    assert a["compiles"] == b["compiles"] == 0
    run_ms = [st["executorRunTime"] for st in b["top_stages"]]
    assert run_ms and run_ms == sorted(run_ms, reverse=True)
