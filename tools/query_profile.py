"""Per-query profile of the headline queries (or the named ones) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), with the Spark UI
off. Each query runs once to warm up, then once measured inside a job
window on Spark's status store. One row per query, and under it the 5
stages with the most executor run time:

- ``build_s``, ``plan_s``, ``exec_s``: building the DataFrame (eager
  jobs included), ``queryExecution().executedPlan()``, the noop save.
- ``build_calls``: py4j commands sent while building, a noise-free proxy
  for driver-side latency that repeats exactly for one tree. GC detaches
  (py4j telling the JVM a Python proxy is gone) arrive whenever Python
  frees one, so they are counted apart; the cyclic GC is collected
  before and paused during the build.
- ``jobs`` .. ``driver_gap_s``: ``summarize_jobs`` over the run's jobs
  (``perfbench/measure.py``, the reader the benchmark uses).
- ``compiles``: classes codegen compiled (``CodegenMetrics``).

Usage: python tools/query_profile.py [names...]
"""

from __future__ import annotations

import contextlib
import gc
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# perfbench's modules import each other flat; appended, it shadows nothing
sys.path.append(os.path.join(ROOT, "perfbench"))

import py4j.java_gateway as jg  # noqa: E402
from py4j import protocol  # noqa: E402

from engine.registry import all_queries_including_library  # noqa: E402
from engine.session import get_spark  # noqa: E402
from measure import SparkStatus, summarize_jobs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_DETACH = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
_SUMMARY = ("jobs", "stages", "tasks", "cpu_ms", "run_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "driver_gap_s")
COLUMNS = ("build_s", "plan_s", "exec_s", "build_calls", "gc_detaches", *_SUMMARY, "compiles")


@contextlib.contextmanager
def _counting_py4j():
    """Count the py4j commands every client sends inside the block,
    GC detaches apart, with the cyclic GC collected and paused."""
    out = {"build_calls": 0, "gc_detaches": 0}
    orig = jg.GatewayClient.send_command

    def counted(self, command, *a, **kw):
        out["gc_detaches" if command.startswith(_DETACH) else "build_calls"] += 1
        return orig(self, command, *a, **kw)

    gc.collect()
    gc.disable()
    jg.GatewayClient.send_command = counted
    try:
        yield out
    finally:
        jg.GatewayClient.send_command = orig
        gc.enable()


def keep_every_stage() -> None:
    """Make the SparkContext this process starts next keep every stage
    record. ``SparkStatus.jobs`` looks up each stage its window's jobs
    list, and once the status store holds more than
    ``spark.ui.retainedStages`` (Spark's default 1000) each cleanup
    deletes skipped stages first, however recent, so the lookup fails.
    The conf reaches the JVM only at launch: call before the first
    session starts."""
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.retainedStages={2**31 - 1} pyspark-shell"
    )


def profile_query(spark, status: SparkStatus, name: str, fn, sf_dir: str) -> dict:
    """Warm ``fn`` up once, then profile one run of it. Returns the row
    (``COLUMNS``) plus ``top_stages``, the run's 5 stages with the most
    executor run time, costliest first."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()
    c0 = compiled.getCount()
    win = status.window(f"profile:{name}")
    with _counting_py4j() as calls:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    status.close_window(win)
    compiles = compiled.getCount() - c0
    spark.catalog.clearCache()

    jobs = status.jobs(win)
    summary = summarize_jobs(jobs, t0, t3)
    stages = {st["stageId"]: st for j in jobs for st in j["stages"]}
    return {
        "build_s": t1 - t0,
        "plan_s": t2 - t1,
        "exec_s": t3 - t2,
        **calls,
        **{k: summary[k] for k in _SUMMARY},
        "compiles": compiles,
        "top_stages": sorted(
            stages.values(), key=lambda st: st["executorRunTime"], reverse=True
        )[:5],
    }


def main() -> None:
    specs = all_queries_including_library()
    names = sys.argv[1:] or [n for n, s in specs.items() if "headline" in s.tags]
    keep_every_stage()
    spark = get_spark("profile")
    status = SparkStatus(spark)
    print(f"{'query':32} " + " ".join(f"{c:>12}" for c in COLUMNS))
    for name in names:
        row = profile_query(spark, status, name, specs[name].fn, SF_DIR)
        cells = (f"{row[c]:.3f}" if c.endswith("_s") else f"{round(row[c])}" for c in COLUMNS)
        print(f"{name:32} " + " ".join(f"{v:>12}" for v in cells))
        for st in row["top_stages"]:
            print(
                f"    stage {st['stageId']:>5} run_ms {st['executorRunTime']:>8}"
                f" tasks {st['numCompleteTasks']:>5} shuffle r/w {st['shuffleReadBytes']:>10}"
                f"/{st['shuffleWriteBytes']:<10} {st['name'][:60]}"
            )


if __name__ == "__main__":
    main()
