"""Count py4j commands issued while BUILDING each query's DataFrame
(lazy construction only — eager jobs inside a build also count their
driver-side chatter). A noise-free proxy for driver-side Python↔JVM
latency: wall cost ≈ calls × measured RTT (~1-3 ms on this host).

GC detaches (py4j telling the JVM a collected Python proxy is gone)
depend on when Python frees objects, including ones left over from
earlier queries, so they are counted apart from ``build_calls``; the
cyclic GC is collected before and paused during each build. Without
this split, repeated runs of one tree differed by hundreds of calls.

Usage: python tools/count_py4j.py [names...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import py4j.java_gateway as jg  # noqa: E402
from py4j import protocol  # noqa: E402

COUNT = {"n": 0, "detach": 0}
_DETACH = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
_orig = jg.GatewayClient.send_command


def _counted(self, command, *a, **kw):
    COUNT["detach" if command.startswith(_DETACH) else "n"] += 1
    return _orig(self, command, *a, **kw)


jg.GatewayClient.send_command = _counted

from engine.registry import all_queries_including_library  # noqa: E402
from engine.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    specs = all_queries_including_library()
    names = sys.argv[1:] or [n for n, s in specs.items() if "headline" in s.tags]
    spark = get_spark("py4jcount")
    spark.range(1).count()  # warm
    print(f"{'query':32} {'build_calls':>12} {'gc_detaches':>12} {'build_sec':>10}")
    for name in names:
        spark.catalog.clearCache()
        gc.collect()
        gc.disable()
        c0, d0 = COUNT["n"], COUNT["detach"]
        t0 = time.perf_counter()
        try:
            specs[name].fn(spark, SF_DIR)
        finally:
            gc.enable()
        dt = time.perf_counter() - t0
        print(
            f"{name:32} {COUNT['n'] - c0:>12} {COUNT['detach'] - d0:>12} {dt:>10.3f}"
        )


if __name__ == "__main__":
    main()
