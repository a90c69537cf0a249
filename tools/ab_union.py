"""Interleaved A/B: sequential union vs concurrent checkpointed union
for the federated headliners, in ONE session so host drift cancels.

Usage: python tools/ab_union.py [n_rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 5


def med(xs):
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    from engine.operators.similarity import ann_tier_frames
    from engine.operators.tpch_merged import NATION_TRADE
    from engine.plans import checkpoint_concurrently

    spark = get_spark("ab")

    for label, parts_fn in (("q7_q8_q9", NATION_TRADE.frames), ("ann_topk", ann_tier_frames)):
        # warm both shapes
        for variant in ("seq", "conc"):
            parts = parts_fn(spark, SF_DIR)
            if variant == "conc":
                dfs = checkpoint_concurrently([(f"ab_{t}", d) for t, d in parts])
            else:
                dfs = [d for _, d in parts]
            u = dfs[0]
            for d in dfs[1:]:
                u = u.unionAll(d)
            u.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        times = {"seq": [], "conc": []}
        for _ in range(N):
            for variant in ("seq", "conc"):
                t0 = time.perf_counter()
                parts = parts_fn(spark, SF_DIR)
                if variant == "conc":
                    dfs = checkpoint_concurrently([(f"ab_{t}", d) for t, d in parts])
                else:
                    dfs = [d for _, d in parts]
                u = dfs[0]
                for d in dfs[1:]:
                    u = u.unionAll(d)
                u.write.format("noop").mode("overwrite").save()
                times[variant].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        print(
            f"{label}: seq median {med(times['seq']):.3f}s conc median "
            f"{med(times['conc']):.3f}s  (seq {sorted(times['seq'])}, conc {sorted(times['conc'])})"
        )


if __name__ == "__main__":
    main()
