"""Dump .explain('formatted') for the named queries into one directory,
one ``<name>_<suffix>.txt`` file each (before/after plan pairs).

Usage: python tools/dump_explain.py --out plans/rNN <suffix> [names...]
  suffix: 'before' or 'after'
  names: default = the 13 bench headliners
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.registry import all_queries_including_library  # noqa: E402
from engine.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    specs = all_queries_including_library()
    names = args.names or [n for n, s in specs.items() if "headline" in s.tags]
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dump-explain")
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        spark.catalog.clearCache()
        print(f"wrote {name}_{args.suffix}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
