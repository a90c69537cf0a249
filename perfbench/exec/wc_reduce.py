#!/usr/bin/env python3
"""Hadoop-Streaming wordcount reducer.

Reads "key<TAB>count" lines sorted so that equal keys are contiguous and
writes one "key<TAB>total" line per run of equal keys. The key is the
text before the first tab; an empty key is a legal key.
"""

import sys


def main() -> None:
    out = sys.stdout
    key = None
    total = 0
    for line in sys.stdin:
        k, _, v = line.rstrip("\n").partition("\t")
        if k != key:
            if key is not None:
                out.write(f"{key}\t{total}\n")
            key, total = k, 0
        total += int(v)
    if key is not None:
        out.write(f"{key}\t{total}\n")


if __name__ == "__main__":
    main()
