#!/usr/bin/env python3
"""Wordcount reducer: input lines "key<TAB>count" arrive sorted, so equal
keys are contiguous; writes "key<TAB>total" once per run of equal keys.
The key is the text before the first tab and may be empty."""

import sys

key, total = None, 0
for line in sys.stdin:
    k, _, v = line.rstrip("\n").partition("\t")
    if k != key:
        if key is not None:
            sys.stdout.write(f"{key}\t{total}\n")
        key, total = k, 0
    total += int(v)
if key is not None:
    sys.stdout.write(f"{key}\t{total}\n")
