#!/usr/bin/env python3
"""Grep mapper: usage ``grep_map.py QUERY``. Writes every input line that
contains QUERY, ignoring case, as "line<TAB>1"."""

import sys

query = sys.argv[1].lower()
for line in sys.stdin:
    line = line.rstrip("\n")
    if query in line.lower():
        sys.stdout.write(f"{line}\t1\n")
