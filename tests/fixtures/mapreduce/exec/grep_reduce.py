#!/usr/bin/env python3
"""Grep reducer: writes each matched line once per occurrence, dropping
the "<TAB>1" the mapper appended."""

import sys

for line in sys.stdin:
    sys.stdout.write(line.rstrip("\n").rpartition("\t")[0] + "\n")
