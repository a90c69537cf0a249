"""Independent pure-Python model of a Hadoop-Streaming job, used by
``tests/test_mapreduce.py`` as the expected output of ``run_job``.

- input: the files of a directory in sorted name order; a line ends at
  ``\\n``, ``\\r\\n`` or a lone ``\\r`` (Hadoop's ``LineReader``), and a
  final line without a terminator still counts; invalid UTF-8 decodes
  to U+FFFD;
- partition: bucket ``int(md5(key).hexdigest(), 16) % R``, the key being
  the text before the first tab of an intermediate line;
- sort: each bucket ordered by the UTF-8 bytes of the whole line;
- output: ``part-00000`` .. ``part-{R-1}``, one ``\\n``-terminated line
  per reducer output record, empty for an empty bucket.

The ``wc_*`` and ``grep_*`` functions state the semantics of the
executables in ``tests/fixtures/mapreduce/exec``.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import string
from collections.abc import Callable, Iterable

_EOL = re.compile(r"\r\n|\r|\n")
_SEP = re.compile(r"[ \t]")
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)

MapFn = Callable[[str], Iterable[str]]
ReduceFn = Callable[[list[str]], Iterable[str]]


def read_lines(path: str) -> list[str]:
    with open(path, "rb") as f:
        lines = _EOL.split(f.read().decode("utf-8", "replace"))
    if lines[-1] == "":
        lines.pop()
    return lines


def read_input_dir(input_dir: str) -> list[str]:
    return [
        line
        for name in sorted(os.listdir(input_dir))
        for line in read_lines(os.path.join(input_dir, name))
    ]


def md5_bucket(key: str, n: int) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % n


def expected_parts(
    lines: Iterable[str], map_fn: MapFn, reduce_fn: ReduceFn, n_reducers: int
) -> list[bytes]:
    buckets: list[list[str]] = [[] for _ in range(n_reducers)]
    for line in lines:
        for record in map_fn(line):
            buckets[md5_bucket(record.split("\t", 1)[0], n_reducers)].append(record)
    return [
        "".join(
            out + "\n"
            for out in reduce_fn(sorted(b, key=lambda s: s.encode("utf-8")))
        ).encode("utf-8")
        for b in buckets
    ]


def read_parts(paths: list[str]) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def part_names(n_reducers: int) -> list[str]:
    return [f"part-{i:05d}" for i in range(n_reducers)]


def wc_map(line: str) -> list[str]:
    """``wc_map.sh``: split on every space and tab, keep empty tokens,
    lowercase ASCII letters only."""
    return [tok.translate(_ASCII_LOWER) + "\t1" for tok in _SEP.split(line)]


def wc_reduce(lines: list[str]) -> list[str]:
    """``wc_reduce.py``: sum the counts of each run of equal keys."""
    parsed = (line.partition("\t") for line in lines)
    return [
        f"{key}\t{sum(int(v) for _, _, v in group)}"
        for key, group in itertools.groupby(parsed, key=lambda t: t[0])
    ]


def grep_map(query: str) -> MapFn:
    """``grep_map.py QUERY``: lines containing QUERY, ignoring case."""
    return lambda line: [f"{line}\t1"] if query.lower() in line.lower() else []


def grep_reduce(lines: list[str]) -> list[str]:
    """``grep_reduce.py``: each line without its trailing tab field."""
    return [line.rpartition("\t")[0] for line in lines]
