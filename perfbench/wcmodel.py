"""Inputs and an independent model for the streaming wordcount workload.

``make_inputs`` resamples lines from the ``documents.text`` column into
a few text files, deterministically from a seed. ``expected_parts``
computes, in plain Python, the part files a Hadoop-Streaming job with
``exec/wc_map.sh`` and ``exec/wc_reduce.py`` must publish:

- map: split each line on space and tab (empty tokens kept), lowercase
  ASCII letters, emit ``token<TAB>1``;
- partition: bucket ``int(md5(key).hexdigest(), 16) % reducers``, key
  being the text before the first tab;
- sort: each bucket ordered by the whole line's UTF-8 bytes;
- reduce: sum the values of each run of equal keys.

``check_parts`` compares a job's output directory with that model byte
for byte.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import Counter

_SEP = re.compile("[ \t]")
_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def document_lines(documents_parquet: str) -> list[str]:
    """Every line of every ``documents.text`` value, in table order."""
    import pyarrow.parquet as pq

    texts = pq.read_table(documents_parquet, columns=["text"]).column("text")
    lines: list[str] = []
    for t in texts.to_pylist():
        if t is not None:
            lines.extend(t.splitlines())
    return lines


def _perturb(line: str, rng: random.Random) -> str:
    """Vary case and separators so every mapper rule is exercised:
    capitalised tokens, tabs, doubled and trailing separators."""
    toks = line.split(" ")
    for i, t in enumerate(toks):
        r = rng.random()
        if r < 0.05:
            toks[i] = t.upper()
        elif r < 0.15:
            toks[i] = t.capitalize()
    out = []
    for i, t in enumerate(toks):
        if i:
            r = rng.random()
            out.append("\t" if r < 0.05 else "  " if r < 0.08 else " ")
        out.append(t)
    if rng.random() < 0.02:
        out.append(" ")
    return "".join(out)


def make_inputs(
    source_lines: list[str], seed: int, total_bytes: int, n_files: int
) -> list[list[str]]:
    """``n_files`` lists of lines, about ``total_bytes`` UTF-8 bytes in
    all, drawn with replacement from ``source_lines``. The same seed
    gives the same lines."""
    rng = random.Random(seed)
    files: list[list[str]] = [[] for _ in range(n_files)]
    size = 0
    i = 0
    while size < total_bytes:
        line = _perturb(rng.choice(source_lines), rng)
        files[i % n_files].append(line)
        size += len(line.encode("utf-8")) + 1
        i += 1
    return files


def write_inputs(files: list[list[str]], input_dir: str) -> int:
    """Write the input files (``input-000.txt`` ...); returns total bytes."""
    os.makedirs(input_dir, exist_ok=True)
    total = 0
    for i, lines in enumerate(files):
        data = "".join(line + "\n" for line in lines).encode("utf-8")
        with open(os.path.join(input_dir, f"input-{i:03d}.txt"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def md5_bucket(key: str, n: int) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16) % n


def expected_parts(files: list[list[str]], n_reducers: int) -> list[bytes]:
    """The byte content of ``part-00000`` .. ``part-{n_reducers-1}``."""
    # Equal intermediate lines are interchangeable, so count them once.
    inter: Counter[str] = Counter()
    for lines in files:
        for line in lines:
            for tok in _SEP.split(line):
                inter[tok.translate(_ASCII_LOWER) + "\t1"] += 1
    buckets: list[list[str]] = [[] for _ in range(n_reducers)]
    for line in inter:
        buckets[md5_bucket(line.split("\t", 1)[0], n_reducers)].append(line)
    parts = []
    for bucket in buckets:
        out: list[str] = []
        key, total = None, 0
        for line in sorted(bucket, key=lambda s: s.encode("utf-8")):
            k, _, v = line.partition("\t")
            if k != key:
                if key is not None:
                    out.append(f"{key}\t{total}\n")
                key, total = k, 0
            total += int(v) * inter[line]
        if key is not None:
            out.append(f"{key}\t{total}\n")
        parts.append("".join(out).encode("utf-8"))
    return parts


def check_parts(output_dir: str, expected: list[bytes]) -> list[str]:
    """Differences between a job's published part files and the model;
    empty when they are byte-identical."""
    names = [f"part-{i:05d}" for i in range(len(expected))]
    found = sorted(os.listdir(output_dir)) if os.path.isdir(output_dir) else []
    errs = []
    if found != names:
        errs.append(f"part files {found} != {names}")
    for name, want in zip(names, expected):
        path = os.path.join(output_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, "rb") as f:
            got = f.read()
        if got != want:
            errs.append(
                f"{name}: {len(got)} bytes differ from the model's {len(want)}"
            )
    return errs
