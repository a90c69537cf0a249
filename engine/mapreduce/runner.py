"""Hadoop-Streaming-compatible MapReduce job runner on Spark.

Reference semantics reproduced (citations into /root/reference):

- Input: a directory of UTF-8 text files, listed in sorted order
  (``manager/__main__.py:193``), read line-by-line. Lines end at
  ``\\n``, ``\\r\\n`` or a lone ``\\r`` (Hadoop's ``LineReader``); bytes
  that are not valid UTF-8 read as U+FFFD.
- Map: each line streamed through the mapper executable's stdin; its
  stdout lines are intermediate records (``worker/__main__.py:134-151``).
  The reference runs one mapper process per input *file*; we run one per
  Spark partition — observationally identical for the documented
  contract (stateless line-wise executables, SURVEY.md §7 Phase 2).
- Partition: intermediate line → bucket
  ``int(md5(key).hexdigest(), 16) % num_reducers`` where key = text
  before the first tab (``worker/__main__.py:143-148``).
- Sort: each reducer's input is sorted lexicographically by WHOLE LINE
  (byte order; ``worker/__main__.py:166-167`` uses coreutils sort, and
  ``heapq.merge`` preserves it, ``worker/__main__.py:196-209``). Spark's
  UTF8_BINARY string order is UTF-8 byte order, matching the C-locale
  sort the goldens assume (SURVEY.md §8).
- Reduce: the merged sorted stream is piped through the reducer
  executable; contiguous equal keys are the grouping contract
  (``tests/testdata/exec/wc_reduce.py:25-28``).
- Output: ``part-00000 .. part-0000(R-1)`` text files in the output
  directory, which is deleted and recreated first
  (``worker/__main__.py:195,213-216``; ``manager/__main__.py:183-187``).
  Every bucket gets its file, empty when no key hashed to it.

Where the work runs: an executable mapper or reducer is run by the
JVM's own pipe (``JavaRDD.pipe``) and the shuffle is one DataFrame
plan for every mode (md5 bucket in SQL, ``repartitionById``,
``sortWithinPartitions``), so an executable-mode job starts no PySpark
Python worker. The JVM pipe reads executable output line by line like
the input reader: a lone ``\\r`` or a ``\\r\\n`` in mapper or reducer
output ends a record, and a job fails if an executable exits non-zero.
Python callables (native mode) run in Python workers and feed and read
the same shuffle.

Scale notes: this is one Spark stage pair (map → shuffle → reduce);
the shuffle is Spark's sort-based shuffle, which spills — the
reference's <1 MiB map-heap property (``tests/test_worker_11.py:149``)
is inherited, not re-implemented. At 100 TB the only knob that matters
is ``num_reducers`` (partition count past the shuffle).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from tempfile import mkdtemp

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.session import static_planning

LineTransform = Callable[[Iterator[str]], Iterator[str]]

# Bytes buffered between the JVM and an executable's stdin/stdout.
_PIPE_BUFFER = 1 << 16


def _exec_command(executable: str | list[str]) -> list[str]:
    """Build the argv for an executable, honoring shebangs even when
    the file lacks the executable bit (the reference always execs
    directly; we are more forgiving).

    The JVM pipe execs the argv as given (no shell tokenizing) and
    resolves a relative path against the JVM's working directory, so a
    path naming a file is made absolute here. A bare command name
    (``cat``) is left for the ``PATH`` lookup."""
    if isinstance(executable, list):
        parts = [str(p) for p in executable]
    else:
        parts = [str(executable)]
    path = parts[0]
    via_interpreter = os.path.isfile(path) and not os.access(path, os.X_OK)
    if os.sep in path or via_interpreter:
        parts[0] = os.path.abspath(path)
    if via_interpreter:
        with open(path, "rb") as f:
            first = f.readline().decode("utf-8", "replace").strip()
        if first.startswith("#!"):
            shebang = first[2:].split()
            if shebang and shebang[0].endswith("env"):
                # '#!/usr/bin/env -S python3 -u' → ['python3', '-u']
                interp = [a for a in shebang[1:] if a != "-S"]
            else:
                interp = shebang
            parts = interp + parts
        else:
            parts = ["sh"] + parts
    return parts


def _md5_bucket_sql(num_reducers: int) -> str:
    """SQL for ``int(md5(key).hexdigest(), 16) % num_reducers`` over the
    ``value`` column, key = text before the first tab.

    The 128-bit digest is folded 32 bits at a time by Horner's rule,
    ``r = (r * 2^32 + chunk) mod R``, in BIGINT: with R < 2^31 the
    largest intermediate is below 2^63, so nothing overflows."""
    if not 0 < num_reducers < 1 << 31:
        raise ValueError(f"num_reducers must be in [1, 2^31): {num_reducers}")
    h = "md5(substring_index(value, '\\t', 1))"
    r = "0"
    for i in range(4):
        chunk = f"cast(conv(substr({h}, {8 * i + 1}, 8), 16, 10) AS BIGINT)"
        r = f"pmod({r} * 4294967296 + {chunk}, {num_reducers})"
    return f"cast({r} AS INT)"


def list_input_files(input_dir: str) -> list[str]:
    """Sorted directory listing — the reference's deterministic scan
    (manager/__main__.py:193)."""
    return [
        os.path.join(input_dir, f)
        for f in sorted(os.listdir(input_dir))
        if os.path.isfile(os.path.join(input_dir, f))
    ]


def run_job(
    spark: SparkSession,
    input_directory: str,
    output_directory: str,
    mapper: str | list[str] | LineTransform,
    reducer: str | list[str] | LineTransform,
    num_mappers: int = 2,
    num_reducers: int = 2,
) -> list[str]:
    """Run one MapReduce job; returns the output part-file paths.

    ``mapper``/``reducer`` are either executables (str path, or
    [path, arg, ...] — Hadoop Streaming mode, reference-exact) or
    Python callables ``Iterator[str] -> Iterator[str]`` (native mode).
    """
    sc = spark.sparkContext
    files = list_input_files(input_directory)
    if not files:
        raise FileNotFoundError(f"no input files in {input_directory}")
    # sc.textFile takes a comma-separated path list, so a comma INSIDE a
    # filename would silently split into two bogus paths (round-1
    # advice). Reject loudly; such names also break Hadoop's own API.
    # Hadoop also interprets the path string as a GLOB, so [, ], {, },
    # *, ? in a filename would be expanded as a pattern and silently
    # skip (or mis-match) the file — same path-string-API bug class.
    bad = [f for f in files if "," in f or any(ch in f for ch in "[]{}*?")]
    if bad:
        raise ValueError(
            f"input paths must not contain commas or glob"
            f" metacharacters ([]{{}}*?): {bad}"
        )
    n_red = max(1, num_reducers)
    string_encoder = spark._jvm.org.apache.spark.sql.Encoders.STRING()

    def jvm_pipe(jrdd, executable):
        # The JVM's PipedRDD fails the task when the process exits
        # non-zero, so a crashing executable fails the job instead of
        # publishing the partial lines it emitted.
        return jrdd.pipe(_exec_command(executable), {}, False, _PIPE_BUFFER, "UTF-8")

    # Map stage. minPartitions=num_mappers for task-shape parity with
    # the reference's round-robin split (manager/__main__.py:195-202);
    # per-file grouping is not load-bearing for stateless mappers.
    paths, n_map = ",".join(files), max(1, num_mappers)
    if callable(mapper):
        mapped = sc.textFile(paths, n_map).mapPartitions(mapper)
        intermediate = spark.createDataFrame(mapped, "string")
    else:
        mapped = jvm_pipe(sc._jsc.textFile(paths, n_map), mapper)
        intermediate = DataFrame(
            spark._jsparkSession.createDataset(mapped.rdd(), string_encoder).toDF(),
            spark,
        )

    # Shuffle: bucket b lands in partition b (so in part-0000b), each
    # partition sorted by the whole line. Planned without AQE, which
    # would replace an empty map output by an empty relation with no
    # partitions (so no part files), and would run the map side as its
    # own job when the plan becomes an RDD.
    with static_planning(spark):
        shuffled = intermediate.repartitionById(
            n_red, F.expr(_md5_bucket_sql(n_red))
        ).sortWithinPartitions("value")
        if callable(reducer):
            reduced = shuffled.rdd.map(lambda row: row[0]).mapPartitions(reducer)
        else:
            reduced = jvm_pipe(
                getattr(shuffled._jdf, "as")(string_encoder).javaRDD(), reducer
            )

    # Sink: delete + recreate the output dir (manager/__main__.py:183-187),
    # then publish Spark's part-NNNNN files (worker/__main__.py:195).
    if os.path.exists(output_directory):
        shutil.rmtree(output_directory)
    os.makedirs(output_directory)
    staging = mkdtemp(prefix="mapreduce-staging-")
    try:
        target = os.path.join(staging, "out")
        reduced.saveAsTextFile(target)
        out_paths: list[str] = []
        for name in sorted(os.listdir(target)):
            if name.startswith("part-"):
                # Spark names files part-00000[.codec]; reference uses bare
                # part-NNNNN (worker/__main__.py:195). A codec suffix means
                # the session enabled output compression — renaming would
                # publish compressed bytes under a plain-text name, so
                # refuse instead of silently corrupting the contract.
                if "." in name:
                    raise RuntimeError(
                        f"compressed part file {name!r}: disable output"
                        " compression for reference text-sink parity"
                    )
                dst = os.path.join(output_directory, name.split(".")[0])
                shutil.move(os.path.join(target, name), dst)
                out_paths.append(dst)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return out_paths
