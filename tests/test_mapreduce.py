"""Layer A: ``run_job`` against an independent model.

Every job runs the self-authored executables and corpus in
``tests/fixtures/mapreduce`` and must publish part files byte-identical
to ``tests/mr_model.py`` (md5 bucket, byte-order whole-line sort,
reduce). The reference's own goldens are compared as an extra check
when its test data is present.
"""

import filecmp
import os
import random
import shutil
import textwrap

import pytest

from engine.mapreduce import run_job
from tests import mr_model
from tests.conftest import REFDATA

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "mapreduce")
EXEC = os.path.join(FIXTURES, "exec")
INPUT = os.path.join(FIXTURES, "input")
WC_MAP = f"{EXEC}/wc_map.sh"
WC_REDUCE = f"{EXEC}/wc_reduce.py"
GREP_MAP = f"{EXEC}/grep_map.py"
GREP_REDUCE = f"{EXEC}/grep_reduce.py"


def _assert_matches_model(parts, input_dir, map_fn, reduce_fn, n_reducers):
    assert [os.path.basename(p) for p in parts] == mr_model.part_names(n_reducers)
    want = mr_model.expected_parts(
        mr_model.read_input_dir(input_dir), map_fn, reduce_fn, n_reducers
    )
    assert mr_model.read_parts(parts) == want


def _script(path, body):
    path.write_text(textwrap.dedent(body))
    path.chmod(0o755)
    return str(path)


def _native_wordcount():
    """Python-callable twins of wc_map.sh / wc_reduce.py. Nested, so
    cloudpickle ships them by value to the Python workers."""
    import itertools
    import re

    def mapper(lines):
        lower = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
        for line in lines:
            for tok in re.split("[ \t]", line):
                yield tok.translate(lower) + "\t1"

    def reducer(lines):
        parsed = (line.partition("\t") for line in lines)
        for key, group in itertools.groupby(parsed, key=lambda t: t[0]):
            yield f"{key}\t{sum(int(v) for _, _, v in group)}"

    return mapper, reducer


@pytest.mark.parametrize("n_reducers", [1, 3, 4, 7])
@pytest.mark.parametrize("mode", ["exec", "native", "native_map", "native_reduce"])
def test_wordcount_matches_model(spark, tmp_path, mode, n_reducers):
    """Executable, callable and mixed jobs all go through the same
    shuffle: bucket b is part-0000b, sorted by the whole line's bytes."""
    native_map, native_reduce = _native_wordcount()
    mapper = native_map if mode in ("native", "native_map") else WC_MAP
    reducer = native_reduce if mode in ("native", "native_reduce") else WC_REDUCE
    parts = run_job(
        spark, INPUT, str(tmp_path / "out"), mapper, reducer,
        num_mappers=3, num_reducers=n_reducers,
    )
    _assert_matches_model(parts, INPUT, mr_model.wc_map, mr_model.wc_reduce, n_reducers)


@pytest.mark.parametrize("n_reducers", [1, 2])
def test_grep_matches_model(spark, tmp_path, n_reducers):
    """The grep mapper takes its query from argv; the reducer keeps every
    matched line, so the part files pin the whole-line sort order (the
    three matches are not in byte order in the input)."""
    parts = run_job(
        spark, INPUT, str(tmp_path / "out"),
        mapper=[GREP_MAP, "the"], reducer=GREP_REDUCE,
        num_mappers=2, num_reducers=n_reducers,
    )
    _assert_matches_model(
        parts, INPUT, mr_model.grep_map("the"), mr_model.grep_reduce, n_reducers
    )
    assert b"".join(mr_model.read_parts(parts)).count(b"\n") == 3


def test_empty_key_partitioning(spark, tmp_path):
    """Empty string is a legal key (test_worker_05.py:122-124): lines
    '\\t1' must flow through partition/sort/reduce intact."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f1").write_text("  leading spaces\nA  B\n", encoding="utf-8")

    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), mapper=WC_MAP, reducer=WC_REDUCE,
        num_mappers=1, num_reducers=1,
    )
    # tokens: '', '', 'leading', 'spaces', 'a', '', 'b' → empty key ×3
    assert mr_model.read_parts(parts) == [b"\t3\na\t1\nb\t1\nleading\t1\nspaces\t1\n"]
    _assert_matches_model(parts, str(inp), mr_model.wc_map, mr_model.wc_reduce, 1)


def test_more_reducers_than_keys(spark, tmp_path):
    """Every one of the R part files is published; buckets no key hashed
    to are empty files, also when the mappers emit nothing at all."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f1").write_text("b a\nc\n", encoding="utf-8")
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), mapper=WC_MAP, reducer=WC_REDUCE,
        num_mappers=2, num_reducers=9,
    )
    got = mr_model.read_parts(parts)
    assert got.count(b"") >= 6
    _assert_matches_model(parts, str(inp), mr_model.wc_map, mr_model.wc_reduce, 9)

    parts = run_job(
        spark, str(inp), str(tmp_path / "out_empty"),
        mapper=["sh", "-c", "cat >/dev/null"], reducer=WC_REDUCE,
        num_mappers=2, num_reducers=3,
    )
    assert [os.path.basename(p) for p in parts] == mr_model.part_names(3)
    assert mr_model.read_parts(parts) == [b"", b"", b""]


def test_invalid_utf8_input_reads_as_replacement_char(spark, tmp_path):
    """Input bytes that are not UTF-8 reach the mapper as U+FFFD."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f1").write_bytes(b"ok\xffok\nplain\n")
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), mapper="cat", reducer="cat",
        num_mappers=1, num_reducers=1,
    )
    assert mr_model.read_parts(parts) == ["ok�ok\nplain\n".encode("utf-8")]
    _assert_matches_model(parts, str(inp), lambda line: [line], lambda lines: lines, 1)


def test_executable_output_line_endings(spark, tmp_path):
    """Executable output is read line by line like the input: a lone
    '\\r' or a '\\r\\n' ends a record, on the map and the reduce side."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "f1").write_text("x\n", encoding="utf-8")
    cr_map = _script(tmp_path / "cr_map.sh", """\
        #!/bin/sh
        cat >/dev/null
        printf 'a\\rb\\t1\\nc\\r\\n'
        """)
    parts = run_job(
        spark, str(inp), str(tmp_path / "map_side"), mapper=cr_map, reducer="cat",
        num_mappers=1, num_reducers=1,
    )
    assert mr_model.read_parts(parts) == [b"a\nb\t1\nc\n"]

    cr_reduce = _script(tmp_path / "cr_reduce.sh", """\
        #!/bin/sh
        cat >/dev/null
        printf 'x\\ry\\r\\nz\\n'
        """)
    parts = run_job(
        spark, str(inp), str(tmp_path / "reduce_side"), mapper="cat",
        reducer=cr_reduce, num_mappers=1, num_reducers=1,
    )
    assert mr_model.read_parts(parts) == [b"x\ny\nz\n"]


def test_executable_path_and_argv_with_spaces(spark, tmp_path, monkeypatch):
    """The argv reaches the executable unsplit, and a relative path is
    resolved against the caller's working directory."""
    exec_dir = tmp_path / "exec dir"
    exec_dir.mkdir()
    shutil.copy(GREP_MAP, exec_dir / "grep map.py")
    monkeypatch.chdir(tmp_path)
    parts = run_job(
        spark, INPUT, str(tmp_path / "out"),
        mapper=["exec dir/grep map.py", "hello world"], reducer=GREP_REDUCE,
        num_mappers=2, num_reducers=2,
    )
    _assert_matches_model(
        parts, INPUT, mr_model.grep_map("hello world"), mr_model.grep_reduce, 2
    )
    assert b"".join(mr_model.read_parts(parts)) == b"Hello World Bye World\n"


def test_cli_submit_wordcount_matches_model(spark, tmp_path):
    """`python -m engine submit` (the mapreduce-submit parity surface,
    reference submit.py:37-58) publishes the model's part files."""
    from engine.__main__ import main

    out = str(tmp_path / "wc_cli")
    rc = main(
        ["submit", "-i", INPUT, "-o", out, "-m", WC_MAP, "-r", WC_REDUCE, "--nreducers", "3"]
    )
    assert rc == 0
    parts = [os.path.join(out, n) for n in sorted(os.listdir(out))]
    _assert_matches_model(parts, INPUT, mr_model.wc_map, mr_model.wc_reduce, 3)


def test_cli_list_and_query(capsys):
    from engine.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "(oracled)" in out
    assert main(["query", "nope"]) == 2


def test_chained_two_round_jobs(spark, tmp_path):
    """Multi-round MapReduce by resubmission (SURVEY §2.3): round 1
    greps the corpus, round 2 wordcounts the grep output by feeding
    round 1's output directory as round 2's input directory — the
    reference supports the same chaining through its job queue
    (output dirs are valid input dirs)."""
    out1 = str(tmp_path / "round1")
    parts1 = run_job(
        spark, INPUT, out1, mapper=[GREP_MAP, "the"], reducer=GREP_REDUCE,
        num_mappers=2, num_reducers=2,
    )
    _assert_matches_model(
        parts1, INPUT, mr_model.grep_map("the"), mr_model.grep_reduce, 2
    )
    parts2 = run_job(
        spark, out1, str(tmp_path / "round2"), mapper=WC_MAP, reducer=WC_REDUCE,
        num_mappers=2, num_reducers=2,
    )
    _assert_matches_model(parts2, out1, mr_model.wc_map, mr_model.wc_reduce, 2)


def test_exec_command_quotes_spaces(tmp_path, monkeypatch):
    """The JVM pipe takes an argv list and does no shell tokenizing:
    paths and arguments with spaces stay single entries, a relative
    path becomes absolute, and a script without the executable bit runs
    through its shebang interpreter."""
    from engine.mapreduce.runner import _exec_command

    script = tmp_path / "my mapper.sh"
    script.write_text("#!/bin/sh\ncat\n")
    cmd = _exec_command([str(script), "arg with space"])
    assert cmd == ["/bin/sh", str(script), "arg with space"]

    monkeypatch.chdir(tmp_path)
    assert _exec_command("./my mapper.sh") == ["/bin/sh", str(script)]
    assert _exec_command(["cat", "-u"]) == ["cat", "-u"]


def test_run_job_rejects_comma_paths(spark, tmp_path):
    """Comma-bearing input filenames would silently split sc.textFile's
    comma-joined path list; run_job refuses them loudly."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "a,b.txt").write_text("hello\n")
    with pytest.raises(ValueError, match="comma"):
        run_job(spark, str(d), str(tmp_path / "out"), mapper=WC_MAP, reducer=WC_REDUCE)


def _assert_job_fails(spark, tmp_path, mapper, reducer):
    ind = tmp_path / "in"
    ind.mkdir()
    (ind / "f0.txt").write_text("hello world\n")
    out = tmp_path / "out"
    with pytest.raises(Exception, match="exited with status 3"):
        run_job(spark, str(ind), str(out), mapper, reducer, num_mappers=1, num_reducers=2)
    assert not [n for n in os.listdir(out) if n.startswith("part-")]


def test_crashing_executable_fails_the_job(spark, tmp_path):
    """A mapper that exits non-zero after emitting lines must FAIL the
    job (reference Hadoop-Streaming semantics) and publish no part
    file, rather than publish its partial output as success."""
    bad = _script(tmp_path / "bad_map.sh", """\
        #!/bin/sh
        cat
        exit 3
        """)
    _assert_job_fails(spark, tmp_path, bad, "cat")


def test_crashing_reducer_fails_the_job(spark, tmp_path):
    """The same holds for a reducer that exits non-zero."""
    bad = _script(tmp_path / "bad_reduce.sh", """\
        #!/bin/sh
        cat
        exit 3
        """)
    _assert_job_fails(spark, tmp_path, "cat", bad)


def test_wordcount_large_corpus_model(spark, tmp_path):
    """A seeded corpus of about 200k tokens in 6 files (mixed case,
    tabs, runs of separators, non-ASCII words): the executable wordcount
    publishes the model's part files byte for byte."""
    rng = random.Random(20261017)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(1, 9)))
        for _ in range(3000)
    ] + ["Straße", "café", "日本", "naïve", "ÆON", "10", "010", "1.0"]
    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(6):
        lines = []
        for _ in range(3000):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 20))]
            toks = [t.upper() if rng.random() < 0.1 else t for t in toks]
            lines.append("".join(rng.choice(["", " ", "\t", "  "]) + t for t in toks))
        (inp / f"file{i:02d}").write_text("\n".join(lines) + "\n", encoding="utf-8")
    parts = run_job(
        spark, str(inp), str(tmp_path / "out"), mapper=WC_MAP, reducer=WC_REDUCE,
        num_mappers=4, num_reducers=3,
    )
    _assert_matches_model(parts, str(inp), mr_model.wc_map, mr_model.wc_reduce, 3)
    total = sum(int(line.rpartition(b"\t")[2]) for part in mr_model.read_parts(parts)
                for line in part.splitlines())
    assert total > 150_000


@pytest.mark.skipif(not os.path.isdir(REFDATA), reason="reference test data absent")
def test_reference_goldens(spark, tmp_path):
    """The reference's integration goldens (test_integration_0{0,1,2}):
    wordcount with 1 and 2 reducers (sorted-line equality) and grep
    (exact file equality)."""
    ref_exec, ref_input = f"{REFDATA}/exec", f"{REFDATA}/input"
    with open(f"{REFDATA}/correct/word_count_correct.txt", encoding="utf-8") as f:
        want_wc = sorted(f.read().splitlines())
    for n_reducers in (1, 2):
        parts = run_job(
            spark, ref_input, str(tmp_path / f"wc{n_reducers}"),
            mapper=f"{ref_exec}/wc_map.sh", reducer=f"{ref_exec}/wc_reduce.sh",
            num_mappers=2 * n_reducers, num_reducers=n_reducers,
        )
        got = sorted(
            line for part in mr_model.read_parts(parts)
            for line in part.decode("utf-8").splitlines()
        )
        assert got == want_wc
    parts = run_job(
        spark, ref_input, str(tmp_path / "grep"),
        mapper=f"{ref_exec}/grep_map.py", reducer=f"{ref_exec}/grep_reduce.py",
        num_mappers=2, num_reducers=1,
    )
    assert filecmp.cmp(f"{REFDATA}/correct/grep_correct.txt", parts[0], shallow=False)
