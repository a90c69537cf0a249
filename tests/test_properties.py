"""Property-based tests (hypothesis): library operators must agree with
their brute-force definitions on arbitrary inputs, not just fixtures.

Examples are capped low — each example builds Spark DataFrames — but
shrinking still gives minimal counterexamples on failure."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from engine.operators.rangejoin import range_join
from engine.operators.skew import salted_agg

BASE = dt.datetime(2024, 1, 1)

_ts = st.integers(min_value=0, max_value=3 * 86400).map(
    lambda s: BASE + dt.timedelta(seconds=s)
)
_points = st.lists(_ts, min_size=0, max_size=12)
_intervals = st.lists(
    st.tuples(_ts, st.integers(min_value=0, max_value=2 * 86400)),
    min_size=0,
    max_size=8,
)

_prop_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(points=_points, intervals=_intervals, bucket=st.sampled_from([60, 3600, 86400]))
@_prop_settings
def test_range_join_equals_brute_force(spark, points, intervals, bucket):
    p = spark.createDataFrame(
        [(i, t) for i, t in enumerate(points)] or [(None, None)],
        "pid int, t timestamp",
    ).filter(F.col("pid").isNotNull())
    iv = spark.createDataFrame(
        [
            (j, s, s + dt.timedelta(seconds=w))
            for j, (s, w) in enumerate(intervals)
        ]
        or [(None, None, None)],
        "iid int, s timestamp, e timestamp",
    ).filter(F.col("iid").isNotNull())

    got = {
        (r.pid, r.iid)
        for r in range_join(p, iv, "t", "s", "e", bucket).collect()
    }
    want = {
        (i, j)
        for i, t in enumerate(points)
        for j, (s, w) in enumerate(intervals)
        if s <= t < s + dt.timedelta(seconds=w)
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    ),
    n_salts=st.sampled_from([1, 3, 8]),
)
@_prop_settings
def test_salted_agg_equals_plain_agg(spark, rows, n_salts):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k string, v long, rid long"
    )
    plain = {
        r.k: (r.n, r.total, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n, r.total, r.mn, r.mx)
        for r in salted_agg(
            df,
            "k",
            {
                "n": ("v", "count"),
                "total": ("v", "sum"),
                "mn": ("v", "min"),
                "mx": ("v", "max"),
            },
            n_salts=n_salts,
        ).collect()
    }
    assert plain == salted


@given(
    file_lines=st.lists(
        st.lists(
            st.text(
                alphabet="abcXYZ  ", min_size=0, max_size=30
            ).map(lambda s: s.replace("\n", "").replace("\r", "")),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    n_reducers=st.sampled_from([1, 2, 3]),
)
@_prop_settings
def test_run_job_native_wordcount_equals_counter(
    spark, tmp_path_factory, file_lines, n_reducers
):
    """Layer-A runner, native mode: wordcount over arbitrary text files
    (any whitespace mess, any file/reducer split) must equal a plain
    Python Counter with W2 semantics (line.split())."""
    import collections
    import itertools

    from engine.mapreduce.runner import run_job

    base = tmp_path_factory.mktemp("mr")
    indir = base / "in"
    indir.mkdir()
    for i, lines in enumerate(file_lines):
        (indir / f"file{i:02d}").write_text(
            "".join(line + "\n" for line in lines), encoding="utf-8"
        )

    def mapper(lines):
        for line in lines:
            for word in line.split():
                yield f"{word}\t1"

    def reducer(lines):
        parsed = (line.partition("\t") for line in lines)
        for word, group in itertools.groupby(parsed, key=lambda t: t[0]):
            yield f"{word} {sum(int(v) for _, _, v in group)}"

    out = str(base / "out")
    parts = run_job(
        spark, str(indir), out, mapper=mapper, reducer=reducer,
        num_mappers=2, num_reducers=n_reducers,
    )
    got = collections.Counter()
    for p in parts:
        for line in open(p, encoding="utf-8"):
            w, _, c = line.rstrip("\n").rpartition(" ")
            got[w] += int(c)
    got = +got

    want = collections.Counter(
        w for lines in file_lines for line in lines for w in line.split()
    )
    assert got == want


# -- qsum: order-independent double aggregation ----------------------------

_vals = st.lists(
    st.floats(
        min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=24,
)


@given(vals=_vals, seed=st.integers(min_value=0, max_value=7))
@_prop_settings
def test_qsum_is_permutation_invariant_and_exact(spark, vals, seed):
    """qsum must equal the exact integer-grid sum regardless of row
    order / partitioning — the invariant plain sum(double) lacks."""
    import math
    import random

    from engine.functions.rounding import VALUE_Q, qsum

    perm = vals[:]
    random.Random(seed).shuffle(perm)
    expect = sum(math.floor(v * VALUE_Q + 0.5) for v in vals)

    for arrangement, n_parts in ((vals, 1), (perm, 4)):
        df = spark.createDataFrame(
            [(v,) for v in arrangement], "v double"
        ).repartition(n_parts)
        got = df.agg(qsum("v").alias("s")).collect()[0]["s"]
        assert got == expect


_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),          # group
        st.integers(min_value=-50, max_value=50),  # value (ties likely)
        st.integers(min_value=0, max_value=999),   # unique-ish id
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda r: r[2],
)


@given(rows=_rows, k=st.integers(min_value=1, max_value=5))
@_prop_settings
def test_topk_per_group_matches_window_property(spark, rows, k):
    """Two-phase per-group top-k == single-task window top-k on
    arbitrary groups/values/ties, for arbitrary k, regardless of
    input partitioning."""
    from pyspark.sql import Window as W

    from engine.operators.globalrank import topk_per_group

    df = spark.createDataFrame(
        rows or [("a", 0, -1)], "g string, v int, id int"
    )
    if not rows:
        df = df.filter(F.lit(False))
    order = [F.col("v").desc(), F.col("id")]
    expected = {
        (r.g, r.id, r["rank"])
        for r in df.withColumn(
            "rank",
            F.row_number().over(W.partitionBy("g").orderBy(*order)).cast("bigint"),
        )
        .filter(F.col("rank") <= k)
        .collect()
    }
    got = {
        (r.g, r.id, r["rank"])
        for r in topk_per_group(df.repartition(5), ["g"], order, k).collect()
    }
    assert got == expected


def test_results_invariant_to_shuffle_width(spark):
    """Shuffle width is a cluster-sizing knob, never a semantics knob:
    re-running representative queries with spark.sql.shuffle.partitions
    at 5 vs 32 must produce identical rows. This holds because value
    aggregates ride integer grids / exact types (qsum) and every
    sampler is a salted-hash predicate — the partition-count cousin of
    the retry-determinism proof (tests/test_retry_determinism.py)."""
    from engine.registry import all_queries
    from tests.conftest import SF_SMOKE

    specs = all_queries()
    names = [
        "q1_pricing_summary",
        "wordcount_tokens",
        "hypertable_rollup",
        "skew_salted_events",
    ]
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    results: dict[str, list] = {}
    try:
        for width in ("5", "32"):
            spark.conf.set(key, width)
            for n in names:
                rows = sorted(map(tuple, specs[n].fn(spark, SF_SMOKE).collect()))
                results.setdefault(n, []).append(rows)
            spark.catalog.clearCache()
    finally:
        spark.conf.set(key, prev)
    for n, (narrow, wide) in results.items():
        assert narrow == wide, f"{n}: results differ across shuffle widths"


_pct_vals = st.lists(
    st.integers(min_value=-10**6, max_value=10**6).map(lambda c: c / 100.0),
    min_size=1,
    max_size=400,
)


@given(vals=_pct_vals, p=st.sampled_from([0.25, 0.5, 0.77, 0.9, 0.99]))
@_prop_settings
def test_percentile_bit_identical_to_duckdb_quantile_cont(spark, vals, p):
    """Spark `percentile` and DuckDB `quantile_cont` must agree
    BIT-FOR-BIT on double input: both compute the same linear
    interpolation (lo + frac*(hi-lo) at pos p*(n-1)) with the same
    IEEE ops.  This is the constructed-identity evidence behind the
    one float surface that rides raw doubles instead of an integer
    grid (stats_lineitem_summary's med_raw/p90_raw — see
    engine/operators/relational2.py).  A 160-case offline sweep over
    n up to 12,345 found zero mismatches; this keeps that claim
    continuously tested (any engine upgrade that changes either
    implementation fails here, not in a driver hash three rounds
    later)."""
    import struct

    import duckdb

    s = (
        spark.createDataFrame([(v,) for v in vals], "v double")
        .agg(F.percentile("v", F.lit(p)).alias("x"))
        .collect()[0]["x"]
    )
    d = duckdb.connect().execute(
        "SELECT quantile_cont(v, ?) FROM (SELECT unnest(?) AS v)", [p, vals]
    ).fetchone()[0]
    assert struct.pack("d", s) == struct.pack("d", d), (vals, p, s, d)


_scrub_text = st.text(
    alphabet="abcX ", min_size=0, max_size=130
)
_scrub_starts = st.lists(
    st.integers(min_value=1, max_value=120), min_size=0, max_size=8
)


@given(text=_scrub_text, starts=_scrub_starts)
@_prop_settings
def test_scrub_fold_equals_range_removal(spark, text, starts):
    """The substring-scrubber's JVM cursor fold (dedup._SCRUB_FOLD)
    must equal the obvious definition — remove the UNION of the
    [s, s+W) character ranges, clipped to the text — on arbitrary
    texts and arbitrary (overlapping, adjacent, duplicated,
    past-the-end) sorted cut lists, not just the in-domain cut lists
    the pipeline produces.  The DuckDB oracle pins fixture behavior;
    this pins the fold's merge logic itself, with shrinking."""
    from engine.operators.dedup import SPAN_W, _SCRUB_FOLD

    starts = sorted(starts)
    cut = [False] * len(text)
    for s in starts:
        for p in range(s - 1, min(s - 1 + SPAN_W, len(text))):
            cut[p] = True
    want = "".join(ch for ch, c in zip(text, cut) if not c)

    row = spark.createDataFrame(
        [(text, starts)], "text string, cut_starts array<bigint>"
    ).select(F.expr(_SCRUB_FOLD).alias("stext")).collect()[0]
    assert row["stext"] == want, (text, starts, row["stext"], want)


_mh_text = st.text(alphabet="ab c", min_size=0, max_size=80)


@given(texts=st.lists(_mh_text, min_size=1, max_size=4))
@_prop_settings
def test_streaming_hof_minhash_equals_batch_signature(spark, texts):
    """The streaming row-local MinHash (nested array_min-over-transform,
    streaming_queries._STREAM_SIG) must equal the batch signature
    (exploded shingles -> groupBy min, dedup._minhash_tables) on
    arbitrary texts — the bit-identity that lets the stream join the
    batch-built band index. Docs with no 3-shingles produce no batch
    signature and are filtered on the stream side; both absences must
    coincide."""
    from engine.operators.dedup import _minhash_tables
    from engine.operators.streaming_queries import _STREAM_SH, _STREAM_SIG

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch_sig, _ = _minhash_tables(docs)
    want = {r["doc_id"]: list(r["sig_arr"]) for r in batch_sig.collect()}
    got_rows = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .select("doc_id", F.expr(_STREAM_SH).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.expr(_STREAM_SIG).alias("sig_arr"))
        .collect()
    )
    got = {r["doc_id"]: list(r["sig_arr"]) for r in got_rows}
    assert got == want, (texts, got, want)


# -- versioned store: random commit sequences vs a pure-Python model ---------

_vs_ops = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.lists(  # keys touched by this op: (partition 0..2, k 0..5)
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=5),
            ),
            min_size=1,
            max_size=3,
            unique=True,
        ),
    ),
    min_size=1,
    max_size=4,
)


@given(ops=_vs_ops)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_versioned_store_replays_any_commit_history(spark, ops, tmp_path_factory):
    """Model-based check: an arbitrary sequence of upsert/delete
    commits must leave EVERY retained version equal to a pure-Python
    dict replay of its prefix — time travel is correct for all
    histories, not just the hand-written ones."""
    from engine.versioned_store import (
        commit_delete,
        commit_overwrite,
        commit_upsert,
        read_version,
    )

    store = str(tmp_path_factory.mktemp("vstore_prop") / "s")
    schema = "part string, k long, v string"

    def val(op_idx, p, k):
        return f"op{op_idx}:p{p}:k{k}"

    base = [(f"p{p}", k, val(0, p, k)) for p in (0, 1) for k in (0, 1)]
    commit_overwrite(spark.createDataFrame(base, schema), store, "part")
    model = {(int(pp[1:]), k): v for pp, k, v in base}
    history = [dict(model)]

    for i, (kind, keys) in enumerate(ops, start=1):
        rows = [(f"p{p}", k) for p, k in keys]
        if kind == "upsert":
            chg = [(pp, k, val(i, int(pp[1:]), k)) for pp, k in rows]
            commit_upsert(
                spark, store, spark.createDataFrame(chg, schema), ["part", "k"]
            )
            model.update({(int(pp[1:]), k): v for pp, k, v in chg})
        else:
            commit_delete(
                spark,
                store,
                spark.createDataFrame(rows, "part string, k long"),
                ["part", "k"],
            )
            for pp, k in rows:
                model.pop((int(pp[1:]), k), None)
        history.append(dict(model))

    for v, snap in enumerate(history, start=1):
        if not snap:
            continue  # read_version raises on an all-deleted version
        got = {
            (int(r.part[1:]), r.k): r.v
            for r in read_version(spark, store, v).collect()
        }
        assert got == snap, (v, got, snap)

    # the change feed must equal the model diff for every consecutive
    # pair AND for the net v1→v_final window (round-8 CDC on arbitrary
    # histories, not just the hand-written store)
    from engine.versioned_store import table_changes

    def model_diff(prev, cur):
        exp = {}
        for key in prev.keys() | cur.keys():
            if key not in cur:
                exp[(key, "delete")] = prev[key]
            elif key not in prev:
                exp[(key, "insert")] = cur[key]
            elif prev[key] != cur[key]:
                exp[(key, "update_preimage")] = prev[key]
                exp[(key, "update_postimage")] = cur[key]
        return exp

    pairs = [(i, i + 1) for i in range(1, len(history))]
    if len(history) > 2:
        pairs.append((1, len(history)))  # the net window
    for va, vb in pairs:
        got = {
            ((int(r.part[1:]), r.k), r._change_type): r.v
            for r in table_changes(
                spark, store, va, vb, ["part", "k"]
            ).collect()
        }
        exp = model_diff(history[va - 1], history[vb - 1])
        assert got == exp, (va, vb, got, exp)


# -- snapshot diff: arbitrary version pairs vs a pure-Python diff ------------

_snap = st.dictionaries(
    st.integers(min_value=0, max_value=9),  # doc_id
    st.tuples(
        st.integers(min_value=0, max_value=1),   # source index
        st.integers(min_value=1, max_value=5),   # n_tokens
        st.integers(min_value=0, max_value=3),   # content variant -> h
    ),
    max_size=8,
)


@given(a=_snap, b=_snap)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_diff_frames_equals_python_diff(spark, a, b):
    """diff_frames must agree with a dict-based diff on arbitrary
    snapshot pairs: per-source added/removed/changed/unchanged counts
    and the token delta (the xor hash is pinned by the oracle gate;
    here the counting semantics are the target)."""
    from collections import defaultdict

    from engine.operators.versioning import diff_frames

    schema = "source string, doc_id long, n_tokens long, h long"

    def frame(snap):
        rows = [
            (f"s{src}", doc, tok, 1000 + var)
            for doc, (src, tok, var) in sorted(snap.items())
        ]
        return spark.createDataFrame(rows or [("sX", -1, 0, 0)], schema).filter(
            "doc_id >= 0"
        )

    got = {
        r.source: (r.n_added, r.n_removed, r.n_changed, r.n_unchanged, r.tok_delta)
        for r in diff_frames(frame(a), frame(b)).collect()
    }

    want = defaultdict(lambda: [0, 0, 0, 0, 0])
    for doc in set(a) | set(b):
        ia, ib = a.get(doc), b.get(doc)
        # source attribution mirrors diff_frames: coalesce(a, b)
        src = f"s{(ia or ib)[0]}"
        row = want[src]
        if ia is None:
            row[0] += 1
        elif ib is None:
            row[1] += 1
        elif ia[2] != ib[2]:
            row[2] += 1
        else:
            row[3] += 1
        row[4] += (ib[1] if ib else 0) - (ia[1] if ia else 0)
    assert got == {s: tuple(v) for s, v in want.items()}


@given(ops=_vs_ops)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_composite_partitioned_store_replays_any_history(
    spark, ops, tmp_path_factory
):
    """The multi-column-partition model twin: the same arbitrary
    upsert/delete sequences against a (p, q) composite store — every
    retained version must equal the dict replay and every consecutive
    feed must equal the model diff. The generated key's partition
    tuple is (p{a}, q{k%2}), so histories exercise cells that share p
    but differ in q (exactly what single-column code would conflate)."""
    from engine.versioned_store import (
        _read_manifest,
        commit_delete,
        commit_overwrite,
        commit_upsert,
        read_version,
        table_changes,
    )

    store = str(tmp_path_factory.mktemp("vstore_mc_prop") / "s")
    schema = "p string, q string, k long, v string"

    def key(a, k):
        return (f"p{a}", f"q{k % 2}", k)

    def val(op_idx, a, k):
        return f"op{op_idx}:p{a}:k{k}"

    base = [(*key(a, k), val(0, a, k)) for a in (0, 1) for k in (0, 1)]
    commit_overwrite(spark.createDataFrame(base, schema), store, ["p", "q"])
    assert _read_manifest(store, 1)["partition_col"] == ["p", "q"]
    model = {(p, q, k): v for p, q, k, v in base}
    history = [dict(model)]

    for i, (kind, keys) in enumerate(ops, start=1):
        if kind == "upsert":
            chg = [(*key(a, k), val(i, a, k)) for a, k in keys]
            commit_upsert(
                spark, store, spark.createDataFrame(chg, schema),
                ["p", "q", "k"],
            )
            model.update({(p, q, k): v for p, q, k, v in chg})
        else:
            rows = [key(a, k) for a, k in keys]
            commit_delete(
                spark,
                store,
                spark.createDataFrame(rows, "p string, q string, k long"),
                ["p", "q", "k"],
            )
            for r in rows:
                model.pop(r, None)
        history.append(dict(model))

    for v, snap in enumerate(history, start=1):
        if not snap:
            continue
        got = {
            (r.p, r.q, r.k): r.v
            for r in read_version(spark, store, v).collect()
        }
        assert got == snap, (v, got, snap)
        # tuple partition pruning agrees with a model filter
        cells = sorted({(p, q) for p, q, _ in snap})[:2]
        got_c = {
            (r.p, r.q, r.k): r.v
            for r in read_version(
                spark, store, v, partition_values=cells
            ).collect()
        }
        assert got_c == {
            kk: vv for kk, vv in snap.items() if (kk[0], kk[1]) in cells
        }

    for vb in range(2, len(history) + 1):
        prev, cur = history[vb - 2], history[vb - 1]
        exp = {}
        for kk in prev.keys() | cur.keys():
            if kk not in cur:
                exp[(kk, "delete")] = prev[kk]
            elif kk not in prev:
                exp[(kk, "insert")] = cur[kk]
            elif prev[kk] != cur[kk]:
                exp[(kk, "update_preimage")] = prev[kk]
                exp[(kk, "update_postimage")] = cur[kk]
        got = {
            ((r.p, r.q, r.k), r._change_type): r.v
            for r in table_changes(
                spark, store, vb - 1, vb, ["p", "q", "k"]
            ).collect()
        }
        assert got == exp, (vb, got, exp)


# -- optimistic concurrency: arbitrary racing commit pairs vs the model --------

_occ_op = st.tuples(
    st.sampled_from(["upsert", "delete"]),
    st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # partition index
            st.integers(min_value=0, max_value=4),  # key within partition
        ),
        min_size=1,
        max_size=3,
    ),
)


@given(rounds=st.lists(st.tuples(_occ_op, _occ_op), min_size=1, max_size=3))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_concurrent_commit_pairs_match_model(spark, rounds, tmp_path_factory):
    """Model-based optimistic-concurrency check: in each round two
    arbitrary commits (upsert or delete over arbitrary keys) are
    prepared against the same base; A lands mid-way through B's
    publish. B must raise CommitConflict iff A actually CHANGED a
    partition B touches (checked post-hoc from A's manifests — with
    file-granular planning a delete whose keys provably miss every
    file changes nothing, so B rebasing past it is correct: the no-op
    commutes). Otherwise B rebases and lands and the store equals the
    serial application A;B. Every retained version must equal its
    model prefix — rebases never corrupt time travel."""
    import engine.versioned_store as vs

    store = str(tmp_path_factory.mktemp("vstore_occ") / "s")
    schema = "part string, k long, v string"
    base = [(f"p{p}", k, f"b:{p}:{k}") for p in range(4) for k in range(2)]
    vs.commit_overwrite(spark.createDataFrame(base, schema), store, "part")
    model = {(p, k): f"b:{p}:{k}" for p in range(4) for k in range(2)}
    history = [dict(model)]

    def commit(op, idx, retries):
        kind, keys = op
        if kind == "upsert":
            chg = [
                (f"p{p}", k, f"op{idx}:{p}:{k}") for p, k in sorted(keys)
            ]
            return vs.commit_upsert(
                spark,
                store,
                spark.createDataFrame(chg, schema),
                ["part", "k"],
                max_retries=retries,
            )
        rows = [(f"p{p}", k) for p, k in sorted(keys)]
        return vs.commit_delete(
            spark,
            store,
            spark.createDataFrame(rows, "part string, k long"),
            ["part", "k"],
            max_retries=retries,
        )

    def apply_model(op, idx):
        kind, keys = op
        for p, k in keys:
            if kind == "upsert":
                model[(p, k)] = f"op{idx}:{p}:{k}"
            else:
                model.pop((p, k), None)

    idx = 0
    for op_a, op_b in rounds:
        idx += 2
        i, j = idx - 1, idx
        real = vs._claim_manifest
        fired = []

        def hooked(store_, manifest, _real=real, _fired=fired, _a=op_a, _i=i):
            if not _fired:
                _fired.append(1)
                commit(_a, _i, 0)  # A lands before B's first claim
            return _real(store_, manifest)

        v_base = vs.current_version(store)
        vs._claim_manifest = hooked
        try:
            commit(op_b, j, retries=3)
            b_landed = True
        except vs.CommitConflict:
            b_landed = False
        finally:
            vs._claim_manifest = real
        # The implementation's contract is partition-granular conflict
        # against the partitions A actually CHANGED — verified
        # post-hoc from the manifests, because with round 11's
        # file-granular planner the model alone cannot predict it: a
        # delete of an absent key changes nothing even in a non-empty
        # partition (stats prove it), while a stats false positive
        # may rewrite identical rows into new files (still a change).
        changed_a = vs._changed_partitions(
            vs._read_manifest(store, v_base),
            vs._read_manifest(store, v_base + 1),  # A landed first
        )
        b_parts = {(f"p{p}",) for p, _ in op_b[1]}
        assert b_landed == (not (changed_a & b_parts)), (
            changed_a, b_parts, b_landed,
        )
        apply_model(op_a, i)
        history.append(dict(model))
        if b_landed:
            apply_model(op_b, j)
            history.append(dict(model))

    assert vs.current_version(store) == len(history)
    for v, snap in enumerate(history, start=1):
        got = {
            (int(r.part[1:]), r.k): r.v
            for r in vs.read_version(spark, store, v).collect()
        }
        assert got == snap, (v, got, snap)


# -- MERGE INTO: arbitrary clause mixes vs the model ---------------------------

_merge_src = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # partition index
        st.integers(min_value=0, max_value=6),  # key (0-3 exist at base)
    ),
    st.sampled_from(["row", "tomb"]),  # update/insert value vs tombstone
    min_size=1,
    max_size=6,
)


@given(steps=st.lists(_merge_src, min_size=1, max_size=3))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_commit_merge_matches_model(spark, steps, tmp_path_factory):
    """Model-based MERGE check: arbitrary sources mixing updates,
    inserts and tombstones (matched ⇒ delete, unmatched ⇒ no-op,
    never an insert) must leave every version equal to the dict
    replay, and every manifest's clause counts must equal the
    model-derived counts."""
    import engine.versioned_store as vs

    store = str(tmp_path_factory.mktemp("vstore_merge") / "s")
    schema = "part string, k long, v string"
    base = [(f"p{p}", k, f"b:{p}:{k}") for p in range(3) for k in range(4)]
    vs.commit_overwrite(spark.createDataFrame(base, schema), store, "part")
    model = {(p, k): f"b:{p}:{k}" for p in range(3) for k in range(4)}
    history = [dict(model)]

    for i, src_spec in enumerate(steps, start=1):
        rows = [
            (
                f"p{p}",
                k,
                "TOMB" if fate == "tomb" else f"m{i}:{p}:{k}",
            )
            for (p, k), fate in sorted(src_spec.items())
        ]
        expected = {"updated": 0, "deleted": 0, "inserted": 0}
        for (p, k), fate in src_spec.items():
            if fate == "tomb":
                if (p, k) in model:
                    expected["deleted"] += 1
                    model.pop((p, k))
                # unmatched tombstone: strict no-op
            else:
                if (p, k) in model:
                    expected["updated"] += 1
                else:
                    expected["inserted"] += 1
                model[(p, k)] = f"m{i}:{p}:{k}"
        v = vs.commit_merge(
            spark,
            store,
            spark.createDataFrame(rows, schema),
            ["part", "k"],
            matched_delete_condition="v = 'TOMB'",
        )
        assert v == i + 1
        assert vs._read_manifest(store, v)["merge"] == expected
        history.append(dict(model))

    for ver, snap in enumerate(history, start=1):
        got = {
            (int(r.part[1:]), r.k): r.v
            for r in vs.read_version(spark, store, ver).collect()
        }
        assert got == snap, (ver, got, snap)
