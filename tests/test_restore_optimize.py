"""Round-11 RESTORE hardening and stats-driven OPTIMIZE
(VERDICT r10 #3/#4): ``rollback``/``restore`` refuses a target whose
data files were vacuumed away; ``select_compaction_targets`` picks
fragmented / small-file / DV'd partitions from manifest metadata
alone and ``optimize_auto`` compacts exactly those, sized by bytes."""

import os

import pytest

import engine.versioned_store as vs


def _store(spark, tmp_path, parts=3, rows=24, n_files=4):
    store = str(tmp_path / "s")
    df = spark.createDataFrame(
        [(f"p{i % parts}", i, f"v:{i}") for i in range(rows)],
        "part string, k long, v string",
    ).repartition(n_files)
    vs.commit_overwrite(df, store, "part")
    return store


def test_restore_lifecycle(spark, tmp_path):
    """write → bad merge → restore: the head shows pre-merge data as
    a NEW commit, history stays intact and inspectable."""
    store = _store(spark, tmp_path)
    good = sorted(
        tuple(r) for r in vs.read_version(spark, store, 1).collect()
    )
    bad = spark.createDataFrame(
        [("p0", 0, "CORRUPTED"), ("p0", 99, "JUNK")],
        "part string, k long, v string",
    )
    v2 = vs.commit_merge(spark, store, bad, ["part", "k"])
    v3 = vs.restore(store, 1)
    assert v3 == v2 + 1
    assert (
        sorted(tuple(r) for r in vs.read_version(spark, store).collect())
        == good
    )
    # the bad version remains readable (append-only history)
    assert (
        vs.read_version(spark, store, v2)
        .filter("v = 'JUNK'")
        .count()
        == 1
    )


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    store = _store(spark, tmp_path)
    chg = spark.createDataFrame(
        [("p0", 0, "X")], "part string, k long, v string"
    )
    vs.commit_upsert(spark, store, chg, ["part", "k"])
    man1 = vs._read_manifest(store, 1)
    # simulate a damaged / hand-vacuumed snapshot: the manifest
    # survives but one data file is gone
    victim = next(
        e["file"] for e in man1["files"] if e["partition"] == "p0"
    )
    os.remove(os.path.join(store, "data", victim))
    with pytest.raises(ValueError, match="cannot restore"):
        vs.restore(store, 1)


def test_selector_flags_fragmented_small_and_dvd(spark, tmp_path):
    store = str(tmp_path / "s")
    rows = [("frag", k, "x" * 50) for k in range(40)] + [
        ("healthy", 100 + k, "y" * 50) for k in range(40)
    ]
    df = spark.createDataFrame(
        rows, "part string, k long, v string"
    ).repartition(10, "k")
    vs.commit_overwrite(df, store, "part")
    man = vs._read_manifest(store, 1)
    frag_files = sum(
        1 for e in man["files"] if e["partition"] == "frag"
    )
    assert frag_files > 4
    # healthy via file-count but small-median: everything here is tiny,
    # so pick thresholds that isolate the dimensions
    targets = vs.select_compaction_targets(
        store, max_files=frag_files - 1, target_file_bytes=1
    )
    assert ("frag",) in targets and ("healthy",) not in targets

    # a DV'd partition qualifies regardless of file counts
    vs.commit_delete(
        spark,
        store,
        spark.createDataFrame(
            [("healthy", 105)], "part string, k long"
        ),
        ["part", "k"],
        merge_on_read=True,
    )
    targets = vs.select_compaction_targets(
        store, max_files=1000, target_file_bytes=1
    )
    assert targets == [("healthy",)]


def test_optimize_auto_compacts_only_targets(spark, tmp_path):
    store = str(tmp_path / "s")
    healthy = spark.createDataFrame(
        [("healthy", 100 + k, f"y:{k}") for k in range(40)],
        "part string, k long, v string",
    ).repartition(2)
    vs.commit_overwrite(healthy, store, "part")
    # keyed commits write one file per touched partition, so fragment
    # `frag` with 6 upserts of disjoint new keys: each adds one file
    # and the planner's stats prove no earlier file needs a rewrite
    for i in range(6):
        frag = spark.createDataFrame(
            [("frag", k, f"x:{k}") for k in range(10 * i, 10 * i + 10)],
            "part string, k long, v string",
        )
        head = vs.commit_upsert(spark, store, frag, ["part", "k"])
    man = vs._read_manifest(store, head)
    frag_files = sum(
        1 for e in man["files"] if e["partition"] == "frag"
    )
    assert frag_files > 5
    before = sorted(tuple(r) for r in vs.read_version(spark, store).collect())

    # target_file_bytes=1 disables the small-median rule, so only the
    # file-count rule fires — frag in, healthy (2 files) out
    v3 = vs.optimize_auto(
        spark, store, max_files=5, target_file_bytes=1
    )
    assert v3 == head + 1
    m3 = vs._read_manifest(store, v3)
    assert m3["optimized_partitions"] == 1
    healthy2 = {
        e["file"] for e in man["files"] if e["partition"] == "healthy"
    }
    healthy3 = {
        e["file"] for e in m3["files"] if e["partition"] == "healthy"
    }
    assert healthy2 == healthy3  # carried manifest-only
    frag3 = [e for e in m3["files"] if e["partition"] == "frag"]
    # n_out and the salt are clamped by consumed-file count, so a
    # pathological byte target still shrinks the partition
    assert len(frag3) < frag_files
    after = sorted(tuple(r) for r in vs.read_version(spark, store, v3).collect())
    assert after == before  # content invariance

    # collapse everything to one file per partition, then: already
    # healthy → no empty commit
    v4 = vs.optimize_auto(
        spark, store, max_files=1, target_file_bytes=1 << 20
    )
    assert v4 is not None
    assert (
        vs.optimize_auto(
            spark, store, max_files=1, target_file_bytes=1 << 20
        )
        is None
    )


def test_optimize_auto_materializes_dvs(spark, tmp_path):
    store = _store(spark, tmp_path)
    vs.commit_delete(
        spark,
        store,
        spark.createDataFrame([("p0", 0)], "part string, k long"),
        ["part", "k"],
        merge_on_read=True,
    )
    v3 = vs.optimize_auto(spark, store, max_files=1000, target_file_bytes=1)
    assert v3 is not None
    m3 = vs._read_manifest(store, v3)
    assert not any(e.get("dv") for e in m3["files"])
    got = sorted(r.k for r in vs.read_version(spark, store, v3).collect())
    assert got == list(range(1, 24))


def test_optimize_auto_splits_large_partition_by_bytes(spark, tmp_path):
    """A partition over the byte target splits across ~bytes/target
    output files instead of collapsing to one."""
    store = str(tmp_path / "s")
    df = spark.createDataFrame(
        [("p", k, "z" * 2000) for k in range(4000)],
        "part string, k long, v string",
    ).repartition(16, "k")
    vs.commit_overwrite(df, store, "part")
    man = vs._read_manifest(store, 1)
    total = sum(e["bytes"] for e in man["files"])
    target = max(1, total // 4)
    v2 = vs.optimize_auto(
        spark, store, max_files=4, target_file_bytes=target
    )
    m2 = vs._read_manifest(store, v2)
    assert 2 <= len(m2["files"]) <= 8  # ~4, never 1, never 16
    assert vs.read_version(spark, store, v2).count() == 4000


def test_cli_optimize_and_restore_verbs(spark, tmp_path, capsys):
    """The maintenance verbs exist on the CLI surface: `vstore
    optimize` (stats-driven) and `vstore restore`."""
    from engine.__main__ import main

    store = str(tmp_path / "s")
    df = spark.createDataFrame(
        [("p", k, f"v:{k}") for k in range(24)],
        "part string, k long, v string",
    ).repartition(6, "k")
    vs.commit_overwrite(df, store, "part")

    rc = main(["vstore", "optimize", store, "--max-files", "2",
               "--target-file-bytes", str(1 << 20)])
    assert rc == 0
    out = capsys.readouterr().out
    assert "optimized as v00002" in out
    assert len(vs._read_manifest(store, 2)["files"]) == 1

    # now healthy (one file): the stats-driven selector finds nothing
    rc = main(["vstore", "optimize", store, "--max-files", "2",
               "--target-file-bytes", "1"])
    assert rc == 0
    assert "no-op" in capsys.readouterr().out

    rc = main(["vstore", "restore", store, "--version", "1"])
    assert rc == 0
    assert "restored v00001 as v00003" in capsys.readouterr().out
    assert vs.read_version(spark, store, 3).count() == 24


def test_table_changes_by_timestamp(spark, tmp_path):
    """Timestamp-addressed change feeds: endpoints resolve to the
    version CURRENT at each instant, both in the engine API and
    through the data source's from_timestamp/to_timestamp options."""
    import time as _time

    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = _store(spark, tmp_path)
    t1 = vs._read_manifest_raw(store, 1)["committed_at"]
    chg = spark.createDataFrame(
        [("p0", 0, "NEW"), ("p0", 99, "INS")],
        "part string, k long, v string",
    )
    vs.commit_upsert(spark, store, chg, ["part", "k"])
    t2 = vs._read_manifest_raw(store, 2)["committed_at"]

    feed = vs.table_changes(
        spark, store, None, None, ["part", "k"],
        va_timestamp=t1, vb_timestamp=t2,
    )
    got = sorted((r.k, r._change_type) for r in feed.collect())
    assert got == [
        (0, "update_postimage"), (0, "update_preimage"), (99, "insert")
    ]

    src = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_timestamp", str(t1))
        .option("to_timestamp", str(t2))
        .load(store)
    )
    got2 = sorted((r.k, r._change_type) for r in src.collect())
    assert got2 == got

    with pytest.raises(Exception, match="not both"):
        vs.table_changes(
            spark, store, 1, None, ["part", "k"], va_timestamp=t1,
            vb_timestamp=t2,
        )
    _time.sleep(0)


def test_optimize_auto_salt_is_per_partition(spark, tmp_path):
    """REGRESSION (review r11 #6): the byte-sizing salt modulus is
    per partition — a small co-target partition collapses to ONE
    file even when a large sibling splits into several."""
    store = str(tmp_path / "s")
    big = spark.createDataFrame(
        [("big", k, "z" * 2000) for k in range(4000)],
        "part string, k long, v string",
    )
    small = spark.createDataFrame(
        [("small", 10_000 + k, f"s:{k}") for k in range(8)],
        "part string, k long, v string",
    )
    vs.commit_overwrite(
        big.unionByName(small).repartition(16, "k"), store, "part"
    )
    man = vs._read_manifest(store, 1)
    big_bytes = sum(
        e["bytes"] for e in man["files"] if e["partition"] == "big"
    )
    target = max(1, big_bytes // 4)
    v2 = vs.optimize_auto(spark, store, max_files=4,
                          target_file_bytes=target)
    m2 = vs._read_manifest(store, v2)
    small2 = [e for e in m2["files"] if e["partition"] == "small"]
    big2 = [e for e in m2["files"] if e["partition"] == "big"]
    assert len(small2) == 1  # NOT re-fragmented by big's modulus
    assert 2 <= len(big2) <= 8
    assert vs.read_version(spark, store, v2).count() == 4008
