"""The vstore WRITE path: `df.write.format("vstore")` and
`writeStream.format("vstore")` (engine/sources/vstore_datasource.py,
writer section). Staging happens on executors (one parquet file per
partition value per task, straight into data/), the commit is
sessionless manifest surgery with blind-append OCC retries."""

import os

import pytest


@pytest.fixture()
def registered(spark):
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    return spark


def test_batch_overwrite_append_roundtrip(registered, tmp_path):
    """Create-by-write, then append: two versions, manifest entries
    carry footer stats, and both engine and source reads agree."""
    import engine.versioned_store as vs

    spark = registered
    store = str(tmp_path / "s")
    spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)],
        "part string, k long, v long",
    ).write.format("vstore").option("partition_col", "part").mode(
        "overwrite"
    ).save(store)
    assert vs.current_version(store) == 1

    spark.createDataFrame(
        [("c", 9, 90)], "part string, k long, v long"
    ).write.format("vstore").mode("append").save(store)
    assert vs.current_version(store) == 2

    man = vs._read_manifest(store, 2)
    assert man["appended_files"] == 1
    assert man["written_by"] == "vstore-sink"
    # staged entries carry footer min/max stats for data skipping
    new = [e for e in man["files"] if e["partition"] == "c"]
    assert new and new[0]["stats"]["k"] == [9, 9]
    assert new[0]["n_rows"] == 1 and new[0]["bytes"] > 0
    # v1's files carried forward verbatim (copy-on-write append)
    v1_files = {e["file"] for e in vs._read_manifest(store, 1)["files"]}
    assert v1_files < {e["file"] for e in man["files"]}

    want = [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 9, 90)]
    got_engine = sorted(
        (r.part, r.k, r.v) for r in vs.read_version(spark, store).collect()
    )
    got_source = sorted(
        (r.part, r.k, r.v)
        for r in spark.read.format("vstore").load(store).collect()
    )
    assert got_engine == got_source == want
    # time travel still sees v1
    assert vs.read_version(spark, store, 1).count() == 3


def test_append_schema_evolution_and_incompatible_raise(registered, tmp_path):
    """Appends reconcile schemas like the engine path: additive
    columns null-fill old files, widening upgrades the recorded type,
    and an off-ladder change raises (files left for vacuum, no commit)."""
    import engine.versioned_store as vs

    spark = registered
    store = str(tmp_path / "evo")
    spark.createDataFrame(
        [("a", 1, 10)], "part string, k int, v int"
    ).write.format("vstore").option("partition_col", "part").mode(
        "overwrite"
    ).save(store)

    # additive + widening in one append
    spark.createDataFrame(
        [("b", 2**40, 20, "x")], "part string, k long, v int, extra string"
    ).write.format("vstore").mode("append").save(store)
    df = spark.read.format("vstore").load(store)
    assert dict(df.dtypes)["k"] == "bigint"
    got = sorted(
        (r.part, r.k, r.v, r.extra) for r in df.collect()
    )
    assert got == [("a", 1, 10, None), ("b", 2**40, 20, "x")]

    # incompatible type change: no commit, head unchanged
    with pytest.raises(Exception, match="widen|incompatible|type"):
        spark.createDataFrame(
            [("c", "oops", 1, "y")],
            "part string, k string, v int, extra string",
        ).write.format("vstore").mode("append").save(store)
    assert vs.current_version(store) == 2


def test_fresh_store_requires_partition_col(registered, tmp_path):
    spark = registered
    with pytest.raises(Exception, match="partition_col"):
        spark.createDataFrame(
            [("a", 1)], "part string, k long"
        ).write.format("vstore").mode("overwrite").save(
            str(tmp_path / "nopcol")
        )


def test_null_partition_value_fails_the_write(registered, tmp_path):
    import engine.versioned_store as vs

    spark = registered
    store = str(tmp_path / "nулls")
    with pytest.raises(Exception, match="null"):
        spark.createDataFrame(
            [(None, 1)], "part string, k long"
        ).write.format("vstore").option("partition_col", "part").mode(
            "overwrite"
        ).save(store)
    assert vs.current_version(store) == 0


def test_append_commit_rebases_over_a_lost_claim(spark, tmp_path):
    """Blind-append OCC: stage a task's files locally (write() is
    plain Python), let a racing commit claim the next version, then
    commit — the append must rebase onto the new head and land with
    BOTH writers' rows, like Delta's AppendOnly conflict rule."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreBatchWriter

    store = str(tmp_path / "occ")
    vs.commit_overwrite(
        spark.createDataFrame([("a", 1)], "part string, k long"),
        store,
        "part",
    )
    schema = spark.createDataFrame([("a", 1)], "part string, k long").schema
    w = VStoreBatchWriter({"path": store}, schema, overwrite=False)
    msg = w.write(
        iter(
            pa.table(
                {"part": ["b"], "k": [2]},
                schema=pa.schema(
                    [("part", pa.string()), ("k", pa.int64())]
                ),
            ).to_batches()
        )
    )
    # a racing writer lands first: the sink's claim of v2 will lose
    vs.commit_upsert(
        spark,
        store,
        spark.createDataFrame([("z", 9)], "part string, k long"),
        ["part", "k"],
    )
    w.commit([msg])
    assert vs.current_version(store) == 3
    got = sorted(
        (r.part, r.k) for r in vs.read_version(spark, store).collect()
    )
    assert got == [("a", 1), ("b", 2), ("z", 9)]


def test_streaming_sink_versions_per_batch_and_retry_idempotence(
    spark, tmp_path
):
    """writeStream.format('vstore'): one version per microbatch with
    the batch tag recorded; a RETRIED commit of the same batch id
    discards its staged files instead of double-appending."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import (
        VStoreStreamWriter,
        register_vstore,
    )

    register_vstore(spark)
    root = tmp_path
    store, src, ckpt = (
        str(root / "s"),
        str(root / "in"),
        str(root / "ck"),
    )
    spark.createDataFrame(
        [("a", 1), ("b", 3)], "part string, k long"
    ).write.parquet(src)
    q = (
        spark.readStream.schema("part string, k long")
        .parquet(src)
        .writeStream.format("vstore")
        .option("partition_col", "part")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert vs.current_version(store) == 1
    assert vs._read_manifest(store, 1)["streaming_batch"] == "stream:0"
    assert sorted(
        (r.part, r.k) for r in vs.read_version(spark, store).collect()
    ) == [("a", 1), ("b", 3)]

    # simulate Spark retrying batch 0 after a driver failure: the
    # writer stages again, then commit() sees the tag and discards
    schema = spark.createDataFrame([("a", 1)], "part string, k long").schema
    w = VStoreStreamWriter({"path": store}, schema, overwrite=False)
    msg = w.write(
        iter(
            pa.table(
                {"part": ["a"], "k": [1]},
                schema=pa.schema(
                    [("part", pa.string()), ("k", pa.int64())]
                ),
            ).to_batches()
        )
    )
    staged = os.path.join(store, "data", msg.entries[0]["file"])
    assert os.path.exists(staged)
    w.commit([msg], 0)
    assert vs.current_version(store) == 1  # no duplicate version
    assert not os.path.exists(staged)  # staged duplicate discarded


def test_sink_commit_carries_bloom_sidecars(spark, tmp_path):
    """A sink append on a bloomed store keeps the chain: carried
    files keep their blooms in the new version's sidecar, and the new
    file arrives WITH a bloom — its task folded the staged values
    into bloom words executor-side (round-9 verdict #5; previously
    sink-written files stayed unbloomed until the next engine-path
    commit)."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "bloom")
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1), ("b", 3)], "part string, k long"
        ),
        store,
        "part",
        bloom_cols=["k"],
        bloom_bits=256,
    )
    spark.createDataFrame(
        [("c", 9)], "part string, k long"
    ).write.format("vstore").mode("append").save(store)
    side = vs._read_bloom_sidecar(store, 2)
    assert side is not None and side["cols"] == ["k"]
    assert side["bits"] == 256  # inherited config, not a fresh default
    v1_files = {e["file"] for e in vs._read_manifest(store, 1)["files"]}
    all_files = {e["file"] for e in vs._read_manifest(store, 2)["files"]}
    # carried blooms intact AND the sink-written file is bloomed too
    assert set(side["files"]) == all_files > v1_files
    # point probe stays exact
    got = vs.read_version(spark, store, point_filters={"k": 9})
    assert [(r.part, r.k) for r in got.collect()] == [("c", 9)]
    # and pruning now bites through the SINK-written file as well:
    # a probe for k=9 keeps the new file, drops the v1 files
    kept = vs._bloom_prune(
        vs._read_manifest(store, 2)["files"], side, {"k": 9}
    )
    assert {e["file"] for e in kept} < all_files
    assert any(e["file"] not in v1_files for e in kept)
    # k=1 pruning still bites via the carried blooms
    assert len(
        vs._bloom_prune(
            vs._read_manifest(store, 2)["files"], side, {"k": 1}
        )
    ) < len(vs._read_manifest(store, 2)["files"])


def test_sink_composite_partitioning(registered, tmp_path):
    """The sink's vectorized bucketing handles COMPOSITE partitioning:
    one file per (type, day) combo per task, manifest values restored
    per column (never parsed back out of the joined key)."""
    import engine.versioned_store as vs

    spark = registered
    store = str(tmp_path / "comp")
    spark.createDataFrame(
        [
            ("click", "d1", 1),
            ("click", "d2", 2),
            ("view", "d1", 3),
            ("view", "d1", 4),
        ],
        "type string, day string, k long",
    ).coalesce(1).write.format("vstore").option(
        "partition_col", "type,day"
    ).mode("overwrite").save(store)
    man = vs._read_manifest(store, 1)
    parts = sorted(tuple(e["partition"]) for e in man["files"])
    assert parts == [
        ("click", "d1"),
        ("click", "d2"),
        ("view", "d1"),
    ]
    got = sorted(
        (r.type, r.day, r.k)
        for r in vs.read_version(spark, store).collect()
    )
    assert got == [
        ("click", "d1", 1),
        ("click", "d2", 2),
        ("view", "d1", 3),
        ("view", "d1", 4),
    ]
    # pinned partition read through the source options still composes
    got = spark.read.format("vstore").option(
        "point", "day:d1"
    ).load(store)
    assert got.count() == 3


def test_streaming_sink_rejects_stale_batch_ids(spark, tmp_path):
    """REGRESSION (round-9 review #1): a new query run against a
    reset/replaced checkpoint replays batch ids the store already
    absorbed; treating those as retries silently DROPPED real data.
    Only the NEWEST recorded batch id is a legitimate retry; older
    ids now raise with a writer_id hint (staged files discarded)."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreStreamWriter

    store = str(tmp_path / "stale")
    schema = spark.createDataFrame([("a", 1)], "part string, k long").schema

    def batch(part, k):
        return iter(
            pa.table(
                {"part": [part], "k": [k]},
                schema=pa.schema([("part", pa.string()), ("k", pa.int64())]),
            ).to_batches()
        )

    w = VStoreStreamWriter(
        {"path": store, "partition_col": "part"}, schema, overwrite=False
    )
    w.commit([w.write(batch("a", 1))], 0)
    w.commit([w.write(batch("b", 2))], 1)
    assert vs.current_version(store) == 2

    # retry of the NEWEST batch: idempotent discard, no new version
    msg = w.write(batch("b", 2))
    w.commit([msg], 1)
    assert vs.current_version(store) == 2

    # a RESET checkpoint replaying batch 0: loud failure, not a drop
    msg = w.write(batch("c", 3))
    with pytest.raises(ValueError, match="fresh writer_id"):
        w.commit([msg], 0)
    assert vs.current_version(store) == 2
    # its staged file was discarded, not orphaned
    assert sorted(os.listdir(os.path.join(store, "data"))) == sorted(
        e["file"] for e in vs._read_manifest(store, 2)["files"]
    )
    # the documented recovery: a fresh writer_id proceeds
    w2 = VStoreStreamWriter(
        {"path": store, "writer_id": "run2"}, schema, overwrite=False
    )
    w2.commit([w2.write(batch("c", 3))], 0)
    assert vs.current_version(store) == 3


def test_sink_separator_values_stay_distinct_combos(registered, tmp_path):
    """REGRESSION (round-9 review #4): with a plain separator join,
    combos ('x\\x1fy','z') and ('x','y\\x1fz') collided into ONE file
    whose single manifest entry mislabeled half its rows. The framed
    (length-prefixed) key is injective, so they stay two files with
    exact per-column partition values."""
    import engine.versioned_store as vs

    spark = registered
    store = str(tmp_path / "sep")
    spark.createDataFrame(
        [("x\x1fy", "z", 1), ("x", "y\x1fz", 2)],
        "a string, b string, k long",
    ).coalesce(1).write.format("vstore").option(
        "partition_col", "a,b"
    ).mode("overwrite").save(store)
    man = vs._read_manifest(store, 1)
    assert sorted(tuple(e["partition"]) for e in man["files"]) == [
        ("x", "y\x1fz"),
        ("x\x1fy", "z"),
    ]
    got = sorted(
        (r.a, r.b, r.k) for r in vs.read_version(spark, store).collect()
    )
    assert got == [("x", "y\x1fz", 2), ("x\x1fy", "z", 1)]


def test_writer_id_with_colon_and_early_exit_scan(spark, tmp_path, monkeypatch):
    """REGRESSION (ADVICE r9 + round-9 verdict #4): a writer_id
    containing ':' must neither crash the tag parse nor match another
    writer's tags (writer 'a' scanning 'a:b:7' used to int('b:7')),
    and the newest-batch scan stops at the FIRST matching tag
    scanning newest-first instead of reading every manifest."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreStreamWriter

    store = str(tmp_path / "colon")
    schema = spark.createDataFrame([("a", 1)], "part string, k long").schema

    def batch(part, k):
        return iter(
            pa.table(
                {"part": [part], "k": [k]},
                schema=pa.schema([("part", pa.string()), ("k", pa.int64())]),
            ).to_batches()
        )

    wa = VStoreStreamWriter(
        {"path": store, "partition_col": "part", "writer_id": "a"},
        schema,
        overwrite=False,
    )
    wab = VStoreStreamWriter(
        {"path": store, "partition_col": "part", "writer_id": "a:b"},
        schema,
        overwrite=False,
    )
    wa.commit([wa.write(batch("a", 1))], 3)      # tag a:3
    wab.commit([wab.write(batch("b", 2))], 7)    # tag a:b:7
    # 'a' must see 3 (not crash on 'a:b:7', not adopt 7)
    assert wa._last_recorded_batch() == 3
    assert wab._last_recorded_batch() == 7
    # and both writers keep strictly-increasing semantics
    wa.commit([wa.write(batch("c", 3))], 4)      # tag a:4
    assert wa._last_recorded_batch() == 4

    # early exit: the newest matching tag ends the scan
    reads: list[int] = []
    orig = vs._read_manifest_raw

    def counting(store_, v):
        reads.append(v)
        return orig(store_, v)

    monkeypatch.setattr(vs, "_read_manifest_raw", counting)
    assert wab._last_recorded_batch() == 7
    # v3 (a:4) is scanned and skipped; v2 (a:b:7) matches; v1 never
    # read — and the scan reads RAW manifests only (no file-list
    # resolution; round-10 review #3)
    assert reads == [3, 2]


def test_sink_only_store_builds_blooms_from_scratch(spark, tmp_path):
    """Round-9 verdict #5 (done criterion): a store created PURELY via
    the sink — bloom_cols passed as a write option — prunes point
    probes from version 1, with bit positions identical to the
    engine's distributed build."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "sinkbloom")
    spark.createDataFrame(
        [(f"p{i % 4}", i, f"s{i}") for i in range(64)],
        "part string, k long, v string",
    ).repartition(4, "part").write.format("vstore").option(
        "partition_col", "part"
    ).option("bloom_cols", "k,v").option("bloom_bits", "512").mode(
        "overwrite"
    ).save(store)

    side = vs._read_bloom_sidecar(store, 1)
    assert side is not None
    assert side["cols"] == ["k", "v"] and side["bits"] == 512
    man = vs._read_manifest(store, 1)
    assert set(side["files"]) == {e["file"] for e in man["files"]}

    # pruning bites: k=7 lives in exactly one partition's file(s)
    kept = vs._bloom_prune(man["files"], side, {"k": 7})
    assert 0 < len(kept) < len(man["files"])
    # and bit positions match the engine's read-path probe exactly:
    # the probed value's file is among the kept ones, read is exact
    got = vs.read_version(spark, store, point_filters={"k": 7})
    assert [(r.part, r.k, r.v) for r in got.collect()] == [("p3", 7, "s7")]
    # string column probes prune too
    kept_v = vs._bloom_prune(man["files"], side, {"v": "s9"})
    assert 0 < len(kept_v) < len(man["files"])
    # vstore source point option drives the same pruning end-to-end
    via_source = (
        spark.read.format("vstore").option("point", "k:7").load(store)
    )
    assert [(r.part, r.k, r.v) for r in via_source.collect()] == [
        ("p3", 7, "s7")
    ]


def test_sink_write_caps_open_writers(spark, tmp_path):
    """ADVICE r9: a task seeing more partition values than
    max_open_files finalizes the least-recently-written file instead
    of accumulating handles; a partition reappearing after eviction
    opens a FRESH file, and the store's contents stay exact."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreBatchWriter

    store = str(tmp_path / "capped")
    schema = spark.createDataFrame([("a", 1)], "part string, k long").schema

    def batch(rows):
        return pa.table(
            {"part": [p for p, _ in rows], "k": [k for _, k in rows]},
            schema=pa.schema([("part", pa.string()), ("k", pa.int64())]),
        ).to_batches()[0]

    w = VStoreBatchWriter(
        {"path": store, "partition_col": "part", "max_open_files": "2"},
        schema,
        overwrite=True,
    )
    msg = w.write(
        iter(
            [
                batch([("a", 1), ("b", 2), ("c", 3)]),  # c evicts a
                batch([("a", 4)]),  # a reopens as a second file
            ]
        )
    )
    parts = sorted(e["partition"] for e in msg.entries)
    assert parts == ["a", "a", "b", "c"]  # 'a' split across two files
    assert sum(e["n_rows"] for e in msg.entries) == 4
    w.commit([msg])
    got = sorted(
        (r.part, r.k)
        for r in vs.read_version(spark, store).collect()
    )
    assert got == [("a", 1), ("a", 4), ("b", 2), ("c", 3)]


def test_subset_append_keeps_carried_blooms(spark, tmp_path):
    """REGRESSION (round-10 review #2): blooms are per-column and
    their bit positions depend only on bits — an append whose frame
    legitimately omits one bloomed column must not discard the whole
    table's carried blooms nor narrow future inheritance. The sidecar
    carries all old blooms and records the UNION of columns."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "subset")
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, 10), ("b", 2, 20)], "part string, k long, v long"
        ),
        store,
        "part",
        bloom_cols=["k", "v"],
        bloom_bits=256,
    )
    # additive-subset append: no 'v' column in the frame
    spark.createDataFrame(
        [("c", 9)], "part string, k long"
    ).write.format("vstore").mode("append").save(store)
    side = vs._read_bloom_sidecar(store, 2)
    assert side is not None and side["bits"] == 256
    assert sorted(side["cols"]) == ["k", "v"]  # union, not narrowed
    v1_files = {e["file"] for e in vs._read_manifest(store, 1)["files"]}
    for f in v1_files:  # carried blooms intact, both columns
        assert set(side["files"][f]) == {"k", "v"}
    new = [
        f
        for f in (e["file"] for e in vs._read_manifest(store, 2)["files"])
        if f not in v1_files
    ]
    assert new and all(set(side["files"][f]) == {"k"} for f in new)
    # pruning still bites on BOTH columns after the subset append
    man = vs._read_manifest(store, 2)["files"]
    assert 0 < len(vs._bloom_prune(man, side, {"v": 10})) < len(man)
    assert 0 < len(vs._bloom_prune(man, side, {"k": 9})) < len(man)


def test_bloom_bits_must_be_word_aligned(spark, tmp_path):
    """REGRESSION (round-10 review #5): bloom words are 64-bit packed;
    a non-aligned bloom_bits would index past the word list on
    data-dependent hash values — both the sink option and the engine
    path reject it up front."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    df = spark.createDataFrame([("a", 1)], "part string, k long")
    with pytest.raises(Exception, match="multiple of 64"):
        df.write.format("vstore").option("partition_col", "part").option(
            "bloom_cols", "k"
        ).option("bloom_bits", "1000").mode("overwrite").save(
            str(tmp_path / "s1")
        )
    with pytest.raises(ValueError, match="multiple of 64"):
        vs.commit_overwrite(
            df, str(tmp_path / "s2"), "part",
            bloom_cols=["k"], bloom_bits=100,
        )


def test_sink_manifest_order_is_a_function_of_the_input(registered, tmp_path):
    """One task's manifest entries are ordered by partition value, then
    by creation order — never by the random part of the file names —
    so one input written into fresh stores records one manifest."""
    import engine.versioned_store as vs

    spark = registered
    df = spark.createDataFrame(
        [(f"p{i % 5}", i, f"v{i}") for i in range(40)],
        "part string, k long, v string",
    ).coalesce(1)
    seqs = []
    for n in range(3):
        store = str(tmp_path / f"s{n}")
        df.write.format("vstore").option("partition_col", "part").mode(
            "overwrite"
        ).save(store)
        seqs.append(
            [
                (e["partition"], e["n_rows"], e["stats"])
                for e in vs._read_manifest(store, 1)["files"]
            ]
        )
    assert seqs[0] == seqs[1] == seqs[2]
    assert [p for p, _, _ in seqs[0]] == [f"p{i}" for i in range(5)]
