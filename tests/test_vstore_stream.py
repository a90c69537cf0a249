"""The vstore STREAMING source and batch CDF relation
(engine/sources/vstore_stream.py): offsets are store versions; CDF
steps diff executor-side per changed storage partition."""

import pytest


@pytest.fixture()
def story(spark, tmp_path):
    """A four-version store with every change class: v1 base, v2
    upsert (update + insert), v3 delete, v4 sink append."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "s")
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")],
            "part string, k long, v string",
        ),
        store,
        "part",
    )
    vs.commit_upsert(
        spark,
        store,
        spark.createDataFrame(
            [("a", 1, "X!"), ("c", 9, "n")], "part string, k long, v string"
        ),
        ["part", "k"],
    )
    vs.commit_delete(
        spark,
        store,
        spark.createDataFrame([("b", 3)], "part string, k long"),
        ["part", "k"],
    )
    spark.createDataFrame(
        [("d", 7, "app")], "part string, k long, v string"
    ).write.format("vstore").mode("append").save(store)
    return store


def _run_stream(spark, reader, name, ckpt):
    q = (
        reader.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}")


def test_batch_cdf_equals_table_changes(spark, story):
    """spark.read + read_changes must emit exactly table_changes' net
    window (and no _commit_version column — a net window cannot
    attribute changes to commits)."""
    import engine.versioned_store as vs

    got = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", "1")
        .load(story)
    )
    assert "_commit_version" not in got.columns
    want = vs.table_changes(spark, story, 1, 4, ["part", "k"])
    key = lambda r: (r["part"], r["k"], r["_change_type"])  # noqa: E731
    assert sorted(
        (r.part, r.k, r.v, r._change_type) for r in got.collect()
    ) == sorted(
        (r.part, r.k, r.v, r._change_type) for r in want.collect()
    )
    # sub-window + to_version pin
    got13 = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", "1")
        .option("to_version", "3")
        .load(story)
    )
    want13 = vs.table_changes(spark, story, 1, 3, ["part", "k"])
    assert sorted(map(key, got13.collect())) == sorted(
        map(key, want13.collect())
    )


def test_streaming_cdf_full_history_with_commit_attribution(
    spark, story, tmp_path
):
    """starting_version=1 replays the whole history: v1 as inserts,
    then each version's changes tagged with its _commit_version."""
    got = _run_stream(
        spark,
        spark.readStream.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("starting_version", "1")
        .load(story),
        "cdf_hist",
        str(tmp_path / "ck"),
    )
    rows = sorted(
        (r.part, r.k, r.v, r._change_type, r._commit_version)
        for r in got.collect()
    )
    assert rows == [
        ("a", 1, "X!", "update_postimage", 2),
        ("a", 1, "x", "insert", 1),
        ("a", 1, "x", "update_preimage", 2),
        ("a", 2, "y", "insert", 1),
        ("b", 3, "z", "delete", 3),
        ("b", 3, "z", "insert", 1),
        ("c", 9, "n", "insert", 2),
        ("d", 7, "app", "insert", 4),
    ]


def test_streaming_resumes_from_checkpoint_and_skips_compaction(
    spark, story, tmp_path
):
    """A second availableNow run on the same checkpoint emits ONLY
    post-checkpoint versions; a compaction step (pure file movement)
    emits nothing — OPTIMIZE is CDC-invisible in the stream too."""
    import engine.versioned_store as vs

    ckpt = str(tmp_path / "ck2")
    out = str(tmp_path / "out")  # parquet sink: supports recovery
    # (the memory sink cannot resume a checkpoint)

    def run():
        q = (
            spark.readStream.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", "part,k")
            .option("starting_version", "1")
            .load(story)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    assert spark.read.parquet(out).count() == 8

    # new commits land: one real change + one compaction
    vs.commit_upsert(
        spark,
        story,
        spark.createDataFrame([("a", 2, "Y!")], "part string, k long, v string"),
        ["part", "k"],
    )
    vs.compact_version(spark, story)
    run()

    rows = sorted(
        (r.part, r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
        if r._commit_version >= 5
    )
    # exactly v5's update arrived on resume — no replay of v1-v4, and
    # v6 (compaction) contributed zero rows
    assert spark.read.parquet(out).count() == 10
    assert rows == [
        ("a", 2, "Y!", "update_postimage", 5),
        ("a", 2, "y", "update_preimage", 5),
    ]


def test_append_mode_rows_and_rewrite_guard(spark, story, tmp_path):
    """Append mode without skip_change_commits raises on a rewrite
    version; with it, only append-only versions' added rows flow."""
    with pytest.raises(Exception, match="updated or removed rows"):
        _run_stream(
            spark,
            spark.readStream.format("vstore")
            .option("starting_version", "1")
            .load(story),
            "ap_raise",
            str(tmp_path / "cka"),
        ).collect()

    got = _run_stream(
        spark,
        spark.readStream.format("vstore")
        .option("starting_version", "1")
        .option("skip_change_commits", "true")
        .load(story),
        "ap_ok",
        str(tmp_path / "ckb"),
    )
    # v1 (initial snapshot = pure adds) and v4 (sink append) flow;
    # v2/v3 are rewrites and are skipped wholesale
    assert sorted((r.part, r.k, r.v) for r in got.collect()) == [
        ("a", 1, "x"),
        ("a", 2, "y"),
        ("b", 3, "z"),
        ("d", 7, "app"),
    ]
    # schema is the plain table schema
    assert sorted(got.columns) == ["k", "part", "v"]


def test_cdf_requires_key_cols_and_tails_future_only_by_default(
    spark, story, tmp_path
):
    import engine.versioned_store as vs

    with pytest.raises(Exception, match="key_cols"):
        (
            spark.read.format("vstore")
            .option("read_changes", "true")
            .option("from_version", "1")
            .load(story)
            .collect()
        )
    # no starting_version: the stream tails FUTURE commits only
    # (parquet sink — the memory sink cannot resume a checkpoint)
    ckpt, out = str(tmp_path / "ckf"), str(tmp_path / "outf")

    def run():
        q = (
            spark.readStream.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", "part,k")
            .load(story)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    import os

    # no new commits: either no batch at all or an empty one
    assert not os.path.isdir(out) or spark.read.parquet(out).count() == 0
    vs.commit_upsert(
        spark,
        story,
        spark.createDataFrame([("e", 5, "new")], "part string, k long, v string"),
        ["part", "k"],
    )
    run()
    assert [
        (r.part, r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    ] == [("e", 5, "new", "insert", 5)]


def test_cdf_stream_crosses_a_widening_step(spark, tmp_path):
    """A widening upsert (int file → bigint table) mid-history: the
    stream resolves the WIDENED schema at query start and upcasts the
    old versions' narrow files in-flight."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "w")
    vs.commit_overwrite(
        spark.createDataFrame([("a", 1, 10)], "part string, k int, v int"),
        store,
        "part",
    )
    vs.commit_upsert(
        spark,
        store,
        spark.createDataFrame(
            [("a", 1, 2**40)], "part string, k long, v long"
        ),
        ["part", "k"],
    )
    got = _run_stream(
        spark,
        spark.readStream.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("starting_version", "1")
        .load(store),
        "cdf_widen",
        str(tmp_path / "ckw"),
    )
    assert dict(got.dtypes)["v"] == "bigint"
    assert sorted(
        (r.part, r.k, r.v, r._change_type, r._commit_version)
        for r in got.collect()
    ) == [
        ("a", 1, 10, "insert", 1),
        ("a", 1, 10, "update_preimage", 2),
        ("a", 1, 2**40, "update_postimage", 2),
    ]


def test_cdf_window_guards(spark, story):
    """Inverted windows raise at plan time; a window crossing a
    vacuumed version raises a clear restart hint, not a raw
    FileNotFoundError."""
    import engine.versioned_store as vs

    with pytest.raises(Exception, match="newer than to_version"):
        (
            spark.read.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", "part,k")
            .option("from_version", "4")
            .option("to_version", "2")
            .load(story)
            .collect()
        )
    vs.vacuum(story, keep_latest=1)
    with pytest.raises(Exception, match="vacuumed"):
        (
            spark.read.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", "part,k")
            .option("from_version", "1")
            .option("to_version", "4")
            .load(story)
            .collect()
        )


def test_batch_cdf_schema_pins_to_version_and_guards(spark, story):
    """Round-9 review #3/#5/#6: schema() pins the resolved window end
    into the reader's options (one plan, one window); a pre-schema-
    recording manifest refuses a CDF read instead of silently
    collapsing rows onto the partition key; a typo'd key column fails
    at PLAN time with a clear message."""
    import json

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreDataSource
    from engine.sources.vstore_stream import VStoreStreamReader

    from pyspark.sql.types import _parse_datatype_string

    ds = VStoreDataSource(
        options={
            "path": story,
            "read_changes": "true",
            "key_cols": "part,k",
            "from_version": "1",
        }
    )
    ddl = ds.schema()
    assert ds.options.get("to_version") == "4"  # pinned at resolution

    # stream reader: plan-time key_cols validation
    with pytest.raises(ValueError, match="key_cols"):
        VStoreStreamReader(
            {"path": story, "read_changes": "true", "key_cols": "part,kk"},
            _parse_datatype_string(ddl + ", _commit_version bigint"),
        )

    # pre-schema-recording manifest: CDF refuses like the snapshot path
    man = vs._read_manifest(story, 4)
    man.pop("columns")
    with open(vs._manifest_path(story, 4), "w", encoding="utf-8") as f:
        f.write(json.dumps(man))
    with pytest.raises(ValueError, match="recorded schema"):
        VStoreDataSource(
            options={
                "path": story,
                "read_changes": "true",
                "key_cols": "part,k",
                "from_version": "1",
            }
        ).schema()


def test_cdf_raises_on_duplicate_keys(spark, tmp_path):
    """REGRESSION (ADVICE r9): the per-partition CDF diff keys rows by
    key_cols; a store populated by the blind sink append path enforces
    no key uniqueness, and a duplicate key used to be silently
    collapsed to the last row — an INCOMPLETE change feed. It now
    raises, mirroring commit_merge's duplicate-source guard."""
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "dup")
    spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "z")],
        "part string, k long, v string",
    ).write.format("vstore").option("partition_col", "part").mode(
        "overwrite"
    ).save(store)
    feed = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", 0)
        .load(store)
    )
    with pytest.raises(Exception, match="not key-unique"):
        feed.collect()


def _six_version_store(spark, store):
    """v1 base + five PURE-APPEND versions (the sink's blind append
    adds files without rewriting), so an append-mode stream sees
    every version."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, "v1"), ("b", 2, "v1")],
            "part string, k long, v string",
        ),
        store,
        "part",
    )
    for i in range(2, 7):  # versions 2..6, pure adds
        spark.createDataFrame(
            [("a", 10 + i, f"v{i}")], "part string, k long, v string"
        ).write.format("vstore").mode("append").save(store)
    return store


def test_admission_control_caps_latest_offset(spark, tmp_path):
    """Round-9 verdict #2 (unit level): with per-trigger limits the
    reader admits backlog in bounded steps. Without starting_version
    the construction-time head is a provably safe floor, so caps
    apply from the very first trigger; with starting_version a fresh
    query caps once initialOffset has run (and bytes are a soft cap:
    the crossing version is included)."""
    import engine.versioned_store as vs
    from engine.sources.vstore_stream import VStoreStreamReader

    store = str(tmp_path / "s")
    schema = spark.createDataFrame(
        [("a", 1, "x")], "part string, k long, v string"
    ).schema
    # head = 1 at construction; 5 more versions land afterwards
    import shutil

    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, "v1")], "part string, k long, v string"
        ),
        store,
        "part",
    )
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    r = VStoreStreamReader(
        {"path": store, "max_versions_per_trigger": "2"}, schema
    )
    for i in range(2, 7):  # versions 2..6 while the reader is live
        spark.createDataFrame(
            [("a", 10 + i, f"v{i}")], "part string, k long, v string"
        ).write.format("vstore").mode("append").save(store)
    # bounded from the FIRST trigger (no initialOffset call needed)
    assert [r.latestOffset()["version"] for _ in range(4)] == [3, 5, 6, 6]

    rb = VStoreStreamReader(
        {
            "path": store,
            "starting_version": "1",
            "max_bytes_per_trigger": "1",
        },
        schema,
    )
    rb.initialOffset()  # fresh query: position = starting_version - 1
    # every version adds >= 1 byte, so each trigger admits exactly one
    assert [rb.latestOffset()["version"] for _ in range(7)] == [
        1, 2, 3, 4, 5, 6, 6,
    ]
    # unbounded reader unchanged
    r0 = VStoreStreamReader({"path": store, "starting_version": "1"}, schema)
    assert r0.latestOffset() == {"version": 6}


def test_admission_control_bounds_triggers_end_to_end(spark, tmp_path):
    """Round-9 verdict #2 (done criterion): a 6-version backlog drains
    in >= 3 bounded microbatches — every recorded offset step is at
    most the cap — and a checkpoint restart over new commits stays
    exactly-once (row equality with the head snapshot's appends)."""
    import json
    import os

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "s")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, "base")], "part string, k long, v string"
        ),
        store,
        "part",
    )

    def append(i):
        spark.createDataFrame(
            [("a", 10 + i, f"v{i}")], "part string, k long, v string"
        ).write.format("vstore").mode("append").save(store)

    def run():
        q = (
            spark.readStream.format("vstore")
            .option("max_versions_per_trigger", 2)
            .load(store)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return q

    # the reader tails from the construction head (v1), so the six
    # appended versions below ARE its backlog
    q = (
        spark.readStream.format("vstore")
        .option("max_versions_per_trigger", 2)
        .load(store)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    # force the runner to construct the reader (pinning its position
    # at v1) BEFORE the backlog lands — the runner builds it lazily,
    # and an append racing that construction would be silently before
    # the tail's start
    q.processAllAvailable()
    for i in range(2, 8):  # versions 2..7
        append(i)
    q.processAllAvailable()
    q.stop()

    # every offset step recorded in the checkpoint is <= the cap,
    # and draining 6 versions therefore took >= 3 data batches
    offs = []
    odir = os.path.join(ckpt, "offsets")
    for f in sorted(
        (f for f in os.listdir(odir) if f.isdigit()), key=int
    ):
        last = open(os.path.join(odir, f)).read().strip().split("\n")[-1]
        offs.append(json.loads(last)["version"])
    steps = [b - a for a, b in zip(offs, offs[1:])]
    assert all(st <= 2 for st in steps), offs
    assert sum(1 for st in steps if st > 0) + (offs[0] > 1) >= 3, offs

    got = sorted(
        (r.part, r.k, r.v) for r in spark.read.parquet(out).collect()
    )
    want = sorted(("a", 10 + i, f"v{i}") for i in range(2, 8))
    assert got == want

    # two more commits land while the query is down; the restarted
    # query resumes from the checkpoint and absorbs exactly them
    for i in range(8, 10):
        append(i)
    run()
    got = sorted(
        (r.part, r.k, r.v) for r in spark.read.parquet(out).collect()
    )
    want = sorted(("a", 10 + i, f"v{i}") for i in range(2, 10))
    assert got == want


def test_cdf_subbucketing_matches_table_changes(spark, tmp_path):
    """Round-9 verdict #3: a fat rewrite of one storage partition is
    sub-bucketed by key hash (bounding per-task Python-row memory) and
    the bucketed feed equals the unbucketed `table_changes` exactly."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore
    from engine.sources.vstore_stream import _step_units

    register_vstore(spark)
    store = str(tmp_path / "fat")
    base = spark.createDataFrame(
        [("p", i, f"x{i}") for i in range(200)],
        "part string, k long, v string",
    )
    vs.commit_overwrite(base.coalesce(2), store, "part")
    rewrite = spark.createDataFrame(
        [("p", i, f"y{i}") for i in range(0, 200, 2)]  # update half
        + [("p", i, f"n{i}") for i in range(200, 220)],  # insert 20
        "part string, k long, v string",
    )
    vs.commit_upsert(spark, store, rewrite, ["part", "k"])

    units = _step_units(store, 1, 2, ["part", "k"], None, max_rows=50)
    assert len(units) > 1 and all(u.n_buckets > 1 for u in units)
    assert len({(u.bucket, u.n_buckets) for u in units}) == len(units)

    feed = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", 1)
        .option("to_version", 2)
        .option("max_rows_per_cdf_task", 50)
        .load(store)
    )
    cols = ["part", "k", "v", "_change_type"]
    got = sorted(tuple(r[c] for c in cols) for r in feed.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in vs.table_changes(
            spark, store, 1, 2, ["part", "k"]
        ).collect()
    )
    assert got == want and len(want) == 220  # 100 pre+post, 20 inserts


def test_cdf_subbucketing_survives_adversarial_key_skew(spark, tmp_path):
    """VERDICT r10 wrongness #2: `_key_bucket` is CRC-based, so a
    pathological key set can collide every row into ONE bucket — the
    memory bound degrades (one task carries the whole unit, the
    others read-and-drop), but the FEED must stay exact: empty sibling
    buckets contribute nothing and the union still equals
    `table_changes`. This pins that graceful degradation on a key set
    constructed to all hash to bucket 0."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore
    from engine.sources.vstore_stream import _key_bucket, _step_units

    register_vstore(spark)
    # 120 keys that _key_bucket sends to bucket 0 of 3 — the exact
    # adversary: totals say "split 3 ways", the data says "one bucket"
    ks, k = [], 0
    while len(ks) < 120:
        if _key_bucket(("p", k), 3) == 0:
            ks.append(k)
        k += 1
    store = str(tmp_path / "skewed")
    base = spark.createDataFrame(
        [("p", k, f"x{k}") for k in ks], "part string, k long, v string"
    )
    vs.commit_overwrite(base.coalesce(2), store, "part")
    rewrite = spark.createDataFrame(
        [("p", k, f"y{k}") for k in ks[::2]],
        "part string, k long, v string",
    )
    vs.commit_upsert(spark, store, rewrite, ["part", "k"])

    units = _step_units(store, 1, 2, ["part", "k"], None, max_rows=50)
    assert {u.n_buckets for u in units} == {3}  # planner split 3 ways

    feed = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", 1)
        .option("to_version", 2)
        .option("max_rows_per_cdf_task", 50)
        .load(store)
    )
    cols = ["part", "k", "v", "_change_type"]
    got = sorted(tuple(r[c] for c in cols) for r in feed.collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in vs.table_changes(
            spark, store, 1, 2, ["part", "k"]
        ).collect()
    )
    assert got == want and len(want) == 120  # 60 pre + 60 post images


def test_admission_restart_does_not_regress_offset(spark, tmp_path):
    """REGRESSION (round-10 review #1): after a checkpoint restart the
    reader cannot see the committed offset, and capping from
    starting_version could return an offset BELOW it — Spark would
    record that as the new end and replay delivered versions as
    duplicates. A restarted reader (initialOffset never called) must
    return the uncapped head; a fresh reader (initialOffset called)
    caps immediately; a replayed pending batch teaches the position
    through partitions() even when end < start."""
    from engine.sources.vstore_stream import VStoreStreamReader

    store = _six_version_store(spark, str(tmp_path / "s"))  # head = 6
    schema = spark.createDataFrame(
        [("a", 1, "x")], "part string, k long, v string"
    ).schema
    opts = {
        "path": store,
        "starting_version": "1",
        "max_versions_per_trigger": "2",
    }

    fresh = VStoreStreamReader(opts, schema)
    fresh.initialOffset()
    assert fresh.latestOffset() == {"version": 2}  # capped from v0

    restarted = VStoreStreamReader(opts, schema)  # ckpt holds e.g. v4
    assert restarted.latestOffset() == {"version": 6}  # never below it
    assert restarted.latestOffset() == {"version": 6}

    replay = VStoreStreamReader(opts, schema)
    replay.partitions({"version": 4}, {"version": 2})  # pending replay
    assert replay._admitted == 4  # learned from START, not just end
    assert replay.latestOffset() == {"version": 6}  # min(head, 4+2)


def test_one_file_reader_across_batch_cdf_and_stream(spark, tmp_path):
    """One store through all three read surfaces, covering every branch
    of the shared file reader: composite partitions, an int→bigint
    widening append, an additive column, a rename and a deletion-vector
    delete. The batch source equals read_version at every version;
    batch CDF equals table_changes over each step (and, from v0, the
    head as inserts); an append stream from v1 that skips the DV step
    yields exactly the rows each append version added, under the
    head's schema (the pre-rename files through the head's column
    map). Steps, not one window: table_changes itself reads each side
    under its own version's names, so a window across the rename is
    not comparable."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "x")
    keys = ["part", "day", "k"]
    v1 = [("a", "d1", 1, "x1"), ("a", "d1", 2, "x2"), ("a", "d1", 3, "x3"),
          ("b", "d2", 4, "x4")]
    vs.commit_overwrite(  # one file per partition: the delete keeps a DV
        spark.createDataFrame(
            v1, "part string, day string, k int, v string"
        ).coalesce(1),
        store,
        ["part", "day"],
    )
    v2 = [("a", "d1", 2**40, "x5"), ("c", "d3", 6, "x6")]
    spark.createDataFrame(
        v2, "part string, day string, k long, v string"
    ).write.format("vstore").mode("append").save(store)
    v3 = [("b", "d2", 7, "x7", "w7")]
    spark.createDataFrame(
        v3, "part string, day string, k long, v string, w string"
    ).write.format("vstore").mode("append").save(store)
    vs.rename_column(store, "v", "val")
    vs.commit_delete(
        spark,
        store,
        spark.createDataFrame(
            [("a", "d1", 2)], "part string, day string, k long"
        ),
        keys,
        merge_on_read=True,
    )
    assert vs.current_version(store) == 5
    assert any("dv" in e for e in vs._read_manifest(store, 5)["files"])

    def rows(df, cols):
        return sorted((tuple(r[c] for c in cols) for r in df.collect()),
                      key=repr)

    for v in range(1, 6):
        want = vs.read_version(spark, store, v)
        got = spark.read.format("vstore").option("version", v).load(store)
        assert dict(got.dtypes) == dict(want.dtypes)
        assert rows(got, want.columns) == rows(want, want.columns)

    def feed(va, vb):
        return (
            spark.read.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", ",".join(keys))
            .option("from_version", va)
            .option("to_version", vb)
            .load(store)
        )

    head = vs.read_version(spark, store)
    cols = head.columns + ["_change_type"]
    assert rows(feed(0, 5), cols) == sorted(
        (r + ("insert",) for r in rows(head, head.columns)), key=repr
    )
    for va in range(1, 5):
        got = feed(va, va + 1)
        want = vs.table_changes(spark, store, va, va + 1, keys)
        assert sorted(got.columns) == sorted(want.columns)
        assert rows(got, want.columns) == rows(want, want.columns)

    got = _run_stream(
        spark,
        spark.readStream.format("vstore")
        .option("starting_version", "1")
        .option("skip_change_commits", "true")
        .load(store),
        "one_reader",
        str(tmp_path / "ck"),
    )
    assert dict(got.dtypes) == dict(head.dtypes)
    added = [r + (None,) for r in v1 + v2] + v3
    assert rows(got, ["part", "day", "k", "val", "w"]) == sorted(
        added, key=repr
    )


def test_streams_cross_an_overwrite_that_resets_the_column_map(
    spark, tmp_path
):
    """A stream reads through the column map of the version its schema
    was resolved at, but an overwrite RESETS the map: files it and later
    commits write carry logical names physically. Rename v→val, start
    an append and a CDF reader, then overwrite and append a row with a
    NEW column named ``v``. The appended row keeps its ``val``, not the
    new column's value, and the overwrite step's diff compares the old
    and new files by logical name: no spurious update, in the stream
    and in batch CDF."""
    import pyarrow as pa

    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore
    from engine.sources.vstore_stream import VStoreStreamReader

    register_vstore(spark)
    store = str(tmp_path / "m")
    vs.commit_overwrite(
        spark.createDataFrame(
            [("a", 1, "x1")], "part string, k long, v string"
        ),
        store,
        "part",
    )
    vs.rename_column(store, "v", "val")  # v2: {val: v}
    append = VStoreStreamReader(
        {"path": store, "version": "2", "skip_change_commits": "true"},
        spark.readStream.format("vstore").load(store).schema,
    )
    cdf_opts = {"read_changes": "true", "key_cols": "part,k"}
    cdf = VStoreStreamReader(
        {"path": store, **cdf_opts},
        spark.readStream.format("vstore").options(**cdf_opts)
        .load(store).schema,
    )
    vs.commit_overwrite(  # v3: the map resets
        spark.createDataFrame(
            [("a", 1, "x1"), ("a", 2, "x2")],
            "part string, k long, val string",
        ),
        store,
        "part",
    )
    spark.createDataFrame(  # v4: a new column takes the old physical name
        [("a", 3, "y3", "new")], "part string, k long, val string, v string"
    ).write.format("vstore").mode("append").save(store)
    assert vs._read_manifest_raw(store, 4).get("column_map") is None

    # batch CDF across the break: v2's files lack the new column ``v``
    got = (
        spark.read.format("vstore").options(**cdf_opts)
        .option("from_version", 2).load(store)
    )
    want = vs.table_changes(spark, store, 2, 4, ["part", "k"])
    assert sorted(got.columns) == sorted(want.columns)
    assert sorted(
        map(tuple, got.select(*want.columns).collect()), key=repr
    ) == sorted(map(tuple, want.collect()), key=repr)
    assert sorted(map(tuple, want.collect()), key=repr) == [
        ("a", 2, "x2", None, "insert"),
        ("a", 3, "y3", "new", "insert"),
    ]

    def rows(reader):
        parts = reader.partitions({"version": 2}, {"version": 4})
        batches = [b for p in parts for b in reader.read(p)]
        return sorted(
            tuple(sorted(r.items()))
            for r in pa.Table.from_batches(batches).to_pylist()
        )

    assert rows(append) == [
        (("k", 3), ("part", "a"), ("val", "y3"))
    ]
    assert rows(cdf) == [
        (("_change_type", "insert"), ("_commit_version", 3), ("k", 2),
         ("part", "a"), ("val", "x2")),
        (("_change_type", "insert"), ("_commit_version", 4), ("k", 3),
         ("part", "a"), ("val", "y3")),
    ]
