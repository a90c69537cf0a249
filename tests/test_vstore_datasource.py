"""The vstore Python Data Source: Spark's own reader API over the
versioned store (engine/sources/vstore_datasource.py)."""

import pytest


@pytest.fixture()
def vstore(spark, tmp_path):
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "s")
    base = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)],
        "part string, k int, v int",
    )
    vs.commit_overwrite(base, store, "part", bloom_cols=["k"], bloom_bits=256)
    chg = spark.createDataFrame(
        [("a", 1, 2**40), ("c", 9, 90)], "part string, k long, v long"
    )
    vs.commit_upsert(spark, store, chg, ["part", "k"])
    return store


def test_format_reads_match_read_version(spark, vstore):
    """format('vstore') must equal read_version for the latest AND a
    pinned version — including the widening read (v1's int32 files
    under the widened bigint schema) and restored partition values."""
    import engine.versioned_store as vs

    for version in (None, 1, 2):
        reader = spark.read.format("vstore")
        if version is not None:
            reader = reader.option("version", str(version))
        got = sorted(
            (r.part, r.k, r.v) for r in reader.load(vstore).collect()
        )
        want = sorted(
            (r.part, r.k, r.v)
            for r in vs.read_version(spark, vstore, version).collect()
        )
        assert got == want, version
    df = spark.read.format("vstore").load(vstore)
    assert dict(df.dtypes) == {"part": "string", "k": "bigint", "v": "bigint"}


def test_option_pruning_and_exact_results(spark, vstore):
    """The pruning OPTIONS (partitions / range / point) shrink the
    reader's FILE list via manifest entries, per-file stats, and the
    bloom sidecar, while the residual row filter keeps results exactly
    the option predicates' rows."""
    from engine.sources.vstore_datasource import VStoreReader

    df = spark.read.format("vstore").load(vstore)
    total = len(VStoreReader({"path": vstore}, df.schema).partitions())
    assert total >= 3  # a+b carried/new + c

    # partition pruning: only partition b's file remains
    rb = VStoreReader({"path": vstore, "partitions": "b"}, df.schema)
    assert len(rb.partitions()) == 1
    got = spark.read.format("vstore").option(
        "partitions", "b"
    ).load(vstore)
    assert sorted((r.k, r.v) for r in got.collect()) == [(3, 30)]

    # range stats pruning on v: only the widened rewrite of 'a' holds
    # values past 10**6, and the residual filter trims its rows
    rr = VStoreReader(
        {"path": vstore, "range": "v:1000000:"}, df.schema
    )
    assert len(rr.partitions()) < total
    got = spark.read.format("vstore").option(
        "range", "v:1000000:"
    ).load(vstore)
    assert sorted((r.k, r.v) for r in got.collect()) == [(1, 2**40)]

    # bloom point probe on k=9 keeps only files whose bloom admits it
    rp = VStoreReader({"path": vstore, "point": "k:9"}, df.schema)
    assert len(rp.partitions()) < total
    got = spark.read.format("vstore").option("point", "k:9").load(vstore)
    assert sorted((r.k, r.v) for r in got.collect()) == [(9, 90)]


def test_shared_view_union_stays_exact(spark, vstore):
    """REGRESSION for the Spark 4.1 shared-relation hazard: a temp
    view referenced twice in ONE query (full + filtered branches of a
    union) shares one Python read plan, so any filter-dependent
    pruning in the reader would leak between branches — the reader
    therefore prunes on OPTIONS only, and this union must be exact."""
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vs_all"
        f" USING vstore OPTIONS (path '{vstore}')"
    )
    rows = {
        r.f: r.n
        for r in spark.sql(
            "SELECT 'full' f, count(*) n FROM vs_all"
            " UNION ALL"
            " SELECT 'slice', count(*) FROM vs_all WHERE v > 25"
        ).collect()
    }
    # latest = {(a,1,2^40), (a,2,20), (b,3,30), (c,9,90)}
    assert rows == {"full": 4, "slice": 3}  # 2^40, 30, 90 pass v > 25


def test_sql_view_using_vstore(spark, vstore):
    """The format composes with plain SQL: a temp view USING vstore
    with a pinned version is time travel in DDL."""
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vs_v1"
        f" USING vstore OPTIONS (path '{vstore}', version '1')"
    )
    row = spark.sql(
        "SELECT count(*) AS n, sum(v) AS s FROM vs_v1"
    ).collect()[0]
    assert (row.n, row.s) == (3, 60)


def test_additive_evolution_null_fills_through_the_source(spark, tmp_path):
    """A post-evolution store read through the source: pre-evolution
    files null-fill the new column at the Arrow layer."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "evolve")
    vs.commit_overwrite(
        spark.createDataFrame([("a", 1, "x")], "part string, k long, v string"),
        store,
        "part",
    )
    vs.commit_upsert(
        spark,
        store,
        spark.createDataFrame(
            [("b", 2, "y", 7)], "part string, k long, v string, extra long"
        ),
        ["part", "k"],
    )
    got = sorted(
        (r.part, r.k, r.v, r.extra)
        for r in spark.read.format("vstore").load(store).collect()
    )
    assert got == [("a", 1, "x", None), ("b", 2, "y", 7)]


def test_range_option_on_partition_column(spark, vstore):
    """REGRESSION (ADVICE r8): a `range` option naming a PARTITION
    column used to admit only the eq op in the residual check, so any
    ge/le bound on it silently returned ZERO rows. Partition-column
    bounds now evaluate by string compare against the file's constant
    partition value — consistent with read_version's residual filter
    on the restored string column."""
    # latest = {(a,1,2^40), (a,2,20), (b,3,30), (c,9,90)}
    got = spark.read.format("vstore").option(
        "range", "part:b:"
    ).load(vstore)
    assert sorted((r.part, r.k) for r in got.collect()) == [
        ("b", 3),
        ("c", 9),
    ]
    got = spark.read.format("vstore").option(
        "range", "part:a:b"
    ).load(vstore)
    assert sorted(r.part for r in got.collect()) == ["a", "a", "b"]
    # a point (eq) probe on the partition column keeps working
    got = spark.read.format("vstore").option("point", "part:c").load(vstore)
    assert [(r.part, r.k, r.v) for r in got.collect()] == [("c", 9, 90)]


def test_schema_resolution_pins_the_reader_version(spark, vstore):
    """REGRESSION (ADVICE r8): with no `version` option, schema() and
    the reader used to resolve current_version() independently — a
    commit landing between the two calls made the reader scan the NEW
    manifest under the OLD resolved schema. schema() now pins its
    resolved version into the options the reader receives, so one read
    sees one snapshot even if a commit lands in the gap."""
    import engine.versioned_store as vs
    from engine.sources.vstore_datasource import VStoreDataSource

    from pyspark.sql.types import _parse_datatype_string

    ds = VStoreDataSource(options={"path": vstore})
    ddl = ds.schema()
    assert ds.options.get("version") == "2"
    # a commit lands between schema resolution and reader construction
    vs.commit_upsert(
        spark,
        vstore,
        spark.createDataFrame([("d", 4, 40)], "part string, k long, v long"),
        ["part", "k"],
    )
    reader = ds.reader(_parse_datatype_string(ddl))
    assert reader.version == 2  # pinned, not the new head (3)
    files_v2 = {e["file"] for e in vs._read_manifest(vstore, 2)["files"]}
    assert {p.path.split("/")[-1] for p in reader.partitions()} == files_v2


def test_caller_schema_keeps_the_both_set_check(spark, vstore):
    """A caller-supplied .schema(...) skips DataSource.schema(), so the
    reader itself must refuse version + timestamp_as_of instead of
    silently reading the version."""
    import time

    from engine.sources.vstore_datasource import VStoreDataSource

    ddl = VStoreDataSource(options={"path": vstore}).schema()
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("vstore")
            .schema(ddl)
            .option("version", 1)
            .option("timestamp_as_of", time.time())
            .load(vstore)
            .collect()
        )
