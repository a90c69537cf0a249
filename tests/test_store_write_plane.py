"""The store's keyed write plane and its driver-built frames.

An upsert stages its rewrite with a ``rebalance`` hint on the
partition columns, so one that touches k partitions adds k files (more
only when a partition outgrows AQE's advisory size), not one per write
task; merge and delete keep the scan's layout but, like the upsert,
write only into the partitions they touch. The frames the store builds on
the driver — the file→partition map, deletion-vector positions, empty
snapshots, the planner's distinct keys — are ``LocalRelation``s, never
a ``parallelize``d ``LogicalRDD`` that runs Python workers. Every test
checks the rows against a plain-Python model as well as the layout.
"""

import datetime
from decimal import Decimal

import pytest

import engine.versioned_store as vs

DDL = "part string, k long, v string"
KEYS = ["part", "k"]


def _base(spark, store, parts=6, rows_per=5):
    """``parts`` partitions of ``rows_per`` rows, each partition spread
    over several files."""
    rows = [
        (f"p{p}", p * 100 + i, f"v{i}")
        for p in range(parts)
        for i in range(rows_per)
    ]
    df = spark.createDataFrame(rows, DDL).repartition(3)
    vs.commit_overwrite(df, store, "part")
    return {(p, k): v for p, k, v in rows}


def _added_partitions(store, version):
    adds, _ = vs._step_delta(store, version)
    return sorted(a["partition"] for a in adds)


def _snapshot(spark, store):
    return {(r.part, r.k): r.v for r in vs.read_version(spark, store).collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_keyed_commits_write_only_touched_partitions(spark, tmp_path):
    store = str(tmp_path / "s")
    model = _base(spark, store)

    # upsert: an update and an insert in each of 3 partitions, the
    # changeset spread over 4 tasks, one new file per partition
    chg = [
        ("p0", 0, "U"), ("p0", 7, "I"),
        ("p2", 201, "U"), ("p2", 207, "I"),
        ("p4", 402, "U"), ("p4", 409, "I"),
    ]
    v = vs.commit_upsert(
        spark, store, spark.createDataFrame(chg, DDL).repartition(4), KEYS
    )
    model.update({(p, k): x for p, k, x in chg})
    assert _added_partitions(store, v) == ["p0", "p2", "p4"]
    assert _snapshot(spark, store) == model

    # merge: update in p1, delete in p3, insert in p5
    src = [("p1", 101, "M"), ("p3", 302, "DEL"), ("p5", 555, "N")]
    v = vs.commit_merge(
        spark,
        store,
        spark.createDataFrame(src, DDL).repartition(3),
        KEYS,
        matched_delete_condition="v = 'DEL'",
    )
    model[("p1", 101)] = "M"
    del model[("p3", 302)]
    model[("p5", 555)] = "N"
    assert set(_added_partitions(store, v)) == {"p1", "p3", "p5"}
    assert _snapshot(spark, store) == model

    # delete: one key in each of 2 partitions
    doomed = [("p0", 1), ("p5", 503)]
    keys = spark.createDataFrame(doomed, "part string, k long")
    v = vs.commit_delete(spark, store, keys.repartition(2), KEYS)
    for key in doomed:
        del model[key]
    assert set(_added_partitions(store, v)) == {"p0", "p5"}
    assert _snapshot(spark, store) == model


def test_upsert_splits_a_partition_past_the_advisory_size(spark, tmp_path):
    store = str(tmp_path / "s")
    rows = [("big", k, f"value-{k:06d}-" + "x" * 40) for k in range(4000)]
    df = spark.createDataFrame(rows, DDL).repartition(4)
    vs.commit_overwrite(df, store, "part")
    model = {(p, k): v for p, k, v in rows}
    chg = [("big", k, f"new-{k}") for k in range(0, 8000, 4)]
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        v = vs.commit_upsert(
            spark, store, spark.createDataFrame(chg, DDL).repartition(4), KEYS
        )
    finally:
        spark.conf.set(key, old)
    model.update({(p, k): x for p, k, x in chg})
    added = _added_partitions(store, v)
    assert len(added) >= 2 and set(added) == {"big"}
    assert _snapshot(spark, store) == model


def test_store_frames_are_local_relations(spark, tmp_path):
    store = str(tmp_path / "s")
    _base(spark, store, parts=3)
    chg = spark.createDataFrame([("p1", 100, "U"), ("p1", 199, "I")], DDL)

    # the upsert's anti-join side: the planner's distinct keys
    prev = vs._read_manifest(store, 1)
    _, rewrite, _, key_frame = vs._plan_file_rewrite(
        chg, KEYS, ["part"], prev, store, 1
    )
    assert rewrite
    plan = _plan(key_frame)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert sorted(tuple(r) for r in key_frame.collect()) == [
        ("p1", 100), ("p1", 199),
    ]

    v2 = vs.commit_upsert(spark, store, chg, KEYS)
    # a deletion vector adds the (file, position) frame to the read
    v3 = vs.commit_delete(
        spark,
        store,
        spark.createDataFrame([("p0", 2)], "part string, k long"),
        KEYS,
        merge_on_read=True,
    )
    for df in (
        vs.read_version(spark, store, v2),
        vs.read_version(spark, store, v3),
        vs.table_changes(spark, store, 1, v2, KEYS),
        vs.table_changes(spark, store, v2, v3, KEYS),
    ):
        plan = _plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    feed = sorted(
        (r.k, r._change_type)
        for r in vs.table_changes(spark, store, 1, v2, KEYS).collect()
    )
    assert feed == [
        (100, "update_postimage"), (100, "update_preimage"), (199, "insert"),
    ]

    # an emptied store reads as an empty LocalRelation with its schema
    keys = vs.read_version(spark, store, v3).select("part", "k")
    v4 = vs.commit_delete(spark, store, keys, KEYS)
    empty = vs.read_version(spark, store, v4)
    assert "LogicalRDD" not in _plan(empty)
    assert empty.count() == 0
    assert empty.columns == ["k", "v", "part"]


_TYPED_KEYS = {
    "int": [7, -3],
    "bigint": [1 << 40, -(1 << 40)],
    "string": ["alpha", "b=eta"],
    "date": [datetime.date(2024, 2, 29), datetime.date(1999, 12, 31)],
    "timestamp": [
        datetime.datetime(2024, 2, 29, 13, 5, 7, 123456),
        datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
    ],
    "decimal(10,2)": [Decimal("12345678.91"), Decimal("-0.05")],
    "boolean": [True, False],
}


def _apply(rows, keys, changes=()):
    """SQL key semantics: a key with a NULL component matches no row."""
    doomed = {key for key in keys if None not in key}
    return [r for r in rows if (r[0], r[1]) not in doomed] + list(changes)


def _sorted(rows):
    return sorted(rows, key=repr)


@pytest.mark.parametrize("ktype", list(_TYPED_KEYS))
def test_typed_keys_upsert_and_delete_match_model(spark, tmp_path, ktype):
    a, b = _TYPED_KEYS[ktype]
    ddl = f"part string, k {ktype}, v string"
    store = str(tmp_path / "s")
    rows = [("x", a, "1"), ("x", b, "2"), ("y", a, "3"), ("y", None, "4")]
    vs.commit_overwrite(spark.createDataFrame(rows, ddl), store, "part")

    def snap():
        got = vs.read_version(spark, store).select("part", "k", "v")
        return _sorted(tuple(r) for r in got.collect())

    chg = [("x", a, "U"), ("y", b, "I"), ("y", None, "N")]
    vs.commit_upsert(spark, store, spark.createDataFrame(chg, ddl), KEYS)
    rows = _apply(rows, [(p, k) for p, k, _ in chg], chg)
    assert snap() == _sorted(rows)

    doomed = [("x", b), ("y", None), ("y", a)]
    keys = spark.createDataFrame(doomed, f"part string, k {ktype}")
    vs.commit_delete(spark, store, keys, KEYS)
    rows = _apply(rows, doomed)
    assert snap() == _sorted(rows)
