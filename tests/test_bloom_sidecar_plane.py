"""Round-11 bloom sidecar delta+checkpoint plane: incremental commits
write only their NEW files' blooms plus a ``base`` pointer (O(new
files) sidecar I/O — pre-round-11 every commit re-serialized the whole
table's blooms); checkpoint-cadence versions materialize the resolved
map as a binary parquet checkpoint restricted to live files; vacuum
consolidates the oldest retained sidecar before dropping its chain.
Point-read pruning must be indistinguishable from the full-form
behavior throughout."""

import json
import os

import engine.versioned_store as vs


def _bloomed(spark, store, n=64):
    df = spark.createDataFrame(
        [("p", k, f"v:{k}") for k in range(n)],
        "part string, k long, v string",
    ).repartitionByRange(4, "k")
    vs.commit_overwrite(df, store, "part", bloom_cols=["k"], bloom_bits=256)


def _bump(spark, store, k, tag):
    chg = spark.createDataFrame(
        [("p", k, tag)], "part string, k long, v string"
    )
    return vs.commit_upsert(spark, store, chg, ["part", "k"])


def test_incremental_sidecar_is_delta_form(spark, tmp_path):
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    v2 = _bump(spark, store, 5, "NEW")

    raw = json.load(open(vs._bloom_path(store, v2)))
    assert raw["base"] == 1
    m2 = vs._read_manifest(store, v2)
    new_files = {
        e["file"] for e in m2["files"] if e["file"].startswith("v00002")
    }
    assert set(raw["files"]) == new_files  # ONLY the commit's churn

    resolved = vs._read_bloom_sidecar(store, v2)
    assert "base" not in resolved
    # every live file has a bloom after resolution
    assert {e["file"] for e in m2["files"]} <= set(resolved["files"])

    # and pruning through the resolved chain still works: probing a
    # key present in exactly one range file admits few files
    kept = vs._bloom_prune(
        m2["files"], resolved, {"k": 40}
    )
    assert 1 <= len(kept) < len(m2["files"])
    got = vs.read_version(spark, store, v2, point_filters={"k": 5})
    assert [r.v for r in got.collect()] == ["NEW"]


def test_checkpoint_cadence_writes_parquet(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(vs, "_CHECKPOINT_INTERVAL", 4)
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    for i in range(2, 6):  # versions 2..5; v4 is checkpoint cadence
        _bump(spark, store, i, f"u{i}")

    assert os.path.exists(vs._bloom_ckpt_path(store, 4))
    assert not os.path.exists(vs._bloom_path(store, 4))
    ck = vs._read_bloom_checkpoint(vs._bloom_ckpt_path(store, 4))
    m4 = vs._read_manifest(store, 4)
    live = {e["file"] for e in m4["files"]}
    # the checkpoint is restricted to v4's live files — rewritten-away
    # files' stale blooms are gone
    assert set(ck["files"]) <= live
    # v5's delta bases on the checkpointed v4 and still resolves fully
    raw5 = json.load(open(vs._bloom_path(store, 5)))
    assert raw5["base"] == 4
    r5 = vs._read_bloom_sidecar(store, 5)
    m5 = vs._read_manifest(store, 5)
    assert {e["file"] for e in m5["files"]} <= set(r5["files"])
    got = vs.read_version(spark, store, 5, point_filters={"k": 3})
    assert [r.v for r in got.collect()] == ["u3"]


def test_vacuum_consolidates_oldest_retained_sidecar(spark, tmp_path):
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    for i in range(2, 6):
        _bump(spark, store, 40 + i, f"u{i}")
    # keep v4,v5: v4's sidecar is a delta based on v3 (dropped)
    raw4 = json.load(open(vs._bloom_path(store, 4)))
    assert raw4["base"] == 3
    vs.vacuum(store, keep_latest=2)
    assert os.path.exists(vs._bloom_ckpt_path(store, 4))
    assert not os.path.exists(vs._bloom_path(store, 4))
    for v in (4, 5):
        r = vs._read_bloom_sidecar(store, v)
        live = {e["file"] for e in vs._read_manifest(store, v)["files"]}
        assert live <= set(r["files"])
    got = vs.read_version(spark, store, 5, point_filters={"k": 45})
    assert [r.v for r in got.collect()] == ["u5"]


def test_sink_append_writes_delta_sidecar(spark, tmp_path):
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    spark.createDataFrame(
        [("p", 1000, "app")], "part string, k long, v string"
    ).write.format("vstore").mode("append").save(store)
    v2 = vs.current_version(store)
    raw = json.load(open(vs._bloom_path(store, v2)))
    assert raw.get("base") == 1 and len(raw["files"]) == 1
    got = vs.read_version(spark, store, v2, point_filters={"k": 1000})
    assert [r.v for r in got.collect()] == ["app"]


def test_restore_and_clone_copy_resolved_full_form(spark, tmp_path):
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    v2 = _bump(spark, store, 5, "NEW")
    v3 = vs.restore(store, 1)
    raw3 = json.load(open(vs._bloom_path(store, v3)))
    assert "base" not in raw3  # resolved full form, chain-independent
    got = vs.read_version(spark, store, v3, point_filters={"k": 5})
    assert [r.v for r in got.collect()] == ["v:5"]

    dst = str(tmp_path / "clone")
    vs.clone_store(spark, store, dst, version=v2)
    rawc = json.load(open(vs._bloom_path(dst, 1)))
    assert "base" not in rawc
    got = vs.read_version(spark, dst, 1, point_filters={"k": 5})
    assert [r.v for r in got.collect()] == ["NEW"]


def test_write_admission_respects_sidecar_k(spark, tmp_path, monkeypatch):
    """REGRESSION (review r11 #3): bloom probes must use the probed
    sidecar's recorded k, not the build default — an over-k probe
    against a smaller-k sidecar can wrongly prove a PRESENT key
    absent, silently skipping a delete's rewrite."""
    store = str(tmp_path / "s")
    monkeypatch.setattr(vs, "_BLOOM_K", 2)  # store written with k=2
    _bloomed(spark, store)
    assert json.load(open(vs._bloom_path(store, 1)))["k"] == 2
    monkeypatch.setattr(vs, "_BLOOM_K", 4)  # engine now defaults k=4

    # read path: the k=2 sidecar still prunes correctly
    got = vs.read_version(spark, store, 1, point_filters={"k": 7})
    assert [r.v for r in got.collect()] == ["v:7"]
    # write path: the delete must find and rewrite the k=7 file
    v2 = vs.commit_delete(
        spark,
        store,
        spark.createDataFrame([("p", 7)], "part string, k long"),
        ["part", "k"],
    )
    got = sorted(r.k for r in vs.read_version(spark, store, v2).collect())
    assert 7 not in got and len(got) == 63


def test_dv_commit_keeps_the_sidecar_k(spark, tmp_path, monkeypatch):
    """A commit that builds no new bloom (a deletion-vector delete) on a
    store whose newest sidecar has k != _BLOOM_K keeps that k and
    chains to it, so the carried files' blooms survive — one rule for
    the engine's commits and the sink's."""
    store = str(tmp_path / "s")
    monkeypatch.setattr(vs, "_BLOOM_K", 2)  # store written with k=2
    _bloomed(spark, store)
    monkeypatch.setattr(vs, "_BLOOM_K", 4)  # engine now defaults k=4
    v2 = vs.commit_delete(
        spark,
        store,
        spark.createDataFrame([("p", 7)], "part string, k long"),
        ["part", "k"],
        merge_on_read=True,
    )
    files = vs._read_manifest(store, v2)["files"]
    assert any("dv" in e for e in files)
    raw = json.load(open(vs._bloom_path(store, v2)))
    assert raw["k"] == 2 and raw["base"] == 1 and raw["files"] == {}
    resolved = vs._read_bloom_sidecar(store, v2)
    assert {e["file"] for e in files} <= set(resolved["files"])
    kept = vs._bloom_prune(files, resolved, {"k": 40})
    assert 1 <= len(kept) < len(files)
    got = vs.read_version(spark, store, v2, point_filters={"k": 8})
    assert [r.v for r in got.collect()] == ["v:8"]


def test_cdf_option_conflicts_raise(spark, tmp_path):
    """REGRESSION (review r11 #8): to_version+to_timestamp through
    the data source raises instead of silently preferring one."""
    import pytest as _pytest

    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store = str(tmp_path / "s")
    _bloomed(spark, store)
    with _pytest.raises(Exception, match="not both"):
        (
            spark.read.format("vstore")
            .option("read_changes", "true")
            .option("key_cols", "part,k")
            .option("from_version", 0)
            .option("to_version", 1)
            .option("to_timestamp", "9999999999")
            .load(store)
            .collect()
        )
