"""Plain-parquet sinks for the refresh paths: the whole-directory
publish (stage in a sibling directory, swap it in by rename) and the
two partition-scoped writes (the changeset merge and the dynamic
partition overwrite it is built on).

Versioned tables — file-granular commits, compaction, z-order, key
deletes, bloom skipping, time travel — live in engine.versioned_store.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")


def publish_dir(path: str, prefix: str, write: Callable[[str], _T]) -> _T:
    """Publish a whole directory at ``path``; returns ``write``'s result.

    ``write(staging)`` fills a fresh sibling directory (``prefix-*``,
    the parent is created if missing). The staging directory then
    replaces ``path`` by two renames: the current directory (if any)
    moves aside to ``prefix-old-*``, staging moves in, and a failed
    second rename moves the old directory back. A reader only ever sees
    the old directory or the new one, never a partial state, and a
    failed ``write`` leaves the old directory untouched. The staging
    directory is always removed. Local-filesystem rename semantics; on
    object stores use a transactional table format instead."""
    parent = str(Path(path).parent)
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=f"{prefix}-", dir=parent)
    try:
        result = write(staging)
        retired = tempfile.mktemp(prefix=f"{prefix}-old-", dir=parent)
        if os.path.isdir(path):
            os.rename(path, retired)
        try:
            os.rename(staging, path)
        except OSError:
            if os.path.isdir(retired):
                os.rename(retired, path)  # roll back: republish the old data
            raise
        shutil.rmtree(retired, ignore_errors=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return result


def apply_changeset_partitioned(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    key_cols: list[str],
    changeset: DataFrame,
) -> int:
    """Apply an upsert CHANGESET to a partitioned parquet table — the
    MERGE INTO application half of incremental rollup maintenance
    (``rollup_upsert_cells`` computes the minimal write set; this
    writes it). Each changeset row (already in the STORED schema,
    keyed by ``key_cols``) updates its existing cell or inserts a new
    one; ONLY partitions holding a changed key are rewritten, every
    other partition's files stay byte-untouched. Returns the number of
    partitions rewritten.

    Plan: the changeset's partition values (bounded by the changeset,
    which is bounded by cells-the-delta-touched) prune the base scan to
    the affected partitions; survivors (affected-partition rows whose
    key is NOT in the changeset) union the changeset rows and
    republish via dynamic partition overwrite. At 100 TB a daily
    refresh therefore rewrites the handful of partitions with arrivals
    — never the rollup. Re-applying the same changeset rewrites the
    same partitions to the same contents (idempotent).

    Durability: the merged rows are STAGED to a sibling directory
    before the target is touched — overwriting a path while a live
    plan still reads it is undefined on every filesystem — so the
    overwrite never races its own input and a mid-write failure leaves
    the original table intact.
    """
    from pyspark.sql import functions as F

    touched = changeset.select(*partition_by).distinct().collect()
    if not touched:
        return 0
    base = spark.read.parquet(path)
    pred = None
    for row in touched:
        clause = None
        for c in partition_by:
            # eqNullSafe: a NULL-valued partition must still be
            # selected (plain == yields NULL and its old cell rows
            # would duplicate against the changeset's replacements).
            p = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = p if clause is None else (clause & p)
        pred = clause if pred is None else (pred | clause)
    survivors = base.filter(pred).join(
        F.broadcast(changeset.select(*key_cols).distinct()),
        key_cols,
        "left_anti",
    )
    merged = survivors.unionByName(changeset.select(*base.columns))
    staging = path.rstrip("/") + ".__merge_staging__"
    try:
        merged.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        overwrite_partitions_dynamic(staged, path, partition_by)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return len(touched)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Overwrite ONLY the Hive partitions present in ``df``, leaving
    every other partition untouched — the idempotent daily-reload
    primitive (re-running yesterday's load replaces yesterday's
    partitions, never truncates the table). Static overwrite (the
    default) would drop ALL partitions first; at 100 TB that is the
    difference between rewriting one day and rewriting three years.
    The mode is a per-write option, not the session conf, which is
    shared by every thread that writes through this session.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
