"""A minimal versioned parquet store — manifest-pinned snapshots with
time travel and vacuum (the operational floor under the versioning
layer in ``engine/operators/versioning.py``).

``engine.sinks.publish_dir`` gives atomic REPLACEMENT: readers see the old
corpus or the new one, but the old one is gone the moment the rename
lands. Production corpus management needs the previous versions to
stay READABLE (diff a candidate against what trained last month, roll
back a bad refresh, reproduce an old run) without paying full storage
per version. The standard answer — Delta/Iceberg's core idea — is
copy-on-write at FILE granularity with a manifest per version:

    store/
      data/v00001-....parquet     immutable data files, never rewritten
      _manifests/v00001.json      the exact file set (plus the file's
      _manifests/v00002.json      partition value and row count)
      _manifests/CURRENT          monotonic latest-version HINT (the
                                  claim is the commit point; see
                                  current_version)

* ``commit_overwrite`` — a full snapshot: new files + a manifest
  listing only them.
* ``commit_upsert`` — the merge path: ONLY files whose footer stats
  or bloom sidecar ADMIT a changed key get rewritten (round 11's
  file-granular copy-on-write, ``_plan_file_rewrite``); the new
  manifest carries every other entry forward, so version n+1 costs
  the files holding changed keys, not the partition, never the table.
* ``commit_delete`` — copy-on-write deletion (the GDPR path); with
  ``vacuum`` it is a PROVABLE purge, because the only files that ever
  held the key are the rewritten partitions' old files.
* ``read_version`` — any manifest is a complete, immutable snapshot;
  an optional partition filter prunes FILES from the manifest before
  Spark ever lists anything. Schema evolution supported: ADDITIVE
  (evolved and carried-forward partitions union with null-fill) and
  TYPE-WIDENING (int ladder / float->double — the recorded schema is
  the reconciled union via ``_merge_ddl``; narrow on-disk files
  upcast at read time, nothing is rewritten). Off-ladder type changes
  raise at commit time.
* ``version_diff`` — diff two versions reading only their unshared
  files; ``compact_version`` — same rows, fewer files; ``rollback`` —
  zero-copy promotion of an old file set as a new version.
* ``vacuum`` — deletes data files no retained manifest references
  (the only destructive operation, and it names what it removed).

Concurrency: a version's manifest is claimed by atomic hard link, so
racing writers cannot both commit the same version. By default the
loser raises CommitConflict (strict single-writer); incremental
commits may instead opt into optimistic concurrency
(``max_retries`` > 0): the loser re-reads the claimed history, and if
every commit that landed since its base touched only DISJOINT
partitions, re-points its already-staged files at the new head and
claims again — Delta's logical conflict detection, at the partition
granularity this store's copy-on-write makes exact. Overlapping
partitions, concurrent overwrite/compaction, or a concurrent schema
change still raise (a real multi-writer deployment additionally wants
a transactional catalog for the claim itself).

Metadata plane (round 10 — CHECKPOINTED, the Delta-log shape):
incremental commits write DELTA manifests — only their adds and
removes, O(touched partitions) JSON — and every
``_CHECKPOINT_INTERVAL``-th commit also materializes a columnar
parquet checkpoint of the resolved file list; readers resolve
checkpoint + delta tail. Per-commit manifest I/O therefore no longer
scales with the table (pre-round-10, every commit re-serialized every
live entry: ~11 MB of JSON per commit at 100k files, ~110 MB at 1M).
MEASURED, not assumed (tools/store_probe.py, SCALE_PROBE.md §store):
at 100,000 files a one-partition refresh commits 8.5 KB of delta JSON
in 18 ms median (1,300× less I/O than the 11.1 MB full manifest it
replaced), the amortized checkpoint commit takes 119 ms, and head
resolution (504 KB parquet checkpoint + ≤16 small deltas) runs
171 ms. The data plane — scan, shuffle, write — stays fully
distributed, per-file partition values give catalog-side pruning with
zero listing RPCs, and snapshot reads are a single scan plus a
broadcast file→partition join (``_load_entries``), so read planning
stays O(1) Spark jobs at any partition count. Bloom sidecars follow
the SAME delta+checkpoint shape since round 11: an incremental
commit's sidecar carries only its new files' blooms plus a ``base``
pointer, and checkpoint-cadence versions materialize the resolved map
as binary parquet (measured at 512 files × 2 columns: 5.2 KB per
commit vs the 2.65 MB full JSON the pre-round-11 form re-wrote every
commit — 507×; the parquet checkpoint is 5× smaller than the JSON
form it replaces). Sidecars stay OUT of the manifest so plain reads
never pay for them; they load only when a point lookup asks.

The vstore Spark data source (engine/sources/vstore_datasource.py,
vstore_stream.py) reads and writes through this module's rules rather
than copies of them: ``_resolve_version`` (version or timestamp, else
the head), ``_select_entries`` (partition, range-stats and bloom
pruning), ``_snapshot_ddl``, ``_columns_ddl``,
``_check_retired_names`` and the sidecar writer (``_sidecar_plan`` +
``_write_blooms``; ``_maybe_write_blooms`` builds the blooms with
Spark first, the sink's executors build their own).

Reference parity note: the reference engine has no storage versioning
(SURVEY.md §2.3); Layer-B capability per §6's production-pipeline
mandate.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "_manifests"
_DATA = "data"


def _local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A driver-built frame (``rows`` of tuples in ``ddl`` column
    order) that never runs Python workers. ``createDataFrame`` on a
    list goes through ``parallelize`` in classic PySpark (a
    ``LogicalRDD`` whose every scan is a Python-worker job); an Arrow
    table becomes a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` and a
    JVM-side RDD above it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = spark._parse_ddl(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _mdir(store: str) -> str:
    return os.path.join(store, _MANIFESTS)


def _manifest_path(store: str, version: int) -> str:
    return os.path.join(_mdir(store), f"v{version:05d}.json")


def current_version(store: str) -> int:
    """Latest committed version, 0 if the store is empty/new.

    The COMMIT POINT is the manifest claim: a claimed manifest is
    complete and immutable by construction (fully written before the
    atomic link, listing already-staged immutable files), exactly like
    a Delta log entry. The CURRENT file is a monotonic HINT written
    last — so the latest version is the claimed head, with CURRENT as
    a floor. Taking the max (rather than trusting CURRENT alone)
    means a writer that crashed — or is still building its bloom
    sidecar — between claim and advance cannot hide a newer rebased
    commit, wedge later commits, or let vacuum drop the version
    readers resolve."""
    vs = versions(store)
    head = vs[-1] if vs else 0
    cur = os.path.join(_mdir(store), "CURRENT")
    if not os.path.exists(cur):
        return head
    with open(cur, encoding="utf-8") as f:
        return max(head, int(f.read().strip()))


def versions(store: str) -> list[int]:
    """All retained versions, ascending (vacuum may have dropped the
    oldest manifests along with their unshared files)."""
    if not os.path.isdir(_mdir(store)):
        return []
    return sorted(
        int(name[1:6])
        for name in os.listdir(_mdir(store))
        if name.startswith("v") and name.endswith(".json")
    )


def _read_manifest_raw(store: str, version: int) -> dict:
    """The manifest EXACTLY as written: either snapshot form (a
    ``files`` list — overwrites, compactions, pre-round-10 history)
    or delta form (``delta: {base, adds, removes}`` — incremental
    commits). Metadata-only callers (committed_at, partition_col,
    columns, streaming_batch, merge counts) should read this: every
    manifest is self-describing except for its file list."""
    with open(_manifest_path(store, version), encoding="utf-8") as f:
        return json.load(f)


# -- manifest checkpointing (round 10) ------------------------------------------
#
# Through round 9 every manifest carried the COMPLETE live-file list:
# each commit re-serialized O(all files) JSON and every read re-parsed
# it — ~110 MB per commit/plan at 1M files, the store's one remaining
# O(table-metadata) ceiling (round-9 verdict #1). Round 10 adopts the
# Delta-log shape:
#
#   * incremental commits write a DELTA manifest — only the entries
#     they added and the (file, partition) pairs they removed, keyed
#     to the base version they applied against — so commit I/O is
#     O(touched partitions), never O(table);
#   * every ``_CHECKPOINT_INTERVAL``-th commit ALSO writes a parquet
#     CHECKPOINT (_manifests/ckpt-vNNNNN.parquet) holding the resolved
#     file list — columnar, so 100k entries parse in milliseconds
#     (Delta's checkpoint.parquet; written AFTER the claim, so a crash
#     between the two merely lengthens the next reader's delta walk);
#   * readers resolve a version by walking its delta chain back to the
#     nearest checkpoint or snapshot-form manifest and replaying the
#     deltas forward — O(interval) small JSONs + one columnar read.
#
# Snapshot-form manifests (commit_overwrite, compact_version, clone,
# every pre-round-10 manifest) ARE their own checkpoint, so old stores
# read unchanged and the two forms interleave freely. ``vacuum``
# materializes a checkpoint for the oldest retained version before
# dropping the older manifests its delta chain passed through.

_CHECKPOINT_INTERVAL = 16


def _ckpt_path(store: str, version: int) -> str:
    # 'ckpt-' prefix keeps it out of the v*.json glob in versions()
    return os.path.join(_mdir(store), f"ckpt-v{version:05d}.parquet")


# checkpoint columns: nullable bytes/stats so entries from manifests
# predating those fields round-trip without inventing values
def _write_checkpoint(store: str, version: int, entries: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "file": pa.array([e["file"] for e in entries], pa.string()),
            "partition": pa.array(
                [json.dumps(e["partition"]) for e in entries], pa.string()
            ),
            "n_rows": pa.array(
                [e.get("n_rows") for e in entries], pa.int64()
            ),
            "bytes": pa.array(
                [e.get("bytes") for e in entries], pa.int64()
            ),
            "stats": pa.array(
                [
                    None if e.get("stats") is None else json.dumps(e["stats"])
                    for e in entries
                ],
                pa.string(),
            ),
            # deletion vectors (round 11) MUST round-trip: a dropped
            # dv at a checkpoint-cadence version would resurrect the
            # deleted rows for every read resolving through it
            # (review r11 #1 — found by repro before any release)
            "dv": pa.array(
                [
                    None if e.get("dv") is None else json.dumps(e["dv"])
                    for e in entries
                ],
                pa.string(),
            ),
        }
    )
    fd, tmp = tempfile.mkstemp(dir=_mdir(store))
    os.close(fd)
    pq.write_table(table, tmp)
    os.rename(tmp, _ckpt_path(store, version))


def _read_checkpoint(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    cols = pq.read_table(path).to_pydict()
    out = []
    for i in range(len(cols["file"])):
        e = {
            "file": cols["file"][i],
            "partition": json.loads(cols["partition"][i]),
        }
        if cols["n_rows"][i] is not None:
            e["n_rows"] = cols["n_rows"][i]
        if cols["bytes"][i] is not None:
            e["bytes"] = cols["bytes"][i]
        if cols["stats"][i] is not None:
            e["stats"] = json.loads(cols["stats"][i])
        # pre-round-11 checkpoints have no dv column
        if cols.get("dv") and cols["dv"][i] is not None:
            e["dv"] = json.loads(cols["dv"][i])
        out.append(e)
    return out


def _resolve_entries(store: str, version: int, raw: dict) -> list[dict]:
    """The complete file list of a delta-form manifest: walk the base
    chain back to the nearest checkpoint or snapshot-form manifest,
    then replay the deltas forward (removes before adds — a rewrite
    commit removes a partition's old files and adds its new ones)."""
    chain: list[dict] = []
    v, man = version, raw
    while "files" not in man:
        ck = _ckpt_path(store, v)
        if os.path.exists(ck):
            entries = _read_checkpoint(ck)
            break
        d = man["delta"]
        chain.append(d)
        v = d["base"]
        if v == 0:
            entries = []
            break
        try:
            man = _read_manifest_raw(store, v)
        except FileNotFoundError as exc:
            raise ValueError(
                f"version {version} resolves through version {v}, whose"
                " manifest was vacuumed away without a checkpoint —"
                " store metadata is corrupt (vacuum checkpoints the"
                " oldest retained version before dropping history)"
            ) from exc
    else:
        entries = man["files"]
    for d in reversed(chain):
        removed = {r["file"] for r in d["removes"]}
        entries = [e for e in entries if e["file"] not in removed]
        entries = entries + d["adds"]
    return entries


def _read_manifest(store: str, version: int) -> dict:
    """The manifest with its file list MATERIALIZED: snapshot-form
    manifests return as written; delta-form manifests resolve through
    ``_resolve_entries`` and surface the same ``files`` shape, so
    every consumer sees one format regardless of how the version was
    committed."""
    raw = _read_manifest_raw(store, version)
    if "files" in raw:
        return raw
    out = {k: v for k, v in raw.items() if k != "delta"}
    out["files"] = _resolve_entries(store, version, raw)
    return out


def _step_delta(store: str, version: int) -> tuple[list, list] | None:
    """(adds, removes) when ``version`` is a delta commit based on
    ``version - 1`` — the exact unshared-file sets vs its predecessor,
    read in O(delta) — else None (snapshot-form manifest, or a delta
    against a different base). Removes entries carry {file, partition,
    n_rows, dv}; adds are full manifest entries."""
    raw = _read_manifest_raw(store, version)
    d = raw.get("delta")
    if d is not None and d["base"] == version - 1:
        return d["adds"], d["removes"]
    return None


def _claim_incremental(
    store: str,
    manifest: dict,
    base_v: int,
    new_entries: list[dict],
    removes: list[dict],
    full_entries: list[dict],
) -> None:
    """Claim an incremental commit in DELTA form and, when the version
    lands on the checkpoint cadence, materialize its parquet
    checkpoint. ``full_entries`` (carried + new) is what the caller
    already assembled to compute the carry-forward — it is only
    serialized on checkpoint versions."""
    manifest = dict(manifest)
    manifest.pop("files", None)
    manifest["delta"] = {
        "base": base_v,
        "adds": new_entries,
        # removes carry n_rows so change-feed planning can size its
        # per-task diff units straight from the delta (no resolution),
        # and dv so a single-step feed can reconstruct the pre-image
        # of a file whose deletion vector this commit replaced
        "removes": [
            {
                "file": r["file"],
                "partition": r["partition"],
                **(
                    {"n_rows": r["n_rows"]} if "n_rows" in r else {}
                ),
                **({"dv": r["dv"]} if "dv" in r else {}),
            }
            for r in removes
        ],
    }
    _claim_manifest(store, manifest)
    if manifest["version"] % _CHECKPOINT_INTERVAL == 0:
        _write_checkpoint(store, manifest["version"], full_entries)


def version_at_timestamp(store: str, ts: float) -> int:
    """Timestamp time travel (Delta's ``timestampAsOf``): the latest
    RETAINED version whose commit landed at or before ``ts`` (epoch
    seconds — each manifest records ``committed_at`` at its claim).
    Raises when ``ts`` predates the oldest retained commit (vacuum may
    have dropped the version that was current then — resolving to a
    LATER version would silently lie about history).

    Commit times are MONOTONIZED during the scan (Delta does the same
    at resolution): a wall-clock step backwards — or skewed hosts
    sharing a store — can stamp v(n+1) earlier than v(n), and the
    effective commit time of a version is then the max recorded time
    over it and every older version (a version cannot become visible
    before its predecessor did). Concretely, scanning NEWEST-first:
    a version stamped AFTER ``ts`` invalidates every newer candidate,
    because monotonization lifts their effective times past ``ts``
    too (ADVICE r9; ``_claim_manifest`` also clamps at claim time, so
    non-monotonic stamps only arise from pre-clamp history or clock-
    skewed writers). A pre-round-9 manifest with no recorded commit
    time ends the scan: it predates timestamp recording entirely, so
    it cannot invalidate a newer timestamped candidate (round-9
    review: the first cut read every manifest and raised on any
    untimestamped one)."""
    candidate = None
    for v in reversed(versions(store)):
        at = _read_manifest_raw(store, v).get("committed_at")
        if at is None:
            if candidate is not None:
                return candidate
            raise ValueError(
                f"version {v} has no recorded commit time (manifest"
                f" predates timestamp recording) and no newer version"
                f" was committed at or before {ts}; pin by version"
                " instead"
            )
        if at <= ts:
            if candidate is None:
                candidate = v
        else:
            # stamped after ts: every NEWER version's monotonized
            # commit time is >= this one's, so no candidate above
            # this version is actually visible at ts
            candidate = None
    if candidate is not None:
        return candidate
    raise ValueError(f"no retained version committed at or before {ts}")


def _resolve_version(
    store: str, version, timestamp, names: tuple[str, str], head: bool = True
) -> int | None:
    """The version a read addresses: ``version``, else the version
    current at ``timestamp`` (``version_at_timestamp``), else the head
    — or None when ``head`` is false and neither is set. ``names`` are
    the caller's names for the two arguments, for the error raised
    when both are set. Strings are accepted (data source options)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(f"pass {names[0]} or {names[1]}, not both")
        return version_at_timestamp(store, float(timestamp))
    if version is not None:
        return int(version)
    return current_version(store) if head else None


class CommitConflict(RuntimeError):
    """Another writer committed this version number first — the losing
    commit must re-read CURRENT and retry on top of the winner."""


class ExpectationViolation(ValueError):
    """A commit-time expectation failed in ``on_violation='fail'``
    mode. ``counts`` maps expectation name -> violating-row count."""

    def __init__(self, counts: dict):
        self.counts = counts
        super().__init__(
            "expectation(s) violated: "
            + ", ".join(f"{n}={c} rows" for n, c in sorted(counts.items()))
        )


def _apply_expectations(
    changeset: DataFrame, expectations: dict | None, on_violation: str
):
    """Commit-time data contract (Delta Live Tables' expectations): a
    row PASSES an expectation iff its SQL predicate evaluates to TRUE
    — NULL counts as a violation, because a contract you cannot
    evaluate is not met. One aggregate pass over the CHANGESET ONLY
    (never the table) counts violations per expectation; then either
    the whole commit fails (``fail`` — nothing staged, the store
    untouched) or the violating rows are dropped and the per-
    expectation counts are recorded in the manifest (``drop``) so the
    quality decision is part of the table's history, not a log line.

    Returns (clean_changeset, stats) where stats is {} when every row
    passed (nothing worth recording)."""
    if not expectations:
        return changeset, {}
    if on_violation not in ("fail", "drop"):
        raise ValueError(
            f"on_violation must be 'fail' or 'drop', got {on_violation!r}"
        )
    passes = {
        name: F.coalesce(F.expr(sql).cast("boolean"), F.lit(False))
        for name, sql in expectations.items()
    }
    row = changeset.agg(
        *[
            F.sum(F.when(p, 0).otherwise(1)).cast("bigint").alias(name)
            for name, p in passes.items()
        ]
    ).collect()[0]
    counts = {
        name: int(row[name] or 0)
        for name in expectations
        if (row[name] or 0) > 0
    }
    if not counts:
        return changeset, {}
    if on_violation == "fail":
        raise ExpectationViolation(counts)
    clean = changeset
    for p in passes.values():
        clean = clean.filter(p)
    return clean, {
        "expectations": {
            name: {"violations": counts.get(name, 0), "action": "drop"}
            for name in sorted(expectations)
        }
    }


def _claim_manifest(store: str, manifest: dict) -> None:
    """CLAIM a version by atomic hard link (os.link fails if the name
    exists): two writers computing the same next version cannot both
    win — the loser raises CommitConflict instead of silently
    overwriting the winner's file list. This is the optimistic-
    concurrency check real table formats put in their catalog. The
    linked file is fully written before the link, so a claimed
    manifest is immediately readable by racers rebasing on top of
    it (``versions()`` sees it before CURRENT advances)."""
    os.makedirs(_mdir(store), exist_ok=True)
    # commit wall-clock time, recorded at the COMMIT POINT (the claim)
    # so timestamp time travel (`version_at_timestamp`) resolves
    # against when a version became VISIBLE, not when it was prepared
    # — refreshed on every claim attempt, so a rebased retry carries
    # the time it actually landed. CLAMPED to strictly after the
    # predecessor's recorded time (Delta monotonizes the same way):
    # an NTP step backwards between commits would otherwise stamp
    # v(n+1) earlier than v(n) and skew timestamp time travel
    # (ADVICE r9; version_at_timestamp additionally monotonizes at
    # resolution for histories written before this clamp).
    now = time.time()
    if manifest["version"] > 1:
        try:
            prev_at = _read_manifest_raw(
                store, manifest["version"] - 1
            ).get("committed_at")
            if prev_at is not None:
                now = max(now, prev_at + 1e-4)
        except FileNotFoundError:
            pass  # predecessor vacuumed away: nothing to clamp against
    manifest["committed_at"] = now
    mpath = _manifest_path(store, manifest["version"])
    fd, tmp = tempfile.mkstemp(dir=_mdir(store))
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(json.dumps(manifest, indent=1))
    try:
        os.link(tmp, mpath)  # atomic claim: fails iff mpath exists
    except FileExistsError as exc:
        raise CommitConflict(
            f"version {manifest['version']} already committed at {mpath}"
        ) from exc
    finally:
        os.unlink(tmp)


def _advance_current(store: str, version: int) -> None:
    """Refresh the CURRENT hint after a commit. The claim is the
    commit point (see ``current_version``); CURRENT only floors the
    lookup, so it must never move BACKWARD — a slow writer finishing
    its bloom build after a faster rebased writer already advanced
    past it skips the write instead of regressing the hint. (The
    read-then-write here is unsynchronized; a lost race merely leaves
    the hint low, which ``current_version``'s max() makes harmless.)

    Commit order is claim manifest -> write sidecar -> advance: the
    sidecar lands only AFTER its writer won the version claim, so a
    losing racer can never clobber the winner's sidecar (under the
    old sidecar-first order, a loser's rename could replace the
    winner's bloom-vNNNNN.json with blooms for files the winner never
    committed — wrong pruning drops rows silently)."""
    cur = os.path.join(_mdir(store), "CURRENT")
    try:
        with open(cur, encoding="utf-8") as f:
            if int(f.read().strip()) >= version:
                return
    except FileNotFoundError:
        pass
    fd, tmp = tempfile.mkstemp(dir=_mdir(store))
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.rename(tmp, cur)


def _write_manifest_and_current(store: str, manifest: dict) -> None:
    _claim_manifest(store, manifest)
    _advance_current(store, manifest["version"])


_STAT_TRUNC = 32  # Delta's stats string-truncation width


def _round_up_string(s: str) -> str | None:
    """A bound >= every string with prefix ``s[:_STAT_TRUNC]`` when
    ``s`` is longer than the truncation width: cut to the width, then
    increment the rightmost incrementable character and DROP what
    follows it (Delta's round-up rule — a prefix alone would round the
    max DOWN and let pruning wrongly drop files). Skips the surrogate
    range; returns None when nothing is incrementable (record no stat:
    readers keep the file)."""
    if len(s) <= _STAT_TRUNC:
        return s
    t = s[:_STAT_TRUNC]
    for i in range(len(t) - 1, -1, -1):
        c = ord(t[i])
        if c < 0x10FFFF:
            c += 1
            if 0xD800 <= c <= 0xDFFF:
                c = 0xE000
            return t[:i] + chr(c)
    return None


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] for top-level NUMERIC and STRING columns,
    read from one staged file's parquet footer — the per-file skipping
    stats Delta keeps in its log. Strings follow Delta's truncation
    rule: min is prefix-cut (a prefix is <= the full string, a valid
    lower bound), max is rounded UP by `_round_up_string`. Python's
    code-point comparison, parquet's byte comparison and Spark's
    UTF8String comparison all order UTF-8 identically, so driver-side
    pruning agrees with the engine. A column with no usable min/max in
    some row group (e.g. all-null) records nothing, which readers
    treat conservatively (file kept)."""
    import pyarrow.parquet as pq

    return _footer_stats_md(pq.ParquetFile(path).metadata)


def _footer_stats_md(md) -> dict:
    """`_footer_stats` over an already-opened footer metadata object —
    so a caller that also needs `md.num_rows` (the commit path) opens
    each footer exactly once."""
    out: dict[str, list] = {}
    for ci in range(md.num_columns):
        col = md.schema.column(ci)
        name = col.path  # dotted for nested leaves — excluded below
        is_num = col.physical_type in ("INT32", "INT64", "FLOAT", "DOUBLE")
        is_str = (
            col.physical_type == "BYTE_ARRAY"
            and str(col.logical_type.type) == "STRING"
        )
        if "." in name or not (is_num or is_str):
            continue
        want = str if is_str else (int, float)
        lo = hi = None
        for rg in range(md.num_row_groups):
            try:
                st = md.row_group(rg).column(ci).statistics
                unusable = (
                    st is None
                    or not st.has_min_max
                    # logical types (dates) surface as Python objects —
                    # accept only plain numbers / decoded strings
                    or not isinstance(st.min, want)
                    or isinstance(st.min, bool)
                )
            except Exception:
                # pyarrow raises ArrowNotImplementedError DECODING
                # stats for some logical types (decimal over an int
                # physical type — the .min accessor itself throws); no
                # stats for this column, file kept conservatively on
                # reads (round-9 review chain: surfaced by the decimal
                # DDL regression test)
                unusable = True
            if unusable:
                lo = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            continue
        if is_str:
            lo = lo[:_STAT_TRUNC]
            hi = _round_up_string(hi)
            if hi is None:
                continue
        out[name] = [lo, hi]
    return out


# -- multi-column partitioning (round 8) ---------------------------------------
#
# The canonical 100 TB layout is a COMPOSITE partition — (source, day)
# for a corpus, (region, date) for facts — so every commit/read path
# accepts either one partition column (the original API, manifest
# format unchanged: string pcol, string partition value) or a list
# (manifest stores lists). `_norm_pcols` / `_norm_pval` normalize both
# shapes to lists/tuples internally; the single-column forms are kept
# byte-identical on disk so every pre-existing store stays readable.


def _norm_pcols(pcol) -> list[str]:
    return [pcol] if isinstance(pcol, str) else list(pcol)


def _norm_pval(partition) -> tuple:
    return (
        (partition,) if isinstance(partition, str) else tuple(partition)
    )


def _man_pcol(pcols: list[str]):
    """Manifest form: the bare string for single-column stores (the
    original format), the list otherwise."""
    return pcols[0] if len(pcols) == 1 else pcols


def _man_pval(pval: tuple):
    return pval[0] if len(pval) == 1 else list(pval)


def _apply_column_map(
    df: DataFrame,
    column_map: dict | None,
    dropped: list | None = None,
) -> DataFrame:
    """Rename LOGICAL columns to their frozen PHYSICAL names before
    staging (column-mapping evolution, round 10): data files always
    carry the physical names, so a rename never rewrites a byte and
    every file in a version shares one name space. A new logical
    column whose name collides with a retired physical name — a
    renamed column's original, or a DROPPED column's tombstone — is
    rejected: carried files still hold the dead physical data, and a
    same-named new column would silently resurrect it from them."""
    if not column_map and not dropped:
        return df
    column_map = column_map or {}
    _check_retired_names(df.columns, column_map, dropped)
    return df.select(
        *(
            F.col(c).alias(column_map[c]) if c in column_map else F.col(c)
            for c in df.columns
        )
    )


def _check_retired_names(
    names: list[str], column_map: dict, dropped: list | None
) -> None:
    """Reject an unmapped column named like a retired physical name (a
    renamed column's original, or a dropped column's tombstone)."""
    occupied = set(column_map.values()) | set(dropped or ())
    for c in names:
        if c not in column_map and c in occupied:
            raise ValueError(
                f"column name {c!r} is the physical name of a renamed"
                " or dropped column; pick a different name (or"
                " compact/overwrite to materialize the evolution"
                " first)"
            )


def _stage_files(
    df: DataFrame,
    store: str,
    version: int,
    partition_col,
    column_map: dict | None = None,
    dropped: list | None = None,
) -> list[dict]:
    """Write ``df`` partitioned by ``partition_col`` (one column or a
    list — composite partitioning) to a staging dir, then move each
    part file into data/ under a version-unique name. Returns the new
    manifest entries ({file, partition, n_rows, bytes,
    stats}); ``stats`` carries the numeric columns' per-file min/max
    (``_footer_stats``) so reads can prune files catalog-side on range
    predicates. The footer reads are a driver-side O(new files)
    metadata loop over the files THIS commit staged — the same work a
    real table format's commit protocol does to populate its log.
    With a ``column_map`` the frame arrives under LOGICAL names and is
    staged under the frozen PHYSICAL ones (stats keys included), so
    renamed tables keep one on-disk name space.

    The layout is the caller's: every write task opens one file per
    partition value it holds. ``commit_upsert`` hands in a
    ``rebalance``-hinted frame, so it writes one file per touched
    partition, split at AQE's ``advisoryPartitionSizeInBytes``;
    ``commit_merge``, ``commit_delete``, ``commit_overwrite`` and the
    compactions (which cluster explicitly) keep their own layout."""
    df = _apply_column_map(df, column_map, dropped)
    pcols = _norm_pcols(partition_col)
    os.makedirs(os.path.join(store, _DATA), exist_ok=True)
    staging = tempfile.mkdtemp(prefix="vstore-", dir=store)
    entries: list[dict] = []
    try:
        df.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
        # An EMPTY df stages no partition directories at all (found by
        # the hypothesis commit-history model: a delete that empties
        # every touched partition) — reading the bare staging dir would
        # raise UNABLE_TO_INFER_SCHEMA, and the correct manifest
        # contribution is simply no entries.
        if not any(
            "=" in d and os.path.isdir(os.path.join(staging, d))
            for d in os.listdir(staging)
        ):
            return []
        # Per-file row counts and skipping stats both come from the
        # staged files' parquet FOOTERS, opened once per file in the
        # rename loop below (num_rows is authoritative footer
        # metadata). Until round 12 the counts ran as a separate
        # Spark aggregate over the staging dir (read-back + groupBy +
        # collect = one more serialized job per commit, plus a second
        # footer pass for schema inference); the footer loop is
        # O(new files) driver-side metadata work the commit protocol
        # already pays for stats.
        import pyarrow.parquet as pq

        depth = len(pcols)  # partition dirs nest one level per column

        def _part_dirs(base: str, level: int, rel: str, vals: tuple):
            """Yield (relative dir, decoded partition tuple) for every
            fully-nested partition directory under the staging root."""
            for d in sorted(os.listdir(base)):
                full = os.path.join(base, d)
                if not (os.path.isdir(full) and "=" in d):
                    continue
                # directory names carry Hive-escaped values (%20 for a
                # space, %3D for '=', ...); the manifest stores the RAW
                # value so upsert's touched-set and read_version's
                # column restoration compare against real data values
                raw = d.split("=", 1)[1]
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    # A null partition value would round-trip as the
                    # literal marker string (read_version restores the
                    # column from the manifest) and never match
                    # upsert's str()-keyed touched-set — reject it at
                    # commit time instead of corrupting later merges
                    # (ADVICE r7).
                    raise ValueError(
                        f"null values in partition column"
                        f" {pcols[level]!r} are not supported; filter"
                        " or fill them before committing"
                    )
                nrel = os.path.join(rel, d) if rel else d
                nvals = vals + (unquote(raw),)
                if level + 1 == depth:
                    yield nrel, nvals
                else:
                    yield from _part_dirs(full, level + 1, nrel, nvals)

        for part_dir, pval in _part_dirs(staging, 0, "", ()):
            full = os.path.join(staging, part_dir)
            for i, part in enumerate(sorted(os.listdir(full))):
                if not part.endswith(".parquet"):
                    continue
                name = f"v{version:05d}-{uuid.uuid4().hex[:8]}-{i:04d}.parquet"
                src = os.path.join(full, part)
                md = pq.ParquetFile(src).metadata
                n_rows = md.num_rows
                n_bytes = os.path.getsize(src)
                stats = _footer_stats_md(md)
                os.rename(src, os.path.join(store, _DATA, name))
                entries.append(
                    {
                        "file": name,
                        "partition": _man_pval(pval),
                        "n_rows": n_rows,
                        "bytes": n_bytes,
                        "stats": stats,
                    }
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return entries


# Type-widening evolution (Delta's "type widening" feature): Spark 4's
# parquet reader upcasts narrow on-disk types to a wider read schema
# (int32 files read as bigint, float as double — verified in
# tests/test_versioning.py), so a widened table schema never requires
# rewriting old files. The ladders below are the promotions we allow;
# anything off-ladder (string↔numeric, ...) is a breaking change and
# raises at commit time instead of corrupting reads.
_INT_LADDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_LADDER = {"float": 0, "double": 1}


def _wider(a: str, b: str) -> str | None:
    """The wider of two simpleString types along one widening ladder;
    None when they are not widening-compatible."""
    if a == b:
        return a
    for lad in (_INT_LADDER, _FLOAT_LADDER):
        if a in lad and b in lad:
            return a if lad[a] >= lad[b] else b
    return None


def _ddl_pairs(ddl: str) -> list[tuple[str, str]]:
    """(name, simpleString type) pairs from a manifest-recorded DDL —
    parsed WITHOUT a SparkContext (StructType.fromDDL needs one, and
    the vstore sink's commit hook runs in Spark's sessionless Python
    commit worker). The store only ever records `name type, name type`
    with simpleString types, whose nested commas live inside angle
    brackets (array<...>, map<...>, struct<a:int,b:string>) or
    parentheses (decimal(10,2), char(5) — the round-9 review's
    confirmed crash: the first cut tracked only brackets), so a
    depth-tracked top-level split is exact for every DDL this module
    can produce."""
    if not ddl:
        return []
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(ddl):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    out = []
    for p in parts:
        name, typ = p.strip().split(" ", 1)
        out.append((name, typ.strip()))
    return out


def _merge_ddl(prev_ddl: str | None, new_ddl: str) -> str:
    """The data-file schema an incremental commit must RECORD: the
    union of the table's previous schema and the incoming commit's,
    with per-column widening reconciliation. Three hazards this
    guards (each was silently wrong when the commit's touched
    partitions had no survivors, so the incoming frame alone defined
    the manifest schema):

    * a NARROWER incoming column (int changeset on a bigint table)
      must not narrow the recorded schema — carried-forward wide files
      would fail to read; the wide type is kept and the commit's
      narrow files upcast at read time;
    * an incoming frame MISSING a previous column must not drop it —
      reads with an explicit schema silently prune absent columns, so
      every carried file would lose that column; the column is kept
      and the new files null-fill;
    * a WIDER incoming column upgrades the recorded schema (type
      widening evolution) — old narrow files upcast at read time,
      nothing is rewritten.

    Incompatible changes (off the widening ladders) raise."""
    if prev_ddl is None or not new_ddl or prev_ddl == new_ddl:
        return new_ddl if new_ddl else (prev_ddl or "")
    prev_fields = _ddl_pairs(prev_ddl)
    new_types = dict(_ddl_pairs(new_ddl))
    out: list[tuple[str, str]] = []
    for name, pt in prev_fields:  # existing columns keep their position
        nt = new_types.pop(name, None)
        if nt is None:
            out.append((name, pt))
            continue
        w = _wider(pt, nt)
        if w is None:
            raise ValueError(
                f"incompatible type change for column {name!r}:"
                f" {pt} -> {nt} is not a widening conversion; rewrite"
                " the table (commit_overwrite) to change types"
            )
        out.append((name, w))
    for name, nt in _ddl_pairs(new_ddl):  # additive columns append in order
        if name in new_types:
            out.append((name, nt))
    return ", ".join(f"{n} {t}" for n, t in out)


def _columns_ddl(schema, partition_col) -> str:
    """DDL for the DATA-FILE schema (partition columns excluded — they
    live in the manifest entries), stored in every manifest so an
    empty snapshot (legitimately produced by a delete-everything
    commit) stays readable as an empty DataFrame."""
    pcols = set(_norm_pcols(partition_col))
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in schema.fields
        if f.name not in pcols
    )


def _snapshot_ddl(columns: str, partition_col) -> str:
    """A snapshot's full DDL: the recorded data columns, then the
    partition columns, which every reader restores as strings."""
    pddl = ", ".join(f"{c} string" for c in _norm_pcols(partition_col))
    return f"{columns}, {pddl}" if columns else pddl


def _read_prev_manifest(store: str, prev_v: int, op: str) -> dict:
    """The previous manifest for an incremental commit, with a clear
    error when the store has never had a base commit (a fresh store
    used to die with FileNotFoundError for v00000.json — ADVICE r7)."""
    if prev_v == 0:
        raise ValueError(
            f"{op} requires a committed base version; run"
            " commit_overwrite first (store has no committed version)"
        )
    return _read_manifest(store, prev_v)


def commit_overwrite(
    df: DataFrame,
    store: str,
    partition_col,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    expectations: dict | None = None,
    on_violation: str = "fail",
) -> int:
    """Commit a full snapshot as the next version. Previous versions'
    files are untouched and stay readable via their manifests.
    ``partition_col`` may be one column or a list (composite
    partitioning — the (source, day) layout). ``bloom_cols``
    (string/integer columns) additionally writes a per-file bloom
    sidecar for point-lookup file skipping; later incremental commits
    inherit the config (see the bloom section). ``expectations``
    (name -> SQL predicate each row must satisfy) enforces the data
    contract at commit time — see ``_apply_expectations``."""
    pcols = _norm_pcols(partition_col)
    df, exp_stats = _apply_expectations(df, expectations, on_violation)
    os.makedirs(store, exist_ok=True)
    version = current_version(store) + 1
    entries = _stage_files(df, store, version, pcols)
    _claim_manifest(
        store,
        {
            "version": version,
            "partition_col": _man_pcol(pcols),
            "columns": _columns_ddl(df.schema, pcols),
            "files": entries,
            **exp_stats,
        },
    )
    _maybe_write_blooms(
        df.sparkSession, store, version, entries, [], bloom_cols, bloom_bits
    )
    _advance_current(store, version)
    return version


# -- optimistic concurrency (round 8) -------------------------------------------
#
# The claim-by-hard-link backstop makes racing commits SAFE (the loser
# raises instead of clobbering) but not USEFUL: a 100 TB pipeline has
# many writers appending to disjoint partitions — per-source ingesters,
# per-day backfills — and failing all but one serializes them through
# the caller. Delta solves this with logical conflict detection at
# commit time: the loser re-reads the log, checks whether anything that
# landed since its base version overlaps what it wrote, and if not,
# re-points its ALREADY-STAGED files at the new head and claims again.
# Partition-level granularity is right for this store because every
# incremental commit declares the partitions it writes (its keys'
# partitions): two commits with disjoint touched-partition sets
# produce byte-identical files in either order, so the rebase is pure
# manifest surgery — zero data movement, zero recompute. Round 11's
# file-granular rewrite keeps the CONFLICT check at partition
# granularity on purpose (conservative): the rewritten-file set
# inside a touched partition is stats-derived, so only the
# disjoint-partition guarantee keeps a rebased commit byte-identical
# to its serial re-run.


def _entry_key(e: dict) -> tuple:
    """Content identity of a manifest entry: the (version-unique,
    immutable) file name PLUS its deletion-vector state. Two versions
    sharing a file name contribute identical LIVE rows only when their
    DVs also match — a merge-on-read delete changes an entry's logical
    content without renaming the file, so every shared-file shortcut
    (diff, change feed, conflict detection) must compare this key,
    never the bare name."""
    dv = e.get("dv")
    return (e["file"], tuple(dv["pos"]) if dv else None)


def _live_rows(e: dict) -> int:
    """Logical row count of an entry: physical rows minus DV'd ones
    (0 for pre-row-recording entries — callers treat it as a count,
    never a divisor)."""
    dv = e.get("dv")
    return (e.get("n_rows") or 0) - (dv["n"] if dv else 0)


def _changed_partitions(ma: dict, mb: dict) -> set:
    """Partitions whose FILE SET differs between two manifests — the
    partitions a commit logically wrote (files added, removed, or
    DV'd). File names are version-unique and immutable, so entry-KEY
    identity (name + DV state) is content identity; a partition
    carried forward by copy-on-write has identical entries on both
    sides and never shows up here."""
    a = {_entry_key(e): _norm_pval(e["partition"]) for e in ma["files"]}
    b = {_entry_key(e): _norm_pval(e["partition"]) for e in mb["files"]}
    return {p for f, p in a.items() if f not in b} | {
        p for f, p in b.items() if f not in a
    }


def _rebase_head_or_raise(
    store: str, base_v: int, base_man: dict, touched: set
) -> tuple[int, dict]:
    """After losing a version claim: locate the current head (the
    highest CLAIMED manifest — a winner between claim and CURRENT
    advance must still count) and decide whether the prepared commit
    remains valid on top of it. Safe iff every commit that landed
    since our base changed only partitions DISJOINT from ours: then
    the survivors we computed from the base's touched partitions are
    byte-for-byte what a serial re-run would produce, and the commit
    re-points at the new head. Anything else — overlapping partitions,
    a concurrent overwrite or compaction (rewrites every partition), a
    concurrent schema evolution or repartitioning — raises
    CommitConflict: there, recomputation is the only correct answer
    (Delta's ConcurrentAppend/MetadataChanged distinctions)."""
    claimed = versions(store)
    head_v = claimed[-1] if claimed else 0
    try:
        head = _read_manifest(store, head_v)
        if head["partition_col"] != base_man["partition_col"]:
            raise CommitConflict(
                "concurrent commit changed the partitioning"
                f" ({base_man['partition_col']} -> {head['partition_col']})"
            )
        if head.get("columns") != base_man.get("columns"):
            raise CommitConflict(
                "concurrent commit changed the table schema; rebase"
                " would silently drop the evolved column from reads"
            )
        prev = None  # lazily-resolved predecessor for snapshot steps
        for v in range(base_v + 1, head_v + 1):
            # delta-form manifests carry their changed partitions
            # explicitly — the conflict check reads O(delta) per
            # intervening commit, never resolving a file list
            step = _step_delta(store, v)
            if step is not None:
                adds, removes = step
                changed = {
                    _norm_pval(e["partition"]) for e in adds
                } | {_norm_pval(e["partition"]) for e in removes}
                prev = None
            else:
                if prev is None:
                    prev = base_man if v - 1 == base_v else (
                        _read_manifest(store, v - 1)
                    )
                mv = _read_manifest(store, v)
                changed = _changed_partitions(prev, mv)
                prev = mv
            overlap = changed & touched
            if overlap:
                raise CommitConflict(
                    f"version {v} changed partition(s)"
                    f" {sorted(overlap)} this commit also writes;"
                    " recompute against the new head and retry"
                )
    except FileNotFoundError as exc:
        raise CommitConflict(
            "an intervening manifest was vacuumed away before the"
            " conflict check could read it"
        ) from exc
    return head_v, head


def _publish_incremental(
    spark: SparkSession,
    store: str,
    base_v: int,
    base_man: dict,
    touched: set,
    new_entries: list[dict],
    columns: str | None,
    extra: dict,
    max_retries: int,
    rewritten: set | None = None,
    dv_commit: bool = False,
) -> int:
    """Publish an incremental commit prepared against ``base_v``:
    carry forward the head's untouched-partition entries, add the
    staged ones, claim head+1. On a lost claim, rebase (see
    ``_rebase_head_or_raise``) and retry up to ``max_retries`` times —
    each retry targets a strictly higher version (the failed claim
    proves a manifest at that number exists), so the loop always
    progresses. Staged data files are version-prefixed with the
    PREPARING attempt's number for provenance; after a rebase the
    manifest that lists them carries a higher number plus
    ``rebased_from_base`` (file names are opaque — only the manifest
    binds files to a version).

    ``rewritten`` (round 11, file-granular copy-on-write) narrows the
    replacement INSIDE the touched partitions to the named files: a
    touched partition's other entries carry forward like any untouched
    partition's. None keeps the pre-round-11 semantics (every file of
    a touched partition is replaced). Rebase safety is unchanged —
    the conflict check stays partition-granular, so a rebase only
    lands when the head's touched-partition entries are byte-identical
    to the base's and the rewritten set is still exact."""
    pcols = _norm_pcols(base_man["partition_col"])
    head_v, head = base_v, base_man
    retries = 0
    while True:
        keep, removed = [], []
        for e in head["files"]:
            if _norm_pval(e["partition"]) in touched and (
                rewritten is None or e["file"] in rewritten
            ):
                removed.append(e)
            else:
                keep.append(e)
        manifest = {
            "version": head_v + 1,
            "partition_col": _man_pcol(pcols),
            **extra,
        }
        if columns is not None:
            manifest["columns"] = columns
        # column-mapping rename/drop state carries forward verbatim
        # (a concurrent rename or drop changes `columns`, which the
        # rebase check already treats as a conflict, so base's state
        # == head's state)
        if base_man.get("column_map"):
            manifest["column_map"] = base_man["column_map"]
        if base_man.get("dropped_physical"):
            manifest["dropped_physical"] = base_man["dropped_physical"]
        if head_v != base_v:
            manifest["rebased_from_base"] = base_v
        try:
            _claim_incremental(
                store,
                manifest,
                head_v,
                new_entries,
                removed,
                keep + new_entries,
            )
        except CommitConflict:
            if retries >= max_retries:
                raise
            retries += 1
            head_v, head = _rebase_head_or_raise(
                store, base_v, base_man, touched
            )
            continue
        if dv_commit:
            # a DV commit re-lists EXISTING files: their blooms are
            # already in the previous sidecar and stay valid (blooms
            # describe physical rows; extra bits for deleted rows are
            # false positives, which pruning tolerates) — carry, never
            # rebuild
            _maybe_write_blooms(
                spark, store, manifest["version"], [],
                keep + new_entries, None, 0,
            )
        else:
            _maybe_write_blooms(
                spark, store, manifest["version"], new_entries, keep,
                None, 0,
            )
        _advance_current(store, manifest["version"])
        return manifest["version"]


# File-granular copy-on-write planning (round 11, VERDICT r10 #1).
# Pre-round-11, DELETE/MERGE/UPSERT rewrote EVERY file of a touched
# partition; at 100 TB with ~1 TB partitions a one-key GDPR delete
# rewrote ~1 TB. The read path already kept per-file minmax stats
# (parquet footers, recorded at commit) and bloom sidecars for point
# probes — the write path now uses the same metadata to prune the
# REWRITE set: a file whose stats or bloom PROVE no changed key can
# live in it is carried forward verbatim, exactly like an untouched
# partition (Delta's findTouchedFiles, done catalog-side). Both
# checks are conservative — no stats / unsupported type / bloom
# false positive only ever ADMITS a file, so the worst case is the
# old whole-partition rewrite, never a missed row.

_REWRITE_KEY_CAP = 20_000  # driver-side exact-admission bound


def _stat_admits(stats: dict, col: str, value) -> bool:
    """False only when the file's recorded [min, max] PROVES ``value``
    absent (string stats are Delta-truncated outer bounds, so the
    interval test stays conservative)."""
    s = (stats or {}).get(col)
    if s is None:
        return True
    try:
        return s[0] <= value <= s[1]
    except TypeError:  # stat/value types incomparable: keep the file
        return True


def _bloom_words_admit(words: list[str] | None, positions) -> bool:
    if words is None:
        return True
    for p in positions:
        if not (int(words[p // 64], 16) >> (p % 64)) & 1:
            return False
    return True


def _plan_file_rewrite(
    keys_df: DataFrame,
    key_cols: list[str],
    pcols: list[str],
    prev: dict,
    store: str,
    prev_v: int,
) -> tuple[set, list[dict], list[dict], DataFrame]:
    """Decide which of the head's files a keyed commit must rewrite:
    returns (touched partitions, entries to rewrite, entries in
    touched partitions carried forward verbatim, and the distinct keys
    for the caller's anti-join: a ``LocalRelation`` when the exact tier
    ran, so the changeset — which may itself be an expensive query — is
    not recomputed a second time for its distinct()).

    Two tiers, both O(metadata) on the driver, no table scan:

    * exact (≤ ``_REWRITE_KEY_CAP`` distinct keys): collect the key
      tuples and admit a file iff SOME key passes its per-column
      minmax stats AND its bloom sidecar bits (positions are cached
      per value, so the md5 work is O(keys), and a file short-circuits
      on its first admitting key);
    * range fallback (larger changesets): one groupBy(partition)
      min/max aggregate over the keys frame; a file is carried only
      when some key column's changeset range and file range are
      provably disjoint. Coarser, but still prunes the common
      append-mostly-new-keys shape where changed keys cluster.

    A key with a NULL non-partition component matches no base row
    (SQL equality) and admits nothing; its partition still counts as
    touched — an upsert INSERTS such rows, so the commit's declared
    write set must cover the partitions it adds files to. Bloom
    probes only run for str/int values (the canonical string forms
    the build job hashes — see the bloom section); every other type
    falls back to stats alone."""
    vcols = [c for c in key_cols if c not in pcols]
    cmap = prev.get("column_map") or {}
    keys = keys_df.select(*key_cols)
    key_frame = keys.distinct()
    key_rows = None
    if vcols:
        # the distinct keys stay in the JVM: collectAsList runs the one
        # job, and wrapping the Java rows is a LocalRelation, so the
        # Python rows below come from a job-free collect and the
        # anti-join side never round-trips a timestamp, decimal or date
        # value through Python
        spark = keys_df.sparkSession
        jrows = key_frame.limit(_REWRITE_KEY_CAP + 1)._jdf.collectAsList()
        if jrows.size() <= _REWRITE_KEY_CAP:
            key_frame = DataFrame(
                spark._jsparkSession.createDataFrame(jrows, keys._jdf.schema()),
                spark,
            )
            key_rows = key_frame.collect()
        # else too many keys: range-fallback tier
    ranges: dict[tuple, dict] | None = None
    if key_rows is not None:
        touched = {tuple(str(r[c]) for c in pcols) for r in key_rows}
    elif vcols:
        # fallback tier: ONE aggregate serves both the touched set
        # (its group keys) and the per-partition key ranges — a
        # separate distinct().collect() would re-scan the (by
        # definition large) changeset (review r11 #7)
        aggs = []
        for c in vcols:
            aggs.append(F.min(c).alias(f"__vs_lo_{c}"))
            aggs.append(F.max(c).alias(f"__vs_hi_{c}"))
        ranges = {
            tuple(str(r[c]) for c in pcols): {
                c: (r[f"__vs_lo_{c}"], r[f"__vs_hi_{c}"]) for c in vcols
            }
            for r in keys_df.groupBy(*pcols).agg(*aggs).collect()
        }
        touched = set(ranges)
    else:
        touched = {
            tuple(str(r[c]) for c in pcols)
            for r in keys_df.select(*pcols).distinct().collect()
        }
    old_touched = [
        e for e in prev["files"] if _norm_pval(e["partition"]) in touched
    ]
    if not vcols:
        # key == partition columns: every row of a touched partition
        # matches by definition — whole-partition rewrite is exact
        return touched, old_touched, [], key_frame
    rewrite: list[dict] = []
    carried: list[dict] = []
    if key_rows is not None:
        by_part: dict[tuple, list[tuple]] = {}
        for r in key_rows:
            if any(r[c] is None for c in vcols):
                continue
            by_part.setdefault(
                tuple(str(r[c]) for c in pcols), []
            ).append(tuple(r[c] for c in vcols))
        sidecar = _read_bloom_sidecar(store, prev_v)
        bits = sidecar["bits"] if sidecar else 0
        bloom_k = sidecar.get("k", _BLOOM_K) if sidecar else _BLOOM_K
        pos_cache: dict[str, list[int]] = {}
        for e in old_touched:
            stats = e.get("stats") or {}
            blooms = (
                sidecar["files"].get(e["file"]) if sidecar else None
            )
            admit = False
            for key in by_part.get(_norm_pval(e["partition"]), ()):
                ok = True
                for c, v in zip(vcols, key):
                    phys = cmap.get(c, c)
                    if not _stat_admits(stats, phys, v):
                        ok = False
                        break
                    if (
                        blooms is not None
                        and isinstance(v, (str, int))
                        and not isinstance(v, bool)
                    ):
                        canon = str(v)
                        poses = pos_cache.get(canon)
                        if poses is None:
                            poses = _bloom_positions_py(v, bits, bloom_k)
                            pos_cache[canon] = poses
                        if not _bloom_words_admit(blooms.get(phys), poses):
                            ok = False
                            break
                if ok:
                    admit = True
                    break
            (rewrite if admit else carried).append(e)
        return touched, rewrite, carried, key_frame
    for e in old_touched:
        rng = ranges.get(_norm_pval(e["partition"]))
        stats = e.get("stats") or {}
        admit = True
        for c, (lo, hi) in (rng or {}).items():
            s = stats.get(cmap.get(c, c))
            if s is None or lo is None:
                continue  # no stats / all-null key column: keep
            try:
                if s[0] > hi or s[1] < lo:
                    admit = False
                    break
            except TypeError:
                continue
        (rewrite if admit else carried).append(e)
    return touched, rewrite, carried, key_frame


def commit_upsert(
    spark: SparkSession,
    store: str,
    changeset: DataFrame,
    key_cols: list[str],
    max_retries: int = 0,
    expectations: dict | None = None,
    on_violation: str = "fail",
) -> int:
    """Copy-on-write MERGE as the next version: within the partitions
    holding a changed key, only the FILES whose stats/bloom admit one
    (``_plan_file_rewrite``) are rewritten (survivors + changeset)
    into NEW files; every other entry — untouched partitions AND
    provably key-free files inside touched ones — carries over
    verbatim. The previous version keeps reading its own (immutable)
    files. The rewrite is staged with a ``rebalance`` hint on the
    partition columns (Spark's optimized write): each touched
    partition gets one new file, or several of about AQE's
    ``advisoryPartitionSizeInBytes`` when it is larger, never one per
    write task. The price is a shuffle of the rewritten rows, and a
    touched partition below the advisory size is written by one task.

    ``key_cols`` MUST include the partition column: the touched set is
    computed from the changeset's partition values, so a key whose
    partition value could change between versions would leave its
    stale row in the old partition (duplicate keys — exactly the
    invariant version_diff's shared-file shortcut relies on). With the
    partition column in the key, a "moved" row is two distinct keys by
    definition and the invariant holds (ADVICE r7; Delta/Iceberg MERGE
    instead rewrites the old partition too).

    ``max_retries`` > 0 enables optimistic concurrency: if another
    writer commits first, this commit rebases onto the new head and
    retries — succeeding iff every intervening commit touched only
    DISJOINT partitions (see the concurrency section above), raising
    CommitConflict otherwise. The default 0 preserves strict
    single-writer behavior.

    ``expectations`` (name -> SQL predicate each changeset row must
    satisfy) enforces the data contract at commit time: ``fail``
    raises before anything is staged; ``drop`` commits only the
    passing rows and records per-expectation violation counts in the
    manifest (see ``_apply_expectations``). The check costs one
    aggregate over the CHANGESET — the table is never scanned."""
    prev_v = current_version(store)
    prev = _read_prev_manifest(store, prev_v, "commit_upsert")
    pcols = _norm_pcols(prev["partition_col"])
    missing = [c for c in pcols if c not in key_cols]
    if missing:
        raise ValueError(
            f"key_cols {key_cols} must include the partition column(s)"
            f" {missing}: upsert rewrites only the changeset's"
            " partitions, so keys must be immutable w.r.t. partition"
        )
    changeset, exp_stats = _apply_expectations(
        changeset, expectations, on_violation
    )
    # file-granular planning (round 11): only files whose stats/bloom
    # ADMIT a changed key are rewritten; the rest of the touched
    # partitions carry forward like untouched partitions
    touched, to_rewrite, _, key_frame = _plan_file_rewrite(
        changeset, key_cols, pcols, prev, store, prev_v
    )
    version = prev_v + 1
    merged = changeset
    if to_rewrite:
        # through _load_entries so the partition columns (absent from
        # the data files; they lived in the staging directory names)
        # are restored before the merge
        base = _load_entries(
            spark, store, to_rewrite, prev["partition_col"],
            prev.get("columns"), prev.get("column_map"),
        )
        survivors = base.join(
            F.broadcast(key_frame), key_cols, "left_anti"
        )
        # allowMissingColumns = additive schema evolution: a changeset
        # introducing a new column null-fills the survivors (and a
        # changeset missing an old column null-fills itself) instead of
        # silently dropping the evolution
        merged = survivors.unionByName(changeset, allowMissingColumns=True)
    # reconcile the recorded schema BEFORE staging: an incompatible
    # type change raises here with zero orphan files written
    columns = _merge_ddl(
        prev.get("columns"), _columns_ddl(merged.schema, pcols)
    )
    new_entries = _stage_files(
        merged.hint("rebalance", *pcols), store, version, pcols,
        prev.get("column_map"), prev.get("dropped_physical"),
    )
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        touched,
        new_entries,
        columns,
        exp_stats,
        max_retries,
        rewritten={e["file"] for e in to_rewrite},
    )


def commit_merge(
    spark: SparkSession,
    store: str,
    source: DataFrame,
    key_cols: list[str],
    when_matched_update: bool = True,
    matched_delete_condition: str | None = None,
    when_not_matched_insert: bool = True,
    max_retries: int = 0,
    expectations: dict | None = None,
    on_violation: str = "fail",
) -> int:
    """Full MERGE INTO as ONE commit (Delta's three-clause merge —
    ``commit_upsert`` can only update/insert and ``commit_delete``
    only delete, so update+delete+insert used to cost two versions
    and an inconsistent intermediate state):

    * a base row matched by a source key: DELETED when
      ``matched_delete_condition`` (a SQL predicate over the SOURCE
      row's columns) holds, else replaced by the source row when
      ``when_matched_update``, else kept;
    * an unmatched source row: inserted when
      ``when_not_matched_insert`` (delete-condition rows are never
      inserted — they are tombstones);
    * every unmatched base row in a touched partition: carried into
      the rewrite; untouched partitions carry forward manifest-only.

    Same contracts as upsert: key_cols must include the partition
    column(s); schema reconciliation via ``_merge_ddl`` (additive +
    widening); ``expectations`` are enforced on the SOURCE before
    anything is staged; ``max_retries`` opts into the disjoint-
    partition optimistic rebase. The manifest records the clause
    counts (``merge: {updated, deleted, inserted}``) — one extra
    aggregate over the source-sized match frame, never the table."""
    prev_v = current_version(store)
    prev = _read_prev_manifest(store, prev_v, "commit_merge")
    pcols = _norm_pcols(prev["partition_col"])
    missing = [c for c in pcols if c not in key_cols]
    if missing:
        raise ValueError(
            f"key_cols {key_cols} must include the partition column(s)"
            f" {missing}: merge rewrites only the source's partitions"
        )
    source, exp_stats = _apply_expectations(
        source, expectations, on_violation
    )
    # file-granular planning (round 11): a file no source key can
    # live in (stats/bloom proof) is carried forward verbatim — its
    # rows are all unmatched-base-rows by construction, so skipping
    # the rewrite preserves merge semantics exactly
    touched, to_rewrite, _, _ = _plan_file_rewrite(
        source, key_cols, pcols, prev, store, prev_v
    )
    del_cond = (
        F.coalesce(
            F.expr(matched_delete_condition).cast("boolean"), F.lit(False)
        )
        if matched_delete_condition
        else F.lit(False)
    )
    # classify every source row by ONE key-presence join against the
    # touched partitions' base keys. The key frame is bounded by the
    # touched partitions (never the table) and left unhinted: the
    # planner broadcasts it when it fits and shuffle-joins on the
    # same keys the rewrite below shuffles anyway when it does not.
    if to_rewrite:
        base = _load_entries(
            spark, store, to_rewrite, prev["partition_col"],
            prev.get("columns"), prev.get("column_map"),
        )
        base_keys = (
            base.select(*key_cols)
            .distinct()  # defensive: a duplicate base key must not
            .withColumn("__vs_matched", F.lit(True))  # multiply rows
        )
        src = source.join(base_keys, key_cols, "left")
    else:
        src = source.withColumn("__vs_matched", F.lit(None).cast("boolean"))
    # an UNMATCHED delete-condition row is a tombstone for a key that
    # is already gone (or never existed): a no-op, never an insert —
    # inserting it would resurrect deleted data from a replayed feed
    not_matched_fate = F.when(del_cond, F.lit("skipped")).otherwise(
        F.lit("inserted") if when_not_matched_insert else F.lit("skipped")
    )
    src = src.withColumn(
        "__vs_fate",
        F.when(
            F.col("__vs_matched").isNotNull(),
            F.when(del_cond, F.lit("deleted")).otherwise(
                F.lit("updated") if when_matched_update else F.lit("kept")
            ),
        ).otherwise(not_matched_fate),
    ).persist()
    try:
        # Delta's multiple-source-rows-match guard: two source rows
        # with the same key would BOTH land in `winners` (or race an
        # update against a tombstone), silently committing duplicate-
        # key rows — raise instead, like DeltaErrors'
        # multipleSourceRowMatchingTargetRowInMergeException. One small
        # aggregate over the already-persisted source (ADVICE r8).
        dup = src.agg(
            F.count(F.lit(1)).alias("rows"),
            # struct-wrapped so a null key FIELD still counts as a key
            # (bare count_distinct drops null rows and would misreport)
            F.count_distinct(F.struct(*key_cols)).alias("keys"),
        ).collect()[0]
        if dup["rows"] != dup["keys"]:
            raise ValueError(
                f"merge source has {dup['rows'] - dup['keys']} duplicate"
                f" row(s) on key {key_cols}: multiple source rows would"
                " match one target row (or contradict each other);"
                " aggregate/dedupe the source first"
            )
        counts = {
            r["__vs_fate"]: r["n"]
            for r in src.groupBy("__vs_fate")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        winners = src.filter(
            F.col("__vs_fate").isin("updated", "inserted")
        ).drop("__vs_matched", "__vs_fate")
        merged = winners
        if to_rewrite:
            # base rows survive unless their key was updated OR deleted
            # unhinted like base_keys above: gone_keys is bounded by
            # the SOURCE, not the table, but a large changeset's key
            # set can still blow a forced broadcast — let the planner
            # choose (it already shuffles these keys for the rewrite
            # when the set is big) (ADVICE r8)
            gone_keys = src.filter(
                F.col("__vs_fate").isin("updated", "deleted")
            ).select(*key_cols).distinct()
            survivors = base.join(gone_keys, key_cols, "left_anti")
            merged = survivors.unionByName(
                winners, allowMissingColumns=True
            )
        columns = _merge_ddl(
            prev.get("columns"), _columns_ddl(merged.schema, pcols)
        )
        version = prev_v + 1
        new_entries = _stage_files(
            merged, store, version, pcols, prev.get("column_map"),
            prev.get("dropped_physical"),
        )
    finally:
        src.unpersist()
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        touched,
        new_entries,
        columns,
        {
            **exp_stats,
            "merge": {
                "updated": int(counts.get("updated", 0)),
                "deleted": int(counts.get("deleted", 0)),
                "inserted": int(counts.get("inserted", 0)),
            },
        },
        max_retries,
        rewritten={e["file"] for e in to_rewrite},
    )


def _load_entries(
    spark: SparkSession,
    store: str,
    entries: list[dict],
    pcol,
    ddl: str | None,
    column_map: dict | None = None,
    with_lineage: bool = False,
) -> DataFrame | None:
    """Load a manifest entry subset with the partition column(s)
    restored (None for an empty subset).

    Entries carrying a DELETION VECTOR (``dv`` — merge-on-read point
    deletes, round 11) have their doomed row POSITIONS dropped here
    via a broadcast anti-join on (file, ``_metadata.row_index``), so
    every consumer — snapshot reads, upsert survivor scans, change
    feeds — sees only live rows. ``with_lineage`` keeps the
    ``__vs_file``/``__vs_pos`` columns in the result (the DV write
    path needs them to address the rows it dooms).

    With a recorded data-file schema (``ddl``, every round-8+
    manifest), all entries are read in ONE ``spark.read`` call — the
    explicit schema null-fills columns missing from carried-forward
    pre-evolution files, exactly the additive-evolution semantics the
    old per-partition union gave — and the partition column is
    restored by a broadcast join from the manifest's file→partition
    map on the file NAME (version-unique by construction, and safe
    characters only, so the input_file_name URI basename matches
    verbatim). Read planning is therefore O(1) Spark jobs at any
    partition count; the pre-round-8 per-partition loop built an
    O(partitions) union plan the 10k-file probe measured at 33 s
    (SCALE_PROBE.md §store) vs ~1 s for this path.

    Manifests predating schema recording fall back to that loop
    (their partitions' schemas must be inferred per file group)."""
    if not entries:
        return None
    pcols = _norm_pcols(pcol)
    if ddl:
        # column mapping: request the files' PHYSICAL names, surface
        # the logical ones (renames never rewrite files, so every
        # file speaks physical); a column mapped to None — the far
        # side of a map break (``_ReadMaps``) — requests a name no
        # file holds, so the explicit schema null-fills it
        cmap = {
            n: phys or f"__vs_null_{n}"
            for n, phys in (column_map or {}).items()
        }
        read_ddl = (
            ", ".join(
                f"{cmap.get(n, n)} {t}" for n, t in _ddl_pairs(ddl)
            )
            if cmap
            else ddl
        )
        paths = [os.path.join(store, _DATA, e["file"]) for e in entries]
        fmap = _local_frame(
            spark,
            [(e["file"], *_norm_pval(e["partition"])) for e in entries],
            "__vs_file string, "
            + ", ".join(f"{c} string" for c in pcols),
        )
        # Above the discovery threshold Spark stats the paths with a
        # listing JOB whose task count defaults to one PER PATH — the
        # 10k-file probe measured 17 s of pure task overhead in that
        # job before a byte of data moved. Bound it for the eager
        # file-index build (listing stays distributed — what an object
        # store needs — in ~64 well-packed tasks), then restore.
        key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "64")
        try:
            reader = spark.read.schema(read_ddl).parquet(*paths)
        finally:
            spark.conf.set(key, old) if old is not None else (
                spark.conf.unset(key)
            )
        for logical, phys in cmap.items():
            reader = reader.withColumnRenamed(phys, logical)
        dv_pairs = [
            (e["file"], int(p))
            for e in entries
            if e.get("dv")
            for p in e["dv"]["pos"]
        ]
        need_pos = with_lineage or bool(dv_pairs)
        if need_pos:
            reader = reader.withColumn(
                "__vs_pos", F.col("_metadata.row_index")
            )
        out = reader.withColumn(
            "__vs_file",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        ).join(F.broadcast(fmap), "__vs_file")
        if dv_pairs:
            dvdf = _local_frame(
                spark, dv_pairs, "__vs_file string, __vs_pos bigint"
            )
            out = out.join(
                F.broadcast(dvdf), ["__vs_file", "__vs_pos"], "left_anti"
            )
        if not with_lineage:
            out = out.drop("__vs_file", "__vs_pos")
        return out
    if any(e.get("dv") for e in entries):
        # unreachable by construction: DVs postdate schema recording,
        # so a dv-carrying manifest always has `columns` — guard
        # anyway, the legacy loop below would resurrect deleted rows
        raise ValueError(
            "manifest entries carry deletion vectors but no recorded"
            " schema; store metadata is corrupt"
        )
    if with_lineage:
        raise ValueError(
            "with_lineage requires a recorded schema (round-8+ store)"
        )
    by_part: dict[tuple, list[str]] = {}
    for e in entries:
        by_part.setdefault(_norm_pval(e["partition"]), []).append(
            os.path.join(store, _DATA, e["file"])
        )
    out: DataFrame | None = None
    for pval, paths in sorted(by_part.items()):
        part_df = spark.read.parquet(*paths)
        for c, v in zip(pcols, pval):
            part_df = part_df.withColumn(c, F.lit(v))
        # allowMissingColumns: after an additive schema evolution, a
        # version legitimately mixes evolved rewritten partitions with
        # carried-forward old-schema partitions — old rows read as null
        # in the new column (one partition's own files are always
        # homogeneous: upsert rewrites whole partitions)
        out = (
            part_df
            if out is None
            else out.unionByName(part_df, allowMissingColumns=True)
        )
    return out


def _prune_entries(
    entries: list[dict], range_filters: dict[str, tuple]
) -> list[dict]:
    """Manifest-side data skipping: drop entries whose recorded
    per-file stats (numeric, or Delta-truncated strings) PROVE no row
    can satisfy every ``col: (lo, hi)`` closed-interval filter.
    Conservative by construction — an entry with no stats for a
    filtered column (old manifest, unsupported type, all-null row
    group) is kept, and a filter whose bound type cannot be compared
    with the recorded stat type keeps the file too. Bounds of None
    mean unbounded on that side."""
    kept = []
    for e in entries:
        stats = e.get("stats") or {}
        admit = True
        for col, (lo, hi) in range_filters.items():
            s = stats.get(col)
            if s is None:
                continue
            mn, mx = s
            try:
                if (hi is not None and mn > hi) or (
                    lo is not None and mx < lo
                ):
                    admit = False
                    break
            except TypeError:  # mismatched bound type: keep the file
                continue
        if admit:
            kept.append(e)
    return kept


# -- bloom-filter file skipping (point lookups) -------------------------------
#
# Range stats answer "could this file hold values in [lo, hi]?"; they
# are useless for a POINT probe of a high-cardinality, unclustered key
# (a content hash lands anywhere). The standard answer is a per-file
# bloom filter kept OUTSIDE the data files — Iceberg's puffin sidecar;
# parquet's own column blooms still require opening every footer. Here
# each version may carry a sidecar
# (_manifests/bloom-vNNNNN.json — named so the v*.json manifest glob
# in `versions()` never matches it) mapping file → column → bloom
# words; `read_version(point_filters=…)` drops files whose bloom
# proves the probed value absent BEFORE Spark lists anything, then
# applies the exact equality filter in-plan. Probe positions use the
# engine's md5-derived h60 on the value's canonical string form, so
# the Python read path and the JVM build job agree bit-for-bit
# (bloom columns must therefore be string/integer typed). Blooms are
# built in ONE distributed pass per column over only the files the
# commit staged, carried forward verbatim for carried files (files
# are immutable, so their blooms are too), and inherited: an upsert
# on a bloomed store keeps the sidecar current without the caller
# re-asking.

_BLOOM_K = 4


def _bloom_path(store: str, version: int) -> str:
    return os.path.join(_mdir(store), f"bloom-v{version:05d}.json")


def _bloom_ckpt_path(store: str, version: int) -> str:
    return os.path.join(_mdir(store), f"bloom-v{version:05d}.parquet")


# Bloom sidecars follow the manifest plane's delta+checkpoint shape
# (round 11): pre-round-11 every commit on a bloomed store re-wrote
# the ENTIRE table's blooms as hex-in-JSON — O(table) sidecar I/O per
# commit, the exact disease round 10 cured for manifests (measured:
# 26 MB per commit at 10k files × 2 bloomed columns). Now an
# incremental commit writes only its NEW files' blooms plus a ``base``
# pointer to the previous sidecar version (commit cost O(new files)),
# and every ``_CHECKPOINT_INTERVAL``-th version materializes the
# resolved map as a BINARY parquet checkpoint (8 bytes per word
# instead of 16 hex chars — Iceberg's puffin instinct, in the file
# format we already speak). Readers resolve checkpoint + delta tail;
# vacuum consolidates the oldest retained sidecar before dropping the
# history its chain passes through, exactly like manifests. Delta
# sidecars never list carried files, so a removed file's bloom can
# linger until the next checkpoint — harmless, lookups are by the
# manifest's entry names.


def _write_bloom_checkpoint(store: str, version: int, sidecar: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, cols, words = [], [], []
    for f in sorted(sidecar["files"]):
        for c, ws in sorted(sidecar["files"][f].items()):
            files.append(f)
            cols.append(c)
            words.append(
                b"".join(int(w, 16).to_bytes(8, "little") for w in ws)
            )
    meta = {
        "bits": sidecar["bits"],
        "k": sidecar.get("k", _BLOOM_K),
        "cols": list(sidecar["cols"]),
    }
    table = pa.table(
        {"file": files, "col": cols, "words": words},
        schema=pa.schema(
            [
                ("file", pa.string()),
                ("col", pa.string()),
                ("words", pa.binary()),
            ],
            metadata={b"vstore_bloom": json.dumps(meta).encode()},
        ),
    )
    fd, tmp = tempfile.mkstemp(dir=_mdir(store))
    os.close(fd)
    pq.write_table(table, tmp, compression="zstd")
    os.rename(tmp, _bloom_ckpt_path(store, version))


def _read_bloom_checkpoint(path: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    meta = json.loads(t.schema.metadata[b"vstore_bloom"])
    files: dict[str, dict] = {}
    for f, c, wb in zip(
        t.column("file").to_pylist(),
        t.column("col").to_pylist(),
        t.column("words").to_pylist(),
    ):
        files.setdefault(f, {})[c] = [
            f"{int.from_bytes(wb[i:i + 8], 'little'):016x}"
            for i in range(0, len(wb), 8)
        ]
    return {**meta, "files": files}


def _bloom_config(store: str, version: int) -> dict | None:
    """Just the sidecar's {bits, k, cols} — WITHOUT resolving the
    file→bloom map. The commit path needs only the config to decide
    chainability and write its delta (review r11 #5: resolving the
    full map per commit re-created the O(table) sidecar cost the
    delta shape exists to remove); parquet checkpoints answer from
    schema metadata alone, delta JSONs are O(commit churn) small. A
    legacy full-form JSON pays one whole-file parse — its successor
    commits write delta forms, so the cost is one-time per store."""
    ck = _bloom_ckpt_path(store, version)
    if os.path.exists(ck):
        import pyarrow.parquet as pq

        meta = json.loads(
            pq.read_schema(ck).metadata[b"vstore_bloom"]
        )
        return {
            "bits": meta["bits"],
            "k": meta.get("k", _BLOOM_K),
            "cols": meta["cols"],
        }
    try:
        with open(_bloom_path(store, version), encoding="utf-8") as f:
            raw = json.load(f)
    except FileNotFoundError:
        return None
    return {
        "bits": raw["bits"],
        "k": raw.get("k", _BLOOM_K),
        "cols": raw["cols"],
    }


def _read_bloom_sidecar(store: str, version: int) -> dict | None:
    """The version's RESOLVED bloom map ({bits, k, cols, files}) —
    parquet checkpoints read directly; delta-form JSON sidecars walk
    their ``base`` chain (linear: each base is the newest preceding
    sidecar) and overlay their new files; full-form JSON (pre-round-11
    stores, copies) returns as written. None when the version has no
    sidecar."""
    ck = _bloom_ckpt_path(store, version)
    if os.path.exists(ck):
        return _read_bloom_checkpoint(ck)
    try:
        with open(_bloom_path(store, version), encoding="utf-8") as f:
            raw = json.load(f)
    except FileNotFoundError:
        return None
    if "base" not in raw:
        return raw
    base = _read_bloom_sidecar(store, raw["base"])
    if (
        base is None
        or base["bits"] != raw["bits"]
        or base.get("k", _BLOOM_K) != raw.get("k", _BLOOM_K)
    ):
        # severed or config-mismatched chain (a vacuum bug would be
        # the only path here): surface only this delta's own blooms —
        # conservative, unbloomed files are simply kept on point reads
        return {k: v for k, v in raw.items() if k != "base"}
    files = dict(base["files"])
    files.update(raw["files"])
    return {
        "bits": raw["bits"],
        "k": raw.get("k", _BLOOM_K),
        "cols": sorted(set(base["cols"]) | set(raw["cols"])),
        "files": files,
    }


def _bloom_positions_py(value, bits: int, k: int | None = None) -> list[int]:
    """Probe positions for ``value``: MUST use the probed sidecar's
    recorded ``k``, never the build default — a sidecar written with
    fewer hashes per value has no bits at the extra positions, so an
    over-k probe would wrongly prove PRESENT keys absent (review r11
    #3: on the write path that silently skips a delete's rewrite)."""
    from engine.functions.hashing import h60_py

    k = _BLOOM_K if k is None else k
    return [h60_py(f"bf{i}:{value}") % bits for i in range(k)]


def _build_blooms(
    spark: SparkSession,
    store: str,
    entries: list[dict],
    cols: list[str],
    bits: int,
) -> dict:
    """file → {col: [16-hex-char words]} for the given (just-staged)
    entries — one distributed pass per column; only O(files × words)
    rows ever reach the driver."""
    from engine.functions.hashing import SPARK_H60

    words_n = bits // 64
    out: dict[str, dict] = {e["file"]: {} for e in entries}
    if not entries:
        return out
    paths = [os.path.join(store, _DATA, e["file"]) for e in entries]
    df = spark.read.parquet(*paths).withColumn(
        "__f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    for c in cols:
        if c not in df.columns:
            continue  # col absent from these files (post-overwrite
            # schema change / retired physical name): no bloom, point
            # reads keep the files conservatively
        poses = [
            "pmod("
            + SPARK_H60.format(
                x=f"concat('bf{i}:', cast({c} as string))"
            )
            + f", {bits})"
            for i in range(_BLOOM_K)
        ]
        arr = "array(" + ",".join(
            f"struct(cast(({p} div 64) as int) as w,"
            f" shiftleft(cast(1 as bigint), cast(({p} % 64) as int)) as m)"
            for p in poses
        ) + ")"
        rows = (
            df.select("__f", F.explode(F.expr(arr)).alias("e"))
            .select(
                "__f",
                F.col("e.w").alias("w"),
                F.col("e.m").alias("m"),
            )
            .where(F.col("w").isNotNull())  # null values: no bits
            .groupBy("__f", "w")
            .agg(F.expr("bit_or(m)").alias("m"))
            .collect()
        )
        acc: dict[str, list[int]] = {e["file"]: [0] * words_n for e in entries}
        for r in rows:  # Row.__f attr access is blocked for dunders
            acc[r["__f"]][r["w"]] |= r["m"]
        for fname, words in acc.items():
            out[fname][c] = [
                f"{w & 0xFFFFFFFFFFFFFFFF:016x}" for w in words
            ]
    return out


def _newest_bloom_config(
    store: str, below: int
) -> tuple[int | None, dict | None]:
    """``(version, {bits, k, cols})`` of the newest sidecar below
    ``below`` — config only, never the file map. Not just below-1: a
    version can legitimately lack a sidecar (a writer crashed between
    claim and sidecar write, or a rebase landed before the racing
    winner's sidecar did); inheriting only from the immediate
    predecessor would silently sever the chain forever on a bloomed
    store."""
    for v in reversed(versions(store)):
        if v < below:
            config = _bloom_config(store, v)
            if config is not None:
                return v, config
    return None, None


def _check_bloom_bits(bits: int) -> None:
    # bit positions are packed into 64-bit words: a non-aligned size
    # would index past the word list on data-dependent hash values
    # (review r10)
    if bits <= 0 or bits % 64:
        raise ValueError(
            f"bloom_bits must be a positive multiple of 64 (got {bits})"
        )


def _sidecar_plan(
    store: str, version: int, cols: list[str] | None, bits: int | None
) -> tuple | None:
    """``(cols, bits, prev)`` for the sidecar of ``version``, where
    ``prev`` is ``_newest_bloom_config``'s pair; None when nothing is
    bloomed. With no explicit ``cols`` the config is INHERITED from the
    newest sidecar, so an upsert on a bloomed store keeps its sidecar
    current without the caller re-asking."""
    prev = _newest_bloom_config(store, version)
    if cols is None and prev[1] is not None:
        cols, bits = prev[1]["cols"], prev[1]["bits"]
    if not cols:
        return None
    _check_bloom_bits(bits)
    return cols, bits, prev


def _maybe_write_blooms(
    spark: SparkSession,
    store: str,
    version: int,
    new_entries: list[dict],
    carried: list[dict],
    bloom_cols: list[str] | None,
    bloom_bits: int,
) -> None:
    """Build the new files' blooms with Spark (``_build_blooms``), then
    write the version's sidecar (``_write_blooms``). Files carried
    through a sidecar-less version simply have no bloom (point reads
    keep them — conservative) until a compaction rebuilds everything."""
    plan = _sidecar_plan(store, version, bloom_cols, bloom_bits)
    if plan is None:
        return
    cols, bits, _ = plan
    _write_blooms(
        store,
        version,
        plan,
        [e["file"] for e in carried],
        _build_blooms(spark, store, new_entries, cols, bits),
    )


def _write_blooms(
    store: str,
    version: int,
    plan: tuple,
    carried_files: list[str],
    new_blooms: dict,
) -> None:
    """Write the sidecar ``_sidecar_plan`` planned: ``new_blooms``
    (file → {col: words}, built by Spark or by the vstore sink's
    executors) plus the carried files' blooms from the newest sidecar.

    Blooms are PER COLUMN and their bit positions depend only on bits
    and k, so carried files' blooms stay valid whenever those match,
    even if this commit builds a different column SET (a subset-schema
    append must not discard the whole table's blooms nor narrow future
    inheritance — review r10); the recorded cols therefore UNION. A
    commit that builds no new bloom keeps the previous k and chains;
    otherwise the sidecar is built with ``_BLOOM_K`` and chains only
    to a sidecar of the same k — carrying blooms built with different
    bit positions would prune wrongly and silently drop rows.

    Write shape (round 11, mirroring the manifest plane): a chained
    sidecar is a DELTA — the new files' blooms plus a ``base``
    pointer, O(new files) I/O; checkpoint-cadence versions instead
    materialize the resolved map, restricted to the version's LIVE
    files, as a binary parquet checkpoint (8 bytes/word vs 16 hex
    chars)."""
    cols, bits, (pv, prev) = plan
    k = _BLOOM_K
    chained = False
    if prev is not None and prev["bits"] == bits:
        if not any(new_blooms.values()):
            k = prev["k"]
        if prev["k"] == k:
            chained = True
            cols = sorted(set(prev["cols"]) | set(cols))
    sidecar = {"bits": bits, "k": k, "cols": list(cols),
               "files": dict(new_blooms)}
    if chained and version % _CHECKPOINT_INTERVAL == 0:
        resolved = _read_bloom_sidecar(store, pv)["files"]
        for f in carried_files:
            if f not in sidecar["files"] and resolved.get(f):
                sidecar["files"][f] = resolved[f]
        _write_bloom_checkpoint(store, version, sidecar)
        return
    if chained:
        sidecar["base"] = pv  # carried files resolve through the base
    _write_bloom_json(store, version, sidecar)


def _write_bloom_json(store: str, version: int, sidecar: dict | None) -> None:
    """Write ``version``'s JSON sidecar atomically (temp file, then
    rename); a None sidecar writes nothing. Versions that SHARE their
    source version's files (rollback, clone, rename, drop) pass that
    version's resolved sidecar: same files ⇒ same blooms."""
    if sidecar is None:
        return
    fd, tmp = tempfile.mkstemp(dir=_mdir(store))
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(json.dumps(sidecar))
    os.rename(tmp, _bloom_path(store, version))


def _bloom_prune(
    entries: list[dict], sidecar: dict | None, point_filters: dict
) -> list[dict]:
    """Drop entries whose bloom PROVES the probed value absent for any
    filter. Conservative: no sidecar / no bloom for a file or column →
    keep. Null probes are rejected (nulls set no bloom bits, so
    absence of bits cannot distinguish 'no nulls' from 'unbloomed')."""
    if any(v is None for v in point_filters.values()):
        raise ValueError("point_filters values must be non-null")
    if sidecar is None:
        return entries
    bits = sidecar["bits"]
    k = sidecar.get("k", _BLOOM_K)
    kept = []
    for e in entries:
        blooms = sidecar["files"].get(e["file"], {})
        admit = True
        for col, val in point_filters.items():
            words = blooms.get(col)
            if words is None:
                continue
            for p in _bloom_positions_py(val, bits, k):
                if not (int(words[p // 64], 16) >> (p % 64)) & 1:
                    admit = False
                    break
            if not admit:
                break
        if admit:
            kept.append(e)
    return kept


def _select_entries(
    store: str,
    version: int,
    man: dict,
    partitions: set[tuple] | None = None,
    range_filters: dict | None = None,
    point_filters: dict | None = None,
) -> list[dict]:
    """The entries of ``version``'s manifest ``man`` that may hold rows
    matching the filters: those whose partition value (a normalized
    tuple) is in ``partitions``, then range-stats pruning
    (``_prune_entries``), then bloom pruning through the version's
    sidecar (``_bloom_prune``). Filter keys are logical names; stats and
    bloom sidecars are keyed by the files' PHYSICAL names, so the keys
    translate through the column map first. Residual row filters stay
    the caller's."""
    entries = man["files"]
    if partitions is not None:
        entries = [
            e for e in entries if _norm_pval(e["partition"]) in partitions
        ]
    cmap = man.get("column_map") or {}
    if range_filters:
        entries = _prune_entries(
            entries, {cmap.get(c, c): b for c, b in range_filters.items()}
        )
    if point_filters:
        entries = _bloom_prune(
            entries,
            _read_bloom_sidecar(store, version),
            {cmap.get(c, c): v for c, v in point_filters.items()},
        )
    return entries


def read_version(
    spark: SparkSession,
    store: str,
    version: int | None = None,
    partition_values: list[str] | None = None,
    range_filters: dict[str, tuple] | None = None,
    point_filters: dict | None = None,
    as_of_timestamp: float | None = None,
) -> DataFrame:
    """Read a pinned snapshot (default: latest). ``as_of_timestamp``
    resolves the version by commit time instead
    (``version_at_timestamp`` — mutually exclusive with ``version``).
    ``partition_values``
    prunes files from the MANIFEST — catalog-side pruning, no
    filesystem listing. The partition column is restored from the
    manifest entries (data files don't carry it; it lived in the
    directory name at write time).

    ``range_filters`` — ``{col: (lo, hi)}`` closed intervals on
    numeric columns — is Delta-style DATA SKIPPING: files whose
    manifest stats (recorded from the parquet footers at commit time)
    prove emptiness are pruned before Spark lists anything, and the
    residual row filter is applied in-plan so the result is EXACTLY
    the rows matching the predicate (never a superset). After a
    z-ordered ``compact_version`` the surviving-file set is small on
    any clustered dimension — the two features compose; the composed
    effect (exact rows, most files pruned) is pinned by
    tests/test_versioning.py::test_stats_pruned_read_skips_files.

    ``point_filters`` — ``{col: value}`` equality probes — prunes via
    the version's bloom sidecar when one exists (see the bloom
    section above): the point-lookup complement of range stats for
    high-cardinality unclustered keys. Exact equality is applied
    in-plan after pruning, so false positives cost only extra files
    read, never wrong rows."""
    version = _resolve_version(
        store, version, as_of_timestamp, ("version", "as_of_timestamp")
    )
    man = _read_manifest(store, version)
    pcol = man["partition_col"]
    wanted = None
    if partition_values is not None:
        # single-column: values; composite: value tuples/lists
        wanted = {
            (str(pv),) if isinstance(pv, str) else tuple(map(str, pv))
            for pv in partition_values
        }
    entries = _select_entries(
        store, version, man, wanted, range_filters, point_filters
    )
    out = _load_entries(
        spark, store, entries, pcol, man.get("columns"),
        man.get("column_map"),
    )
    if out is not None and range_filters:
        for col, (lo, hi) in range_filters.items():
            if lo is not None:
                out = out.filter(F.col(col) >= lo)
            if hi is not None:
                out = out.filter(F.col(col) <= hi)
    if out is not None and point_filters:
        for col, val in point_filters.items():
            out = out.filter(F.col(col) == val)
    if out is None:
        # A fileless snapshot is VALID history (commit_delete of every
        # row produces one) — return the empty DataFrame with the
        # schema the manifest recorded at commit time (ADVICE r7).
        # Pre-round-8 manifests lack "columns"; distinguish that from
        # an unknown/vacuumed version with a clear error.
        ddl = man.get("columns")
        if ddl is not None:
            return _local_frame(spark, [], _snapshot_ddl(ddl, pcol))
        raise ValueError(
            f"version {version} is an empty snapshot with no recorded"
            " schema (manifest predates schema recording)"
            + (f" for partitions {sorted(wanted)}" if partition_values else "")
        )
    return out


def vacuum(
    store: str, keep_latest: int = 2, grace_seconds: float = 0.0
) -> list[str]:
    """Drop manifests older than the newest ``keep_latest`` versions
    and delete data files no retained manifest references. Returns the
    deleted file names (the destructive act is enumerated, not
    silent). ``keep_latest`` must be >= 1: retaining zero versions
    would delete the manifest CURRENT points to and brick every
    subsequent read (reachable via the CLI's --keep — ADVICE r7).

    ``grace_seconds`` is the concurrent-writer safety valve (Delta's
    retention check, ADVICE r8): an in-flight commit STAGES files into
    data/ before claiming the manifest that references them, and the
    optimistic-rebase retry loop lengthens that stage-to-claim window —
    a vacuum racing such a writer would see the staged files as
    unreferenced and delete them out from under the about-to-claim
    manifest. Unreferenced files younger than ``grace_seconds`` (by
    mtime) are therefore SKIPPED, not deleted. The default 0 is the
    offline form: only run it when no writer is in flight; deployments
    that vacuum alongside ingest (the documented background-OPTIMIZE +
    ingest pattern) must pass a grace comfortably above their longest
    commit, e.g. 86400."""
    if keep_latest < 1:
        raise ValueError(
            f"keep_latest must be >= 1 (got {keep_latest}): the CURRENT"
            " version is always retained"
        )
    vs = versions(store)
    retained = set(vs[-keep_latest:])
    live = {
        e["file"]
        for v in retained
        for e in _read_manifest(store, v)["files"]
    }
    removed: list[str] = []
    if vs and len(retained) < len(vs):
        # the oldest retained version may be a delta whose chain walks
        # through manifests about to be dropped: materialize its
        # checkpoint FIRST so every retained version stays resolvable
        # (newer retained deltas resolve through this checkpoint)
        oldest = min(retained)
        raw = _read_manifest_raw(store, oldest)
        if "files" not in raw and not os.path.exists(
            _ckpt_path(store, oldest)
        ):
            _write_checkpoint(
                store, oldest, _resolve_entries(store, oldest, raw)
            )
        # same rule for the BLOOM plane (round 11): the oldest
        # retained version's sidecar may be a delta whose base chain
        # walks through sidecars about to be dropped — materialize
        # its resolved map as a checkpoint first. Chains are linear
        # (each base is the newest preceding sidecar), so fixing the
        # oldest retained one keeps every later delta resolvable.
        for v in sorted(retained):
            try:
                with open(_bloom_path(store, v), encoding="utf-8") as f:
                    braw = json.load(f)
            except FileNotFoundError:
                if os.path.exists(_bloom_ckpt_path(store, v)):
                    break  # checkpoint: self-contained, chain safe
                continue  # no sidecar at v: look at the next retained
            if braw.get("base") is not None and braw["base"] not in (
                retained
            ):
                resolved = _read_bloom_sidecar(store, v)
                live_files = {
                    e["file"] for e in _read_manifest(store, v)["files"]
                }
                resolved["files"] = {
                    f: b
                    for f, b in resolved["files"].items()
                    if f in live_files
                }
                _write_bloom_checkpoint(store, v, resolved)
                os.remove(_bloom_path(store, v))
            break  # only the oldest retained sidecar needs the fix
    for v in vs:
        if v not in retained:
            os.remove(_manifest_path(store, v))
            for drop in (
                _bloom_path(store, v),
                _bloom_ckpt_path(store, v),
                _ckpt_path(store, v),
            ):
                try:  # the version's sidecars go with its manifest
                    os.remove(drop)
                except FileNotFoundError:
                    pass
    data_dir = os.path.join(store, _DATA)
    # a store whose only commits were empty snapshots never created
    # data/ — nothing to delete
    if not os.path.isdir(data_dir):
        return removed
    cutoff = time.time() - grace_seconds
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet") and name not in live:
            path = os.path.join(data_dir, name)
            try:
                if os.path.getmtime(path) > cutoff:
                    continue  # young enough to be a writer's staged file
                os.remove(path)
            except FileNotFoundError:
                continue  # a racing vacuum got it first: already gone
            removed.append(name)
    return removed


def clone_store(
    spark: SparkSession, src: str, dst: str, version: int | None = None
) -> int:
    """Zero-copy CLONE (Delta's shallow clone, without its dangling-
    reference hazard): create ``dst`` as a NEW store whose v1 is
    ``src``'s pinned snapshot, hard-linking every data file instead of
    copying bytes. Hard links make the clone fully independent — each
    store's vacuum/delete drops only its own link, and the shared
    inodes live until both sides drop them — so unlike a path-
    referencing shallow clone, vacuuming the source can never brick
    the clone. Cost: O(files) metadata, zero data movement. The
    version's bloom sidecar rides along (same files ⇒ same blooms);
    manifest stats entries are copied verbatim. Requires src and dst
    on one filesystem (os.link); the use cases — dev/test forks of a
    production corpus, experiment pinning, pre-migration safety copies
    — live next to their source anyway. ``spark`` is unused today
    (clone is pure metadata) but keeps the signature uniform with the
    other store verbs and reserves the seat for a future cross-
    filesystem deep-clone fallback."""
    if os.path.exists(dst) and os.listdir(dst):
        raise ValueError(f"clone target {dst!r} already exists")
    version = version if version is not None else current_version(src)
    man = _read_manifest(src, version)
    os.makedirs(os.path.join(dst, _DATA), exist_ok=True)
    for e in man["files"]:
        os.link(
            os.path.join(src, _DATA, e["file"]),
            os.path.join(dst, _DATA, e["file"]),
        )
    manifest = {
        "version": 1,
        "partition_col": man["partition_col"],
        "files": man["files"],
        "cloned_from": {"store": os.path.abspath(src), "version": version},
    }
    if man.get("columns") is not None:
        manifest["columns"] = man["columns"]
    if man.get("column_map"):
        manifest["column_map"] = man["column_map"]
    if man.get("dropped_physical"):
        manifest["dropped_physical"] = man["dropped_physical"]
    _claim_manifest(dst, manifest)
    _write_bloom_json(dst, 1, _read_bloom_sidecar(src, version))
    _advance_current(dst, 1)
    return 1


def rollback(store: str, to_version: int) -> int:
    """RESTORE: promote an old snapshot as the NEXT version (Delta's
    ``RESTORE TABLE ... TO VERSION AS OF`` — never by rewinding
    CURRENT, so history stays append-only, the bad version remains
    inspectable, and vacuum's retention math stays monotonic). The new
    manifest shares every file with ``to_version``: a rollback costs
    one JSON write, zero data movement. This is the recovery verb
    after a bad MERGE/overwrite: ``rollback(store, good_v)`` makes the
    pre-merge data the head again as a first-class commit.

    Refuses when any of the target's data files is gone (a vacuumed
    or damaged snapshot): promoting a manifest whose files are
    missing would brick the new HEAD, not just a history read — the
    one store verb worth an O(files) existence sweep."""
    man = _read_manifest(store, to_version)  # raises if vacuumed away
    missing = [
        e["file"]
        for e in man["files"]
        if not os.path.exists(os.path.join(store, _DATA, e["file"]))
    ]
    if missing:
        raise ValueError(
            f"cannot restore version {to_version}: {len(missing)} of"
            f" its data files are gone (vacuumed?), e.g. {missing[0]!r}"
        )
    head_v = current_version(store)
    version = head_v + 1
    manifest = {
        "version": version,
        "partition_col": man["partition_col"],
        "rolled_back_from": to_version,
    }
    if man.get("columns") is not None:
        manifest["columns"] = man["columns"]
    if man.get("column_map"):
        manifest["column_map"] = man["column_map"]
    if man.get("dropped_physical"):
        manifest["dropped_physical"] = man["dropped_physical"]
    head = _read_manifest(store, head_v)
    if head["partition_col"] == man["partition_col"]:
        # delta form: a rollback usually shares most files with the
        # head it supersedes, so the manifest records only the churn
        # (entry-KEY identity: a file whose DV changed between target
        # and head must be re-added with the target's DV state)
        target = {_entry_key(e) for e in man["files"]}
        in_head = {_entry_key(e) for e in head["files"]}
        _claim_incremental(
            store,
            manifest,
            head_v,
            [e for e in man["files"] if _entry_key(e) not in in_head],
            [e for e in head["files"] if _entry_key(e) not in target],
            man["files"],
        )
    else:
        # rolling back across a re-partitioning boundary: the file
        # sets are disjoint shapes — record the full snapshot
        manifest["files"] = man["files"]
        _claim_manifest(store, manifest)
    _write_bloom_json(store, version, _read_bloom_sidecar(store, to_version))
    _advance_current(store, version)
    return version


restore = rollback  # the table-format verb name (Delta: RESTORE TABLE)


def rename_column(store: str, old: str, new: str) -> int:
    """Column-mapping evolution (Delta's column mapping, round-10
    verdict #7): rename a column WITHOUT rewriting a byte. Data files
    keep the column's frozen PHYSICAL name (its name when it first
    entered the table); the manifest's ``columns`` DDL carries the
    LOGICAL names and ``column_map`` records {logical: physical} for
    every renamed column. Readers request the physical names from the
    files and surface the logical ones; writers stage new files under
    the physical names (``_apply_column_map``), so every file in a
    version shares one on-disk name space and stats/bloom sidecars —
    keyed physical — keep pruning across the rename.

    The commit is an empty delta sharing every file with the head
    (zero-copy; the head's bloom sidecar rides along verbatim).
    Renames compose: a→b then b→c maps {c: a}. Partition columns
    cannot be renamed (their values live in manifest entries keyed by
    the partition schema); ``commit_overwrite`` resets the map (a
    full rewrite materializes logical names physically), while
    compaction PRESERVES it (partial compaction shares files with
    un-compacted partitions, which still carry physical names).

    Change feeds treat a rename step as CDC-invisible (it shares all
    files — an empty diff); a feed WINDOW that spans both a rename
    and data changes surfaces rows under the window-end's logical
    names, with the renamed column matched by its physical identity."""
    head_v = current_version(store)
    man = _read_prev_manifest(store, head_v, "rename_column")
    pcols = _norm_pcols(man["partition_col"])
    if old in pcols:
        raise ValueError(
            f"partition column {old!r} cannot be renamed (partition"
            " values are keyed by the partition schema); re-partition"
            " via commit_overwrite instead"
        )
    ddl = man.get("columns")
    if ddl is None:
        raise ValueError(
            "rename_column needs a manifest with a recorded schema"
            " (store predates schema recording)"
        )
    pairs = _ddl_pairs(ddl)
    names = [n for n, _ in pairs]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names or new in pcols:
        raise ValueError(f"column {new!r} already exists")
    cmap = dict(man.get("column_map") or {})
    phys = cmap.pop(old, old)
    occupied = {cmap.get(n, n) for n in names if n != old} | set(
        man.get("dropped_physical") or ()
    )
    if new in occupied:
        raise ValueError(
            f"{new!r} is the physical name of another (or a dropped)"
            " column; pick a different name (or compact/overwrite to"
            " materialize the evolution first)"
        )
    if new != phys:
        cmap[new] = phys
    manifest = {
        "version": head_v + 1,
        "partition_col": man["partition_col"],
        "columns": ", ".join(
            f"{new if n == old else n} {t}" for n, t in pairs
        ),
        "renamed": {"from": old, "to": new},
    }
    if cmap:
        manifest["column_map"] = cmap
    if man.get("dropped_physical"):
        manifest["dropped_physical"] = man["dropped_physical"]
    _claim_incremental(
        store, manifest, head_v, [], [], man["files"]
    )
    # same files ⇒ same blooms (keys physical)
    _write_bloom_json(
        store, manifest["version"], _read_bloom_sidecar(store, head_v)
    )
    _advance_current(store, manifest["version"])
    return manifest["version"]


def drop_column(store: str, col: str) -> int:
    """DROP a column without rewriting a byte — the rename's sibling
    (Delta's drop-with-column-mapping). The commit is an empty delta
    sharing every file; the column simply leaves the manifest's
    ``columns`` DDL, so readers never request its physical column
    again (old versions still read it — that is what time travel
    means). The column's PHYSICAL name is recorded as a TOMBSTONE
    (``dropped_physical``): carried files still hold the dead data,
    so a later same-named column would silently resurrect it —
    re-adding the name raises until a full rewrite
    (``commit_overwrite``) materializes the schema and clears the
    evolution state. GDPR note, stated not hidden: dropping hides the
    column from the CURRENT schema; purging its bytes is
    ``compact_version`` (rewrites files from the logical schema)
    plus ``vacuum``."""
    head_v = current_version(store)
    man = _read_prev_manifest(store, head_v, "drop_column")
    pcols = _norm_pcols(man["partition_col"])
    if col in pcols:
        raise ValueError(
            f"partition column {col!r} cannot be dropped; re-partition"
            " via commit_overwrite instead"
        )
    ddl = man.get("columns")
    if ddl is None:
        raise ValueError(
            "drop_column needs a manifest with a recorded schema"
            " (store predates schema recording)"
        )
    pairs = _ddl_pairs(ddl)
    if col not in [n for n, _ in pairs]:
        raise ValueError(f"no column {col!r} in {[n for n, _ in pairs]}")
    cmap = dict(man.get("column_map") or {})
    phys = cmap.pop(col, col)
    manifest = {
        "version": head_v + 1,
        "partition_col": man["partition_col"],
        "columns": ", ".join(
            f"{n} {t}" for n, t in pairs if n != col
        ),
        "dropped": {"column": col},
        "dropped_physical": sorted(
            set(man.get("dropped_physical") or ()) | {phys}
        ),
    }
    if cmap:
        manifest["column_map"] = cmap
    _claim_incremental(store, manifest, head_v, [], [], man["files"])
    # same files ⇒ same blooms; a bloom for the dead physical column
    # is unreachable (filters translate from the logical schema) and
    # harmless
    _write_bloom_json(
        store, manifest["version"], _read_bloom_sidecar(store, head_v)
    )
    _advance_current(store, manifest["version"])
    return manifest["version"]


def version_diff(
    spark: SparkSession, store: str, va: int, vb: int
) -> DataFrame:
    """Manifest-aware snapshot diff: per source, docs added / removed /
    changed / unchanged (plus token delta and delta hash) between two
    retained versions — READING ONLY the files the versions do NOT
    share. A file carried forward by copy-on-write contributes
    identical rows to both sides, so every document in it is
    'unchanged' by construction (versions are key-unique — the upsert
    path guarantees a doc_id lives in exactly one file per version);
    its contribution is added back from the manifest's per-file row
    counts without opening the file. At 100 TB, diffing a daily
    refresh against yesterday therefore reads the touched partitions,
    never the table.
    """
    from engine.operators.versioning import diff_frames

    pcols, _, added, a_df, b_df = _window_sides(
        spark, store, va, vb,
        f"versions v{va}/v{vb} use different partition columns"
        " ({pa} vs {pb}); diff across a re-partitioning boundary is not"
        " defined",
        f"version window v{va}..v{vb} includes a vacuumed (or"
        " never-committed) version; diff retained versions",
    )
    if len(pcols) != 1:
        raise ValueError(
            "version_diff summarizes per single partition column"
            " (corpus-store shape); use table_changes for composite-"
            f"partitioned stores (partition_col={list(pcols)})"
        )
    (pcol,) = pcols
    schema = (
        "source string, n_added bigint, n_removed bigint, n_changed bigint,"
        " n_unchanged bigint, tok_delta bigint, diff_h bigint"
    )
    if a_df is None and b_df is None:
        d = _local_frame(spark, [], schema)
    else:
        empty = _local_frame(
            spark, [], f"{pcol} string, doc_id long, n_tokens long, h long"
        )
        d = diff_frames(*(
            (side if side is not None else empty)
            .withColumnRenamed(pcol, "source")
            .select("source", "doc_id", "n_tokens", "h")
            for side in (a_df, b_df)
        ))
    # shared entries — vb's, less the ones only vb holds — are
    # all-unchanged, counted from manifest metadata alone (LIVE rows:
    # a DV'd shared file counts its undeleted rows)
    b_only = {_entry_key(e) for e in added}
    shared_counts: dict[str, int] = {}
    for e in _read_manifest(store, vb)["files"]:
        if _entry_key(e) not in b_only:
            p = e["partition"]
            shared_counts[p] = shared_counts.get(p, 0) + _live_rows(e)
    if not shared_counts:
        return d
    sc = _local_frame(
        spark, sorted(shared_counts.items()), "source string, n_shared bigint"
    )
    zero = F.lit(0).cast("bigint")
    return (
        d.join(sc, "source", "full_outer")
        .select(
            "source",
            *[
                F.coalesce(c, zero).alias(c)
                for c in ("n_added", "n_removed", "n_changed")
            ],
            (
                F.coalesce("n_unchanged", zero)
                + F.coalesce("n_shared", zero)
            ).alias("n_unchanged"),
            F.coalesce("tok_delta", zero).alias("tok_delta"),
            F.coalesce("diff_h", zero).alias("diff_h"),
        )
    )


def _unshared_entries(
    ma: dict, mb: dict
) -> tuple[list[dict], list[dict]]:
    """Entries each version holds that the other does not — the only
    files a diff or change feed ever needs to open (an entry shared
    by both manifests — same file, same DV state — contributes
    identical live rows to both sides)."""
    shared = {_entry_key(e) for e in ma["files"]} & {
        _entry_key(e) for e in mb["files"]
    }
    return (
        [e for e in ma["files"] if _entry_key(e) not in shared],
        [e for e in mb["files"] if _entry_key(e) not in shared],
    )


class _ReadMaps:
    """The column map each version's files read through, for a schema
    resolved at version ``s``. A physical name is a column's identity,
    so files of every version read through s's map (a file appended
    before a rename still surfaces the renamed column) — up to a MAP
    BREAK: a commit that changed the map without renaming or dropping
    a column (an overwrite resets it, a rollback restores an older
    one), after which a physical name may hold another column. Files
    on the far side of a break from ``s`` read through their own
    version's map and match the schema by LOGICAL name, a name their
    version lacks reading null. Two cursors walk away from ``s``, so
    each step is checked once."""

    def __init__(self, store: str, s: int):
        self.store, self.s = store, s
        raw = _read_manifest_raw(store, s) if s > 0 else {}
        self.cmap = raw.get("column_map") or {}
        self.columns = raw.get("columns")
        self.names = [n for n, _ in _ddl_pairs(self.columns)]
        # breaks in (_down, s] and (s, _up] are known
        self._down = self._up = s
        self._break_down: int | None = None  # the latest break <= s
        self._break_up: int | None = None  # the first break > s

    def _map(self, v: int) -> dict:
        return _read_manifest_raw(self.store, v).get("column_map") or {}

    def _is_break(self, t: int) -> bool:
        if t < 2:
            return False
        raw = _read_manifest_raw(self.store, t)
        return (
            "renamed" not in raw
            and "dropped" not in raw
            and (raw.get("column_map") or {}) != self._map(t - 1)
        )

    def of(self, u: int) -> dict:
        if u > self.s:
            while self._break_up is None and self._up < u:
                self._up += 1
                if self._is_break(self._up):
                    self._break_up = self._up
            broken = self._break_up is not None and self._break_up <= u
        else:
            while self._break_down is None and self._down > u:
                if self._is_break(self._down):
                    self._break_down = self._down
                self._down -= 1
            broken = self._break_down is not None and self._break_down > u
        if not broken:
            return self.cmap
        raw = _read_manifest_raw(self.store, u)
        own = raw.get("column_map") or {}
        logical = {n for n, _ in _ddl_pairs(raw.get("columns"))}
        return {
            n: own.get(n, n) if n in logical else None for n in self.names
        }


def _plan_step(
    store: str, va: int, vb: int, repartitioned: str, vacuumed: str
) -> tuple[tuple, list, list]:
    """``(pcols, removed, added)`` for the version window va → vb: vb's
    partition columns, and the entries each side holds that the other
    does not. A single step over a delta-form manifest reads the
    adds/removes the commit recorded, which ARE the unshared sets —
    O(churn), no file list resolved (round-10 manifest checkpointing);
    otherwise both manifests resolve and diff (``_unshared_entries``).
    va == 0 is the empty pre-history: every vb row is an insert
    (starting_version=1 / from_version=0 replay the full history).
    Raises ValueError(``repartitioned``, formatted with the endpoints'
    partition columns as ``{pa}``/``{pb}``) when they differ and
    ValueError(``vacuumed``) when a manifest is gone."""
    try:
        step = _step_delta(store, vb) if vb == va + 1 else None
        if step is not None:
            added, removed = step
            mb = _read_manifest_raw(store, vb)
            ma = _read_manifest_raw(store, va) if va > 0 else mb
        else:
            mb = _read_manifest(store, vb)
            ma = _read_manifest(store, va) if va > 0 else {**mb, "files": []}
            removed, added = _unshared_entries(ma, mb)
    except FileNotFoundError as exc:
        raise ValueError(vacuumed) from exc
    pa, pb = ma["partition_col"], mb["partition_col"]
    if pa != pb:
        raise ValueError(repartitioned.format(pa=pa, pb=pb))
    return tuple(_norm_pcols(pb)), removed, added


def _window_sides(
    spark: SparkSession,
    store: str,
    va: int,
    vb: int,
    repartitioned: str,
    vacuumed: str,
) -> tuple[tuple, str | None, list, DataFrame | None, DataFrame | None]:
    """``(pcols, ddl, added, a_df, b_df)``: vb's partition columns and
    DDL, the entries only vb holds, and the live rows only va (a_df)
    and only vb (b_df) hold, None for an empty side — planned by
    ``_plan_step`` and read through ``_ReadMaps(store, vb)`` as the
    batch CDF does, so both sides carry vb's names (a-side types stay
    va's, so a type change shows)."""
    pcols, removed, added = _plan_step(
        store, va, vb, repartitioned, vacuumed
    )
    maps = _ReadMaps(store, vb)
    ddl, a_df = maps.columns, None
    if removed:
        amap = maps.of(va)
        ra = _read_manifest_raw(store, va)
        own = ra.get("column_map") or {}
        types = {own.get(n, n): t for n, t in _ddl_pairs(ra.get("columns"))}
        a_ddl = ddl and ", ".join(
            f"{n} {types.get(amap.get(n, n), t)}" for n, t in _ddl_pairs(ddl)
        )
        a_df = _load_entries(spark, store, removed, pcols, a_ddl, amap)
    b_df = _load_entries(spark, store, added, pcols, ddl, maps.of(vb))
    return pcols, ddl, added, a_df, b_df


def table_changes(
    spark: SparkSession,
    store: str,
    va: int | None,
    vb: int | None,
    key_cols: list[str],
    va_timestamp: float | None = None,
    vb_timestamp: float | None = None,
) -> DataFrame:
    """Row-level change feed between two retained versions — the read
    side Delta calls Change Data Feed and Iceberg exposes as a
    changelog scan. Emits the NET changes va→vb, one row per image,
    with ``_change_type`` in {insert, delete, update_preimage,
    update_postimage}: a key only in vb is an insert, only in va a
    delete, in both with different non-key content an update (two
    rows: the old image then the new). A key whose content is
    identical on both sides emits nothing — so pure file movement
    (compaction, z-ordering) produces an EMPTY feed, which is exactly
    the property an incremental consumer needs (pinned by
    tests/test_versioning.py::test_table_changes_feed).

    Scale shape: only files the versions do NOT share are opened
    (``_plan_step`` — copy-on-write means that is the touched
    partitions, never the table), then one full-outer join on the key
    over those rows. Key-uniqueness per version (enforced by the
    upsert path) guarantees a key living in a shared file cannot also
    appear in an unshared one, so skipping shared files loses nothing.
    Schema evolution: rows come under the window end's names, as in
    the batch CDF (both sides read through ``_ReadMaps(store, vb)``):
    a column renamed in the window surfaces once, a dropped one not at
    all, an added one reads null on the older side.

    ``va_timestamp``/``vb_timestamp`` address the endpoints by commit
    time instead (Delta's starting/endingTimestamp): each resolves to
    the version CURRENT at that instant via ``version_at_timestamp``,
    so the feed is "what changed between these two wall-clock
    moments". Mutually exclusive with the corresponding version
    argument."""
    va = _resolve_version(
        store, va, va_timestamp, ("va", "va_timestamp"), head=False
    )
    vb = _resolve_version(
        store, vb, vb_timestamp, ("vb", "vb_timestamp"), head=False
    )
    if va is None or vb is None:
        raise ValueError(
            "table_changes needs both endpoints (version or timestamp)"
        )
    # across a re-partitioning overwrite each side restores its
    # partition columns differently: feed up to it and from it instead
    pcols, ddl, _, a_df, b_df = _window_sides(
        spark, store, va, vb,
        f"versions v{va}/v{vb} use different partition columns"
        " ({pa} vs {pb}); a change feed across a re-partitioning"
        " boundary is not defined",
        f"version window v{va}..v{vb} includes a vacuumed (or"
        " never-committed) version; feed from a retained version",
    )
    missing = [c for c in pcols if c not in key_cols]
    if missing:
        raise ValueError(
            f"key_cols {key_cols} must include the partition column(s)"
            f" {missing} (store keys are partition-scoped)"
        )
    if a_df is None and b_df is None:
        if ddl is None:
            raise ValueError(
                "identical file sets and no recorded schema: cannot"
                " shape the empty feed (pre-schema-recording store)"
            )
        return _local_frame(
            spark, [], f"{_snapshot_ddl(ddl, pcols)}, _change_type string"
        )
    if a_df is None or b_df is None:
        # One-sided window: per-version key-uniqueness means a key in
        # an unshared file of one side cannot also live in a shared
        # file, so every row is an INSERT (or every row a DELETE) — the
        # full-outer join would filter nothing. Emitted join-free: an
        # append-only refresh window costs one scan of the new files.
        side, ct = (b_df, "insert") if a_df is None else (a_df, "delete")
        val_cols = [c for c in side.columns if c not in key_cols]
        return side.selectExpr(
            *[f"`{c}`" for c in key_cols],
            *[f"`{c}`" for c in val_cols],
            f"'{ct}' AS _change_type",
        )
    # across a type-widening boundary the two sides read the SAME
    # column at different widths (va's manifest: int, vb's: bigint);
    # align both to the wider type so the image structs compare —
    # upcasting is value-preserving, so change detection is unchanged
    for f in a_df.schema.fields:
        bt = b_df.schema[f.name].dataType
        if f.dataType != bt:
            w = _wider(f.dataType.simpleString(), bt.simpleString())
            if w is None:
                raise ValueError(
                    f"column {f.name!r} has incompatible types across"
                    f" versions v{va}/v{vb}: {f.dataType.simpleString()}"
                    f" vs {bt.simpleString()}"
                )
            a_df = a_df.withColumn(f.name, F.col(f.name).cast(w))
            b_df = b_df.withColumn(f.name, F.col(f.name).cast(w))
    # projection block as SQL text (one parse per select instead of
    # ~6 py4j calls per column — this build ran ~750 commands on a
    # 3-column store, round-11 profile); identifiers backticked so
    # any legal column name survives the round trip
    val_cols = [c for c in b_df.columns if c not in key_cols]
    kq = [f"`{c}`" for c in key_cols]
    old = a_df.selectExpr(
        *kq,
        *[f"`{c}` AS `__o_{c}`" for c in val_cols],
        "true AS __in_old",
    )
    new = b_df.selectExpr(
        *kq,
        *[f"`{c}` AS `__n_{c}`" for c in val_cols],
        "true AS __in_new",
    )
    j = old.join(new, key_cols, "full_outer")
    same = (
        "(struct("
        + ", ".join(f"`__o_{c}`" for c in val_cols)
        + ") <=> struct("
        + ", ".join(f"`__n_{c}`" for c in val_cols)
        + "))"
        if val_cols
        else "true"  # key-only table: presence IS the content
    )

    def img(prefix: str, ct: str) -> str:
        fields = [f"`__{prefix}_{c}` AS `{c}`" for c in val_cols]
        fields.append(f"'{ct}' AS _change_type")
        return "struct(" + ", ".join(fields) + ")"

    case = (
        "CASE WHEN __in_old IS NULL THEN array(" + img("n", "insert") + ")"
        " WHEN __in_new IS NULL THEN array(" + img("o", "delete") + ")"
        " ELSE array("
        + img("o", "update_preimage")
        + ", "
        + img("n", "update_postimage")
        + ") END"
    )
    return (
        j.filter(f"__in_old IS NULL OR __in_new IS NULL OR NOT {same}")
        .selectExpr(*kq, f"explode({case}) AS __c")
        .selectExpr(*kq, "__c.*")
    )


def _cluster_for_rewrite(
    df: DataFrame, pcols: list[str], zorder_cols: list[str] | None, n_out: int
) -> DataFrame:
    """The compaction rewrite layout: plain repartition by the
    partition column(s), or — with ``zorder_cols`` (2+ NUMERIC
    columns) — Morton-clustered (Delta's OPTIMIZE ZORDER BY): each
    column grid-normalized over its input-wide min/max (1-row
    broadcast), interleaved with the layout module's pure-JVM fold,
    range-partitioned + sorted so every output file covers a small
    rectangle of the key space. Content is identical either way —
    clustering only permutes rows across files."""
    if not zorder_cols:
        return df.repartition(n_out, *pcols)
    from engine.operators.layout import morton_n_expr

    # 16 bits per dimension is plenty for file-level clustering
    # (65536 cells >> any file count) and keeps (value - lo) * grid
    # inside int64 for value ranges up to 2^47
    bits = min(16, 63 // len(zorder_cols))
    grid = 1 << bits
    bounds = df.agg(
        *[
            f(c).cast("bigint").alias(f"__{n}{i}")
            for i, c in enumerate(zorder_cols)
            for f, n in ((F.min, "lo"), (F.max, "hi"))
        ]
    )
    g = df.crossJoin(F.broadcast(bounds))  # 1-row bounds
    gcols = []
    for i, c in enumerate(zorder_cols):
        gc = f"__g{i}"
        gcols.append(gc)
        g = g.withColumn(
            gc,
            F.expr(
                f"(({c} - __lo{i}) * {grid})"
                f" DIV ((__hi{i} - __lo{i}) + 1)"
            ).cast("bigint"),
        )
    return (
        g.withColumn("__z", F.expr(morton_n_expr(gcols, bits)))
        .repartitionByRange(n_out, *pcols, "__z")
        .sortWithinPartitions(*pcols, "__z")
        .drop(
            "__z",
            *gcols,
            *[f"__{n}{i}" for i in range(len(zorder_cols))
              for n in ("lo", "hi")],
        )
    )


def compact_partitions(
    spark: SparkSession,
    store: str,
    files_per_partition: int = 1,
    zorder_cols: list[str] | None = None,
    max_retries: int = 0,
) -> int | None:
    """PARTIAL compaction: rewrite only the partitions whose file
    count exceeds ``files_per_partition`` (the churn-fragmented ones —
    every upsert adds files to the partitions it touches), carrying
    every healthy partition forward manifest-only. ``compact_version``
    rewrites the WHOLE table, which at 100 TB is an O(table) job a
    maintenance loop cannot afford and — because it changes every
    partition's file set — conflicts with ANY concurrent commit.
    Partial compaction is O(fragmented partitions) and, with
    ``max_retries``, composes with optimistic concurrency: a
    background OPTIMIZE racing ingest into OTHER partitions both land
    (pinned in tests). Returns the new version, or None when nothing
    is fragmented (no empty commit). The manifest records
    ``compacted_partitions``."""
    prev_v = current_version(store)
    prev = _read_prev_manifest(store, prev_v, "compact_partitions")
    pcols = _norm_pcols(prev["partition_col"])
    n_files: dict[tuple, int] = {}
    for e in prev["files"]:
        p = _norm_pval(e["partition"])
        n_files[p] = n_files.get(p, 0) + 1
    fragmented = sorted(
        p for p, n in n_files.items() if n > files_per_partition
    )
    if not fragmented:
        return None
    df = read_version(
        spark, store, prev_v, partition_values=fragmented
    )
    n_out = max(1, len(fragmented) * files_per_partition)
    compacted = _cluster_for_rewrite(df, pcols, zorder_cols, n_out)
    extra: dict = {"compacted_partitions": len(fragmented)}
    if zorder_cols:
        extra["zorder"] = list(zorder_cols)
    new_entries = _stage_files(
        compacted, store, prev_v + 1, pcols, prev.get("column_map"),
        prev.get("dropped_physical"),
    )
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        set(fragmented),
        new_entries,
        _merge_ddl(
            prev.get("columns"), _columns_ddl(compacted.schema, pcols)
        ),
        extra,
        max_retries,
    )


def select_compaction_targets(
    store: str,
    version: int | None = None,
    max_files: int = 8,
    target_file_bytes: int = 128 << 20,
) -> list[tuple]:
    """Stats-driven OPTIMIZE target selection (round 11, VERDICT r10
    #4): the partitions a maintenance loop should compact, decided
    from MANIFEST metadata alone — zero file opens, zero listing. A
    partition qualifies when it is fragmented (more than ``max_files``
    entries), small-filed (2+ files with median size under half the
    ``target_file_bytes`` write target — half, because a partition of
    files already near target gains nothing from a rewrite), or
    carries a deletion vector (compaction is what materializes DVs
    away, and a DV'd file is a read tax until it does)."""
    v = version if version is not None else current_version(store)
    man = _read_manifest(store, v)
    by_part: dict[tuple, list[dict]] = {}
    for e in man["files"]:
        by_part.setdefault(_norm_pval(e["partition"]), []).append(e)
    out = []
    for p, es in sorted(by_part.items()):
        # entries predating byte recording size as 0: a partition of
        # unknown-size files reads as small-filed, which errs toward
        # compacting it — the safe direction for a maintenance verb
        sizes = sorted(e.get("bytes") or 0 for e in es)
        median = sizes[len(sizes) // 2]
        if (
            len(es) > max_files
            or (len(es) > 1 and median < target_file_bytes // 2)
            or any(e.get("dv") for e in es)
        ):
            out.append(p)
    return out


def optimize_auto(
    spark: SparkSession,
    store: str,
    max_files: int = 8,
    target_file_bytes: int = 128 << 20,
    zorder_cols: list[str] | None = None,
    max_retries: int = 0,
) -> int | None:
    """OPTIMIZE with stats-driven target selection: compact exactly
    the partitions ``select_compaction_targets`` flags, sizing the
    rewrite by BYTES (≈ ``target_file_bytes`` per output file — a
    partition larger than the target splits across ~bytes/target
    files via a deterministic salt, a small one collapses to one
    file). Healthy partitions carry forward manifest-only, so the
    maintenance loop is O(fragmented data), never O(table); with
    ``max_retries`` it composes with concurrent ingest into other
    partitions exactly like ``compact_partitions``. Returns the new
    version, or None when the manifest is already healthy (no empty
    commit)."""
    prev_v = current_version(store)
    prev = _read_prev_manifest(store, prev_v, "optimize_auto")
    pcols = _norm_pcols(prev["partition_col"])
    targets = select_compaction_targets(
        store, prev_v, max_files, target_file_bytes
    )
    if not targets:
        return None
    tset = set(targets)
    by_part: dict[tuple, int] = {}
    by_part_files: dict[tuple, int] = {}
    for e in prev["files"]:
        p = _norm_pval(e["partition"])
        if p in tset:
            by_part[p] = by_part.get(p, 0) + e["bytes"]
            by_part_files[p] = by_part_files.get(p, 0) + 1
    total = sum(by_part.values())
    # never emit more files than consumed: compaction's whole point
    n_out = max(
        len(targets),
        min(-(-total // target_file_bytes), sum(by_part_files.values())),
    )
    df = read_version(
        spark, store, prev_v, partition_values=sorted(tset)
    )
    if zorder_cols:
        compacted = _cluster_for_rewrite(df, pcols, zorder_cols, n_out)
    else:
        # ~target-sized outputs: split each partition value across
        # ceil(ITS bytes / target) tasks via a deterministic row-hash
        # salt — the modulus is PER PARTITION (review r11 #6: one
        # global modulus sized by the largest target re-fragmented
        # every small co-target into k tiny files, immediately
        # re-qualifying them for the next maintenance pass). Plain
        # repartition on pcols alone would fold every partition value
        # into ONE file regardless of size.
        per_k = {
            p: min(
                -(-b // target_file_bytes), by_part_files[p]
            )
            for p, b in by_part.items()
        }
        if max(per_k.values()) <= 1:
            compacted = df.repartition(n_out, *pcols)
        else:
            kmap = _local_frame(
                spark,
                [(*p, k) for p, k in sorted(per_k.items())],
                ", ".join(f"{c} string" for c in pcols)
                + ", __vs_k int",
            )
            compacted = (
                df.join(F.broadcast(kmap), list(pcols))
                .withColumn(
                    "__vs_salt",
                    F.pmod(
                        F.xxhash64(
                            *[
                                F.col(c)
                                for c in df.columns
                                if c not in pcols
                            ]
                        ),
                        F.greatest(F.col("__vs_k"), F.lit(1)),
                    ),
                )
                .repartition(n_out, *pcols, "__vs_salt")
                .drop("__vs_salt", "__vs_k")
            )
    extra: dict = {"optimized_partitions": len(targets)}
    if zorder_cols:
        extra["zorder"] = list(zorder_cols)
    new_entries = _stage_files(
        compacted, store, prev_v + 1, pcols, prev.get("column_map"),
        prev.get("dropped_physical"),
    )
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        tset,
        new_entries,
        _merge_ddl(
            prev.get("columns"), _columns_ddl(compacted.schema, pcols)
        ),
        extra,
        max_retries,
    )


def compact_version(
    spark: SparkSession,
    store: str,
    files_per_partition: int = 1,
    zorder_cols: list[str] | None = None,
) -> int:
    """Commit a compacted copy of the CURRENT version: same rows, fewer
    files (the small-file problem is the versioned store's natural
    failure mode — every upsert adds at least one file to each
    touched partition). Contents are identical by construction (one
    repartition by the partition column, no row transformation); the
    previous version keeps its own files, so compaction is as safe —
    and as reversible — as any other commit.

    With ``zorder_cols`` (2+ NUMERIC columns) the compaction also
    CLUSTERS — Delta's OPTIMIZE ZORDER BY: each column is
    grid-normalized over its snapshot-wide min/max (a 1-row broadcast;
    at 100 TB these bounds come from the catalog), the grids are
    Morton-interleaved with the layout module's pure-JVM fold, and the
    write is range-partitioned on (partition, z) + sorted within tasks,
    so every output file covers a small rectangle of the key space and
    post-compaction range predicates on ANY z-dimension skip most
    files' footers (proven on real pyarrow stats in
    tests/test_versioning.py). Rows with a NULL z-dimension sort
    first and cluster together; content is still byte-identical —
    z-ordering only permutes rows across files. One range shuffle,
    the standard clustered-write cost."""
    prev_v = current_version(store)
    prev = _read_manifest(store, prev_v)
    pcols = _norm_pcols(prev["partition_col"])
    df = read_version(spark, store, prev_v)
    n_parts = max(1, len({_norm_pval(e["partition"])
                          for e in prev["files"]}))
    n_out = max(1, n_parts * files_per_partition)
    compacted = _cluster_for_rewrite(df, pcols, zorder_cols, n_out)
    version = prev_v + 1
    # the column map survives compaction: partial compactions share
    # files with untouched partitions, so one physical name space
    # must keep covering every file (stage under physical names)
    entries = _stage_files(
        compacted, store, version, pcols, prev.get("column_map"),
        prev.get("dropped_physical"),
    )
    manifest = {"version": version, "partition_col": _man_pcol(pcols),
                "columns": _columns_ddl(compacted.schema, pcols),
                "files": entries, "compacted_from": prev_v}
    if prev.get("column_map"):
        manifest["column_map"] = prev["column_map"]
    if prev.get("dropped_physical"):
        manifest["dropped_physical"] = prev["dropped_physical"]
    if zorder_cols:
        manifest["zorder"] = list(zorder_cols)
    _claim_manifest(store, manifest)
    _maybe_write_blooms(spark, store, version, entries, [], None, 0)
    _advance_current(store, version)
    return version


_DV_MAX_POSITIONS = 100_000


def _commit_delete_dv(
    spark: SparkSession,
    store: str,
    keys: DataFrame,
    key_cols: list[str],
    prev_v: int,
    prev: dict,
    touched: set,
    to_rewrite: list[dict],
    max_retries: int,
) -> int:
    """Merge-on-read DELETE (Delta 2.x deletion vectors, round 11):
    instead of rewriting the admitted files, record each doomed row's
    POSITION in a per-entry deletion vector — the commit costs one
    scan of the admitted files plus O(doomed rows) manifest JSON,
    never a data write. Readers drop DV'd positions via a broadcast
    anti-join on (file, ``_metadata.row_index``) (``_load_entries``);
    the Python data source and change-feed readers mask the same
    positions in their Arrow reads. Compaction materializes DVs away
    (it stages survivor rows into fresh files). Bounded by
    ``_DV_MAX_POSITIONS`` doomed rows per commit — past that a
    copy-on-write delete is cheaper than hauling positions through
    the manifest, and the caller is told so."""
    new_entries: list[dict] = []
    rewritten: set = set()
    if to_rewrite:
        base = _load_entries(
            spark, store, to_rewrite, prev["partition_col"],
            prev.get("columns"), prev.get("column_map"),
            with_lineage=True,
        )
        doomed = (
            base.join(
                F.broadcast(keys.select(*key_cols).distinct()),
                key_cols,
                "left_semi",
            )
            .select("__vs_file", "__vs_pos")
            .limit(_DV_MAX_POSITIONS + 1)
            .collect()
        )
        if len(doomed) > _DV_MAX_POSITIONS:
            raise ValueError(
                f"merge-on-read delete would doom more than"
                f" {_DV_MAX_POSITIONS} rows; use the copy-on-write"
                " path (merge_on_read=False) for bulk deletes"
            )
        by_file: dict[str, list[int]] = {}
        for r in doomed:
            by_file.setdefault(r["__vs_file"], []).append(
                int(r["__vs_pos"])
            )
        for e in to_rewrite:
            pos = by_file.get(e["file"])
            if not pos:
                continue  # stats/bloom false positive: carry verbatim
            old = (e.get("dv") or {}).get("pos", [])
            merged = sorted(set(old) | set(pos))
            rewritten.add(e["file"])
            if len(merged) >= e["n_rows"]:
                continue  # fully dead file: drop the entry outright
            ne = {k: v for k, v in e.items() if k != "dv"}
            ne["dv"] = {"n": len(merged), "pos": merged}
            new_entries.append(ne)
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        touched,
        new_entries,
        prev.get("columns"),
        {"deleted_keys": int(keys.count()), "merge_on_read": True},
        max_retries,
        rewritten=rewritten,
        dv_commit=True,
    )


def commit_delete(
    spark: SparkSession,
    store: str,
    keys: DataFrame,
    key_cols: list[str],
    max_retries: int = 0,
    merge_on_read: bool = False,
) -> int:
    """Copy-on-write DELETE as the next version: the FILES whose
    stats/bloom admit a doomed key (``_plan_file_rewrite``) are
    rewritten WITHOUT those rows; every other entry — untouched
    partitions and provably key-free files inside touched ones —
    carries forward; a partition whose every row is deleted
    disappears from the new manifest. ``keys`` must carry the
    partition column (targeted deletion at 100 TB starts from the
    partition, never a table scan).

    Retention caveat, stated not hidden: older RETAINED versions still
    contain the deleted rows — that is what time travel means. A
    right-to-be-forgotten purge is therefore commit_delete followed by
    ``vacuum`` down to versions at or after the delete; copy-on-write
    makes this precise, because the only files that ever held the key
    are the rewritten partitions' OLD files, which vacuum removes
    (untouched partitions' shared files never contained it).

    ``max_retries`` > 0 enables the same disjoint-partition optimistic
    rebase as ``commit_upsert`` (see the concurrency section).

    ``merge_on_read=True`` switches to DELETION VECTORS
    (``_commit_delete_dv``): doomed row positions are recorded in the
    manifest instead of rewriting any file — a point delete costs KB
    of metadata, and readers filter the positions out. Purge caveat:
    a DV delete leaves the bytes in the data file; the GDPR story
    requires a compaction of the DV'd partitions (materializes the
    DVs into fresh files) before vacuum."""
    prev_v = current_version(store)
    prev = _read_prev_manifest(store, prev_v, "commit_delete")
    pcols = _norm_pcols(prev["partition_col"])
    missing = [c for c in pcols if c not in key_cols]
    if missing:
        raise ValueError(
            f"key_cols {key_cols} must include the partition column(s)"
            f" {missing}: deletion rewrites only the keys' partitions"
        )
    # file-granular planning (round 11): only files whose stats/bloom
    # admit a doomed key are rewritten — a one-key delete on a
    # many-file partition rewrites one file (plus bloom false
    # positives), not the partition
    touched, to_rewrite, _, key_frame = _plan_file_rewrite(
        keys, key_cols, pcols, prev, store, prev_v
    )
    if merge_on_read:
        return _commit_delete_dv(
            spark, store, keys, key_cols, prev_v, prev, touched,
            to_rewrite, max_retries,
        )
    version = prev_v + 1
    new_entries: list[dict] = []
    columns = prev.get("columns")
    if to_rewrite:
        base = _load_entries(
            spark, store, to_rewrite, prev["partition_col"],
            prev.get("columns"), prev.get("column_map"),
        )
        survivors = base.join(
            F.broadcast(key_frame), key_cols, "left_anti"
        )
        columns = _columns_ddl(survivors.schema, pcols)
        new_entries = _stage_files(
            survivors, store, version, pcols, prev.get("column_map"),
            prev.get("dropped_physical"),
        )
    return _publish_incremental(
        spark,
        store,
        prev_v,
        prev,
        touched,
        new_entries,
        columns,
        {"deleted_keys": int(keys.count())},
        max_retries,
        rewritten={e["file"] for e in to_rewrite},
    )
