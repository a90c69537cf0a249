"""Streaming and change-feed READS for the vstore data source: the
store as a Structured Streaming SOURCE and as a batch CDF relation —
the read-side complement of the round-9 sink, closing the Delta-
parity loop (`readStream` on a table / `readChangeFeed`):

    spark.readStream.format("vstore").load(store)             # append tail
    spark.readStream.format("vstore")                         # CDF tail
         .option("read_changes", "true")
         .option("key_cols", "source,doc_id").load(store)
    spark.read.format("vstore")                               # batch CDF
        .option("read_changes", "true").option("key_cols", ...)
        .option("from_version", 3).load(store)

Offsets ARE versions: the store's manifest chain is already a totally
ordered commit log, so `initialOffset`/`latestOffset` are one
`current_version()` call and a microbatch is a (start, end] version
window — no extra bookkeeping, and a restart resumes from the
checkpointed version exactly.

Two streaming modes, mirroring Delta's source semantics:

* **append mode** (default): each version contributes the rows of the
  files it ADDED. Exact for append-only producers (the vstore sink,
  corpus ingest). A version that also REMOVED files is a rewrite
  (upsert/merge/delete/OPTIMIZE) whose effect is NOT expressible as
  plain appended rows — the reader RAISES (Delta: "Detected a data
  update... not supported"), unless `skip_change_commits` is set, in
  which case such versions are skipped wholesale (Delta's
  `skipChangeCommits`).
* **CDF mode** (`read_changes` + `key_cols`): each version
  contributes row-level changes vs its predecessor — `_change_type`
  in {insert, delete, update_preimage, update_postimage} plus
  `_commit_version` — with `table_changes`' exact semantics
  (content-identical rows emit nothing, so compaction steps are
  CDC-invisible). The diff runs EXECUTOR-side, one task per (version,
  storage partition) whose file set changed: copy-on-write means a
  version's unshared files are its touched partitions, so tasks ∝
  churn and per-task memory ∝ one partition's changed files — never
  the table. (The engine's `table_changes` computes the same net diff
  as one distributed join; the source's per-partition form is what a
  session-less planner can ship to executors.)

Batch CDF (`spark.read` + `read_changes`) reuses the same diff kernel
over ONE (from_version, to_version] window — the NET changes between
the endpoints, exactly `table_changes`' semantics (pinned equal in
tests). Net means intra-window churn cancels: a key inserted at v2
and deleted at v3 emits nothing for the window (1, 3], while the
STREAM (per-version steps) emits both events; pick the surface that
matches the consumer.

One planner serves all four change surfaces (both streams, batch CDF,
``table_changes``/``version_diff``): ``vs._plan_step`` plans a window's
removed/added entries, and each side reads through the column map
``vs._ReadMaps`` picks; here every file reads with ``_read_file``.

Schema evolution: the stream's schema is resolved once at query
start; later widening steps upcast in-flight (safe casts only — an
overflowing narrow cast raises rather than truncating); an ADDITIVE
column appearing mid-stream is invisible until the query restarts,
exactly Delta's behavior. Files read through the column map of the
schema's version, so files committed before a rename still surface
the renamed column — except across an overwrite or rollback that
re-mapped the physical names (see ``_ReadMaps``).

Scale knobs (round 10):

* ``max_versions_per_trigger`` / ``max_bytes_per_trigger`` — admission
  control (Delta's maxFilesPerTrigger semantics): a microbatch absorbs
  at most this many versions / added bytes, so a long backlog catches
  up incrementally instead of one giant batch. At least one version is
  always admitted; bytes are a soft cap (the crossing version is
  included). One caveat, inherent to the Python API hiding the start
  offset from ``latestOffset``: combined with ``starting_version``,
  the FIRST batch of a query run is uncapped (capping it from the
  configured start could regress a restarted stream's offset below
  its checkpoint and replay data — see ``latestOffset``).
* ``max_rows_per_cdf_task`` (default 1M) — a CDF diff unit whose side
  exceeds this many manifest rows is sub-bucketed by key hash, so one
  fat rewritten partition fans out across tasks instead of
  materializing in one task's memory.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from engine import versioned_store as vs
from engine.sources.vstore_datasource import (
    VStoreFilePartition,
    _file_batches,
    _read_file,
)


def _cdf_ddl(columns: str, partition_col, streaming: bool) -> str:
    ddl = vs._snapshot_ddl(columns, partition_col) + ", _change_type string"
    return ddl + ", _commit_version bigint" if streaming else ddl


def _parse_key_cols(options: dict) -> list[str]:
    raw = options.get("key_cols")
    if not raw:
        raise ValueError(
            "change-feed reads require the key_cols option"
            " (comma-separated; must include the partition column(s))"
        )
    return [c.strip() for c in raw.split(",") if c.strip()]


class _EmptyPartition(InputPartition):
    """A no-row placeholder: Spark's Python stream reader requires a
    non-empty partition list even for an empty microbatch."""

    def __init__(self):
        pass


class _CDFPartition(InputPartition):
    """One (version step, storage partition) diff unit: the files the
    step removed (`a_files`) and added (`b_files`) for one partition
    value, as ``VStoreFilePartition``s — so deletion-vector'd entries
    diff on their LIVE rows, and cross-step type widening needs no
    per-side DDL: ``_read_file`` casts both sides to the resolved
    (widened) output schema.

    ``bucket``/``n_buckets`` sub-divide a FAT unit by key hash
    (round-9 verdict #3): a rewrite of one huge storage partition
    would otherwise materialize both sides' rows in ONE task's Python
    dicts; with n_buckets > 1 each task keeps only the keys hashing
    to its bucket — a key's rows land in the same bucket on both
    sides, so each bucket's diff is independent and their union is
    exactly the unbucketed feed."""

    def __init__(
        self,
        pval: tuple,
        a_files: list,
        b_files: list,
        key_cols: tuple,
        commit_version: int | None,
        bucket: int = 0,
        n_buckets: int = 1,
    ):
        self.pval = pval
        self.a_files = a_files
        self.b_files = b_files
        self.key_cols = key_cols
        self.commit_version = commit_version
        self.bucket = bucket
        self.n_buckets = n_buckets


def _veq(a, b) -> bool:
    """Value equality with SQL-source semantics: None==None, NaN==NaN
    (Spark treats NaN as equal to itself in eqNullSafe)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (a != a and b != b)
    return a == b


def _key_bucket(key: tuple, n_buckets: int) -> int:
    """Deterministic key→bucket hash, stable across processes (unlike
    the builtin hash under PYTHONHASHSEED) and consistent with the
    diff dicts' EQUALITY: floats that compare equal but repr apart
    are normalized first — -0.0 == 0.0 must land in one bucket or a
    sub-bucketed update would split into a spurious delete+insert
    (review r10), and NaN keys (which _veq treats as self-equal) get
    one sentinel."""
    import zlib

    norm = []
    for v in key:
        if isinstance(v, float):
            if v != v:
                v = "__nan__"
            elif v == 0.0:
                v = 0.0  # collapses -0.0
        norm.append(v)
    return zlib.crc32(repr(tuple(norm)).encode("utf-8")) % n_buckets


def _load_side(files: list, target, key_idx: list[int],
               bucket: int = 0, n_buckets: int = 1) -> list[list]:
    """One side's live rows (``_read_file`` per file, cast to the Arrow
    schema ``target``) as lists of values in ``target`` order. With
    ``n_buckets`` > 1, rows whose key hashes outside ``bucket`` are
    dropped per file AS they are read, so a sub-bucketed task's peak
    Python-row memory is one file's rows plus its own bucket — never
    the whole partition."""
    rows: list[list] = []
    for fp in files:
        t = _read_file(fp, target)
        file_rows = (
            [list(r) for r in zip(*(c.to_pylist() for c in t.columns))]
            if t.num_rows
            else []
        )
        if n_buckets > 1:
            file_rows = [
                r
                for r in file_rows
                if _key_bucket(tuple(r[i] for i in key_idx), n_buckets)
                == bucket
            ]
        rows.extend(file_rows)
    return rows


class _ReadKernels:
    """Executor-side read() shared by the stream and batch-CDF
    readers. `self.schema_` is the RESOLVED output StructType."""

    schema_: StructType

    def read(self, partition) -> Iterator:
        if isinstance(partition, VStoreFilePartition):
            return _file_batches(partition, self.schema_)
        if isinstance(partition, _CDFPartition):
            return self._read_cdf(partition)
        return iter(())

    def _read_cdf(self, p: _CDFPartition) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema_)
        meta = {"_change_type", "_commit_version"}
        side = pa.schema([f for f in target if f.name not in meta])
        names = side.names
        key_idx = [names.index(k) for k in p.key_cols]
        val_idx = [i for i in range(len(names)) if i not in key_idx]

        a_rows = _load_side(p.a_files, side, key_idx, p.bucket, p.n_buckets)
        b_rows = _load_side(p.b_files, side, key_idx, p.bucket, p.n_buckets)
        a_by_key = {tuple(r[i] for i in key_idx): r for r in a_rows}
        b_by_key = {tuple(r[i] for i in key_idx): r for r in b_rows}
        # a table populated by the blind sink append path enforces no
        # key uniqueness: duplicate keys within one side would be
        # silently collapsed to the last row here, producing an
        # INCOMPLETE change feed — raise instead, mirroring
        # commit_merge's duplicate-source guard (ADVICE r9)
        if len(a_by_key) != len(a_rows) or len(b_by_key) != len(b_rows):
            raise ValueError(
                f"table is not key-unique on {list(p.key_cols)} in"
                f" partition {p.pval}: a change feed over duplicate"
                " keys is undefined — dedupe the table (commit_upsert"
                " enforces uniqueness) or feed on a unique key"
            )

        out: list[list] = []

        def emit(row, ct):
            out.append(row + [ct, p.commit_version])

        for k, b in b_by_key.items():
            a = a_by_key.get(k)
            if a is None:
                emit(b, "insert")
            elif not all(_veq(a[i], b[i]) for i in val_idx):
                emit(a, "update_preimage")
                emit(b, "update_postimage")
        for k, a in a_by_key.items():
            if k not in b_by_key:
                emit(a, "delete")
        if not out:
            return
        by_field = list(zip(*out))
        cols = []
        for j, field in enumerate(target):
            if field.name == "_commit_version" and p.commit_version is None:
                continue  # batch CDF: net window, no per-commit column
            src = (
                by_field[names.index(field.name)]
                if field.name in names
                else by_field[len(names)] if field.name == "_change_type"
                else by_field[len(names) + 1]
            )
            cols.append(pa.array(list(src), type=field.type))
        yield from pa.table(cols, schema=target).to_batches(
            max_chunksize=1 << 16
        )


def _step_units(
    store: str,
    va: int,
    vb: int,
    key_cols,
    commit_version,
    max_rows: int | None = None,
    maps: vs._ReadMaps | None = None,
) -> list[_CDFPartition]:
    """CDF partition units for ONE version window: unshared files
    grouped per storage partition value, sub-bucketed by key hash
    when a side exceeds ``max_rows`` manifest rows (memory bound).
    The removed files read through va's map in ``maps`` (default: for
    vb's schema), the added ones through vb's."""
    pcols, removed, added = vs._plan_step(
        store,
        va,
        vb,
        f"versions v{va}/v{vb} use different partition columns; a change"
        " feed across a re-partitioning boundary is not defined",
        f"version window v{va}..v{vb} includes a vacuumed (or"
        " never-committed) version; restart the feed from a retained"
        " version",
    )
    if maps is None:
        maps = vs._ReadMaps(store, vb)
    side_maps = (maps.of(va) if removed else {}, maps.of(vb))
    grouped: dict[tuple, tuple[list, list]] = {}
    for side, entries in enumerate((removed, added)):
        for e in entries:
            pval = vs._norm_pval(e["partition"])
            grouped.setdefault(pval, ([], []))[side].append(e)
    units: list[_CDFPartition] = []
    for pval, sides in sorted(grouped.items()):
        # Bound each diff task's Python-row memory: when either side's
        # manifest row count exceeds max_rows, sub-bucket the unit by
        # key hash (round-9 verdict #3). Entries lacking n_rows (very
        # old manifests) leave the side's total unknown — no split,
        # the pre-round-10 behavior.
        n_buckets = 1
        if max_rows:
            known = [
                sum(e["n_rows"] for e in side)
                for side in sides
                if all(e.get("n_rows") is not None for e in side)
            ]
            if known and max(known) > max_rows:
                n_buckets = -(-max(known) // max_rows)
        af, bf = (
            [VStoreFilePartition(store, e, pcols, cmap) for e in side]
            for side, cmap in zip(sides, side_maps)
        )
        units.extend(
            _CDFPartition(
                pval, af, bf, tuple(key_cols), commit_version, bk, n_buckets
            )
            for bk in range(n_buckets)
        )
    return units


class VStoreCDFBatchReader(_ReadKernels, DataSourceReader):
    """Batch change-feed relation: the NET row-level diff of a
    (from_version, to_version] window — `table_changes`' semantics
    through Spark's own reader API (no `_commit_version` column: the
    window nets internally-cancelling changes)."""

    def __init__(self, options: dict, schema: StructType):
        self.store = options.get("path")
        if not self.store:
            raise ValueError("vstore source requires .load(<store path>)")
        self.schema_ = schema
        self.key_cols = _parse_key_cols(options)
        # timestamp addressing (Delta's startingTimestamp): the window
        # starts AFTER the version current at that instant
        self.va = vs._resolve_version(
            self.store,
            options.get("from_version"),
            options.get("from_timestamp"),
            ("from_version", "from_timestamp"),
            head=False,
        )
        if self.va is None:
            raise ValueError(
                "batch change-feed reads require from_version (the"
                " exclusive lower version bound) or from_timestamp"
            )
        self.vb = vs._resolve_version(
            self.store,
            options.get("to_version"),
            options.get("to_timestamp"),
            ("to_version", "to_timestamp"),
        )
        if self.va > self.vb:
            raise ValueError(
                f"from_version {self.va} is newer than to_version"
                f" {self.vb}; the change window is (from, to]"
            )
        missing = [
            k for k in self.key_cols
            if k not in {f.name for f in schema.fields}
        ]
        if missing:
            raise ValueError(f"key_cols {missing} not in the table schema")
        self.max_rows = int(options.get("max_rows_per_cdf_task", 1 << 20))

    def partitions(self):
        units = _step_units(
            self.store, self.va, self.vb, self.key_cols, None,
            self.max_rows,
        )
        return units or [_EmptyPartition()]



class VStoreStreamReader(_ReadKernels, DataSourceStreamReader):
    """The store as a streaming source — see the module docstring."""

    def __init__(self, options: dict, schema: StructType):
        self.store = options.get("path")
        if not self.store:
            raise ValueError("vstore source requires .load(<store path>)")
        self.schema_ = schema
        self.cdf = str(options.get("read_changes", "")).lower() == "true"
        self.key_cols = _parse_key_cols(options) if self.cdf else []
        names = {f.name for f in schema.fields}
        missing = [k for k in self.key_cols if k not in names]
        if missing:
            # plan-time clarity: without this a typo'd key column dies
            # executor-side as an opaque list-index ValueError
            raise ValueError(f"key_cols {missing} not in the table schema")
        self.skip_change_commits = (
            str(options.get("skip_change_commits", "")).lower() == "true"
        )
        # files read through the column map of the version the schema
        # was resolved at (schema() pins it as "version"; else the
        # head), up to a map break — see _ReadMaps
        pinned = options.get("version")
        self._maps = vs._ReadMaps(
            self.store,
            int(pinned) if pinned is not None
            else vs.current_version(self.store),
        )
        sv = options.get("starting_version")
        # offset = last PROCESSED version; starting_version v means
        # "include v's changes", so the initial offset is v-1. Without
        # it, the stream tails FUTURE commits only (offset = head).
        self._initial = (
            int(sv) - 1 if sv is not None else vs.current_version(self.store)
        )
        self.max_rows = int(options.get("max_rows_per_cdf_task", 1 << 20))
        # admission control (round-9 verdict #2 — Delta's
        # maxFilesPerTrigger semantics): bound how many versions /
        # how many added bytes one microbatch may absorb, so backlog
        # catch-up is incremental instead of one giant batch.
        # _admitted is the reader's KNOWN position. Without
        # starting_version the construction-time head is a provably
        # safe floor — a checkpointed offset can never exceed the
        # head (versions only grow), so capping from it can never
        # regress the stream — and caps apply from the first trigger.
        # With starting_version the guess may sit BELOW a restart's
        # committed offset, so the position stays unknown until
        # initialOffset (fresh query) or partitions (restart replay)
        # reveals it; see latestOffset for the uncapped-first-batch
        # consequence.
        mv = options.get("max_versions_per_trigger")
        mb = options.get("max_bytes_per_trigger")
        self.max_versions = int(mv) if mv is not None else None
        self.max_bytes = int(mb) if mb is not None else None
        self._admitted: int | None = (
            None if sv is not None else self._initial
        )

    def initialOffset(self) -> dict:
        # Spark calls this only for a fresh query (a restart restores
        # offsets from the checkpoint instead), so _initial is the
        # stream's true position here. NEVER lower a position already
        # learned: measured call order is latestOffset FIRST, then
        # initialOffset (round-10 review probe), so by now the first
        # batch's end may already be declared.
        if self._admitted is None:
            self._admitted = self._initial
        return {"version": self._initial}

    def _added_bytes(self, v: int) -> int:
        """Bytes a version ADDED, straight from its raw manifest —
        the delta's adds, or the whole file list for a snapshot-form
        commit (an overwrite's 'new data' IS the snapshot). Entries
        predating byte recording count 0 (admit-lenient)."""
        raw = vs._read_manifest_raw(self.store, v)
        d = raw.get("delta")
        entries = d["adds"] if d is not None else raw.get("files", [])
        return sum(e.get("bytes") or 0 for e in entries)

    def latestOffset(self) -> dict:
        """The head, CAPPED by the per-trigger admission limits. The
        reader self-tracks its admitted position (Spark's Python
        stream API passes no start offset here). Without
        starting_version the position is known from construction (the
        head — a safe floor) and every batch is capped. With
        starting_version the position is unknown until initialOffset
        (fresh query) or a replayed batch's partitions() (restart)
        reveals it — and Spark's measured call order puts the first
        latestOffset BEFORE both, so that one call returns the
        UNCAPPED head: capping from the starting_version guess could
        fall BELOW a restart's checkpointed offset, which Spark would
        record as the new end offset and then replay already-delivered
        versions as duplicates (round-10 review #1). One unbounded
        historical-replay batch is the honest cost of an API that
        hides the start offset; every later batch is bounded. At
        least one version is always admitted (progress guarantee);
        max_bytes is a soft cap — the version that crosses it is
        included, like Delta's maxBytesPerTrigger."""
        head = vs.current_version(self.store)
        if self.max_versions is None and self.max_bytes is None:
            return {"version": head}
        if self._admitted is None:
            # restarted from a checkpoint this reader cannot see yet
            self._admitted = head
            return {"version": head}
        base = min(self._admitted, head)
        end = head
        if self.max_versions is not None:
            end = min(end, base + self.max_versions)
        if self.max_bytes is not None and end > base:
            total, capped = 0, base
            for v in range(base + 1, end + 1):
                total += self._added_bytes(v)
                capped = v
                if total >= self.max_bytes:
                    break
            end = capped
        self._admitted = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        # learn the true position from the engine — START included, so
        # a replayed pending batch after a restart teaches the reader
        # the checkpointed offset even when end < start (review r10)
        pos = max(start["version"], end["version"])
        if self._admitted is None or pos > self._admitted:
            self._admitted = pos
        out: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            if self.cdf:
                out.extend(
                    _step_units(
                        self.store, v - 1, v, self.key_cols, v,
                        self.max_rows, self._maps,
                    )
                )
                continue
            pcols, removed, added = vs._plan_step(
                self.store,
                v - 1,
                v,
                f"version {v} re-partitioned the store; an append"
                " stream cannot cross that boundary",
                f"version v{v - 1} or v{v} was vacuumed while this"
                " stream was stopped; restart the query from a"
                " retained starting_version",
            )
            if removed:
                if self.skip_change_commits:
                    continue  # rewrite/delete/compaction step: skipped
                raise ValueError(
                    f"version {v} updated or removed rows, which an"
                    " append-mode stream cannot represent; set"
                    " skip_change_commits to skip such versions, or"
                    " read with read_changes + key_cols for the full"
                    " change feed"
                )
            cmap = self._maps.of(v)
            out.extend(
                VStoreFilePartition(
                    self.store, e, pcols, cmap, commit_version=v
                )
                for e in added
            )
        return out or [_EmptyPartition()]

    def commit(self, end: dict) -> None:
        pass  # versions are retained by the store's own vacuum policy
