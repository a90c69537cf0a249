"""Workload ``store_refresh``: a refresh loop on ``engine.versioned_store``.

The store holds the sf0.1 ``events`` table with the columns the engine's
own events caller (``store_composite_partition`` in
``engine/operators/versioning.py``) stores: ``day, event_id, event_type,
user_id``, partitioned by ``day`` (30 partitions of about 3,300 rows)
and keyed by ``(day, event_id)``. Set-up commits it with
``commit_overwrite``. The client then cycles through three
operations:

- ``commit``: ``commit_upsert`` of a seeded changeset of 1 % of the base
  table (that caller's correction upsert touches 1 / 101 of it): half
  corrections of existing events (a new ``user_id``), half late events
  (new ``event_id``), on days drawn towards the most recent ones;
- ``snapshot_read``: ``current_version`` then ``read_version`` of the
  head, pruned to one of the last three days, collected;
- ``cdf_read``: ``table_changes`` over the last two versions, collected.

A Python dict per version models the table. Every snapshot read and
every change-feed window must equal the model, and so must the whole
head table at the end of the run.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

from harness import Harness, phase_mean
from measure import median, tail

DDL = "day string, event_id long, event_type string, user_id long"
COLS = ("day", "event_id", "event_type", "user_id")
PCOL = "day"
KEYS = ["day", "event_id"]
CHANGE_FRACTION = 0.01  # changeset rows / base rows
UPDATE_SHARE = 0.5  # the rest are inserts
RECENT_RATE = 0.4  # days back ~ Exp(0.4): a mean of 2.5 days
READ_DAYS = 3  # a snapshot read picks one of the most recent days
KINDS = ("commit", "snapshot_read", "cdf_read")
KEEP_VERSIONS = 8  # model history kept for change-feed windows
# every change-feed read spans the same number of versions, so runs of
# different lengths read the same mix
CDF_WIDTH = 2
WARMUP_ROUNDS = 1


def _row_bytes(day: str, event_id: int, event_type: str, user_id: int) -> int:
    """Size of one row as the user hands it over: two strings and two longs."""
    return len(day.encode()) + 8 + len(event_type.encode()) + 8


def expected_changes(old: dict, new: dict) -> Counter:
    """The net change feed from model ``old`` to model ``new``."""
    out: Counter = Counter()
    for key in old.keys() | new.keys():
        a, b = old.get(key), new.get(key)
        if a == b:
            continue
        if a is None:
            out[(*key, *b, "insert")] += 1
        elif b is None:
            out[(*key, *a, "delete")] += 1
        else:
            out[(*key, *a, "update_preimage")] += 1
            out[(*key, *b, "update_postimage")] += 1
    return out


def _rows(collected, cols: tuple = COLS) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in collected]


class StoreRefresh:
    name = "store_refresh"
    unit_size = len(KINDS)
    # a round takes several seconds: a short run would otherwise take a
    # median over two samples per kind
    min_units = 3

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int) -> None:
        import engine.versioned_store as vs

        self.vs = vs
        self.spark = spark
        self.sf_dir = sf_dir
        self.store = os.path.join(run_dir, "store")
        self.rng = random.Random(seed)
        self.models: dict[int, dict] = {}
        self.user_bytes = 0

    # -- model ---------------------------------------------------------------

    def _changeset(self) -> list[tuple]:
        head = self.models[max(self.models)]
        rows = {}
        while len(rows) < self.changes_per_commit:
            back = min(len(self.days) - 1, int(self.rng.expovariate(RECENT_RATE)))
            day = self.days[-1 - back]
            if self.rng.random() < UPDATE_SHARE:
                # nothing is deleted, so every key listed for a day exists
                eid = self.rng.choice(self.day_keys[day])
                et = head[(day, eid)][0]
            else:
                eid, et = self.next_id, self.rng.choice(self.types)
                self.next_id += 1
            uid = self.rng.randrange(1 << 31)
            if head.get((day, eid)) != (et, uid):
                rows[(day, eid)] = (day, eid, et, uid)
        return list(rows.values())

    def _apply(self, version: int, changes: list[tuple]) -> None:
        model = dict(self.models[max(self.models)])
        for day, eid, et, uid in changes:
            if (day, eid) not in model:
                self.day_keys[day].append(eid)
            model[(day, eid)] = (et, uid)
            self.user_bytes += _row_bytes(day, eid, et, uid)
        self.models[version] = model
        for old in sorted(self.models)[:-KEEP_VERSIONS]:
            del self.models[old]

    def _snapshot_errors(self, version: int, day: str | None, got: list[tuple]) -> list[str]:
        model = self.models[version]
        want = sorted(
            (d, eid, et, uid) for (d, eid), (et, uid) in model.items() if day is None or d == day
        )
        if sorted(got) != want:
            return [f"snapshot v{version} day {day}: {len(got)} rows differ from the model's {len(want)}"]
        return []

    # -- workload ------------------------------------------------------------

    def setup(self, h: Harness) -> dict:
        from pyspark.sql import functions as F

        from engine.io import load_table

        t0 = time.perf_counter()
        ev = load_table(self.spark, self.sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_id",
            "event_type",
            "user_id",
        )
        v = self.vs.commit_overwrite(ev, self.store, PCOL)
        prep_s = time.perf_counter() - t0
        with h.untimed():
            base = _rows(ev.collect())
            self.models[v] = {(d, eid): (et, uid) for d, eid, et, uid in base}
            self.user_bytes += sum(_row_bytes(*r) for r in base)
            self.days = sorted({r[0] for r in base})
            self.types = sorted({r[2] for r in base})
            self.day_keys = {d: [] for d in self.days}
            for d, eid, _, _ in sorted(base):
                self.day_keys[d].append(eid)
            self.next_id = max(r[1] for r in base) + 1
            self.changes_per_commit = round(CHANGE_FRACTION * len(base))
        t0, untimed0 = time.perf_counter(), h.untimed_s
        for k in range(WARMUP_ROUNDS * len(KINDS)):
            kind, body, check = self.next_op(h, k)
            out = body()
            with h.untimed():
                h.check(f"warm-up {kind}", check(out))
        warmup_s = time.perf_counter() - t0 - (h.untimed_s - untimed0)
        return {"prep_s": prep_s, "warmup_s": warmup_s}

    def next_op(self, h: Harness, k: int):
        kind = KINDS[k % len(KINDS)]
        vs, spark, store = self.vs, self.spark, self.store
        if kind == "commit":
            changes = self._changeset()

            def body():
                before = _listing(store) if h.in_traced_op else None
                with h.phase("vstore.commit_upsert"):
                    cs = spark.createDataFrame(changes, DDL)
                    v = vs.commit_upsert(spark, store, cs, KEYS)
                if before is not None:
                    added = {p: s for p, s in _listing(store).items() if p not in before}
                    manifests = os.path.join(store, "_manifests")
                    h.annotate(
                        files_added=sum(1 for p in added if not p.startswith(manifests)),
                        bytes_written=sum(added.values()),
                        checkpoints=sum(
                            1 for p in added if os.path.basename(p).startswith("ckpt-")
                        ),
                    )
                return v

            def check(v):
                prev = max(self.models)
                self._apply(v, changes)
                return [] if v == prev + 1 else [f"commit returned v{v}, expected v{prev + 1}"]

        elif kind == "snapshot_read":
            day = self.days[-1 - self.rng.randrange(READ_DAYS)]

            def body():
                with h.phase("vstore.current_version"):
                    v = vs.current_version(store)
                with h.phase("vstore.read_version"):
                    rows = vs.read_version(spark, store, v, partition_values=[day]).collect()
                return v, rows

            def check(out):
                v, rows = out
                return self._snapshot_errors(v, day, _rows(rows))

        else:

            def body():
                with h.phase("vstore.current_version"):
                    vb = vs.current_version(store)
                va = max(min(self.models), vb - CDF_WIDTH)
                with h.phase("vstore.table_changes"):
                    rows = vs.table_changes(spark, store, va, vb, KEYS).collect()
                return va, vb, rows

            def check(out):
                va, vb, rows = out
                got = Counter(_rows(rows, (*COLS, "_change_type")))
                want = expected_changes(self.models[va], self.models[vb])
                if got != want:
                    return [f"change feed v{va}..v{vb}: {sum(got.values())} rows differ from the model's {sum(want.values())}"]
                return []

        return kind, body, check

    def finish(self, h: Harness, plain: list, traced: list) -> tuple[dict, dict]:
        with h.untimed():
            v = self.vs.current_version(self.store)
            rows = _rows(self.vs.read_version(self.spark, self.store, v).collect())
            h.check("final head snapshot", self._snapshot_errors(v, None, rows))
        by_kind = {kind: [r["op_s"] for r in plain if r["kind"] == kind] for kind in KINDS}
        tail_v, tail_note = tail(by_kind["commit"])
        values = {
            "commit_p50_s": median(by_kind["commit"]),
            "commit_tail_s": tail_v,
            "snapshot_read_p50_s": median(by_kind["snapshot_read"]),
            "cdf_read_p50_s": median(by_kind["cdf_read"]),
            "bytes_stored_per_user_byte": sum(_listing(self.store).values()) / self.user_bytes,
        }
        notes = {
            "commit_tail_s": tail_note,
            "bytes_stored_per_user_byte": f"head v{v}",
        }
        if traced:
            commits = [r for r in traced if r["kind"] == "commit"]
            if not commits:
                raise RuntimeError("no traced commit")
            values.update(
                {
                    "vstore.commit_jobs": phase_mean(commits, "vstore.commit_upsert", "jobs"),
                    "vstore.commit_files_added": sum(r["files_added"] for r in commits) / len(commits),
                    "vstore.commit_bytes_written": sum(r["bytes_written"] for r in commits) / len(commits),
                    "vstore.checkpoints_written": sum(r["checkpoints"] for r in commits) / len(commits),
                    "vstore.head_resolve_s": phase_mean(traced, "vstore.current_version", "wall_s"),
                    "vstore.read_jobs": phase_mean(traced, "vstore.read_version", "jobs"),
                    "vstore.cdf_jobs": phase_mean(traced, "vstore.table_changes", "jobs"),
                }
            )
        return values, notes


def _listing(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out
