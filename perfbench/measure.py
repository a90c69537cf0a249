"""Measurement sources for the benchmark, all read from outside the engine.

- ``Tracer``: spans (name, start, end, parent, op id) kept in memory and
  written out once at the end of a run.
- ``SparkStatus``: jobs and stages of one operation, read from Spark's
  status store (served with the UI off), keyed by the operation's job
  group plus the job-id window it ran in, so jobs that pool threads
  start without inheriting the group are still counted.
- ``ProcTree``: CPU time of the driver's process tree from ``/proc``,
  split into the driver, the JVM, Python workers and the children those
  workers start (pipe executables); ``peak_rss_bytes`` sums the tree's
  per-process peak RSS.
- ``Py4jCounter``: commands the driver sends to the JVM.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from typing import NamedTuple

# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile, ``p`` in (0, 100]."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, and a label naming it and the sample count. With fewer
    than 20 samples no such percentile exists and the maximum is given."""
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n - math.ceil(p / 100 * n) >= 10:
            return percentile(xs, p), f"p{p} of {n} samples"
    return max(xs), f"max of {n} samples (fewer than 20)"


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans; ``write`` dumps them as JSON."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job or stage)."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "op": self.op_id,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f)


# ---------------------------------------------------------------- py4j


class Py4jCounter:
    """Counts commands sent over the driver's py4j client while enabled.
    Installed on the client instance and removed by ``close``."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.count = 0
        self.enabled = False

        def send_command(*a, **kw):
            if self.enabled:
                self.count += 1
            return self._orig(*a, **kw)

        self._client.send_command = send_command

    @contextlib.contextmanager
    def counting(self):
        """Count inside the block; yields a dict whose ``n`` is set on exit."""
        out = {"n": 0}
        c0, self.enabled = self.count, True
        try:
            yield out
        finally:
            self.enabled = False
            out["n"] = self.count - c0

    def close(self) -> None:
        del self._client.send_command


# ---------------------------------------------------------------- Spark status store


_STAGE_SUMS = {
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class SparkStatus:
    """Reads jobs and stages from ``SparkContext.statusStore()``.

    ``window()`` opens a job window: it tags the calling thread's jobs
    with a job group and remembers the next job id. ``jobs(window)``
    waits for the listener bus to drain, then returns every job in the
    window's id range (tagged with the group or started by a thread that
    does not inherit it; the benchmark's single client makes the window
    exact), each with its stages."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        jvm = spark._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(scala.__getattr__("MODULE$"))

    def window(self, group: str) -> dict:
        self._sc.setJobGroup(group, group)
        return {"group": group, "first": self._dag.numTotalJobs(), "t0": time.time()}

    def close_window(self, win: dict) -> None:
        win["last"] = self._dag.numTotalJobs()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def jobs(self, win: dict) -> list[dict]:
        self._bus.waitUntilEmpty()
        out = []
        for jid in range(win["first"], win["last"]):
            job = json.loads(self._json.writeValueAsString(self._store.job(jid)))
            job["stages"] = []
            for sid in job["stageIds"]:
                st = json.loads(
                    self._json.writeValueAsString(self._store.lastStageAttempt(sid))
                )
                # a stage an earlier window computed is skipped here
                # but its record still reads COMPLETE: keep only stages
                # submitted inside this window
                if (
                    st["status"] == "COMPLETE"
                    and st["submissionTime"] / 1e3 >= win["t0"] - 0.002
                ):
                    job["stages"].append(st)
            out.append(job)
        return out


def summarize_jobs(jobs: list[dict], wall_start: float, wall_end: float) -> dict:
    """Counts and sums over a window's jobs. Each stage is counted once,
    in the first job that ran it. ``exec_s`` is the union of the jobs'
    intervals; ``driver_gap_s`` is the window's wall time outside it."""
    seen: set[int] = set()
    out = {k: 0 for k in ("jobs", "stages", "tasks", "cpu_ms", *_STAGE_SUMS)}
    intervals = []
    for j in jobs:
        out["jobs"] += 1
        if j.get("submissionTime") and j.get("completionTime"):
            intervals.append((j["submissionTime"] / 1e3, j["completionTime"] / 1e3))
        for st in j["stages"]:
            if st["stageId"] in seen:
                continue
            seen.add(st["stageId"])
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"]
            out["cpu_ms"] += st["executorCpuTime"] / 1e6  # ns -> ms, JVM threads only
            for k, field in _STAGE_SUMS.items():
                out[k] += st[field]
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    out["exec_s"] = covered
    out["driver_gap_s"] = max(0.0, (wall_end - wall_start) - covered)
    return out


# ---------------------------------------------------------------- /proc


_TICK = os.sysconf("SC_CLK_TCK")
CPU_KINDS = ("driver", "jvm", "python", "child")


class Stat(NamedTuple):
    state: str
    ppid: int
    own: float  # cpu s
    reaped: float  # cpu s of reaped children
    start: int  # clock ticks after boot


def read_stat(pid: int) -> Stat | None:
    """Fields of ``/proc/<pid>/stat``, or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # fields[0] is field 3 of proc(5): state
    fields = raw[raw.rindex(")") + 2 :].split()
    return Stat(
        fields[0],
        int(fields[1]),
        (int(fields[11]) + int(fields[12])) / _TICK,
        (int(fields[13]) + int(fields[14])) / _TICK,
        int(fields[19]),
    )


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class ProcTree:
    """The process tree under ``root_pid`` (default: this process).

    Each process gets a role: ``driver`` (the root and its helpers),
    ``jvm`` (a ``java`` descendant), ``daemon`` (PySpark's worker
    daemon), ``worker`` (a Python worker) or ``child`` (anything a
    worker starts, e.g. a pipe executable). CPU time of a process that
    exited is recovered from its parent's reaped-children counter."""

    # role of a process -> CPU kind of its own time, and of its reaped
    # children's time (a worker reaps pipe children, the daemon reaps
    # exited workers)
    _OWN = {"driver": "driver", "jvm": "jvm", "daemon": "python", "worker": "python", "child": "child"}
    _REAPED = {"driver": "driver", "jvm": "python", "daemon": "python", "worker": "child", "child": "child"}

    def __init__(self, root_pid: int | None = None) -> None:
        self.root = root_pid or os.getpid()

    def snapshot(self) -> dict[int, tuple[str, float, float]]:
        """pid -> (role, own cpu s, reaped-children cpu s)."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st.ppid, []).append(pid)
        out = {}
        todo = [(self.root, "driver")]
        while todo:
            pid, role = todo.pop()
            st = stats[pid]
            out[pid] = (role, st.own, st.reaped)
            for c in children.get(pid, ()):
                todo.append((c, _role_of(c, role)))
        return out

    @classmethod
    def cpu_delta(cls, a: dict, b: dict) -> dict[str, float]:
        """CPU seconds per kind spent between snapshots ``a`` and ``b``."""
        out = dict.fromkeys(CPU_KINDS, 0.0)
        for pid, (role, own, reaped) in b.items():
            prev = a.get(pid)
            own0, reaped0 = (prev[1], prev[2]) if prev else (0.0, 0.0)
            out[cls._OWN[role]] += own - own0
            out[cls._REAPED[role]] += reaped - reaped0
        return out


def _role_of(pid: int, parent_role: str) -> str:
    if parent_role in ("worker", "child"):
        return "child"
    if parent_role == "daemon":
        return "worker"
    cmd = _cmdline(pid)
    if "pyspark.daemon" in cmd:
        return "daemon"
    if "pyspark.worker" in cmd:
        return "worker"
    if parent_role == "jvm" or cmd.split(" ", 1)[0].endswith("java"):
        return "jvm"
    return "driver"


def peak_rss_bytes(pids) -> int:
    """Sum of each process's peak RSS (``VmHWM``) over ``pids``. The
    kernel keeps the peak until the process exits, so one read at the
    end of a run covers every process still running then."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
