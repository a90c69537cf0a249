"""The closed loop every workload runs in, and its per-layer probes.

One client: the next operation starts only after the previous one and
its (untimed) output check finished. With tracing off an operation is
timed with ``perf_counter`` and its process-tree CPU is read from
``/proc`` just outside the timed region. With tracing on, operations
run in pairs, one plain and one traced, in an order that alternates;
the plain half gives the end-to-end numbers and the ratio of the two
gives the tracing overhead. A traced operation records a root span and,
for every layer call the workload wraps in ``Harness.phase``, a span,
the py4j commands it sent and the Spark jobs and stages it ran.
"""

from __future__ import annotations

import contextlib
import math
import sys
import time
import traceback

from measure import (
    Py4jCounter,
    ProcTree,
    SparkStatus,
    Tracer,
    median,
    summarize_jobs,
    tail,
)

_JOB_FIELDS = ("jobId", "jobGroup", "submissionTime", "completionTime", "status")
_STAGE_FIELDS = (
    "stageId", "name", "submissionTime", "completionTime", "numCompleteTasks",
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "diskBytesSpilled", "inputBytes", "outputBytes",
)


class Harness:
    def __init__(self, spark, seed: int, trace: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.trace = trace
        self.tree = ProcTree()
        self.tracer = Tracer()
        self.status = SparkStatus(spark) if trace else None
        self.py4j = Py4jCounter(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.untimed_s = 0.0
        self._op: dict | None = None
        self._n_ops = 0

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()

    @property
    def in_traced_op(self) -> bool:
        return self._op is not None

    def annotate(self, **values) -> None:
        """Attach values to the traced operation running, if any."""
        if self._op is not None:
            self._op.update(values)

    @contextlib.contextmanager
    def untimed(self):
        """Work that is not the workload's (models, oracles, checks):
        excluded from the set-up time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def phase(self, name: str, probe: bool = False):
        """One call into a layer. A no-op unless a traced operation is
        running; then it records a span, py4j commands and Spark jobs.
        A ``probe`` phase is work only the traced operation does (an
        extra planning pass): it is reported on its own and left out of
        the ``spark.*`` and ``py4j.calls`` sums."""
        op = self._op
        if op is None:
            yield
            return
        win = self.status.window(f"{self.tracer.op_id}:{name}")
        try:
            with self.tracer.span(name) as sp, self.py4j.counting() as calls:
                yield
        finally:
            self.status.close_window(win)
        jobs = self.status.jobs(win)
        for j in jobs:
            self._add_job_spans(j, sp["id"])
        summary = summarize_jobs(jobs, sp["start"], sp["end"])
        summary["start"], summary["end"] = sp["start"], sp["end"]
        summary["wall_s"] = sp["end"] - sp["start"]
        summary["py4j_calls"] = calls["n"]
        summary["probe"] = probe
        summary["job_list"] = [
            {
                **{k: j.get(k) for k in _JOB_FIELDS},
                "stages": [{k: s.get(k) for k in _STAGE_FIELDS} for s in j["stages"]],
            }
            for j in jobs
        ]
        op["phases"][name] = summary

    def _add_job_spans(self, job: dict, parent: int) -> None:
        if not (job.get("submissionTime") and job.get("completionTime")):
            return
        self.tracer.add(
            "spark.job",
            job["submissionTime"] / 1e3,
            job["completionTime"] / 1e3,
            parent,
            job_id=job["jobId"],
            job_group=job.get("jobGroup"),
        )
        job_span = self.tracer.spans[-1]["id"]
        for st in job["stages"]:
            if st.get("submissionTime") and st.get("completionTime"):
                self.tracer.add(
                    "spark.stage",
                    st["submissionTime"] / 1e3,
                    st["completionTime"] / 1e3,
                    job_span,
                    stage_id=st["stageId"],
                    tasks=st["numCompleteTasks"],
                )

    def _run_op(self, kind: str, body, traced: bool):
        rec = {"kind": kind, "traced": traced, "phases": {}}
        snap0 = self.tree.snapshot()
        if traced:
            self._n_ops += 1
            self.tracer.op_id = f"op{self._n_ops}"
            self._op = rec
            try:
                with self.tracer.span(kind):
                    t0 = time.perf_counter()
                    out = body()
                    rec["op_s"] = time.perf_counter() - t0
            finally:
                self._op = None
                self.tracer.op_id = None
        else:
            t0 = time.perf_counter()
            out = body()
            rec["op_s"] = time.perf_counter() - t0
        rec["cpu"] = ProcTree.cpu_delta(snap0, self.tree.snapshot())
        return rec, out

    def attempt(self, workload, k: int, traced: bool) -> dict | None:
        """Run operation ``k`` and check its output; None if it failed."""
        self.attempted += 1
        kind, body, check = workload.next_op(self, k)
        try:
            rec, out = self._run_op(kind, body, traced)
            with self.untimed():
                errs = check(out)
        except Exception:
            rec, errs = None, [traceback.format_exc(limit=8)]
        if errs:
            self._fail(f"{kind} #{k}", errs)
            return None
        return rec

    def _fail(self, what: str, errs: list[str]) -> None:
        self.failed += 1
        msg = f"{what}: " + "; ".join(errs)
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def check(self, what: str, errs: list[str]) -> None:
        """Record the outcome of a check made outside the loop (set-up
        or final state) as one attempted operation."""
        self.attempted += 1
        if errs:
            self._fail(what, errs)


def closed_loop(h: Harness, workload, seconds: float) -> tuple[list, list, list]:
    """Run operations until ``seconds`` have passed, the workload has run
    at least ``min_units`` units (passes over its operation kinds) and is
    at the end of one. Returns the plain records, the traced records and
    the (plain, traced) pairs."""
    plain: list[dict] = []
    traced: list[dict] = []
    pairs: list[tuple[dict, dict]] = []
    k = 0
    deadline = time.perf_counter() + seconds
    min_ops = workload.unit_size * workload.min_units
    while k < min_ops or k % workload.unit_size or time.perf_counter() < deadline:
        if h.trace:
            order = (False, True) if (k + h.seed) % 2 == 0 else (True, False)
            got = {tr: h.attempt(workload, k, tr) for tr in order}
            if got[False] is not None:
                plain.append(got[False])
            if got[True] is not None:
                traced.append(got[True])
            if got[False] is not None and got[True] is not None:
                pairs.append((got[False], got[True]))
        else:
            rec = h.attempt(workload, k, False)
            if rec is not None:
                plain.append(rec)
        k += 1
    return plain, traced, pairs


def end_to_end(plain: list[dict]) -> tuple[dict, dict]:
    """The workload-independent end-to-end metrics over plain operations."""
    times = [r["op_s"] for r in plain]
    if not times:
        raise RuntimeError("no operation succeeded")
    by_kind: dict[str, list[float]] = {}
    for r in plain:
        by_kind.setdefault(r["kind"], []).append(r["op_s"])
    tail_v, tail_note = tail(times)
    values = {
        # a median over a mix of kinds (13 queries, or commits and reads)
        # jumps between kinds from run to run; summarize each kind by its
        # median and the kinds by their geometric mean
        "op_p50_s": math.exp(
            sum(math.log(median(ts)) for ts in by_kind.values()) / len(by_kind)
        ),
        "op_tail_s": tail_v,
        "ops_per_s": len(times) / sum(times),
        "cpu_s_per_op": sum(sum(r["cpu"].values()) for r in plain) / len(plain),
    }
    notes = {
        "op_tail_s": tail_note,
        "op_p50_s": f"geometric mean over {len(by_kind)} operation kinds of"
        f" their median, {len(times)} samples",
    }
    return values, notes


def per_layer(plain: list[dict], traced: list[dict], pairs: list[tuple[dict, dict]]) -> dict:
    """Workload-independent per-layer metrics, as means per operation.

    The ``spark.*`` and ``py4j.calls`` values sum the phases of traced
    operations, apart from probe phases. Each phase's span ends before
    the status store is read, so ``spark.driver_gap_s`` (phase time
    outside its jobs) leaves the tracer's own work out. ``proc.*_cpu_s``
    come from the plain operations, which run no tracer."""
    if not traced:
        raise RuntimeError("no traced operation succeeded")
    if not pairs:
        raise RuntimeError("no plain/traced pair succeeded")
    sums: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        sums[name] = sums.get(name, 0.0) + v

    for r in traced:
        for ph in r["phases"].values():
            if ph["probe"]:
                continue
            add("py4j.calls", ph["py4j_calls"])
            for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                      "exec_s", "driver_gap_s"):
                add(f"spark.{k}", ph[k])
    out = {k: v / len(traced) for k, v in sums.items()}
    for kind in ("driver", "jvm", "python", "child"):
        out[f"proc.{kind}_cpu_s"] = sum(r["cpu"][kind] for r in plain) / len(plain)
    out["trace.overhead_pct"] = 100.0 * (
        median([t["op_s"] / p["op_s"] for p, t in pairs]) - 1.0
    )
    return out


def phase_mean(traced: list[dict], phase: str, key: str) -> float:
    """Mean of one phase field over the traced operations that ran it."""
    vals = [r["phases"][phase][key] for r in traced if phase in r["phases"]]
    if not vals:
        raise RuntimeError(f"no traced operation ran {phase}")
    return sum(vals) / len(vals)
