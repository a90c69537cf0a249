"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of the repository's engine as a closed loop (one
client) on ``local[<cpus available>]`` with the Spark UI off, checks
every output, prints one ``metric <name> <value> <unit>`` line per
metric and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the JSON metrics are the end-to-end set; with ``--trace 1`` they are
the per-layer set and the spans are written to
``perfbench/.work/traces/<workload>-seed<N>.json``. See README.md.

The engine is imported from the directory above this one; the run
fails (non-zero exit, no JSON) if it is not there. Scratch files go to
``perfbench/.work`` and are removed at the end, apart from traces and
the DuckDB oracle cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    import metrics

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``run_dir``, and size the session to this process's CPUs. Must run
    before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_UI"] = "0"


def _import_engine():
    """Import the engine from the checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    import engine
    import engine.io

    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        raise ImportError(f"engine imported from {engine.__file__}, not from {ROOT}")
    return engine.io


def _stop(spark, tree) -> None:
    """Stop the session and the JVM, then every process that ran under
    this one (Python workers outlive the JVM briefly, reparented), and
    wait until each has ended."""
    from pyspark import SparkContext

    from measure import read_stat

    started = {}
    for pid in tree.snapshot():
        st = read_stat(pid)
        if pid != tree.root and st is not None:
            started[pid] = st.start
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()

    def alive() -> list[int]:
        out = []
        for pid, t in started.items():
            st = read_stat(pid)
            if st is not None and st.start == t and st.state != "Z":
                out.append(pid)
        return out

    for sig, grace in ((None, 10), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        deadline = time.monotonic() + grace
        for pid in alive() if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            if not alive():
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes still running: {alive()}")


def run(args: argparse.Namespace) -> tuple[dict, dict, dict, dict, list]:
    """Set up, run and check one workload. Returns the JSON result, the
    metric values, notes on them, the units of every metric to print and
    the failed checks; raises if the benchmark itself could not run."""
    t_setup = time.perf_counter()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = h = None
    import harness
    import metrics
    from measure import ProcTree, peak_rss_bytes

    tree = ProcTree()
    try:
        _isolate(run_dir)
        eio = _import_engine()
        from engine.session import get_spark

        sf_dir = os.path.join(os.path.dirname(eio.DEFAULT_SF_DIR.rstrip("/")), "sf0.1")
        if not os.path.isdir(sf_dir):
            raise FileNotFoundError(f"sf0.1 fixture not found at {sf_dir}")
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        h = harness.Harness(spark, args.seed, bool(args.trace))
        if args.workload == "mr_streaming_wc":
            from wl_mapreduce import MapReduceWordcount

            wl = MapReduceWordcount(spark, sf_dir, run_dir, args.seed)
        elif args.workload == "query_headline":
            from wl_queries import HeadlineQueries

            wl = HeadlineQueries(spark, sf_dir, WORK, args.seed)
        else:
            from wl_store import StoreRefresh

            wl = StoreRefresh(spark, sf_dir, run_dir, args.seed)
        parts = wl.setup(h)
        setup_s = time.perf_counter() - t_setup - h.untimed_s

        plain, traced, pairs = harness.closed_loop(h, wl, args.seconds)
        values, notes = harness.end_to_end(plain)
        wl_values, wl_notes = wl.finish(h, plain, traced)
        values.update(wl_values)
        notes.update(wl_notes)
        values["setup_s"] = setup_s
        notes["setup_s"] = (
            f"session {start_s:.3f} s + prep {parts['prep_s']:.3f} s"
            f" + warm-up {parts['warmup_s']:.3f} s + imports"
        )
        if h.trace:
            values.update(harness.per_layer(plain, traced, pairs))
            values["session.start_s"] = start_s
            values["session.warmup_s"] = parts["warmup_s"]
            notes["trace.overhead_pct"] = (
                f"median traced/plain time over {len(pairs)} operation pairs"
            )
            h.tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            )
        # read while the JVM and the Python workers still run
        values["peak_rss_mb"] = peak_rss_bytes(tree.snapshot()) / 2**20
        notes["peak_rss_mb"] = (
            "peak RSS (VmHWM) of each process, summed over the driver,"
            " the JVM and the Python workers running at the end"
        )
        values["error_rate"] = h.failed / h.attempted
        # a query whose every traced run failed has no per-query values;
        # its failures are already counted
        queries = [q for q in getattr(wl, "names", []) if f"jobs.{q}" in values]
        units = metrics.expected(args.workload, h.trace, queries)
        table = metrics.PER_LAYER if h.trace else metrics.END_TO_END
        result = {
            "correct": h.failed == 0,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in table.items()},
        }
        return result, values, notes, units, h.errors
    finally:
        if h is not None:
            h.close()
        try:
            _stop(spark, tree)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    import metrics

    result, values, notes, units, errors = run(args)
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    for e in errors:
        print(f"# FAILED {e}")
    for line in metrics.report_lines(values, units, notes):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
