"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import measure  # noqa: E402
import metrics  # noqa: E402
import wcmodel  # noqa: E402
from wl_store import expected_changes  # noqa: E402

SOURCE = [
    "spark sort merge key value",
    "Hash Partition shuffle",
    "",
    "a b c d e f g",
    "row  column\ttable",
    "stream window batch query filter",
]


def _read_dir(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = wcmodel.make_inputs(SOURCE, 7, 20_000, 3)
    b = wcmodel.make_inputs(SOURCE, 7, 20_000, 3)
    wcmodel.write_inputs(a, str(tmp_path / "a"))
    wcmodel.write_inputs(b, str(tmp_path / "b"))
    assert _read_dir(str(tmp_path / "a")) == _read_dir(str(tmp_path / "b"))
    c = wcmodel.make_inputs(SOURCE, 8, 20_000, 3)
    assert c != a


def test_model_applies_the_mapper_rules():
    # split on space and tab keeping empty tokens, ASCII lowercase
    parts = wcmodel.expected_parts([["A  b\tB", ""]], 1)
    assert parts == [b"\t2\na\t1\nb\t2\n"]


def test_model_buckets_by_md5_of_the_key():
    parts = wcmodel.expected_parts([SOURCE], 4)
    for i, data in enumerate(parts):
        for line in data.decode().splitlines():
            assert wcmodel.md5_bucket(line.split("\t", 1)[0], 4) == i


def _pipe(cmd: list[str], data: bytes) -> bytes:
    return subprocess.run(cmd, input=data, capture_output=True, check=True).stdout


def test_executables_match_the_model():
    """Stream the inputs through the mapper, bucket and sort the
    intermediate lines the way the runner does, reduce each bucket with
    the reducer, and compare with the model."""
    files = wcmodel.make_inputs(SOURCE, 3, 5_000, 2)
    mapped = b"".join(
        _pipe(["sh", os.path.join(HERE, "exec", "wc_map.sh")],
              "".join(line + "\n" for line in lines).encode())
        for lines in files
    )
    n = 3
    buckets: list[list[bytes]] = [[] for _ in range(n)]
    for line in mapped.splitlines():
        key = line.decode().split("\t", 1)[0]
        buckets[wcmodel.md5_bucket(key, n)].append(line)
    got = [
        _pipe([sys.executable, os.path.join(HERE, "exec", "wc_reduce.py")],
              b"".join(x + b"\n" for x in sorted(b)))
        for b in buckets
    ]
    assert got == wcmodel.expected_parts(files, n)


def test_checker_rejects_a_corrupted_part_file(tmp_path):
    files = wcmodel.make_inputs(SOURCE, 5, 5_000, 2)
    expected = wcmodel.expected_parts(files, 3)
    out = tmp_path / "out"
    out.mkdir()
    for i, data in enumerate(expected):
        (out / f"part-{i:05d}").write_bytes(data)
    assert wcmodel.check_parts(str(out), expected) == []
    victim = out / "part-00001"
    data = bytearray(victim.read_bytes())
    data[0] ^= 1
    victim.write_bytes(bytes(data))
    errs = wcmodel.check_parts(str(out), expected)
    assert len(errs) == 1 and "part-00001" in errs[0]
    victim.unlink()
    assert wcmodel.check_parts(str(out), expected)


def test_expected_changes():
    old = {("p0", 1): ("a", 1), ("p0", 2): ("b", 2), ("p1", 3): ("c", 3)}
    new = {("p0", 1): ("a", 1), ("p0", 2): ("B", 2), ("p1", 4): ("d", 4)}
    assert expected_changes(old, new) == Counter(
        {
            ("p0", 2, "b", 2, "update_preimage"): 1,
            ("p0", 2, "B", 2, "update_postimage"): 1,
            ("p1", 3, "c", 3, "delete"): 1,
            ("p1", 4, "d", 4, "insert"): 1,
        }
    )


# Every metric the benchmark's definition names, by workload.
NAMED = {
    "mr_streaming_wc": [
        "job_p50_s", "job_tail_s", "input_mb_per_s",
        "spark.run_ms", "spark.cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "proc.jvm_cpu_s",
        "proc.python_cpu_s", "proc.child_cpu_s", "mapreduce.map_stage_s",
        "mapreduce.reduce_stage_s", "mapreduce.publish_s",
        "mapreduce.shuffle_bytes_per_input_byte",
    ],
    "query_headline": [
        "query_p50_s", "query_tail_s", "queries_per_s",
        "registry.build_s", "registry.py4j_calls", "registry.eager_jobs",
        "plan.plan_s", "plan.exchanges", "plan.broadcasts", "spark.exec_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    ],
    "store_refresh": [
        "commit_p50_s", "commit_tail_s", "snapshot_read_p50_s", "cdf_read_p50_s",
        "ops_per_s", "bytes_stored_per_user_byte", "vstore.commit_jobs",
        "vstore.commit_files_added", "vstore.commit_bytes_written",
        "vstore.checkpoints_written", "vstore.head_resolve_s", "vstore.read_jobs",
        "vstore.cdf_jobs", "spark.exec_s", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.driver_gap_s",
    ],
}
ALL_WORKLOADS = ["setup_s", "error_rate", "peak_rss_mb", "session.start_s", "session.warmup_s"]


@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_every_named_metric_is_printed_with_a_unit(workload):
    queries = ["q1_pricing_summary", "semantic_dedup"]
    units = metrics.expected(workload, True, queries)
    for name in NAMED[workload] + ALL_WORKLOADS:
        assert units.get(name), name
    for q in queries:
        for m in ("build_s", "plan_s", "exec_s", "py4j_calls", "jobs"):
            assert units.get(f"{m}.{q}"), f"{m}.{q}"
    values = {name: 1.5 for name in units}
    lines = metrics.report_lines(values, units, {})
    for name, unit in units.items():
        assert f"metric {name} 1.5 {unit}" in lines
    del values["setup_s"]
    with pytest.raises(KeyError):
        metrics.report_lines(values, units, {})


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert measure.tail(xs) == (90.0, "p90 of 100 samples")
    assert measure.tail(xs[:20])[1] == "p50 of 20 samples"
    assert measure.tail(xs[:5]) == (5.0, "max of 5 samples (fewer than 20)")


def test_summarize_jobs_counts_each_stage_once_and_unions_intervals():
    stage = {
        "stageId": 3, "numCompleteTasks": 4, "executorCpuTime": 2_000_000,
        "executorRunTime": 10, "jvmGcTime": 1, "shuffleReadBytes": 5,
        "shuffleWriteBytes": 6, "diskBytesSpilled": 0,
    }
    jobs = [
        {"submissionTime": 1000, "completionTime": 3000, "stages": [stage]},
        {"submissionTime": 2000, "completionTime": 4000, "stages": [stage]},
    ]
    s = measure.summarize_jobs(jobs, 0.5, 5.0)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 1, 4)
    assert s["cpu_ms"] == 2.0
    assert s["exec_s"] == pytest.approx(3.0)
    assert s["driver_gap_s"] == pytest.approx(1.5)


def test_cpu_delta_attributes_reaped_children():
    a = {1: ("driver", 1.0, 0.0), 2: ("jvm", 5.0, 0.0), 4: ("worker", 1.0, 0.5)}
    b = {
        1: ("driver", 1.5, 0.0),
        2: ("jvm", 7.0, 0.0),
        3: ("daemon", 0.2, 0.0),
        4: ("worker", 2.0, 1.5),
        5: ("child", 0.3, 0.0),
    }
    d = measure.ProcTree.cpu_delta(a, b)
    assert d == pytest.approx({"driver": 0.5, "jvm": 2.0, "python": 1.2, "child": 1.3})


def test_read_stat_and_peak_rss_of_this_process():
    st = measure.read_stat(os.getpid())
    assert st.ppid == os.getppid() and st.state in "RS" and st.own > 0
    assert measure.read_stat(2**22 + 1) is None
    assert measure.peak_rss_bytes([os.getpid()]) > 1 << 20


def _phase(probe: bool, jobs: int, gap: float) -> dict:
    ph = dict.fromkeys(
        ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "exec_s"), 0
    )
    ph.update(jobs=jobs, driver_gap_s=gap, py4j_calls=10, probe=probe)
    return ph


def test_per_layer_leaves_probe_phases_out_and_takes_cpu_from_plain_runs():
    cpu = {"driver": 1.0, "jvm": 2.0, "python": 3.0, "child": 4.0}
    plain = {"op_s": 2.0, "cpu": cpu}
    traced = {
        "op_s": 3.0,
        "cpu": {k: 100.0 for k in cpu},
        "phases": {"build": _phase(False, 2, 0.5), "plan": _phase(True, 7, 0.9)},
    }
    out = harness.per_layer([plain], [traced], [(plain, traced)])
    assert (out["spark.jobs"], out["spark.driver_gap_s"], out["py4j.calls"]) == (2, 0.5, 10)
    assert out["proc.jvm_cpu_s"] == 2.0
    assert out["trace.overhead_pct"] == pytest.approx(50.0)
