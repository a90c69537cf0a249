"""Workload ``mr_streaming_wc``: back-to-back Hadoop-Streaming wordcount
jobs through ``engine.mapreduce.runner.run_job`` in executable mode.

The mapper is a shell pipeline and the reducer a Python script (both in
``exec/``), with 4 map and 4 reduce partitions. The input is about
2 MiB of lines resampled by seed from the ``documents.text`` column,
in 4 files. Every job's part files must equal ``wcmodel``'s byte for
byte.
"""

from __future__ import annotations

import os
import sys
import time

import wcmodel
from harness import Harness, phase_mean
from measure import median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
MAPPER = ["sh", os.path.join(HERE, "exec", "wc_map.sh")]
REDUCER = [sys.executable, os.path.join(HERE, "exec", "wc_reduce.py")]
INPUT_BYTES = 2 << 20
N_FILES = 4
N_MAPPERS = 4
N_REDUCERS = 4
# job times fall over the first few jobs of a session (JIT, Python
# worker reuse); set-up runs them before measuring
WARMUP_JOBS = 4


class MapReduceWordcount:
    name = "mr_streaming_wc"
    unit_size = 1
    min_units = 1

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int) -> None:
        from engine.mapreduce.runner import run_job

        self._run_job = run_job
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.input_dir = os.path.join(run_dir, "mr-input")
        self.output_dir = os.path.join(run_dir, "mr-output")

    def _job(self) -> list[str]:
        return self._run_job(
            self.spark, self.input_dir, self.output_dir, MAPPER, REDUCER,
            num_mappers=N_MAPPERS, num_reducers=N_REDUCERS,
        )

    def setup(self, h: Harness) -> dict:
        t0 = time.perf_counter()
        lines = wcmodel.document_lines(os.path.join(self.sf_dir, "documents.parquet"))
        files = wcmodel.make_inputs(lines, self.seed, INPUT_BYTES, N_FILES)
        self.input_bytes = wcmodel.write_inputs(files, self.input_dir)
        prep_s = time.perf_counter() - t0
        with h.untimed():
            self.expected = wcmodel.expected_parts(files, N_REDUCERS)
        t0, untimed0 = time.perf_counter(), h.untimed_s
        for i in range(WARMUP_JOBS):
            self._job()
            with h.untimed():
                h.check(f"warm-up job {i}", wcmodel.check_parts(self.output_dir, self.expected))
        warmup_s = time.perf_counter() - t0 - (h.untimed_s - untimed0)
        return {"prep_s": prep_s, "warmup_s": warmup_s}

    def next_op(self, h: Harness, k: int):
        def body():
            with h.phase("mapreduce.run_job"):
                return self._job()

        def check(_paths):
            return wcmodel.check_parts(self.output_dir, self.expected)

        return "job", body, check

    def finish(self, h: Harness, plain: list, traced: list) -> tuple[dict, dict]:
        times = [r["op_s"] for r in plain]
        tail_v, tail_note = tail(times)
        values = {
            "job_p50_s": median(times),
            "job_tail_s": tail_v,
            "input_mb_per_s": len(times) * self.input_bytes / 1e6 / sum(times),
        }
        notes = {"job_tail_s": tail_note}
        if traced:
            map_s, reduce_s, publish_s = [], [], []
            for r in traced:
                ph = r["phases"]["mapreduce.run_job"]
                stages = sorted(
                    (s for j in ph["job_list"] for s in j["stages"]),
                    key=lambda s: s["stageId"],
                )
                # one job: the map stage (read, map pipe, md5 partition,
                # shuffle write) then the reduce stage (shuffle read,
                # sort, reduce pipe, part-file write)
                map_s.append((stages[0]["completionTime"] - stages[0]["submissionTime"]) / 1e3)
                reduce_s.append((stages[-1]["completionTime"] - stages[-1]["submissionTime"]) / 1e3)
                last_end = max(j["completionTime"] for j in ph["job_list"]) / 1e3
                publish_s.append(ph["end"] - last_end)
            values.update(
                {
                    "mapreduce.map_stage_s": median(map_s),
                    "mapreduce.reduce_stage_s": median(reduce_s),
                    "mapreduce.publish_s": median(publish_s),
                    "mapreduce.shuffle_bytes_per_input_byte": phase_mean(
                        traced, "mapreduce.run_job", "shuffle_write_bytes"
                    ) / self.input_bytes,
                }
            )
        return values, notes
