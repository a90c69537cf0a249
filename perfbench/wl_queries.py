"""Workload ``query_headline``: the ``headline``-tagged registry queries
at sf0.1, in an order the seed permutes on every pass.

An operation builds one query's DataFrame, saves it to the ``noop``
sink and clears the cache; the sink keeps no rows, so the outputs are
checked outside the timed loop against each query's DuckDB oracle
(``tools/check_oracle.compare``):

- set-up ends with a warm-up pass that collects every query's rows at
  sf0.01. The first pass of a session costs about as much at sf0.01 as
  at sf0.1 (class loading, JIT, Python workers), so the smaller fixture
  warms the same code for less DuckDB work;
- after the loop, one query, chosen by the seed (``seed mod 13``, so
  seeds in a row cover all of them), is collected at sf0.1, the scale
  the loop times, where plan choices such as broadcasts and coalescing
  differ from sf0.01.

DuckDB results are cached under the benchmark's work directory, keyed
by the oracle text and the fixture files.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import re
import time
import traceback

from harness import Harness, phase_mean
from measure import median, tail


class HeadlineQueries:
    name = "query_headline"
    min_units = 1

    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.check_sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
        self.cache_dir = os.path.join(work_dir, "oracle")
        self.seed = seed
        self.rng = random.Random(seed)
        self._views: str | None = None
        self.order: list[str] = []
        self._duck = None

    def setup(self, h: Harness) -> dict:
        t0 = time.perf_counter()
        from engine.registry import all_queries_including_library

        self.specs = all_queries_including_library()
        self.names = sorted(n for n, s in self.specs.items() if "headline" in s.tags)
        self.unit_size = len(self.names)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        rows = {}
        for name in self.rng.sample(self.names, len(self.names)):
            df = self.specs[name].fn(self.spark, self.check_sf_dir)
            rows[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.spark.catalog.clearCache()
        warmup_s = time.perf_counter() - t0
        with h.untimed():
            for name in self.names:
                h.check(f"oracle {name} sf0.01", self._compare(name, *rows[name], self.check_sf_dir))
        return {"prep_s": prep_s, "warmup_s": warmup_s}

    def _compare(self, name: str, cols: list, data: list, sf_dir: str) -> list[str]:
        from tools.check_oracle import compare

        d_cols, d_rows = self._oracle(name, sf_dir)
        return compare(name, data, cols, d_rows, d_cols)

    def _oracle(self, name: str, sf_dir: str) -> tuple[list, list]:
        from engine.io import TABLES, table_path

        sql = self.specs[name].oracle
        if sql is None:
            raise ValueError(f"{name} has no oracle")
        key = hashlib.sha256(sql.encode())
        paths = [table_path(sf_dir, t) for t in TABLES]
        for p in paths:
            if os.path.exists(p):
                st = os.stat(p)
                key.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
        cached = os.path.join(self.cache_dir, f"{name}-{key.hexdigest()[:20]}.pickle")
        if os.path.exists(cached):
            with open(cached, "rb") as f:
                return pickle.load(f)
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
        if self._views != sf_dir:
            for t, p in zip(TABLES, paths):
                if os.path.exists(p):
                    self._duck.sql(
                        f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                    )
            self._views = sf_dir
        rel = self._duck.sql(sql)
        out = (list(rel.columns), rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{cached}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out, f)
        os.replace(tmp, cached)
        return out

    def next_op(self, h: Harness, k: int):
        pos = k % self.unit_size
        if pos == 0 and len(self.order) <= k:
            self.order.extend(self.rng.sample(self.names, self.unit_size))
        name = self.order[k]
        spec = self.specs[name]

        def body():
            with h.phase("registry.build"):
                df = spec.fn(self.spark, self.sf_dir)
            if h.in_traced_op:
                with h.phase("plan.plan", probe=True):
                    df._jdf.queryExecution().executedPlan()
                shuffles, broadcasts = _exchange_counts(df)
                h.annotate(exchanges=shuffles, broadcasts=broadcasts)
            with h.phase("spark.exec"):
                df.write.format("noop").mode("overwrite").save()
            with h.phase("spark.clear_cache"):
                self.spark.catalog.clearCache()
            return name

        def check(_name):
            # the noop sink has no output: see the module docstring
            return []

        return name, body, check

    def finish(self, h: Harness, plain: list, traced: list) -> tuple[dict, dict]:
        with h.untimed():
            name = self.names[self.seed % len(self.names)]
            try:
                df = self.specs[name].fn(self.spark, self.sf_dir)
                data = [tuple(r) for r in df.collect()]
                self.spark.catalog.clearCache()
                errs = self._compare(name, df.columns, data, self.sf_dir)
            except Exception:
                errs = [traceback.format_exc(limit=8)]
            h.check(f"oracle {name} sf0.1", errs)
        times = [r["op_s"] for r in plain]
        tail_v, tail_note = tail(times)
        values = {
            "query_p50_s": median(times),
            "query_tail_s": tail_v,
            "queries_per_s": len(times) / sum(times),
        }
        notes = {"query_tail_s": tail_note}
        if traced:
            values.update(
                {
                    "registry.build_s": phase_mean(traced, "registry.build", "wall_s"),
                    "registry.py4j_calls": phase_mean(traced, "registry.build", "py4j_calls"),
                    "registry.eager_jobs": phase_mean(traced, "registry.build", "jobs"),
                    "plan.plan_s": phase_mean(traced, "plan.plan", "wall_s"),
                    "plan.exchanges": sum(r["exchanges"] for r in traced) / len(traced),
                    "plan.broadcasts": sum(r["broadcasts"] for r in traced) / len(traced),
                }
            )
            for name in self.names:
                mine = [r for r in traced if r["kind"] == name]
                if not mine:
                    continue  # every run of it failed, and was counted
                values[f"build_s.{name}"] = phase_mean(mine, "registry.build", "wall_s")
                values[f"plan_s.{name}"] = phase_mean(mine, "plan.plan", "wall_s")
                values[f"exec_s.{name}"] = phase_mean(mine, "spark.exec", "wall_s")
                values[f"py4j_calls.{name}"] = phase_mean(mine, "registry.build", "py4j_calls")
                values[f"jobs.{name}"] = sum(
                    sum(ph["jobs"] for ph in r["phases"].values() if not ph["probe"])
                    for r in mine
                ) / len(mine)
        return values, notes


def _exchange_counts(df) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) of the executed plan,
    counted as ``tools/dump_plans.py`` counts them: distinct plan_ids,
    or exchange nodes of the formatted plan when the plan string carries
    no plan_id tags."""
    from engine.plans.inspect import executed_exchange_ids, formatted_plan

    try:
        shuffles, broadcasts = executed_exchange_ids(df)
        return len(shuffles), len(broadcasts)
    except ValueError:
        plan = formatted_plan(df)
        return (
            len(re.findall(r"\(\d+\) Exchange\b", plan)),
            len(re.findall(r"\(\d+\) BroadcastExchange\b", plan)),
        )
