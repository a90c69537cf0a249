"""Dynamic partition pruning (DPP) evidence.

Static partition pruning
(tests/test_versioning.py::test_versioned_store_time_travel_pruning_and_vacuum)
covers literal predicates; at 100 TB the common shape is a JOIN
against a filtered dim — there the partition values are only known
at runtime, and Spark's DPP rule turns the broadcast build side into
a pruning subquery on the fact scan so non-matching partitions are
never read.
This test pins that the engine's partitioned-parquet layout actually
triggers DPP (config on in the session factory by default) — if a
layout or session change ever silently disabled it, every dim-filtered
fact join would re-read the full table at scale.
"""

from pyspark.sql import functions as F

from engine.io import load_table
from tests.conftest import SF_SMOKE


def test_join_prunes_partitions_dynamically(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "value")
    fact = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    out = str(tmp_path / "fact_by_day")
    fact.write.partitionBy("day").parquet(out)
    f = spark.read.parquet(out)

    n_days = f.select("day").distinct().count()
    days = [
        r.day for r in f.select("day").distinct().orderBy("day").limit(2).collect()
    ]
    assert n_days > 2, "fixture must span more than the probed days"
    dim = spark.createDataFrame(
        [(d, 1) for d in days] + [("9999-01-01", 0)], "day string, flag int"
    )

    joined = f.join(dim.filter(F.col("flag") == 1), "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = {r.day: r.n for r in joined.collect()}

    # Semantics: exactly the two probed days survive.
    want = {
        r.day: r.n
        for r in f.filter(F.col("day").isin(days))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows == want

    # Plan evidence: the fact scan carries a dynamic pruning expression
    # (runtime subquery over the dim), not a full-table read.
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
