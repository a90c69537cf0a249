"""Streaming operators over the events table (file-source stream).

Scale notes: a production deployment swaps the file source for Kafka
with identical downstream plans. Watermarks bound state: the tumbling
window keeps |windows within watermark| × |event types| rows of state;
streaming dedup keeps only event_ids younger than the watermark.
``session_window`` gives native gap-based sessions (the batch twin is
``w_sessionize_events``, which the DuckDB oracle checks).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.functions.hashing import SPARK_H60
from engine.functions.rounding import qsum_rounded
from engine.io import (
    load_table,
    normalize_fixture_ts,
    pin_fixture_ts_confs,
    table_path,
)


def _table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<name>.parquet`` under ``sf_dir`` as a file-source stream, with
    the schema taken from the file footer by a batch read.

    A Spark-written table is a DIRECTORY of part files (the scale
    probe's derived fixture, any re-written landing zone): stream the
    directory itself. A single file is streamed from ``sf_dir`` through
    a ``pathGlobFilter``; applied to a directory layout, that filter
    would list ``sf_dir``'s FILES, match nothing, and silently stream
    zero rows."""
    p = table_path(sf_dir, name)
    reader = spark.readStream.schema(spark.read.parquet(p).schema)
    if os.path.isdir(p):
        return reader.parquet(p)
    return reader.option("pathGlobFilter", os.path.basename(p)).parquet(sf_dir)


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (one-file directory —
    real deployments point this at a landing zone or Kafka).

    The stream schema is derived from the file footer (via a batch
    read) so the reader tolerates every fixture vintage: nanos-as-long
    (round 1), naive microsecond timestamps (round 2 regen), or
    UTC-adjusted timestamps. ``ts`` is normalized to a session-tz
    TIMESTAMP exactly as ``engine.io.load_table`` does for batch.
    """
    pin_fixture_ts_confs(spark)
    # Same vintage normalization as batch load_table — shared helper so
    # batch and streaming can never read the same file differently.
    return normalize_fixture_ts(_table_stream(spark, sf_dir, "events"))


def streaming_tumbling_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the
    streaming twin of the batch `events_daily_rollup` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Integer-grid sum (see engine.functions.rounding.qsum):
            # streaming partial aggregates combine in arrival order.
            qsum_rounded("value", 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("day"), "event_type", "n_events", "total_value"
        )
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Native gap-based session windows per user (batch twin:
    w_sessionize_events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def run_available_now(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Process everything currently available into a memory sink and
    return the materialized result (test/driver harness).

    Use output_mode="complete" for aggregated streams: with a bounded
    file source the watermark never passes the final window, so append
    mode would emit nothing.
    """
    spark = df.sparkSession
    with tempfile.TemporaryDirectory(prefix="ckpt-") as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_view_purchase_join(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's views in the preceding ``horizon``. Both sides carry
    watermarks and the join has a time-range condition, so state for
    either side is dropped once the watermark passes view_ts + horizon
    — bounded state, the requirement for an unbounded 100 TB/day
    stream."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def streaming_enriched_purchases(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static dimension enrichment: purchase events joined to
    the static customer→nation dimensions (events.user_id → c_custkey
    per the fixture join graph).

    The canonical "attach dimensions to a firehose" pattern: the static
    side is re-read and broadcast per micro-batch, so the join keeps
    ZERO stream state (no watermark bookkeeping, unlike stream-stream
    joins) and the stream side never shuffles — at 100 TB/day the
    events only flow map-side through the broadcast hash join."""
    dims = (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name"))
    )
    return (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dims), "user_id", "left")
        .select("event_id", "user_id", "n_name", "value")
    )


def build_late_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, late_mod: int = 10
) -> None:
    """Write a deterministic TWO-BATCH replay of the events table into
    ``out_dir`` for late-data experiments: batch file 0 holds the
    on-time events, batch file 1 the injected late arrivals (the h60
    'late:' sample, 1/late_mod of the corpus, drawn from ALL days so
    genuinely-stale and still-open windows both occur). File mtimes are
    pinned far apart so the file stream source (oldest-first) always
    feeds the on-time file as micro-batch 1 — which advances the
    watermark — and the late file as micro-batch 2, where the
    watermark rule bites. The contents are a pure function of the
    fixture."""
    ev = load_table(spark, sf_dir, "events")
    is_late = (
        F.expr(SPARK_H60.format(x="concat('late:', cast(event_id as string))"))
        % late_mod
        == 0
    )

    for i, part in enumerate((ev.filter(~is_late), ev.filter(is_late))):
        tmp = os.path.join(out_dir, f"w{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(out_dir, f"batch{i}.parquet")
        os.rename(src, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))
