"""Streaming operators over the events table (file-source stream).

Scale notes: a production deployment swaps the file source for Kafka
with identical downstream plans. Watermarks bound state: the tumbling
window keeps |windows within watermark| × |event types| rows of state;
streaming dedup keeps only event_ids younger than the watermark.
``session_window`` gives native gap-based sessions (the batch twin is
``w_sessionize_events``, which the DuckDB oracle checks).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.functions.rounding import qsum_rounded

def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (one-file directory —
    real deployments point this at a landing zone or Kafka).

    The stream schema is derived from the file footer (via a batch
    read) so the reader tolerates every fixture vintage: nanos-as-long
    (round 1), naive microsecond timestamps (round 2 regen), or
    UTC-adjusted timestamps. ``ts`` is normalized to a session-tz
    TIMESTAMP exactly as ``engine.io.load_table`` does for batch.
    """
    import os

    from engine.io import normalize_fixture_ts, pin_fixture_ts_confs, table_path

    pin_fixture_ts_confs(spark)
    p = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(p).schema
    if os.path.isdir(p):
        # Spark-written table: events.parquet/ is a DIRECTORY of part
        # files (the scale probe's derived fixture, any re-written
        # landing zone) — stream the directory itself. The glob-filter
        # variant below would list sf_dir's FILES, match nothing, and
        # silently stream zero rows.
        raw = spark.readStream.schema(raw_schema).parquet(p)
    else:
        raw = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # Same vintage normalization as batch load_table — shared helper so
    # batch and streaming can never read the same file differently.
    return normalize_fixture_ts(raw)


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


def streaming_user_value_stats(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user purchase stats (count, total, max) maintained in explicit
    group state across micro-batches — the pattern for stateful logic
    the built-in aggregations can't express (per-entity model state,
    custom eviction, decayed counters).

    State is one fixed-width tuple per user — O(|users|), not
    O(|events|); Arrow-batched per group. Emits the updated stats row
    for every user seen in the micro-batch ("update" semantics)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        import pandas as pd

        n, total, mx = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_max = float(pdf["value"].max())
            mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, total, mx))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "total_value": total,
                    "max_value": mx,
                }
            ]
        )

    return (
        events.withWatermark("ts", watermark)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# transformWithStateInPandas talks to its state server over a protobuf
# protocol, so the PYTHON side needs the protobuf package at query
# start (the JVM side ships its own). The container has no protobuf
# install, but the repo vendors a loader around a public pure-Python
# runtime present in the image (see engine/_vendor.py) — wire it up
# before probing, then gate like the multimodal codecs so the operator
# still degrades to plan-only where no runtime exists at all.
from engine._vendor import ensure_vendor_path as _ensure_vendor_path

_ensure_vendor_path()
try:  # pragma: no cover - environment-dependent
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_PROTOBUF = True
except ImportError:  # pragma: no cover
    HAS_PROTOBUF = False


def streaming_user_value_stats_tws(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """The same running per-user purchase stats as
    :func:`streaming_user_value_stats`, built on Spark 4's
    ``transformWithStateInPandas`` (the arbitrary-state v2 API): a
    ``StatefulProcessor`` holding one typed ``ValueState`` per user.
    The v2 API is the forward path for custom stateful operators —
    multiple named state variables, per-state TTL, timers, and
    initial-state bootstrap — and requires the RocksDB state store
    provider (``ROCKSDB_PROVIDER``; the only provider with the column
    families the API needs) plus the protobuf package on the Python
    side (``HAS_PROTOBUF`` — see the gate comment above). State size
    and semantics are identical to the v1 twin, and batch agreement
    for BOTH is pinned in tests/test_streaming.py (the v2 test skips
    where protobuf is unavailable)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n bigint, total double, mx double"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            cur = self._stats.get()
            n, total, mx = cur if cur is not None else (0, 0.0, None)
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_max = float(pdf["value"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
            self._stats.update((n, total, mx))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_events": n,
                        "total_value": total,
                        "max_value": mx,
                    }
                ]
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserStatsProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def streaming_user_profile_tws(
    events: DataFrame,
    initial_snapshot=None,
    watermark: str = "1 day",
) -> DataFrame:
    """The v2 API's distinguishing features in one operator: MULTIPLE
    typed state variables per key (a ``ValueState`` for purchase
    running stats + a ``MapState`` of per-event-type counts — v1
    offers exactly one opaque state slot) and optional INITIAL-STATE
    bootstrap (``initialState=`` a grouped snapshot; the production
    "backfill from batch, then stream increments" pattern —
    ``handleInitialState`` seeds both variables before the first
    batch). Emits one profile row per user per batch with input:
    (n_purchases, total_value, n_event_types, n_events).

    ``initial_snapshot`` is a DataFrame of
    (user_id, n_purchases, total_value, type_counts MAP<string,bigint>)
    — build it with :func:`user_profile_snapshot`. State size is
    O(users × event types); the map never stores rows, only counts —
    bounded state on an unbounded stream."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_purchases", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("n_event_types", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", "n bigint, total double")
            self._counts = handle.getMapState(
                "type_counts", "et string", "c bigint"
            )

        def handleInitialState(self, key, initialState, timer_values) -> None:
            row = initialState.iloc[0]
            self._stats.update(
                (int(row["n_purchases"]), float(row["total_value"]))
            )
            # Arrow maps reach pandas as either a dict (spark.sql.
            # execution.pandas convertToArrowArraySafely / pydict
            # mode) or a list of (key, value) tuples — accept both.
            tc = row["type_counts"]
            items = tc.items() if hasattr(tc, "items") else (tc or [])
            for et, c in items:
                self._counts.updateValue((et,), (int(c),))

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            cur = self._stats.get()
            n, total = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                purchases = pdf[pdf["event_type"] == "purchase"]
                n += len(purchases)
                total += float(purchases["value"].sum())
                for et, c in pdf["event_type"].value_counts().items():
                    prev = self._counts.getValue((et,))
                    base = int(prev[0]) if prev is not None else 0
                    self._counts.updateValue((et,), (base + int(c),))
            self._stats.update((n, total))
            n_types, n_events = 0, 0
            for _k, v in self._counts.iterator():
                n_types += 1
                n_events += int(v[0])
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_purchases": n,
                        "total_value": total,
                        "n_event_types": n_types,
                        "n_events": n_events,
                    }
                ]
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserProfileProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
            initialState=(
                initial_snapshot.groupBy("user_id")
                if initial_snapshot is not None
                else None
            ),
        )
    )


def user_profile_snapshot(events: DataFrame) -> DataFrame:
    """Batch snapshot in :func:`streaming_user_profile_tws`'s
    initial-state layout — the "backfill" half of backfill-then-stream."""
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "c"))
            ).alias("type_counts")
        )
        .join(
            events.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
                F.sum("value").cast("double").alias("total_value"),
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            "type_counts",
        )
    )


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


def write_stream_parquet(
    df: DataFrame, path: str, checkpoint: str, name: str = "sink"
):
    """Exactly-once parquet sink: the file-sink commit log under
    ``checkpoint`` records which micro-batch wrote which files, so a
    restart after failure neither drops nor duplicates batches — reruns
    of already-committed batches are skipped, and readers ignore
    uncommitted files via the _spark_metadata log. Returns the query
    (caller awaits termination)."""
    return (
        df.writeStream.format("parquet")
        .queryName(name)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
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


def write_stream_upsert(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    version_col: str,
    name: str = "upsert-sink",
):
    """Streaming CDC materialization: each micro-batch is merged into
    the parquet snapshot at ``path`` via :func:`engine.sinks.
    upsert_parquet` (highest version wins per key) inside
    ``foreachBatch``.

    End-to-end effectively-once: the checkpoint makes batch REPLAY the
    failure mode (a crashed batch reruns), and the upsert is idempotent
    under replay — re-merging the same rows picks the same winners — so
    restart neither drops nor duplicates state. This is the standard
    pairing for sinks without transactional two-phase commit: exactly-
    once state from at-least-once delivery + idempotent merge. Returns
    the query (caller awaits termination)."""
    from engine.sinks import upsert_parquet

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(
            batch_df.sparkSession, batch_df, path, key_cols, version_col
        )

    return (
        df.writeStream.queryName(name)
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def write_stream_incremental_rollup(
    events: DataFrame,
    path: str,
    checkpoint: str,
    name: str = "rollup-sink",
):
    """Incremental materialized-view maintenance for the daily rollup:
    each micro-batch aggregates only its DELTA (day, event_type,
    n_events, quantized value sum) and publishes it to a
    ``batch_id``-keyed partition with DYNAMIC partition overwrite.

    Exactly-once additive state from at-least-once delivery: additive
    merges are NOT idempotent under batch replay (re-adding a replayed
    delta double-counts), but a replayed batch rewrites its OWN
    batch_id partition here, so replay is a no-op. Readers fold the
    pre-aggregated deltas with :func:`read_incremental_rollup`; value
    sums ride the BIGINT integer grid (engine.functions.rounding), so
    folding deltas is EXACT and bit-equal to the one-shot batch
    aggregate in any merge order. At 100 TB only the per-trigger delta
    is ever aggregated — the view never re-reads history.
    """
    from engine.functions.rounding import qsum
    from engine.sinks import overwrite_partitions_dynamic

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.groupBy(
                F.date_trunc("day", "ts").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                qsum("value").alias("value_q"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        )
        overwrite_partitions_dynamic(delta, path, ["batch_id"])

    return (
        events.writeStream.queryName(name)
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def read_incremental_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Fold the delta partitions into the rollup view — bit-identical
    to the batch `events_daily_rollup` (same integer-grid math)."""
    from engine.functions.rounding import VALUE_Q, round_he

    return (
        spark.read.parquet(path)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_q").cast("bigint").alias("value_q"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            round_he(
                F.col("value_q").cast("double") / F.lit(VALUE_Q), 2
            ).alias("total_value"),
        )
    )


def write_stream_incremental_dedup(
    docs: DataFrame,
    index_path: str,
    dups_path: str,
    checkpoint: str,
    name: str = "dedup-sink",
):
    """Streaming exact dedup against an ACCUMULATING corpus: each
    micro-batch of documents is checked against the content-hash index
    built by all earlier batches, duplicate verdicts land in
    ``dups_path``, and the batch's novel hashes are appended to the
    index — the shape a continuous crawl-ingest pipeline runs (today's
    batch vs the whole corpus, never corpus × corpus).

    Keep-first semantics: earlier batch wins; within a batch the
    lowest doc_id wins. Replay safety without a transactional sink:
    both outputs are batch_id-owned partitions under dynamic
    overwrite, and the index join reads only rows with a SMALLER
    batch_id — a replayed batch therefore recomputes exactly its
    original verdicts (its own and later partitions are invisible to
    it) and rewrites its own partitions in place.

    Scale shape: the index stores one 64-hex digest + id per unique
    document (O(corpus count), no text); the per-batch join shuffles
    digests only.
    """
    from engine.sinks import overwrite_partitions_dynamic

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        # Persisted: the emptiness probes below plus the two writes
        # would otherwise re-run the hash + index read + joins up to
        # four times per micro-batch.
        hashed = batch_df.select(
            "doc_id", F.sha2("text", 256).alias("content_hash")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        firsts = hashed.groupBy("content_hash").agg(
            F.min("doc_id").alias("first_id")
        )
        try:
            idx = spark.read.parquet(index_path).filter(
                F.col("batch_id") < batch_id
            )
        except AnalysisException:
            # Path-not-found on the FIRST batch only. Narrow on
            # purpose: treating an arbitrary read failure (transient
            # IO, permissions, corrupt footer) as "empty corpus" would
            # silently mark every doc novel and append contradictory
            # index rows — fail the batch and let the retry see the
            # real index instead.
            idx = spark.createDataFrame(
                [], "content_hash string, first_id bigint, batch_id bigint"
            )
        corpus = idx.select(
            "content_hash", F.col("first_id").alias("corpus_id")
        )
        dups = (
            hashed.join(corpus, "content_hash", "left")
            .join(firsts, "content_hash")
            .filter(
                F.col("corpus_id").isNotNull()
                | (F.col("doc_id") != F.col("first_id"))
            )
            .select(
                "doc_id",
                F.coalesce("corpus_id", "first_id").alias("duplicate_of"),
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        novel = (
            firsts.join(corpus, "content_hash", "left_anti")
            .select(
                "content_hash",
                "first_id",
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # Empty dynamic overwrites write no files (an empty dir is
            # unreadable parquet); a batch with no dups owns no
            # partition. The probes hit the caches filled above.
            if dups.limit(1).count() > 0:
                overwrite_partitions_dynamic(dups, dups_path, ["batch_id"])
            if novel.limit(1).count() > 0:
                overwrite_partitions_dynamic(novel, index_path, ["batch_id"])
        finally:
            dups.unpersist(False)
            novel.unpersist(False)
            hashed.unpersist(False)

    return (
        docs.writeStream.queryName(name)
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def build_late_replay(
    spark: SparkSession, sf_dir: str, late_mod: int = 10
) -> str:
    """Materialize a deterministic TWO-BATCH replay of the events table
    for late-data experiments: batch file 0 holds the on-time events,
    batch file 1 the injected late arrivals (the h60 'late:' sample,
    1/late_mod of the corpus, drawn from ALL days so genuinely-stale
    and still-open windows both occur). File mtimes are pinned far
    apart so the file stream source (oldest-first) always feeds the
    on-time file as micro-batch 1 — which advances the watermark — and
    the late file as micro-batch 2, where the watermark rule bites.
    Returns the replay directory (rebuilt on every call; contents are a
    pure function of the fixture)."""
    import glob
    import os
    import shutil

    from engine.functions.hashing import SPARK_H60
    from engine.io import load_table
    from engine.sinks import publish_dir

    out = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_late_replay",
        os.path.basename(sf_dir.rstrip("/")),
    )
    ev = load_table(spark, sf_dir, "events")
    is_late = (
        F.expr(SPARK_H60.format(x="concat('late:', cast(event_id as string))"))
        % late_mod
        == 0
    )

    def write(staging: str) -> None:
        for i, part in enumerate((ev.filter(~is_late), ev.filter(is_late))):
            tmp = os.path.join(staging, f"w{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
            dst = os.path.join(staging, f"batch{i}.parquet")
            os.rename(src, dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    publish_dir(out, "replay", write)
    return out
