"""Registry entries for the Structured Streaming layer: each runs a
bounded availableNow pass over the events file stream and returns the
materialized result, so the DuckDB oracle can hash-check STREAMING
semantics (window/session assignment, dedup, stream-static join) —
stronger than the rows-only check non-SQL ops get.

The reference has no streaming constructs at all (SURVEY.md §2.3);
this is new Layer-B capability. Scale notes live on the underlying
operators in engine/streaming/events.py (watermark-bounded state,
zero-state broadcast enrichment); the availableNow harness here is the
test/driver entry point — production swaps in a continuous trigger and
a real sink, same plan.

Boundary semantics pinned by the oracles:
- tumbling windows are UTC epoch-aligned days (`date_trunc('day')`);
- `session_window` starts a NEW session when the gap is >= the 30-min
  timeout (merge requires next_start < session_end), which differs
  from the batch sessionizer `w_sessionize_events` (gap > timeout);
  the session oracle below uses >= accordingly.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.functions.rounding import duck_qsum_rounded
from engine.io import load_table
from engine.registry import Federation, query
from engine.streaming.events import (
    build_late_replay,
    read_event_stream,
    run_available_now,
    streaming_dedup,
    streaming_enriched_purchases,
    streaming_session_windows,
    streaming_tumbling_counts,
)

# memory-sink query names must be unique within a SparkSession
_seq = itertools.count()


def _sink(name: str) -> str:
    return f"{name}_{next(_seq)}"


@query(
    "streaming_tumbling_daily",
    oracle="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       event_type,
       count(*) AS n_events,
       {sum2} AS total_value
FROM events GROUP BY 1, 2
""".format(sum2=duck_qsum_rounded("value", 2)),
    tags=("streaming", "window", "events"),
    exported=False,
)
def streaming_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling daily counts, executed as a bounded
    availableNow stream; on bounded input the final complete-mode
    result equals the batch GROUP BY, which is what the oracle pins."""
    ev = read_event_stream(spark, sf_dir)
    return run_available_now(
        streaming_tumbling_counts(ev),
        _sink("t_daily"),
        output_mode="complete",
    )


@query(
    "streaming_session_bounds",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(CAST(ts AS TIMESTAMP))
                      - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                      >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_seq
""",
    tags=("streaming", "sessionize", "events"),
    exported=False,  # driver-visible as streaming_enriched_windows' `sess` facet
)
def streaming_session_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` sessions (30-min gap) as a bounded
    stream; the oracle re-derives Spark's merge rule in SQL
    (new session iff gap >= timeout; end = last event + timeout)."""
    ev = read_event_stream(spark, sf_dir)
    return run_available_now(
        streaming_session_windows(ev),
        _sink("t_sessions"),
        output_mode="complete",
    )


@query(
    "streaming_dedup_counts",
    oracle="""
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type
""",
    tags=("streaming", "dedup", "events"),
    exported=False,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup on event_id, then a per-type
    count — equals DISTINCT counting on bounded input."""
    ev = read_event_stream(spark, sf_dir)
    deduped = streaming_dedup(ev)
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    return run_available_now(
        counts, _sink("t_dedup"), output_mode="complete"
    )


@query(
    "streaming_enriched_purchase_rows",
    oracle="""
SELECT e.event_id, e.user_id, n.n_name, e.value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE e.event_type = 'purchase'
""",
    tags=("streaming", "join", "events"),
    exported=False,  # driver-visible via facets2.streaming_enriched_windows
)
def streaming_enriched_purchase_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast dimension enrichment (zero stream
    state): purchases joined per micro-batch to the static
    customer→nation dims."""
    ev = read_event_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return run_available_now(
        streaming_enriched_purchases(ev, customer, nation),
        _sink("t_enriched"),
    )


WINDOWED_COUNTS = Federation(
    "facet STRING, day TIMESTAMP, event_type STRING, n BIGINT, x DOUBLE",
    [
        ("tumbling", "streaming_tumbling_daily",
         {"day": "day", "event_type": "event_type", "n": "n_events",
          "x": "total_value"}),
        ("dedup", "streaming_dedup_counts",
         {"event_type": "event_type", "n": "n_unique"}),
    ],
)


@query(
    "streaming_windowed_counts",
    oracle=WINDOWED_COUNTS.oracle,
    tags=("streaming", "window", "dedup", "events"),
    exported=False,  # driver-visible via facets2.streaming_enriched_windows
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful-aggregation surface, two facets, each a
    bounded availableNow run whose final complete-mode result the
    oracle pins against batch SQL: `tumbling` (watermarked tumbling
    daily counts + value sums per event type) and `dedup`
    (watermark-bounded dropDuplicates on event_id, then per-type
    unique counts)."""
    return WINDOWED_COUNTS.build(spark, sf_dir)


@query(
    "streaming_view_purchase_pairs",
    oracle="""
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(v.ts AS TIMESTAMP) AS view_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       p.value AS purchase_value
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
    tags=("streaming", "join", "stream-stream", "events"),
    exported=False,
)
def streaming_view_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join, hash-checked against batch SQL (round
    5 — previously pytest-rows-only): each purchase matched to the
    same user's views in the preceding hour, both sides watermarked
    with a time-range join condition so state on either side is
    dropped once the watermark passes view_ts + horizon — the bounded-
    state requirement for an unbounded stream. purchase_value is a
    raw fixture column (byte-identical in both engines); timestamps
    are event times both engines read from the same parquet."""
    from engine.streaming.events import streaming_view_purchase_join

    ev = read_event_stream(spark, sf_dir)
    return run_available_now(
        streaming_view_purchase_join(ev), _sink("t_vp_pairs")
    )


# -- streaming incremental dedup (dedup at ingestion time) ------------------

from engine.operators.dedup import (  # noqa: E402
    INC_MOD,
    MINHASH_K,
    _minhash_tables,
)
from engine.operators.textstats import SPARK_H60, ngram_idx  # noqa: E402
from engine.functions.hashing import DUCK_H60  # noqa: E402
from engine.registry import _REGISTRY  # noqa: E402
from engine.streaming.docs import read_document_stream  # noqa: E402

# Row-local MinHash: the batch pipeline computes signatures as K
# min-aggregates over an exploded shingle stream (one doc_id shuffle);
# a STREAM cannot aggregate before its stateful sink stage, so the
# streaming twin computes the identical signature with nested
# higher-order functions — array_min over transform — entirely within
# the row. Same shingle definition (word-3-shingles of split(lower)),
# same per-family hash (h60 of 'i|shingle'), same band pairing
# (md5 of minhash slots b and b+8), so band signatures are
# bit-identical to the batch index they join against.
_STREAM_SH = (
    f"transform({ngram_idx(3)},"
    " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
    " element_at(t, i + 2)))"
)
_STREAM_SIG = (
    f"transform(sequence(0, {MINHASH_K - 1}),"
    " hi -> array_min(transform(sh, s -> "
    + SPARK_H60.format(x="concat(cast(hi as string), '|', s)")
    + ")))"
)
_STREAM_BANDS = (
    f"transform(sequence(0, {MINHASH_K // 2 - 1}),"
    " b -> named_struct('band', b, 'sig',"
    f" md5(concat_ws(',', cast(sig_arr[b] as string),"
    f" cast(sig_arr[b + {MINHASH_K // 2}] as string)))))"
)


@query(
    "streaming_incremental_dedup",
    # The oracle IS dedup_incremental's: on bounded input the final
    # complete-mode streaming result must equal the batch operator
    # exactly — the strongest claim a streaming twin can make.
    oracle=_REGISTRY["dedup_incremental"].oracle,
    tags=("streaming", "dedup", "incremental", "documents"),
    exported=False,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup at ingestion: the NEW-document stream is checked against
    the static corpus index as it arrives — tier `exact` joins the
    incoming sha256 against the corpus content-hash table, tier
    `near_band` explodes the row-local MinHash band signatures (see
    section comment) and joins the corpus band index. Both joins are
    STREAM-STATIC (zero streaming state); the only stateful stage is
    the final min-per-(doc, tier) aggregate, bounded by the number of
    flagged arrivals. At 100 TB the corpus index lives in a store
    keyed exactly like these DataFrames (content hash / band sig);
    cost per arriving doc is its band-bucket collisions, never a
    corpus scan."""
    from engine.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = (
        F.expr(SPARK_H60.format(x="concat('inc:', cast(doc_id as string))"))
        % INC_MOD
        == 0
    )
    corp = docs.filter(~is_new)
    corp_hash = corp.select(
        F.sha2("text", 256).alias("content_hash"),
        F.col("doc_id").alias("old_id"),
    )
    _, corp_bands_full = _minhash_tables(corp)
    corp_bands = corp_bands_full.select(
        F.col("doc_id").alias("old_id"), "band", "sig"
    )

    stream = read_document_stream(spark, sf_dir).filter(is_new)
    s_exact = (
        stream.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .join(corp_hash, "content_hash")
        .select("doc_id", F.lit("exact").alias("kind"), "old_id")
    )
    s_near = (
        stream.select(
            "doc_id", F.split(F.lower("text"), " ").alias("t")
        )
        .select("doc_id", F.expr(_STREAM_SH).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.expr(_STREAM_SIG).alias("sig_arr"))
        .select("doc_id", F.explode(F.expr(_STREAM_BANDS)).alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .join(corp_bands, ["band", "sig"])
        .filter(F.col("doc_id") != F.col("old_id"))
        .select("doc_id", F.lit("near_band").alias("kind"), "old_id")
    )
    flagged = s_exact.unionAll(s_near)
    agg = flagged.groupBy("doc_id", "kind").agg(
        F.min("old_id").cast("bigint").alias("duplicate_of")
    )
    return run_available_now(
        agg, _sink("inc_dedup"), output_mode="complete"
    ).select("doc_id", "kind", "duplicate_of")


# -- late-data accounting (the watermark discipline, measured) ---------------
#
# Watermarked aggregates drop late rows SILENTLY (Spark semantics): a
# row arriving after the watermark passed its window's end never
# reaches the state store and nothing in the output says so. This
# operator pins that discipline the way streaming_incremental_dedup
# pinned ingestion dedup: a deterministic replay — the on-time events
# as trigger 1, then an injected late batch (drawn from ALL days, so
# genuinely-stale and still-open windows both occur) as trigger 2 —
# runs through a watermarked daily aggregate in UPDATE mode, and the
# audit reports per (day, event_type): total raw events, events the
# stream actually counted, and the dropped-late difference. The oracle
# replays the exact watermark rule in SQL: after trigger 1 the
# watermark is max(on-time ts) - delay, and a late row is dropped iff
# its day-window END <= that watermark.
#
# The two arrivals are SEPARATE availableNow runs over one shared
# checkpoint — measured on this Spark: the watermark persists and
# advances ACROSS runs (trigger boundaries), but batches inside a
# single availableNow run all plan with the run-initial watermark, so
# a single run (even with maxFilesPerTrigger=1) drops nothing. Two
# runs model a real deployment's triggers exactly; the drop was
# verified live (numRowsDroppedByWatermark fires in run 2). Complete
# mode would retain all state and also drop nothing — update mode is
# load-bearing.
#
# 100 TB shape: the replay is a test harness (production reads the
# real arrival order); the audit itself is two map-side-combined
# aggregates joined on the bounded (days x types) key set. The
# collected update stream is bounded by that same key set (one update
# row per changed key per trigger), so the driver-side gather is
# O(days x types), never O(events).

LATE_MOD = 10
LATE_DELAY = "1 hour"

_LATE_DUCK = (
    DUCK_H60.format(x="'late:' || CAST(event_id AS VARCHAR)")
    + f" % {LATE_MOD} = 0"
)

_LATE_AUDIT_ORACLE = f"""
WITH lab AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
         ({_LATE_DUCK}) AS is_late
  FROM events
),
wm AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM lab WHERE NOT is_late
),
kept AS (
  SELECT date_trunc('day', ts) AS day, event_type
  FROM lab CROSS JOIN wm
  WHERE NOT is_late
     OR date_trunc('day', ts) + INTERVAL 1 DAY > w
),
s AS (
  SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_stream
  FROM kept GROUP BY day, event_type
),
b AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(count(*) AS BIGINT) AS n_total
  FROM lab GROUP BY day, event_type
)
SELECT CAST(b.day AS TIMESTAMP) AS day, b.event_type, b.n_total,
       CAST(COALESCE(s.n_stream, 0) AS BIGINT) AS n_stream,
       CAST(b.n_total - COALESCE(s.n_stream, 0) AS BIGINT)
         AS n_dropped_late
FROM b LEFT JOIN s ON b.day = s.day AND b.event_type = s.event_type
"""


@query(
    "streaming_late_data_audit",
    oracle=_LATE_AUDIT_ORACLE,
    tags=("streaming", "watermark", "late-data", "events"),
    exported=False,  # driver-visible via facets2.streaming_enriched_windows
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting (section comment): per (day, event_type),
    the raw total, the count the watermarked streaming aggregate
    actually retained over the two-trigger replay, and the silently
    dropped-late difference. Rows in still-open windows survive the
    late trigger; rows in windows the watermark already closed do not —
    the oracle derives both from the watermark rule."""
    # One directory per call holds the replay, the live stream input and
    # the checkpoint; it is removed when the two triggers are done.
    root = tempfile.mkdtemp(prefix="late-audit-")
    replay = os.path.join(root, "replay")
    live = os.path.join(root, "live")
    ckpt = os.path.join(root, "ckpt")
    # One update row per changed (day, type) key per trigger — bounded
    # by the key set, see the section comment.
    updates: list = []

    def _run_trigger(schema) -> None:
        agg = (
            spark.readStream.schema(schema)
            .parquet(live)
            .withWatermark("ts", LATE_DELAY)
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("day"), "event_type", "n")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _b: updates.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        build_late_replay(spark, sf_dir, replay, late_mod=LATE_MOD)
        os.makedirs(live)
        schema = spark.read.parquet(replay).schema
        for i in range(2):  # trigger 1: on-time; trigger 2: late
            shutil.copy(
                os.path.join(replay, f"batch{i}.parquet"),
                os.path.join(live, f"batch{i}.parquet"),
            )
            _run_trigger(schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # Counts only grow, so the final value per key is the max update.
    n_stream = (
        spark.createDataFrame(
            [(r.day, r.event_type, r.n) for r in updates],
            "day timestamp, event_type string, n bigint",
        )
        .groupBy("day", "event_type")
        .agg(F.max("n").cast("bigint").alias("n_stream"))
    )
    totals = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    return totals.join(n_stream, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        "n_total",
        F.coalesce(F.col("n_stream"), F.lit(0).cast("bigint")).alias(
            "n_stream"
        ),
        (F.col("n_total") - F.coalesce(F.col("n_stream"), F.lit(0)))
        .cast("bigint")
        .alias("n_dropped_late"),
    )
