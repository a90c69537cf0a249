"""Structured Streaming tests: the streaming queries must agree with
their batch twins on the same bounded input."""

from pyspark.sql import functions as F

from engine.io import load_table
from engine.streaming import (
    read_event_stream,
    run_available_now,
    streaming_dedup,
    streaming_session_windows,
    streaming_tumbling_counts,
)
from tests.conftest import SF_SMOKE


def test_tumbling_counts_match_batch(spark):
    stream = read_event_stream(spark, SF_SMOKE)
    result = run_available_now(
        streaming_tumbling_counts(stream), "t_tumbling", output_mode="complete"
    )
    from engine.operators.relational import events_daily_rollup

    batch = events_daily_rollup(spark, SF_SMOKE)
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_is_noop_on_unique_ids(spark):
    stream = read_event_stream(spark, SF_SMOKE)
    result = run_available_now(streaming_dedup(stream), "t_dedup")
    n_batch = load_table(spark, SF_SMOKE, "events").count()
    assert result.count() == n_batch
    assert result.select("event_id").distinct().count() == n_batch


def test_session_windows_match_batch_sessionizer(spark):
    stream = read_event_stream(spark, SF_SMOKE)
    result = run_available_now(
        streaming_session_windows(stream), "t_sessions", output_mode="complete"
    )
    from engine.operators.windows import w_sessionize_events

    batch = w_sessionize_events(spark, SF_SMOKE)
    # Same number of sessions per user, same total events.
    got = (
        result.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
        .collect()
    )
    want = (
        batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_ev"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream view→purchase join must agree with the
    equivalent batch range join on the bounded input."""
    from engine.streaming.events import streaming_view_purchase_join

    stream = read_event_stream(spark, SF_SMOKE)
    got = {
        (r.view_id, r.purchase_id)
        for r in run_available_now(
            streaming_view_purchase_join(stream), "t_ssjoin"
        ).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.view_id, r.purchase_id)
        for r in v.join(p, "u")
        .filter(
            (F.col("pts") > F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR"))
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join == the same join done in batch."""
    from engine.io import load_table
    from engine.streaming.events import (
        read_event_stream,
        run_available_now,
        streaming_enriched_purchases,
    )

    customer = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    stream = read_event_stream(spark, SF_SMOKE)
    got = run_available_now(
        streaming_enriched_purchases(stream, customer, nation),
        "enriched_purchases",
    )
    batch_events = load_table(spark, SF_SMOKE, "events")
    expected = streaming_enriched_purchases(batch_events, customer, nation)
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got).isEmpty()
    # left join keeps purchases with no matching customer (if any)
    assert got.filter(F.col("event_id").isNull()).count() == 0


def test_event_stream_reads_directory_layout_fixture(spark, tmp_path):
    """A directory-layout events.parquet (Spark-written landing zone,
    the scale probe's derived fixture) must stream every row — the
    round-5 probe caught the single-file pathGlobFilter silently
    streaming ZERO rows from it, the worst failure mode a source can
    have."""
    from engine.streaming.events import run_available_now

    sf = str(tmp_path)
    load_table(spark, SF_SMOKE, "events").limit(500).write.parquet(
        f"{sf}/events.parquet"
    )
    got = run_available_now(
        read_event_stream(spark, sf).groupBy().count(),
        "t_dirlayout",
        output_mode="complete",
    ).collect()[0][0]
    assert got == 500


def test_document_stream_reads_directory_layout_fixture(spark, tmp_path):
    """Same contract for the documents source (round-6): a
    directory-layout documents.parquet must stream every row, not
    silently zero under the single-file pathGlobFilter."""
    from engine.streaming.docs import read_document_stream
    from engine.streaming.events import run_available_now

    sf = str(tmp_path)
    load_table(spark, SF_SMOKE, "documents").limit(40).write.parquet(
        f"{sf}/documents.parquet"
    )
    got = run_available_now(
        read_document_stream(spark, sf).groupBy().count(),
        "d_dirlayout",
        output_mode="complete",
    ).collect()[0][0]
    assert got == 40


def test_late_data_audit_drops_stale_and_keeps_open_windows(spark):
    """Round-7 late-data accounting (VERDICT r6 #7): over the
    two-trigger replay, late rows in watermark-closed windows are
    silently dropped (total dropped > 0 — the discipline being
    measured) while late rows in still-open windows survive (dropped <
    injected late count); on-time rows are never dropped; and the per
    cell identity n_total = n_stream + n_dropped_late holds. All
    hashes and the watermark are deterministic, so the asserted
    inequalities are stable."""
    from engine.functions.hashing import SPARK_H60
    from engine.operators.streaming_queries import (
        LATE_MOD,
        streaming_late_data_audit,
    )

    rows = streaming_late_data_audit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_total == r.n_stream + r.n_dropped_late
        assert r.n_dropped_late >= 0

    dropped = sum(r.n_dropped_late for r in rows)
    assert dropped > 0  # stale-window late rows actually dropped

    ev = load_table(spark, SF_SMOKE, "events")
    n_late = ev.filter(
        F.expr(SPARK_H60.format(x="concat('late:', cast(event_id as string))"))
        % LATE_MOD
        == 0
    ).count()
    assert 0 < dropped < n_late  # still-open windows kept their late rows

    # the final (most recent) day's window is still open under the
    # 1-hour delay: nothing dropped there
    last_day = max(r.day for r in rows)
    assert all(
        r.n_dropped_late == 0 for r in rows if r.day == last_day
    )


def test_late_data_audit_leaves_no_temp_files(spark, tmp_path, monkeypatch):
    """The replay, the live stream input and the checkpoint live in one
    directory per call, which the audit removes before it returns."""
    import tempfile

    from engine.operators.streaming_queries import streaming_late_data_audit

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert streaming_late_data_audit(spark, SF_SMOKE).collect()
    assert list(tmp_path.iterdir()) == []
