"""Round-3 federated registry queries.

Same consolidation pattern as ``tpch_merged`` / ``facets``: the
driver's correctness gate records ~50 entries, so the round-2 library
additions (graph analytics, journey/timeseries analytics, BPE, PPJoin)
get driver-visible rows by federating them under ``facet`` columns —
and four pairs of kindred existing rows are merged to stay inside the
cap. Every component stays registered (``exported=False``) with its
own oracle, so the local gate keeps checking each one individually.
Each federation is declared once as a ``registry.Federation``, which
generates both the Spark union and the oracle wrapping the unchanged
component oracles as subqueries, so the driver's value hash still pins
every component's values exactly. Nested federations pass the inner
``facet`` column through as one more mapped column.

Perf discipline: federations that share an expensive intermediate
build it ONCE and project the frames themselves — ``graph_analytics``
persists one co-purchase pair list for all three graph cores (the
events scan + basket self-join runs once, not three times), and
``bpe_pipeline`` runs the K-round merge-learning chain once for both
the merge table and the corpus encoding.
"""

from __future__ import annotations

import functools

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# Importing the component modules registers their specs (and oracles).
from engine.operators import (  # noqa: F401
    analytics,
    approx,
    bpe,
    clustering,
    dedup,
    facets,
    pipeline,
    rangejoin,
    recsys,
    relational,
    relational2,
    relational3,
    rerank,
    similarity,
    skew,
    streaming_queries,
    textstats,
    windows,
)
from engine.plans import audited_checkpoint, record_iteration_plan
from engine.registry import Federation, query

# ---------------------------------------------------------------------------
# New driver rows for round-2 library operators
# ---------------------------------------------------------------------------

GRAPH_ANALYTICS = Federation(
    "facet STRING, item BIGINT, n1 BIGINT, n2 BIGINT, x DOUBLE, flag BOOLEAN",
    [
        ("pagerank", "pagerank_items", {"item": "item", "n1": "out_deg", "x": "pr9"}),
        ("triangle", "triangle_counts",
         {"item": "item", "n1": "degree", "n2": "n_triangles", "x": "clustering6"}),
        ("kcore", "kcore_items",
         {"item": "item", "n1": "core_deg", "flag": "converged"}),
    ],
)


@query(
    "graph_analytics",
    oracle=GRAPH_ANALYTICS.oracle,
    tags=("analytics", "graph", "iterative", "events", "headline"),
)
def graph_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph operators, federated: `pagerank` (item,
    n1 = out-degree, x = rank after 5 damped rounds on the 1e-9 grid),
    `triangle` (n1 = degree, n2 = triangle count, x = clustering
    coefficient), `kcore` (n1 = degree within the k-core, flag =
    peeling reached fixpoint). The pair list — the dominant cost: an
    events scan + capped basket self-join — is built ONCE, persisted,
    and fanned out to all three cores.

    The cores run CONCURRENTLY (three driver threads submitting jobs
    against the shared pair cache) under ONE static-planning context
    pinned to the measured width: their iteration chains are
    stage-latency-bound, not core-bound, so overlapping them hides
    most of two cores' wall time on any cluster with spare slots —
    and session conf is process-global, so the single outer context
    (rather than three racing ones) is what makes the parallelism
    safe. Measured 5.3 s sequential → ~3 s overlapped at sf0.1."""
    from concurrent.futures import ThreadPoolExecutor

    from engine.session import static_planning

    pairs = analytics.copurchase_pairs(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    m2 = pairs.count()  # fills the cache; sizes the shared width
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nparts = max(1, min(conf_parts, -(-(2 * m2) // 1_000_000)))
    with static_planning(spark, shuffle_partitions=nparts):
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_pr = pool.submit(analytics.pagerank_core, pairs, nparts)
            f_tc = pool.submit(analytics.triangle_core, pairs, nparts)
            f_kc = pool.submit(analytics.kcore_core, pairs, nparts)
            pr_df, tc_df, kc_df = f_pr.result(), f_tc.result(), f_kc.result()
    pr = GRAPH_ANALYTICS.project("pagerank", pr_df)
    tc = GRAPH_ANALYTICS.project("triangle", tc_df)
    kc = GRAPH_ANALYTICS.project("kcore", kc_df)
    # All three cores materialized eagerly above (localCheckpoint), so
    # the shared pair cache has no remaining consumers — drop it.
    pairs.unpersist(False)
    return pr.unionAll(tc).unionAll(kc)


EVENTS_LIFECYCLE = Federation(
    "facet STRING, k1 STRING, k2 STRING, id BIGINT, seq BIGINT, t1 TIMESTAMP, "
    "t2 TIMESTAMP, n1 BIGINT, n2 BIGINT, flag BOOLEAN, x1 DOUBLE, x2 DOUBLE",
    [
        ("attribution", "purchase_attribution",
         {"k1": "first_touch", "k2": "last_touch", "n1": "n_purchases",
          "x1": "revenue2"}),
        ("markov", "event_transition_matrix",
         {"k1": "from_type", "k2": "to_type", "n1": "n", "n2": "n_from", "x1": "p6"}),
        ("scd2", "scd2_user_tiers",
         {"k1": "tier", "id": "user_id", "seq": "version", "t1": "valid_from",
          "t2": "valid_to", "flag": "is_current"}),
        ("trending", "trending_items",
         {"id": "item", "seq": "rank", "t1": "day", "n1": "n", "n2": "n_prev"}),
        ("gapfill", "events_daily_gapfill",
         {"k1": "event_type", "t1": "day", "n1": "n", "flag": "is_gap",
          "x1": "locf2"}),
        ("ols", "value_trend_ols",
         {"k1": "event_type", "n1": "n", "x1": "slope6", "x2": "intercept6"}),
        ("retention", "events_retention_cohorts",
         {"seq": "CAST(offset_days AS BIGINT)", "t1": "cohort_day",
          "n1": "n_users", "n2": "cohort_size", "x1": "retention_rate"}),
        ("rolling", "events_rolling_active_users",
         {"t1": "day", "n1": "active_users_7d"}),
    ],
)


@query(
    "events_lifecycle_analytics",
    oracle=EVENTS_LIFECYCLE.oracle,
    tags=("analytics", "sequence", "timeseries", "events"),
)
def events_lifecycle_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-journey and time-series analytics operators, eight
    facets over events:

    - `attribution`: first-/last-touch matrix (k1/k2 = touches, n1 =
      purchases, x1 = integer-grid revenue);
    - `markov`:      first-order transition matrix (k1→k2, n1/n2 =
      pair/row counts, x1 = exact-ratio probability);
    - `scd2`:        Type-2 tier history (k1 = tier, id = user, seq =
      version, t1/t2 = validity interval, flag = is_current);
    - `trending`:    per-day top-K items (id = item, seq = rank, t1 =
      day, n1/n2 = count/prev-day count);
    - `gapfill`:     dense calendar with LOCF (k1 = type, t1 = day,
      n1 = count, flag = gap day, x1 = carried-forward sum);
    - `ols`:         per-type closed-form trend (x1/x2 = slope/
      intercept from integer-grid sufficient statistics);
    - `retention`:   first-activity cohort × day-offset retention
      matrix (t1 = cohort day, seq = offset, n1/n2 = retained/cohort
      size, x1 = rate);
    - `rolling`:     7-day rolling distinct users via the fixed x7
      contribution explode (t1 = day, n1 = active users).
    """
    return EVENTS_LIFECYCLE.build(spark, sf_dir)


BPE_PIPELINE = Federation(
    "facet STRING, step BIGINT, k1 STRING, k2 STRING, doc_id BIGINT, "
    "n1 BIGINT, n2 BIGINT, n3 BIGINT, x DOUBLE",
    [
        ("merge", "bpe_merges",
         {"step": "step", "k1": "merge_left", "k2": "merge_right",
          "n1": "pair_count"}),
        ("encode", "bpe_encode_docs",
         {"doc_id": "doc_id", "n1": "n_words", "n2": "n_chars_alpha",
          "n3": "n_tokens", "x": "compression6"}),
    ],
)


@query(
    "bpe_pipeline",
    oracle=BPE_PIPELINE.oracle,
    tags=("text", "tokenizer", "bpe"),
)
def bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer pipeline, federated: `merge` (the learned
    merge table — step, k1/k2 = merged pair, n1 = pair count) and
    `encode` (the corpus tokenized with that vocabulary — per-doc
    word/char/token counts, x = compression ratio). The K-round
    merge-learning chain runs ONCE for both facets (learn_chain
    returns the merge table and the final vocabulary state)."""
    words = bpe._spark_words(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    merges, final_words = bpe.learn_chain(words)
    bm = BPE_PIPELINE.project("merge", merges)
    be = BPE_PIPELINE.project(
        "encode", bpe.encode_from_vocab(spark, sf_dir, final_words)
    )
    return bm.unionAll(be)


DEDUP_MINHASH_PREFIX = Federation(
    "facet STRING, doc_a BIGINT, doc_b BIGINT, n_common BIGINT, n_a BIGINT, "
    "n_b BIGINT, x DOUBLE",
    [
        ("minhash", "dedup_minhash_lsh",
         {"doc_a": "doc_a", "doc_b": "doc_b", "x": "est_jaccard"}),
        ("prefix", "dedup_prefix_filter",
         {"doc_a": "id_a", "doc_b": "id_b", "n_common": "n_common", "n_a": "n_a",
          "n_b": "n_b", "x": "jaccard6"}),
        ("ngram", "dedup_ngram_jaccard",
         {"doc_a": "doc_a", "doc_b": "doc_b", "x": "jaccard"}),
    ],
)


@query(
    "dedup_minhash_prefix",
    oracle=DEDUP_MINHASH_PREFIX.oracle,
    tags=("dedup", "minhash", "lsh", "prefix-filter", "ngram"),
)
def dedup_minhash_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three blocked set-similarity methods, federated: `minhash`
    (MinHash + 8×2 LSH banding candidates with estimated Jaccard = x),
    `prefix` (PPJoin prefix-filtered candidates with exact Jaccard = x
    and the intersection/set sizes in n_common/n_a/n_b), and the
    round-8 `ngram` facet (shingle-bucketed n-gram candidates with
    exact Jaccard = x — the headline dedup_ngram_jaccard operator,
    which keeps its own oracle as a library entry). All three generate
    candidates from bucket equi-joins — nothing all-pairs."""
    return DEDUP_MINHASH_PREFIX.build(spark, sf_dir)


# ---------------------------------------------------------------------------
# Merged pairs of existing rows (freeing driver-cap slots)
# ---------------------------------------------------------------------------

# The rollup facets' day key, rendered by each engine's own function.
_DAY_KEY = ("date_format(day, 'yyyy-MM-dd')", "strftime(day, '%Y-%m-%d')")

GRAINS_DISTRIBUTION = Federation(
    "facet STRING, k1 STRING, k2 STRING, n BIGINT, x1 DOUBLE, x2 DOUBLE, "
    "x3 DOUBLE, x4 DOUBLE, x5 DOUBLE, p1 DOUBLE, p2 DOUBLE, p3 DOUBLE",
    [
        ("multi_grain", "multi_grain_pivot",
         {"facet": "facet", "k1": "k1", "k2": "k2", "n": "n", "x1": "x",
          "p1": "p1", "p2": "p2", "p3": "p3"}),
        ("distribution", "distribution_stats",
         {"facet": "facet", "k1": "k", "n": "n", "x1": "x1", "x2": "x2",
          "x3": "x3", "x4": "x4", "x5": "x5"}),
        ("incr", "rollup_incremental_merge",
         {"k1": _DAY_KEY, "k2": "event_type", "n": "n_events", "x1": "sum_value",
          "x2": "avg_value", "x3": "min_value", "x4": "max_value",
          "p1": "n_base", "p2": "n_delta"}),
        ("upsert", "rollup_upsert_cells",
         {"k1": _DAY_KEY, "k2": "event_type", "n": "n_new", "x1": "sum_old",
          "x2": "sum_new", "x3": "avg_new", "p1": "n_old", "p2": "n_added"}),
    ],
)


@query(
    "grains_distribution_stats",
    oracle=GRAINS_DISTRIBUTION.oracle,
    tags=("relational", "grouping-sets", "statistics", "histogram"),
)
def grains_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged multi-grain + distribution surface (eight facets):
    `grouping_sets`/`cube`/`rollup`/`pivot` from multi_grain_pivot
    (k1/k2 = grain keys, n = count, x1 = measure, p1..p3 = pivoted
    priority counts), `stats`/`histogram` from distribution_stats
    (k1 = flag/bucket, x1..x5 = the five statistics or bucket
    bounds), the round-6 `incr` incremental-rollup merge
    (k1/k2 = day/event_type, n = merged count, x1..x4 =
    sum/avg/min/max, p1/p2 = base/delta contributions — the hash
    pins incremental-merge ≡ full-recompute end-to-end), and its
    `upsert` write-back changeset (only delta-touched cells:
    n = merged count, x1/x2/x3 = sum before/sum after/avg after,
    p1/p2 = old/added counts; sum_old NULL marks brand-new cells)."""
    return GRAINS_DISTRIBUTION.build(spark, sf_dir)


SCALAR_SETOPS = Federation(
    "facet STRING, k BIGINT, s1 STRING, s2 STRING, s3 STRING, n1 BIGINT, "
    "n2 BIGINT, n3 BIGINT, n4 BIGINT, x DOUBLE, t1 TIMESTAMP, t2 TIMESTAMP",
    [
        ("scalar", "scalar_predicate_facets",
         {c: c for c in ("facet", "k", "s1", "s2", "s3", "n1", "n2", "n3", "n4",
                         "x", "t1", "t2")}),
        ("setops", "setops_cohorts",
         {"facet": "facet", "s1": "key", "s2": "kind", "n1": "n"}),
    ],
)


@query(
    "scalar_setops_facets",
    oracle=SCALAR_SETOPS.oracle,
    tags=("relational", "functions", "predicates", "setop"),
)
def scalar_setops_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged scalar-function + set-operation surface (nine facets):
    the five scalar_predicate_facets facets unchanged, plus the four
    setops_cohorts facets mapped onto the same schema (s1 = cohort
    member / segment, s2 = activity kind, n1 = count)."""
    return SCALAR_SETOPS.build(spark, sf_dir)


STREAMING_WINDOWS = Federation(
    "facet STRING, event_id BIGINT, user_id BIGINT, key STRING, day TIMESTAMP, "
    "t2 TIMESTAMP, n BIGINT, x DOUBLE",
    [
        ("enriched", "streaming_enriched_purchase_rows",
         {"event_id": "event_id", "user_id": "user_id", "key": "n_name",
          "x": "value"}),
        ("windowed", "streaming_windowed_counts",
         {"facet": "facet", "key": "event_type", "day": "day", "n": "n", "x": "x"}),
        ("vp_pairs", "streaming_view_purchase_pairs",
         {"event_id": "view_id", "user_id": "user_id", "day": "view_ts",
          "t2": "purchase_ts", "n": "purchase_id", "x": "purchase_value"}),
        ("inc_dedup", "streaming_incremental_dedup",
         {"event_id": "doc_id", "key": "kind", "n": "duplicate_of"}),
        ("late", "streaming_late_data_audit",
         {"event_id": "n_total", "user_id": "n_stream", "key": "event_type",
          "day": "day", "n": "n_dropped_late"}),
        ("sess", "streaming_session_bounds",
         {"user_id": "user_id", "day": "CAST(session_start AS TIMESTAMP)",
          "t2": "CAST(session_end AS TIMESTAMP)", "n": "n_events"}),
    ],
)


@query(
    "streaming_enriched_windows",
    oracle=STREAMING_WINDOWS.oracle,
    tags=("streaming", "join", "stream-stream", "window", "dedup", "events",
          "session"),
)
def streaming_enriched_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged streaming surface (six facets, each a bounded
    availableNow run pinned against batch SQL; round-8 adds `sess` —
    session-window aggregation via F.session_window with a 30-min gap:
    user_id, day/t2 = session start/end, n = events in session):
    `enriched`
    (stream-static broadcast dimension join — event/user ids, key =
    nation, x = value), `tumbling` (watermarked daily counts + value
    sums), `dedup` (watermark-bounded dropDuplicates counts), the
    round-5 `vp_pairs` (watermarked STREAM-STREAM inner join:
    event_id = view, n = matched purchase id, day/t2 = view/purchase
    event times, x = purchase value), and the round-6 `inc_dedup`
    (dedup-at-ingestion: the new-document stream checked against the
    static corpus index via stream-static hash and MinHash-band joins
    with row-local HOF signatures — event_id = arriving doc, key =
    tier, n = lowest matching corpus doc; equals the batch
    dedup_incremental bit-for-bit), and the round-7 `late` (late-data
    accounting over the two-trigger replay: event_id = raw total,
    user_id = count the watermarked UPDATE-mode aggregate retained,
    n = silently dropped-late rows, key/day = the cell — the oracle
    replays the watermark rule: dropped iff window end <= max(on-time
    ts) - delay).

    The six facets are INDEPENDENT bounded streaming runs (own source,
    own memory sink, own checkpoint dir, no shared state, no session
    conf mutation anywhere on their paths), each eagerly executed by
    ``run_available_now`` at build time — round 11 ran them back to
    back, so the federation's build wall was the SUM of eight
    availableNow micro-batch rounds (windowed_counts nests two runs;
    late_data_audit's two triggers stay sequential inside its thread —
    that ordering is its semantics). Round 12 submits the facet
    builders from a driver thread pool (guide §2.6: actions are only
    sequential because driver code calls them sequentially), so the
    runs' planning, state-store commits and micro-batch jobs
    interleave — wall drops toward the slowest facet. Results are
    value-identical: each run computes exactly what it computed
    serially, and the union order below is fixed in code.

    Pool width 3, not 6 (guide §2.6: "2-3 jobs in flight is plenty"):
    measured on a COLD session, 6 concurrent cold streaming runs
    contend on first-time planning/codegen and regress the first
    build (~48 s serial → ~92 s at 6 wide), while 3 keeps the overlap
    win without the cold-start pile-up."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_en = pool.submit(
            streaming_queries.streaming_enriched_purchase_rows, spark, sf_dir
        )
        f_wc = pool.submit(
            streaming_queries.streaming_windowed_counts, spark, sf_dir
        )
        f_sid = pool.submit(
            streaming_queries.streaming_incremental_dedup, spark, sf_dir
        )
        f_vp = pool.submit(
            streaming_queries.streaming_view_purchase_pairs, spark, sf_dir
        )
        f_la = pool.submit(
            streaming_queries.streaming_late_data_audit, spark, sf_dir
        )
        f_sb = pool.submit(
            streaming_queries.streaming_session_bounds, spark, sf_dir
        )
        en_df, wc_df, sid_df, vp_df, la_df, sb_df = (
            f.result() for f in (f_en, f_wc, f_sid, f_vp, f_la, f_sb)
        )
    p = STREAMING_WINDOWS.project
    return (
        p("enriched", en_df)
        .unionAll(p("windowed", wc_df))
        .unionAll(p("vp_pairs", vp_df))
        .unionAll(p("inc_dedup", sid_df))
        .unionAll(p("late", la_df))
        .unionAll(p("sess", sb_df))
    )


# ---------------------------------------------------------------------------
# Second wave: every remaining library-only operator gets a driver row
# ---------------------------------------------------------------------------

WINDOW_SUITE = Federation(
    "facet STRING, grp STRING, key BIGINT, rnk BIGINT, rnk2 BIGINT, x DOUBLE, "
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, seq BIGINT, "
    "prev_event_id BIGINT, running_value DOUBLE, mov_avg_7 DOUBLE, "
    "next_value DOUBLE, first_val DOUBLE, last_val DOUBLE, ts_cume_dist DOUBLE",
    [
        ("rankings", "w_rankings",
         {c: c for c in ("facet", "grp", "key", "rnk", "rnk2", "x")}),
        ("frames", "w_frames_navigation",
         {c: c for c in ("event_id", "user_id", "ts", "seq", "prev_event_id",
                         "running_value", "mov_avg_7", "next_value", "first_val",
                         "last_val", "ts_cume_dist")}),
        ("sessionize", "w_sessionize_events",
         {"rnk": "n_events", "rnk2": "duration_s", "user_id": "user_id",
          "seq": "session_seq"}),
    ],
)


@query(
    "w_window_suite",
    oracle=WINDOW_SUITE.oracle,
    tags=("window", "rank", "navigation", "events", "sessionize"),
)
def w_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function surface, merged: the w_rankings facets
    (per-group top customers / supplier balance ranks — grp/key/rnk/
    rnk2/x unchanged) plus `frames` (the wide one-pass frame-navigation
    row per purchase: running/moving/leading/first/last/cume_dist) and
    the round-8 `sessionize` facet (batch gap-based sessionization —
    per (user_id, session_seq=seq): rnk = events in session, rnk2 =
    session duration in seconds)."""
    return WINDOW_SUITE.build(spark, sf_dir)


DOC_FINGERPRINTS = Federation(
    "facet STRING, doc_a BIGINT, doc_b BIGINT, fp BIGINT, hamming INT",
    [
        ("winnow", "doc_fingerprints", {"doc_a": "doc_id", "fp": "fp"}),
        ("simhash", "simhash_dedup",
         {"facet": "facet", "doc_a": "doc_a", "doc_b": "doc_b", "fp": "simhash",
          "hamming": "hamming"}),
    ],
)


@query(
    "doc_fingerprint_methods",
    oracle=DOC_FINGERPRINTS.oracle,
    tags=("textstats", "fingerprint", "dedup", "simhash"),
)
def doc_fingerprint_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document bit-fingerprint methods, merged: `winnow` (MOSS-style
    winnowing fingerprints per doc — fp = selected hash) plus the
    simhash facets (`fingerprint`: per-doc 60-bit simhash in fp;
    `near_pair`: hamming-≤3 pairs via pigeonhole chunk blocking)."""
    return DOC_FINGERPRINTS.build(spark, sf_dir)


CUSTOMER_VALUE = Federation(
    "facet STRING, c_custkey BIGINT, name STRING, nation STRING, nkey BIGINT, "
    "n BIGINT, x1 DOUBLE, x2 DOUBLE",
    [
        ("q10", "q10_returned_items",
         {"c_custkey": "c_custkey", "name": "c_name", "nation": "n_name",
          "x1": "revenue", "x2": "c_acctbal"}),
        ("q22", "q22_idle_rich_customers",
         {"nkey": "CAST(c_nationkey AS BIGINT)", "n": "numcust",
          "x1": "totacctbal"}),
    ],
)


@query(
    "q10_q22_customer_value",
    oracle=CUSTOMER_VALUE.oracle,
    tags=("relational", "tpch", "join", "antijoin", "topk"),
)
def q10_q22_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value TPC-H shapes, merged: `q10` (top-20 returned-item
    customers: x1 = revenue, x2 = balance) and `q22` (idle rich
    customers per nation via NOT EXISTS + scalar avg subquery: nkey =
    nation, n = customers, x1 = total balance)."""
    return CUSTOMER_VALUE.build(spark, sf_dir)


ORDER_SIZE = Federation(
    "facet STRING, n1 BIGINT, n2 BIGINT, id1 BIGINT, id2 BIGINT, t TIMESTAMP, "
    "x1 DOUBLE, x2 DOUBLE",
    [
        ("q13", "q13_order_count_histogram", {"n1": "c_count", "n2": "custdist"}),
        ("q18", "q18_large_orders",
         {"id1": "c_custkey", "id2": "o_orderkey",
          "t": "CAST(o_orderdate AS TIMESTAMP)", "x1": "o_totalprice",
          "x2": "sum_qty"}),
    ],
)


@query(
    "q13_q18_order_size",
    oracle=ORDER_SIZE.oracle,
    tags=("relational", "tpch", "outerjoin", "having", "topk"),
)
def q13_q18_order_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size TPC-H shapes, merged: `q13` (orders-per-customer
    histogram via left outer join: n1 = order count, n2 = customers)
    and `q18` (large-quantity orders via HAVING + top-100: id1/id2 =
    customer/order, x1/x2 = totalprice/quantity)."""
    return ORDER_SIZE.build(spark, sf_dir)


SPLIT_SAMPLERS = Federation(
    "facet STRING, grp STRING, doc_id BIGINT, n BIGINT, n2 BIGINT, n3 BIGINT",
    [
        ("split", "pipeline_train_val_test_split",
         {"grp": "split", "n": "n_docs", "n2": "total_chars"}),
        ("samplers", "pipeline_samplers",
         {"facet": "facet", "grp": "grp", "doc_id": "doc_id", "n": "n"}),
        ("lsplit", "pipeline_leakage_safe_split",
         {"facet": "concat('lsplit_', facet)", "grp": "key", "n": "n1",
          "n2": "n2", "n3": "n3"}),
    ],
)


@query(
    "pipeline_split_samplers",
    oracle=SPLIT_SAMPLERS.oracle,
    tags=("pipeline", "split", "sampling", "documents"),
)
def pipeline_split_samplers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic selection primitives, merged: `split` (90/5/5
    train/val/test via salted hash buckets — n/n2 = docs/chars), the
    sampler facets (`stratified`: per-language rate sampling;
    `reservoir`: per-source A-Res top-k rows), and the round-6
    dedup-aware split (`lsplit_split`: per-split docs / distinct
    near-dup clusters / chars under the canonical-id bucket;
    `lsplit_audit`: multi-doc clusters spanning >1 split under the
    naive doc_id bucket vs the canonical bucket — the canonical row is
    structurally 0, computed end-to-end)."""
    return SPLIT_SAMPLERS.build(spark, sf_dir)


CORPUS_MINING = Federation(
    "facet STRING, s1 STRING, s2 STRING, doc_id BIGINT, rank BIGINT, n1 BIGINT, "
    "n2 BIGINT, x DOUBLE, flag1 BOOLEAN, flag2 BOOLEAN",
    [
        ("aes", "weighted_sample_aes",
         {"s1": "source", "doc_id": "doc_id", "rank": "rank", "n1": "n_chars"}),
        ("index", "inverted_index_postings",
         {"s1": "term", "s2": "postings", "n1": "df", "n2": "tf"}),
        ("fuzzy", "fuzzy_token_pairs",
         {"s1": "tok_a", "s2": "tok_b", "n1": "freq_a", "n2": "freq_b"}),
        ("colloc", "collocations_lift",
         {"s1": "w1", "s2": "w2", "n1": "n_pair", "x": "lift6"}),
        ("heavy", "approx_heavy_hitters",
         {"s1": "token", "n1": "exact_cnt", "flag1": "cm_no_underestimate",
          "flag2": "cm_within_eps"}),
        ("rankings", "term_rankings",
         {"facet": "facet", "s1": "token", "doc_id": "doc_id", "rank": "rnk",
          "x": "x"}),
    ],
)


@query(
    "corpus_mining",
    oracle=CORPUS_MINING.oracle,
    tags=("analytics", "text", "sampling", "sketch", "documents", "tfidf"),
)
def corpus_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mining operators, federated (five facets):

    - `aes`:    Efraimidis–Spirakis weighted sampling w/o replacement
                (s1 = source, rank, doc_id, n1 = weight);
    - `index`:  inverted-index postings (s1 = term, s2 = capped posting
                list, n1/n2 = df/tf);
    - `fuzzy`:  SymSpell deletion-blocked edit-distance-1 vocab pairs
                (s1/s2 = tokens, n1/n2 = frequencies);
    - `colloc`: collocation mining by lift (s1/s2 = bigram, n1 = pair
                count, x = lift);
    - `heavy`:  count-min-sketch heavy hitters, self-validating
                (s1 = token, n1 = exact count, flag1/flag2 = sketch
                bounds held);
    - `tfidf` / `token_topk` (round-8, from term_rankings): per-doc
                top-3 TF-IDF terms and corpus-global top-20 tokens
                (s1 = token, rank, x = score/count).
    """
    return CORPUS_MINING.build(spark, sf_dir)


EVAL_QUALITY = Federation(
    "facet STRING, key STRING, doc_id BIGINT, n1 BIGINT, n2 BIGINT, n3 BIGINT, "
    "n4 BIGINT, x1 DOUBLE, x2 DOUBLE, x3 DOUBLE",
    [
        ("langid", "langid_eval",
         {"key": "cls", "n1": "tp", "n2": "fp", "n3": "fn", "n4": "support",
          "x1": "precision6", "x2": "recall6", "x3": "f16"}),
        ("dq", "data_quality_audit", {"key": "check", "n1": "value"}),
        ("quantile", "quality_quantile_filter",
         {"key": "source", "doc_id": "doc_id", "x1": "quality", "x2": "pct_rank"}),
        ("skew", "shuffle_skew_profile",
         {"key": "facet", "n1": "n_rows", "n2": "n_keys", "n3": "top1_cnt",
          "n4": "maxpart_load", "x1": "CAST(top1_bp AS DOUBLE)",
          "x2": "CAST(imb_bp AS DOUBLE)"}),
        ("rep", "text_repetition",
         {"doc_id": "doc_id", "n1": "n_tokens", "n4": "CAST(keep AS BIGINT)",
          "x1": "distinct_token_ratio", "x2": "top_bigram_frac",
          "x3": "dup_trigram_frac"}),
    ],
)


@query(
    "eval_quality_audit",
    oracle=EVAL_QUALITY.oracle,
    tags=("analytics", "evaluation", "quality", "audit", "textstats"),
)
def eval_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation and data-quality operators, federated (five
    facets; round-8 adds `rep` — the Gopher-style repetition filters
    from text_repetition: n1 = tokens, n4 = keep flag, x1..x3 =
    distinct-token ratio / top-bigram fraction / duplicate-trigram
    fraction): `langid` (confusion-matrix metrics for the stopword
    language-ID heuristic: n1..n4 = tp/fp/fn/support, x1..x3 =
    precision/recall/F1), `dq` (Deequ-style completeness/validity/
    uniqueness/FK-orphan metric table: key = check, n1 = value),
    `quantile` (per-source top-quartile selection by quality score:
    x1 = quality, x2 = deterministic percent rank), plus the round-6
    `skew` join-key diagnostics (key = table.column, n1..n4 = rows /
    distinct keys / hottest-key count / heaviest simulated reducer
    load, x1/x2 = hottest-key share and max-partition imbalance in
    basis points — integer-grid values cast to the facet's double
    slots, so the cast is exact)."""
    return EVAL_QUALITY.build(spark, sf_dir)


RECSYS_PATHS = Federation(
    "facet STRING, id1 BIGINT, id2 BIGINT, pattern STRING, n BIGINT, "
    "rank BIGINT, score BIGINT, x DOUBLE",
    [
        ("cooc", "item_cooccurrence",
         {"id1": "item_a", "id2": "item_b", "n": "n_ab", "x": "cosine6"}),
        ("rerank", "rerank_cross_encoder",
         {"id1": "query_id", "id2": "neighbor_id", "rank": "rnk",
          "score": "model_score_ppm", "x": "cos_sim"}),
        ("paths", "user_path_patterns", {"pattern": "pattern", "n": "n_users"}),
    ],
)


@query(
    "recsys_paths",
    oracle=RECSYS_PATHS.oracle,
    tags=("recsys", "rerank", "sequence", "events"),
)
def recsys_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation / sequence operators, federated (three facets):
    `cooc` ("people also bought" co-occurrence cosine from capped
    baskets: id1/id2 = items, n = joint count, x = cosine), `rerank`
    (retrieve-then-rerank: ANN candidates re-scored by the Arrow-
    batched stub cross-encoder — score = model ppm, rank = rerank
    position), `paths` (MATCH_RECOGNIZE-lite: per-user event-type
    paths matched against the broadcast pattern set)."""
    return RECSYS_PATHS.build(spark, sf_dir)


EMBEDDING_SUITE = Federation(
    "facet STRING, id1 BIGINT, id2 BIGINT, src STRING, n BIGINT, x DOUBLE, "
    "flag INT",
    [
        ("kmeans", "embedding_kmeans",
         {"id1": "cluster", "id2": "dim_i", "n": "n_vecs", "x": "centroid"}),
        ("pq", "embedding_pq",
         {"id1": "vec_id", "id2": "sub_i", "n": "code", "x": "err6"}),
        ("adc", "ann_pq_adc_topk",
         {"id1": "query_id", "id2": "neighbor_id", "n": "rn", "x": "adc_d2"}),
        ("centroid", "source_embedding_centroids",
         {"id2": "dim_i", "src": "source", "n": "n_vecs", "x": "centroid"}),
        ("outlier", "embedding_outliers",
         {"id1": "vec_id", "src": "source", "x": "dist2", "flag": "is_outlier"}),
        ("sign_lsh", "sign_lsh_near_dups",
         {"id1": "vec_a", "id2": "vec_b", "x": "cos_sim"}),
    ],
)


@query(
    "embedding_suite",
    oracle=EMBEDDING_SUITE.oracle,
    tags=("clustering", "embedding", "quantization", "ann", "lsh"),
)
def embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space toolkit, federated (six facets): `kmeans`
    (Lloyd centroid stats: id1/id2 = cluster/dim, x = centroid), `pq`
    (product-quantization codes + per-subspace error), `adc`
    (PQ asymmetric-distance top-k: x = ADC distance), `centroid`
    (per-source centroid dims on the integer grid), `outlier`
    (centroid-distance outlier flags), `sign_lsh` (4-band sign-LSH
    near-dup pairs with exact cosine verify).

    Materialized eagerly under static planning at a measured width
    (the graph-core discipline): the union is a ~44-exchange DAG of
    small Lloyd/PQ stages whose cardinalities are corpus-bounded and
    known, so AQE re-planning adds only driver round trips — measured
    14.0 s adaptive → 9.4 s static-pinned at sf0.1, identical rows.
    Width = corpus rows / 8k keeps per-task vector batches substantial
    while saturating the cluster as the corpus grows (sf0.1 → 4,
    sf1 → 32); unlike kmeans_assignments (which stays lazy for its
    downstream consumers), the suite is self-contained — nothing
    consumes its internals, so pinning starves nobody."""
    from engine.io import load_table
    from engine.session import static_planning

    emb_n = load_table(spark, sf_dir, "embeddings").count()  # metadata-only
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(conf_parts, -(-emb_n // 8192)))
    with static_planning(spark, shuffle_partitions=width):
        # Each facet records its OWN pre-checkpoint capture tag (round
        # 6): the union-level embedding_suite_pre count smeared six
        # facets into one 20-60 window, wide enough for a single facet
        # to double its shuffles unnoticed; per-facet ±2 budgets in
        # test_plans.py bite.
        frames = EMBEDDING_SUITE.frames(spark, sf_dir)
        for tag, df in frames:
            record_iteration_plan(f"embedding_suite_{tag.replace('_', '')}_pre", df)
        plan = functools.reduce(DataFrame.unionAll, (df for _, df in frames))
        return audited_checkpoint("embedding_suite_pre", plan)


DEDUP_EXTENDED = Federation(
    "facet STRING, doc_a BIGINT, doc_b BIGINT, kind STRING, n1 BIGINT, "
    "n2 BIGINT, n3 BIGINT, x DOUBLE, flag INT",
    [
        ("incremental", "dedup_incremental",
         {"doc_a": "doc_id", "doc_b": "duplicate_of", "kind": "kind"}),
        ("fp_pairs", "fingerprint_near_pairs",
         {"doc_a": "doc_a", "doc_b": "doc_b", "n1": "shared_fps"}),
        ("crossdoc", "dedup_crossdoc_ngram_coverage",
         {"doc_a": "doc_id", "n1": "n_tokens", "n2": "dup_gram_occurrences",
          "n3": "covered_tokens", "x": "coverage_frac", "flag": "dup_heavy"}),
        ("substring", "dedup_substring_spans",
         {"facet": "concat('sub_', facet)", "doc_a": "id", "n1": "n_spans",
          "n2": "n_dup_spans", "n3": "first_dup_start"}),
        ("scrub", "dedup_substring_scrub",
         {"doc_a": "doc_id", "doc_b": "scrub_h", "n1": "orig_len",
          "n2": "n_cut_spans", "n3": "scrub_len"}),
    ],
)


@query(
    "dedup_extended",
    oracle=DEDUP_EXTENDED.oracle,
    tags=("dedup", "incremental", "fingerprint", "coverage", "substring",
          "scrub"),
)
def dedup_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining dedup strategies, federated (six facets):
    `incremental` (new-batch-vs-corpus dedup: exact sha tier + MinHash
    band tier — doc_b = matched corpus doc), `fp_pairs` (winnowing
    fingerprint candidate pairs with >= 5 shared fingerprints),
    `crossdoc` (Lee-et-al duplicated-span coverage: per-doc fraction of
    token positions covered by a 4-gram occurring elsewhere), and the
    round-5 span-level substring dedup's two facets as `sub_doc`
    (per-doc cut list: n1/n2/n3 = spans / duplicated spans / first dup
    offset) and `sub_span` (top-20 boilerplate spans: doc_a = span
    hash, n1/n2 = distinct docs / occurrences), plus the round-6
    `scrub` consumer stage (doc_b = md5-h60 of the scrubbed text —
    pins the output corpus byte-for-byte; n1/n2/n3 = original length /
    cut spans / scrubbed length)."""
    return DEDUP_EXTENDED.build(spark, sf_dir)


PIPELINE_EXTENDED = Federation(
    "facet STRING, key STRING, doc_id BIGINT, seq BIGINT, pos BIGINT, "
    "n1 BIGINT, n2 BIGINT, x DOUBLE, flag INT",
    [
        ("lm", "pipeline_lm_likelihood",
         {"doc_id": "doc_id", "n1": "n_bigrams", "n2": "sum_p_q9",
          "x": "avg_bigram_p", "flag": "surprising"}),
        ("budget", "pipeline_token_budget",
         {"key": "source", "doc_id": "doc_id", "n1": "n_tokens",
          "n2": "cum_tokens", "x": "quality"}),
        ("epoch", "pipeline_epoch_order",
         {"doc_id": "doc_id", "seq": "epoch", "pos": "pos"}),
        ("tmix", "pipeline_temperature_mix",
         {"key": "source", "seq": "w_grid", "pos": "rate_bp", "n1": "n_docs",
          "n2": "n_sampled"}),
        ("lenbuck", "pipeline_length_buckets",
         {"key": "bucket", "seq": "n_docs", "pos": "sum_tokens", "n1": "padded",
          "n2": "waste_bp"}),
    ],
)


@query(
    "pipeline_extended",
    oracle=PIPELINE_EXTENDED.oracle,
    tags=("pipeline", "lm", "budget", "ordering", "mixing", "batching"),
)
def pipeline_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining pipeline-assembly operators, federated (five
    facets): `lm` (CCNet-style corpus-bigram LM scoring — n2 = grid
    log-prob sum, flag = surprising-doc), `budget` (quality-greedy
    per-source token-budget admission: n1/n2 = tokens/cumulative),
    `epoch` (deterministic per-epoch training order: seq = epoch,
    pos = position from the range-partition global numbering), the
    round-5 `tmix` (UniMax/GPT-3-style sqrt-temperature source mixing:
    key = source, seq/pos = integer-grid weight / basis-point keep
    rate, n1/n2 = natural / sampled doc counts), and the round-6
    `lenbuck` (sequence-length bucketing with padding-waste
    accounting: key = power-of-two bucket or 'global' baseline,
    seq/pos = docs / real tokens, n1/n2 = padded slots / waste in
    basis points)."""
    return PIPELINE_EXTENDED.build(spark, sf_dir)
