"""Window-function operators: ranking, running totals, sliding frames,
gap-based sessionization.

Absent from the reference (SURVEY.md §2.3) — new Layer-B capability.
Scale notes: every window below partitions by a high-cardinality key
(user_id, nation) so the shuffle spreads evenly; no global
un-partitioned window is ever used on a fact table (that would
serialize 100 TB through one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from engine.functions.rounding import (
    duck_qsum_rounded,
    duck_round_he,
    qsum_rounded,
    round_he,
)
from engine.io import load_table
from engine.registry import Federation, query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def w_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 spenders per nation: agg → broadcast dim join → ranked
    window partitioned by nation (ties broken by custkey)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        # qsum grid, not round(sum(double)): partial-aggregation order
        # differs across tasks and engines, and the ranking below keys
        # on this value — the hypertable_rollup flake class.
        .agg(qsum_rounded("o_totalprice", 2).alias("total_spend"))
    )
    w = W.partitionBy("n_name").orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
    return (
        rev.join(F.broadcast(nation), rev.c_nationkey == nation.n_nationkey)
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "total_spend", "rnk")
    )


def w_running_purchase_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running purchase value + lag + sequence number."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        round_he(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_value"
        ),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.row_number().over(w).cast("bigint").alias("seq"),
    )


def w_moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row sliding mean of purchase value per user."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    return ev.select(
        "event_id",
        "user_id",
        round_he(F.avg("value").over(w), 4).alias("mov_avg_7"),
    )


@query(
    "w_sessionize_events",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM ordered
)
SELECT user_id, session_seq, count(*) AS n_events,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
FROM sess GROUP BY user_id, session_seq
""",
    tags=("window", "sessionize", "events"),
    exported=False,  # driver-visible as w_window_suite's `sessionize` facet
)
def w_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the classic
    lag → new-session flag → running sum pattern. One shuffle on
    user_id serves both windows and the final aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        ev.withColumn(
            "is_new",
            F.when(gap_us.isNull() | (gap_us > 1800 * 1000 * 1000), 1).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
        )
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_seconds(F.max("ts")) - F.unix_seconds(F.min("ts"))).alias("duration_s"),
    )


def w_supplier_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / percent_rank / ntile over supplier balances —
    WITHOUT a single-partition window. Global positions come from the
    range-partition + broadcast-offset operator (globalrank.py), so the
    plan stays fully parallel at any supplier cardinality:

    All three ranks come from ONE range pass
    (globalrank.with_global_value_ranks — round-1 advice asked for the
    second global pass to go; this removes it AND the per-value window):
    row_number → NTILE via closed form, rank → percent_rank =
    (rank-1)/(N-1), dense_rank from run-start counting with
    driver-stitched partition boundaries (O(num_partitions) state).
    """
    from engine.operators.globalrank import ntile_expr, with_global_value_ranks

    supp = _t(spark, sf_dir, "supplier")
    base = supp.select(
        "s_suppkey", "s_nationkey", round_he(F.col("s_acctbal"), 2).alias("_v")
    )
    ranked, n_rows = with_global_value_ranks(
        base, [F.col("_v").desc(), F.col("s_suppkey")], value_col="_v"
    )
    pr_denom = max(n_rows - 1, 1)  # single row ⇒ percent_rank 0.0
    return ranked.select(
        "s_suppkey",
        "s_nationkey",
        F.col("dense").alias("balance_rank"),
        round_he((F.col("rank") - 1) / F.lit(pr_denom), 6).alias(
            "balance_pctile"
        ),
        ntile_expr(F.col("rn"), n_rows, 4).cast("bigint").alias("quartile"),
    )


@query(
    "funnel_view_to_purchase",
    oracle=f"""
WITH v AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.first_view
  GROUP BY e.user_id
)
SELECT count(v.user_id) AS n_viewers,
       count(p.user_id) AS n_converted,
       {duck_round_he("count(p.user_id) * 1.0 / count(v.user_id)", 6)}
         AS conversion_rate,
       {duck_round_he(
           "CAST(sum(floor(epoch(p.first_purchase))"
           " - floor(epoch(v.first_view))) AS DOUBLE)"
           " / count(p.first_purchase)", 2)}
         AS avg_seconds_to_convert
FROM v LEFT JOIN p ON v.user_id = p.user_id
""",
    tags=("window", "funnel", "events"),
    exported=False,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion funnel: first view per user, first
    purchase strictly after it, conversion rate and mean latency.
    Two keyed aggregates + one small join — at 100 TB both aggregates
    shuffle on user_id once and the join is between user-cardinality
    tables, not events."""
    from pyspark import StorageLevel

    ev = load_table(spark, sf_dir, "events")
    # v feeds both the purchase-correlation join and the final funnel
    # join; persisted (1 row/user) so events is scanned twice, not 3×.
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    joined = v.join(p, "user_id", "left")
    # The latency mean sums exact integer seconds (BIGINT) and divides
    # once — avg(bigint) would sum doubles in task-completion order.
    lat = F.unix_seconds("first_purchase") - F.unix_seconds("first_view")
    return joined.agg(
        F.count("user_id").alias("n_viewers"),
        F.count("first_purchase").alias("n_converted"),
        round_he(F.count("first_purchase") * 1.0 / F.count("user_id"), 6).alias(
            "conversion_rate"
        ),
        round_he(
            F.sum(lat).cast("double") / F.count("first_purchase"), 2
        ).alias("avg_seconds_to_convert"),
    )


def w_order_value_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function surface — lead / first_value / last_value
    (full frame) / cume_dist — over each customer's order history.
    Partitioned by o_custkey (high cardinality), one window shuffle
    serves all four functions."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        round_he(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        round_he(F.first("o_totalprice").over(w), 2).alias("first_price"),
        round_he(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
        round_he(F.cume_dist().over(w), 6).alias("date_cume_dist"),
    )


# -- consolidated registry queries -----------------------------------------
#
# The driver's correctness gate records ~50 entries, so the per-frame /
# per-ranking variants above are library forms; the registry ships two
# federated queries that exercise the full surface in fewer rows.


@query(
    "w_frames_navigation",
    oracle=f"""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(row_number() OVER w AS BIGINT) AS seq,
       lag(event_id) OVER w AS prev_event_id,
       {duck_round_he(
           "sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
           " ROWS UNBOUNDED PRECEDING)", 2)} AS running_value,
       {duck_round_he(
           "avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
           " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)", 4)} AS mov_avg_7,
       {duck_round_he("lead(value) OVER w", 2)} AS next_value,
       {duck_round_he("first_value(value) OVER w", 2)} AS first_val,
       {duck_round_he(
           "last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)", 2)}
         AS last_val,
       {duck_round_he("cume_dist() OVER w", 6)} AS ts_cume_dist
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("window", "navigation", "events"),
    exported=False,  # driver-visible via facets2.w_window_suite
)
def w_frames_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full frame + navigation function surface over one window:
    row_number / lag / running sum / 7-row sliding mean / lead /
    first_value / last_value (full frame) / cume_dist, all partitioned
    by user_id over purchase events.  ONE shuffle serves every frame
    variant — the reason to federate these is exactly the reason it is
    the right production shape: each former single-function query paid
    the same window shuffle to demonstrate one function."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, 0)
    w_mov = w.rowsBetween(-6, 0)
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).cast("bigint").alias("seq"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        # round_he, not F.round: the frame fixes the summation order so
        # both engines reach the same double, but each engine's round()
        # applies a different half-way rule — identical IEEE
        # floor(x*s+0.5)/s ops are the only rounding that cannot split.
        round_he(F.sum("value").over(w_run), 2).alias("running_value"),
        round_he(F.avg("value").over(w_mov), 4).alias("mov_avg_7"),
        round_he(F.lead("value").over(w), 2).alias("next_value"),
        round_he(F.first("value").over(w), 2).alias("first_val"),
        round_he(F.last("value").over(w_full), 2).alias("last_val"),
        round_he(F.cume_dist().over(w), 6).alias("ts_cume_dist"),
    )


# Ranking key for supplier balances — round_he text (identity on the
# 2-decimal fixture, but keeps both engines' key expression the same
# IEEE ops as the Spark side's `_v`).
_BAL = duck_round_he("s_acctbal", 2)


W_RANKINGS = Federation(
    "facet STRING, grp STRING, key BIGINT, rnk BIGINT, rnk2 BIGINT, x DOUBLE",
    [
        ("top_customer", f"""
WITH rev AS (
  SELECT c_custkey, c_nationkey,
         {duck_qsum_rounded("o_totalprice", 2)} AS total_spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_nationkey
)
SELECT n_name, c_custkey, total_spend, rnk
FROM (
  SELECT n_name, c_custkey, total_spend,
         CAST(rank() OVER (PARTITION BY n_name
                           ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rnk
  FROM rev JOIN nation ON c_nationkey = n_nationkey
) t WHERE rnk <= 3
""",
         {"grp": "n_name", "key": "c_custkey", "rnk": "rnk", "x": "total_spend"}),
        ("supplier_balance", f"""
SELECT s_suppkey, s_nationkey,
       CAST(dense_rank() OVER (ORDER BY {_BAL} DESC) AS BIGINT) AS balance_rank,
       {duck_round_he(f"percent_rank() OVER (ORDER BY {_BAL} DESC)", 6)}
         AS balance_pctile,
       CAST(ntile(4) OVER (ORDER BY {_BAL} DESC, s_suppkey) AS BIGINT) AS quartile
FROM supplier
""",
         {"grp": "CAST(s_nationkey AS STRING)", "key": "s_suppkey",
          "rnk": "balance_rank", "rnk2": "quartile", "x": "balance_pctile"}),
    ],
)


@query(
    "w_rankings",
    oracle=W_RANKINGS.oracle,
    tags=("window", "rank"),
    exported=False,  # driver-visible via facets2.w_window_suite
)
def w_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface, two facets: partitioned top-k (`top_customer`:
    rank() per nation, k=3) and global ranking without a global window
    (`supplier_balance`: dense_rank / ntile / percent_rank via the
    range-partition + broadcast-offset machinery in globalrank.py).
    The oracle's plain OVER () windows are the semantics; the Spark
    plan never funnels rows through one task."""
    top = W_RANKINGS.project("top_customer", w_top_customers_per_nation(spark, sf_dir))
    supp = W_RANKINGS.project("supplier_balance", w_supplier_rank_stats(spark, sf_dir))
    return top.unionAll(supp)
