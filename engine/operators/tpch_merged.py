"""Federated TPC-H registry queries.

The driver's correctness gate records ~50 entries, so TPC-H shapes
with kindred structure are federated under facet columns: each facet
is the UNCHANGED library query (relational*.py, still individually
oracle-checked by the local gate via ``exported=False`` registration),
re-projected onto a shared schema and unioned.  Each federation is
declared once as a ``registry.Federation``, which generates both the
Spark union and the oracle — each component's oracle SQL wrapped as a
subquery — so the cross-engine check still pins every component's
values exactly.

Structurally distinct shapes (q1 q2 q3 q5 q10 q13 q18 q22) keep their
own registry rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Importing the component modules registers their specs (and their
# oracles) before the federations below look them up.
from engine.operators import relational, relational2, relational3  # noqa: F401
from engine.registry import Federation, query

ORDER_PRIORITY = Federation(
    "facet STRING, key STRING, n1 BIGINT, n2 BIGINT",
    [
        ("q4", "q4_order_priority", {"key": "o_orderpriority", "n1": "order_count"}),
        ("q12", "q12_priority_lines",
         {"key": "l_linestatus", "n1": "high_line_count", "n2": "low_line_count"}),
    ],
)


@query(
    "q4_q12_order_priority",
    oracle=ORDER_PRIORITY.oracle,
    tags=("relational", "tpch", "exists", "aggregate"),
)
def q4_q12_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority accounting, two facets: `q4` (EXISTS-semi-join
    priority counts: key = priority, n1 = orders) and `q12` (shipmode
    line counts split by priority class: key = linestatus, n1/n2 =
    high/low counts)."""
    return ORDER_PRIORITY.build(spark, sf_dir)


REVENUE = Federation(
    "facet STRING, x DOUBLE, n BIGINT",
    [
        ("q6", "q6_forecast_revenue", {"x": "revenue", "n": "n_lines"}),
        ("q14", "q14_promo_revenue", {"x": "promo_revenue_pct"}),
        ("q17", "q17_small_quantity_revenue", {"x": "avg_yearly"}),
        ("q19", "q19_disjunctive_revenue", {"x": "revenue", "n": "n_lines"}),
    ],
)


@query(
    "q6_q14_q17_q19_revenue",
    oracle=REVENUE.oracle,
    tags=("relational", "tpch", "scan", "aggregate"),
)
def q6_q14_q17_q19_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four single-row revenue scalars, federated: `q6` (predicate
    forecast: x = revenue, n = lines), `q14` (promo revenue percent),
    `q17` (small-quantity avg-yearly via correlated per-part mean),
    `q19` (disjunctive bracket predicate). Each facet exercises a
    different filter/aggregation shape over lineitem."""
    return REVENUE.build(spark, sf_dir)


NATION_TRADE = Federation(
    "facet STRING, k1 STRING, k2 STRING, o_year BIGINT, x DOUBLE",
    [
        ("q7", "q7_nation_volume",
         {"k1": "supp_nation", "k2": "cust_nation",
          "o_year": "CAST(o_year AS BIGINT)", "x": "volume"}),
        ("q8", "q8_market_share",
         {"o_year": "CAST(o_year AS BIGINT)", "x": "mkt_share"}),
        ("q9", "q9_product_profit",
         {"k1": "nation", "o_year": "CAST(o_year AS BIGINT)", "x": "profit"}),
    ],
)


@query(
    "q7_q8_q9_nation_trade",
    oracle=NATION_TRADE.oracle,
    tags=("relational", "tpch", "join", "aggregate", "headline"),
)
def q7_q8_q9_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-level trade analytics by year, three facets: `q7`
    (bilateral shipping volume: k1/k2 = supplier/customer nation),
    `q8` (market share of one nation within a region's imports), `q9`
    (product-line profit by producing nation). All are multi-join
    star shapes with broadcast dims and one fact shuffle."""
    return NATION_TRADE.build(spark, sf_dir)


PART_STATS = Federation(
    "facet STRING, k1 STRING, k2 STRING, k3 BIGINT, n BIGINT, x DOUBLE",
    [
        ("q11", "q11_important_parts",
         {"k3": "CAST(p_partkey AS BIGINT)", "x": "part_value"}),
        ("q16", "q16_part_supplier_counts",
         {"k1": "p_brand", "k2": "p_type", "k3": "CAST(p_size AS BIGINT)",
          "n": "supplier_cnt"}),
    ],
)


@query(
    "q11_q16_part_stats",
    oracle=PART_STATS.oracle,
    tags=("relational", "tpch", "aggregate", "having"),
)
def q11_q16_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-catalog analytics, two facets: `q11` (value-concentration
    parts above a scalar-subquery threshold: k3 = partkey, x = stocked
    value) and `q16` (distinct-supplier counts per brand/type/size:
    k1/k2 = brand/type, k3 = size, n = suppliers)."""
    return PART_STATS.build(spark, sf_dir)


SUPPLIER_AUDIT = Federation(
    "facet STRING, s_name STRING, k STRING, n BIGINT, x DOUBLE",
    [
        ("q15", "q15_top_supplier",
         {"s_name": "s_name", "n": "CAST(s_suppkey AS BIGINT)",
          "x": "total_revenue"}),
        ("q20", "q20_dominant_suppliers", {"s_name": "s_name", "k": "n_name"}),
        ("q21", "q21_last_to_ship_suppliers",
         {"s_name": "s_name", "n": "CAST(numwait AS BIGINT)"}),
    ],
)


@query(
    "q15_q20_q21_supplier_audit",
    oracle=SUPPLIER_AUDIT.oracle,
    tags=("relational", "tpch", "subquery", "exists"),
)
def q15_q20_q21_supplier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-audit subquery shapes, three facets: `q15` (top
    supplier by scalar-subquery max revenue: n = suppkey, x =
    revenue), `q20` (suppliers dominating a part's stock via nested IN
    subqueries: k = nation), `q21` (multi-EXISTS last-to-ship wait
    counts: n = waits)."""
    return SUPPLIER_AUDIT.build(spark, sf_dir)
