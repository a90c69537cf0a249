"""Skew mitigation: salted joins and two-phase aggregation.

At 100 TB a handful of hot keys (the empty-string token, a viral
user_id, a default partkey) can put >90% of a shuffle partition's rows
on one reducer. Two standard mitigations, both expressible as plain
DataFrame transforms:

- **Salted join** (for joining a skewed fact to a dimension): append a
  random-ish salt in [0, S) to the fact's key; replicate each dim row S
  times, one per salt value; equi-join on (key, salt). Hot keys spread
  over S reducers at the cost of S× the (small) dim side. AQE's
  skew-join split handles moderate skew automatically; salting is the
  explicit fix when one key alone exceeds an executor.

- **Two-phase aggregation** (for skewed groupBy): aggregate on
  (key, salt) first — the partial results are at most S rows per key —
  then re-aggregate on key. Spark's map-side partial aggregation
  already does this implicitly for algebraic aggregates; the explicit
  form matters for aggregates without partial pushdown (collect_list,
  exact distinct via sets).

The salt is deterministic (hash of a row-unique column, not rand()) so
results are reproducible and retried tasks emit identical rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(
    df: DataFrame, n_salts: int, salt_source: str | Column | None
) -> Column:
    """Deterministic per-row salt in [0, n_salts)."""
    if salt_source is None:
        src = F.xxhash64(*[F.col(c) for c in df.columns])
    elif isinstance(salt_source, Column):
        src = F.xxhash64(salt_source)
    else:
        src = F.xxhash64(F.col(salt_source))
    return F.pmod(src, F.lit(n_salts)).cast("int")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_source: str | Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` to (small) ``dim`` on ``key`` with S-way salting.

    ``salt_source``: the column the fact-side salt is derived from. It
    must VARY WITHIN a key (a row-unique id is ideal) — salting by the
    key itself would put every hot-key row back in one bucket. Defaults
    to a hash of ALL fact columns: deterministic under task retries
    (unlike ``rand()`` / ``monotonically_increasing_id``), and only
    fully-duplicate rows share a salt.

    ``how`` is restricted to fact-side-preserving joins: a right/full
    outer would return every unmatched dim row once PER SALT REPLICA
    (the explode below replicates dim n_salts×, and nothing collapses
    unmatched replicas).
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the dim side is"
            " replicated per salt, so right/full outer joins would emit"
            " each unmatched dim row n_salts times"
        )
    salt_col = _salt(fact, n_salts, salt_source)
    f = fact.withColumn("__salt", salt_col)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [key, "__salt"], how).drop("__salt")


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 8,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation on a skewed ``key``.

    ``aggs`` maps output column → (input column, agg), where agg is one
    of ``sum`` / ``count`` / ``min`` / ``max`` — the algebraic
    aggregates that re-combine losslessly (count re-combines as sum) —
    or the two non-algebraic forms (round 7, VERDICT r6 #5):
    ``count_distinct`` — EXACT distinct counting through the explicit
    two-phase dedup chain (key, salt, value) dedup → (key, value)
    dedup → algebraic count — and ``collect_set`` — the distinct VALUE
    SET per key through the same chain, returned as a SORTED array so
    the output is deterministic (a raw collect_set's element order
    depends on task scheduling and would differ under retry).

    Why count_distinct needs its own chain: a single
    ``groupBy(key).agg(countDistinct(v))`` on a hot key builds the
    whole key's value SET on one reducer. The chain never does —
    phase 1 dedups within (key, salt) buckets (hot keys spread over S
    reducers, duplicate-heavy data collapses early), phase 2's
    (key, value) shuffle is inherently value-spread, and the final
    per-key count is algebraic (map-side partial). NULL values are
    excluded to match ``count(DISTINCT v)`` semantics; a key whose
    values are all NULL reports 0 via the left join + coalesce.

    Salt defaults to a hash of all columns (varies within a key).
    """
    salt_col = _salt(df, n_salts, salt_source)
    phase1_exprs = []
    phase2_exprs = []
    distinct_aggs: list[tuple[str, str]] = []  # (out, value col)
    for out, (col, agg) in aggs.items():
        if agg == "count":
            phase1_exprs.append(F.count(col).alias(out))
            phase2_exprs.append(F.sum(out).alias(out))
        elif agg in ("sum", "min", "max"):
            phase1_exprs.append(getattr(F, agg)(col).alias(out))
            phase2_exprs.append(getattr(F, agg)(out).alias(out))
        elif agg in ("count_distinct", "collect_set"):
            distinct_aggs.append((out, col, agg))
        else:
            raise ValueError(f"non-algebraic agg {agg!r} cannot be salted")
    if not phase1_exprs and not distinct_aggs:
        raise ValueError("salted_agg: empty aggs")
    salted = df.withColumn("__salt", salt_col)
    if phase1_exprs:
        partial = salted.groupBy(key, "__salt").agg(*phase1_exprs)
        base = partial.groupBy(key).agg(*phase2_exprs)
    else:
        # Distinct-only call: the key universe must come from the input
        # (the NULL-filtered pair chain drops all-NULL-value keys, but
        # groupBy().agg(countDistinct) reports them as 0). A plain key
        # distinct is skew-safe: map-side partial dedup collapses each
        # hot key to one row per task before the shuffle.
        base = df.select(key).distinct()
    for out, col, agg in distinct_aggs:
        pairs = (
            salted.filter(F.col(col).isNotNull())
            .select(key, "__salt", col)
            .distinct()  # phase 1: (key, salt, value) dedup
            .select(key, col)
            .distinct()  # phase 2: (key, value) dedup across salts
        )
        if agg == "count_distinct":
            dagg = pairs.groupBy(key).agg(
                F.count(F.lit(1)).cast("bigint").alias(out)
            )
            fill = F.lit(0).cast("bigint")
        else:  # collect_set: per-key distinct values, sorted
            dagg = pairs.groupBy(key).agg(
                F.array_sort(F.collect_list(col)).alias(out)
            )
            fill = F.array().cast(f"array<{pairs.schema[col].dataType.simpleString()}>")
        base = base.join(dagg, key, "left").withColumn(
            out, F.coalesce(F.col(out), fill)
        )
    return base


# -- registry query ---------------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402

from engine.io import load_table  # noqa: E402
from engine.registry import Federation, query  # noqa: E402

EVENT_WEIGHTS = [
    ("view", 1),
    ("click", 2),
    ("purchase", 10),
    ("signup", 5),
    ("error", 0),
]
_SALTS = 8


# (skew_salted_events is registered at the end of this module: its
# round-8 salt-sizing facet needs the profiler and recommender below.)


# -- shuffle-skew diagnostic profiler ---------------------------------------
#
# The complement of the salting machinery above: before deciding to
# salt (or to raise spark.sql.adaptive skew thresholds), a 100 TB
# operator wants MEASUREMENTS — how concentrated is this join key, and
# how unbalanced would a hash shuffle over it actually be?  The profile
# costs one map-side-combined key-count shuffle per (table, key) — the
# same key movement as the aggregation being diagnosed, but carrying
# only (key, count) pairs — then a P-row reduction; output is O(1) per
# facet.  At full corpus scale you would point it at a hash-predicate
# sample of the fact table (the estimates are ratios, so sampling
# commutes); the plan shape is identical.
#
# The simulated reducer id uses the engine-portable md5-derived h60
# hash, NOT Spark's internal Murmur3, so the oracle reproduces the
# exact partition loads: the point is the MEASUREMENT contract (same
# skew verdict from both engines), and any uniform hash family gives
# the same imbalance statistics for a given key distribution.

from engine.functions.hashing import DUCK_H60, SPARK_H60  # noqa: E402

SKEW_PROFILE_PARTS = 32
# (table, key column) pairs profiled: the engine's own join/agg keys,
# spanning near-uniform (l_partkey, o_custkey, user_id) and
# pathologically concentrated (event_type: 5 values; source: 4).
SKEW_PROFILE_KEYS = (
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "event_type"),
    ("events", "user_id"),
    ("documents", "source"),
)


def _skew_facet_oracle(table: str, col: str) -> str:
    p = SKEW_PROFILE_PARTS
    h = DUCK_H60.format(x="k")
    return f"""
SELECT '{table}.{col}' AS facet, n_rows, n_keys, top1_cnt, maxpart_load,
       parts_used,
       CAST((20000 * top1_cnt + n_rows) // (2 * n_rows) AS BIGINT)
         AS top1_bp,
       CAST((20000 * maxpart_load * {p} + n_rows) // (2 * n_rows)
            AS BIGINT) AS imb_bp
FROM (
  SELECT CAST(sum(load) AS BIGINT) AS n_rows,
         CAST(sum(nk) AS BIGINT) AS n_keys,
         CAST(max(mx) AS BIGINT) AS top1_cnt,
         CAST(max(load) AS BIGINT) AS maxpart_load,
         CAST(count(*) AS BIGINT) AS parts_used
  FROM (
    SELECT {h} % {p} AS part,
           CAST(sum(cnt) AS BIGINT) AS load,
           count(*) AS nk,
           max(cnt) AS mx
    FROM (
      SELECT COALESCE(CAST({col} AS VARCHAR), '') AS k, count(*) AS cnt
      FROM {table} GROUP BY 1
    ) kc
    GROUP BY 1
  ) pl
) s
"""


@query(
    "shuffle_skew_profile",
    oracle="\nUNION ALL\n".join(
        _skew_facet_oracle(t, c) for t, c in SKEW_PROFILE_KEYS
    ),
    tags=("skew", "audit", "diagnostics"),
    exported=False,  # driver-visible via facets2.eval_quality_audit
)
def shuffle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics, one row per profiled (table, key):
    total rows, distinct keys, hottest-key count, the heaviest
    simulated reducer's load at {P} hash partitions, partitions
    actually hit, and two basis-point ratios — `top1_bp` (hottest key's
    row share) and `imb_bp` (max-partition load vs the perfect-balance
    ideal: 10000 = balanced, {P}x10000 = everything on one reducer).
    Integer-DIV basis points on a BIGINT grid; no float reaches the
    output.  See the section comment for the scale contract."""
    out = None
    for table, col in SKEW_PROFILE_KEYS:
        rows = load_table(spark, sf_dir, table).select(
            F.coalesce(F.col(col).cast("string"), F.lit("")).alias("k")
        )
        st = profile_key(rows, f"{table}.{col}")
        out = st if out is None else out.unionAll(st)
    return out


import itertools as _itertools

_PROFILE_VIEW_SEQ = _itertools.count()


def profile_key(rows: DataFrame, label: str) -> DataFrame:
    """One skew-profile row for a DataFrame with a single string key
    column ``k`` (see `shuffle_skew_profile` for column meanings).
    Factored out (round 7) so tests and ad-hoc tuning can profile ANY
    key expression — e.g. the post-salt composite key — with the exact
    measurement the registered profiler uses.

    Built as ONE SQL text over a temp view of ``rows`` (round 12,
    guide §4 at plan-build time): the three-level aggregate resolved
    in a single parse instead of ~35 structural py4j round trips per
    profiled key — same expressions, same integer-grid values."""
    p = SKEW_PROFILE_PARTS
    view = f"_skew_rows_{next(_PROFILE_VIEW_SEQ)}"
    rows.createOrReplaceTempView(view)
    h = SPARK_H60.format(x="k")
    return rows.sparkSession.sql(
        f"""
SELECT '{label}' AS facet, n_rows, n_keys, top1_cnt, maxpart_load,
       parts_used,
       CAST((20000 * top1_cnt + n_rows) DIV (2 * n_rows) AS BIGINT)
         AS top1_bp,
       CAST((20000 * maxpart_load * {p} + n_rows) DIV (2 * n_rows)
            AS BIGINT) AS imb_bp
FROM (
  SELECT CAST(sum(load) AS BIGINT) AS n_rows,
         CAST(sum(nk) AS BIGINT) AS n_keys,
         CAST(max(mx) AS BIGINT) AS top1_cnt,
         CAST(max(load) AS BIGINT) AS maxpart_load,
         CAST(count(1) AS BIGINT) AS parts_used
  FROM (
    SELECT ({h}) % {p} AS part, sum(cnt) AS load,
           count(1) AS nk, max(cnt) AS mx
    FROM (SELECT k, count(1) AS cnt FROM {view} GROUP BY k)
    GROUP BY part
  )
)
"""
    )


# -- profile-driven salt sizing (round 7, VERDICT r6 #6) ---------------------

SALT_TARGET_IMB_BP = 15000  # accept a max-partition load of 1.5x ideal
MAX_SALTS = 64


def recommend_n_salts(
    imb_bp: int,
    target_bp: int = SALT_TARGET_IMB_BP,
    max_salts: int = MAX_SALTS,
) -> int:
    """Salt width from a measured `shuffle_skew_profile` imbalance.

    Model: with imbalance ratio r = imb_bp/10000 (max-partition load vs
    the perfect-balance ideal), splitting every key S ways spreads the
    dominant key's excess over S reducers, so the expected post-salt
    max load is ~ideal x (1 + (r-1)/S). Solving for load <= t gives
    S >= (r-1)/(t-1); all-integer on the bp grid:

        S = ceil((imb_bp - 10000) / (target_bp - 10000))

    clamped to [1, max_salts]. The bound is deliberate: S multiplies
    the replicated dim side of `salted_join` and the phase-1 group
    count of `salted_agg`, so an extreme profile should cap out rather
    than explode the plan (the cap is visible to callers — if r/S is
    still too hot at the cap, the key needs a different strategy, e.g.
    isolating the hot key on its own path). Hash placement variance
    means the ACHIEVED post-salt imbalance sits above the model's
    expectation (composite keys still collide in partitions) — callers
    verifying with `profile_key` should compare against the model with
    that slack, which is what the pytest invariant does."""
    if target_bp <= 10000:
        raise ValueError("target_bp must exceed 10000 (the balanced ideal)")
    if imb_bp <= target_bp:
        return 1
    need = -(-(imb_bp - 10000) // (target_bp - 10000))
    return max(1, min(int(need), max_salts))


# -- the registered skewed-workload query (agg + salt-sizing facets) ---------


def _recommend_sql(div: str, imb: str) -> str:
    """`recommend_n_salts` as a SQL expression, shared text for both
    engines (``div`` is the dialect's integer division) — the facet
    below computes the recommendation IN-PLAN, and the pytest pins the
    SQL form equal to the Python recommender on the profiled value."""
    t = SALT_TARGET_IMB_BP - 10000
    return (
        f"CASE WHEN {imb} <= {SALT_TARGET_IMB_BP} THEN CAST(1 AS BIGINT)"
        f" ELSE LEAST(CAST({MAX_SALTS} AS BIGINT),"
        f" ({imb} - 10000 + {t - 1}) {div} {t}) END"
    )


_P = SKEW_PROFILE_PARTS
_IMB_DUCK = "CAST((20000 * maxpart * {p} + n_rows) // (2 * n_rows) AS BIGINT)"

_SALTED_AGG_ORACLE = """
WITH w(event_type, weight) AS (VALUES
  ('view', 1), ('click', 2), ('purchase', 10), ('signup', 5), ('error', 0)
)
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * weight)
            AS BIGINT) AS weighted_cents,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN w USING (event_type)
GROUP BY e.event_type
"""

_SALT_SIZING_ORACLE = f"""
WITH kc AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), '') AS k, count(*) AS cnt
  FROM events GROUP BY 1
),
pl AS (
  SELECT {DUCK_H60.format(x='k')} % {_P} AS part,
         CAST(sum(cnt) AS BIGINT) AS load
  FROM kc GROUP BY 1
),
pre AS (
  SELECT CAST(sum(load) AS BIGINT) AS n_rows,
         CAST(max(load) AS BIGINT) AS maxpart
  FROM pl
),
rec AS (
  SELECT maxpart AS pre_maxpart_load,
         {_IMB_DUCK.format(p=_P)} AS pre_imb_bp
  FROM pre
),
rec2 AS (
  SELECT pre_imb_bp, pre_maxpart_load,
         CAST({_recommend_sql('//', 'pre_imb_bp')} AS BIGINT) AS n_salts
  FROM rec
),
skc AS (
  SELECT COALESCE(CAST(e.event_type AS VARCHAR), '') || ':' ||
           CAST(({DUCK_H60.format(x='CAST(event_id AS VARCHAR)')}
                 % n_salts) AS VARCHAR) AS k,
         count(*) AS cnt
  FROM events e CROSS JOIN rec2 GROUP BY 1
),
spl AS (
  SELECT {DUCK_H60.format(x='k')} % {_P} AS part,
         CAST(sum(cnt) AS BIGINT) AS load
  FROM skc GROUP BY 1
),
post AS (
  SELECT CAST(sum(load) AS BIGINT) AS n_rows,
         CAST(max(load) AS BIGINT) AS maxpart
  FROM spl
),
post2 AS (
  SELECT maxpart AS post_maxpart_load,
         {_IMB_DUCK.format(p=_P)} AS post_imb_bp
  FROM post
)
SELECT * FROM rec2 CROSS JOIN post2
"""

SALTED_EVENTS = Federation(
    "facet STRING, event_type STRING, n_events BIGINT, weighted_cents BIGINT,"
    " n_users BIGINT, n_salts BIGINT, pre_imb_bp BIGINT, post_imb_bp BIGINT,"
    " pre_maxpart_load BIGINT, post_maxpart_load BIGINT",
    [
        ("agg", _SALTED_AGG_ORACLE,
         {c: c for c in ("event_type", "n_events", "weighted_cents", "n_users")}),
        ("salt_sizing", _SALT_SIZING_ORACLE,
         {c: c for c in ("n_salts", "pre_imb_bp", "post_imb_bp",
                         "pre_maxpart_load", "post_maxpart_load")}),
    ],
)


@query(
    "skew_salted_events",
    oracle=SALTED_EVENTS.oracle,
    tags=("skew", "join", "events", "sizing"),
)
def skew_salted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately worst-case skewed join + aggregation through the
    salting machinery, plus the profile-driven sizing proof. Two
    facets:

    `agg` — events' join key (event_type) has only 5 distinct values,
    so an unsalted shuffle join would put ~20% of the fact table on
    single reducers. `salted_join` spreads each hot key over 8 salt
    buckets (the dim side replicates 8×, visible as the explode in the
    plan); `salted_agg` then two-phase-aggregates on (key, salt)
    before re-combining per key — including the NON-algebraic exact
    distinct-user count `n_users` through the (key, salt, value) →
    (key, value) → count dedup chain (round 7; see `salted_agg`'s
    docstring). Values are aggregated as integer cents × integer
    weights, so the two-phase sum is order-independent and bit-equal
    to the oracle's single-phase sum.

    `salt_sizing` (round 8, VERDICT r7 #6) — the end-to-end
    profile→recommend→verify loop, fully in-plan: profile the hot
    event_type key (`profile_key`; pre_imb_bp ≈ 6.4× the balanced
    ideal at the fixtures), compute `recommend_n_salts` as a SQL
    expression on the profiled imbalance (shared formula text,
    `_recommend_sql`; the 1-row result is broadcast, never collected),
    salt the key that wide with the engine-portable h60 of event_id
    (the same uniform-hash family the simulated reducer id uses —
    xxhash64, the production salt, is not replayable in the oracle and
    has the same placement statistics), re-profile the composite key,
    and report pre/post simulated max-partition load and imbalance.
    The oracle replays the whole loop relationally, so the driver hash
    pins profile, recommendation and achieved rebalance alike."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        (
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("cents"),
    )
    dim = ev.sparkSession.createDataFrame(
        EVENT_WEIGHTS, "event_type string, weight int"
    )
    joined = salted_join(
        ev, dim, "event_type", n_salts=_SALTS, salt_source="event_id"
    ).withColumn("wcents", F.col("cents") * F.col("weight"))
    agg = salted_agg(
        joined,
        "event_type",
        {
            # count over the never-NULL key, not wcents: the oracle is
            # count(*), and F.count(col) skips NULLs — a NULL-valued
            # event would silently put the two engines off by one.
            "n_events": ("event_id", "count"),
            "weighted_cents": ("wcents", "sum"),
            "n_users": ("user_id", "count_distinct"),
        },
        n_salts=_SALTS,
        salt_source="event_id",
    )

    keys = ev.select(
        F.coalesce(F.col("event_type").cast("string"), F.lit("")).alias("k")
    )
    rec = profile_key(keys, "pre").select(
        F.col("imb_bp").alias("pre_imb_bp"),
        F.col("maxpart_load").alias("pre_maxpart_load"),
        F.expr(_recommend_sql("DIV", "imb_bp")).cast("bigint").alias(
            "n_salts"
        ),
    )
    salted_keys = ev.crossJoin(F.broadcast(rec.select("n_salts"))).select(
        F.concat(
            F.coalesce(F.col("event_type").cast("string"), F.lit("")),
            F.lit(":"),
            F.expr(
                f"cast(({SPARK_H60.format(x='cast(event_id as string)')})"
                " % n_salts as string)"
            ),
        ).alias("k")
    )
    post = profile_key(salted_keys, "post").select(
        F.col("imb_bp").alias("post_imb_bp"),
        F.col("maxpart_load").alias("post_maxpart_load"),
    )
    return SALTED_EVENTS.project("agg", agg).unionAll(
        SALTED_EVENTS.project("salt_sizing", rec.crossJoin(post))
    )
