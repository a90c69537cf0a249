"""Multi-dimensional data layout — Z-order (Morton-curve) clustering
and the file-skipping audit that justifies it.

At 100 TB the cheapest query is the one that never reads the file:
parquet footers carry per-column min/max, so the engine skips any file
whose stats exclude the predicate. A table written in arrival (or
single-key) order clusters ONE dimension — predicates on any other
column prune nothing. Z-ordering interleaves the bits of two grid-
normalized keys so every file covers a small rectangle of the key
space, and predicates on EITHER dimension (or both) skip most files.
This module provides:

* ``morton_z`` / grid normalization — pure JVM expressions (a 16-round
  ``aggregate`` HOF over bit shifts; no Python in the hot path).
* ``with_zorder`` — grid coordinates and the z-value for two integer
  columns, which the two-dimension audit lays files out by.
* ``layout_zorder_skipping`` — the oracled audit: simulate the two
  layouts' file boundaries with deterministic equal-width cuts
  (exactly what ``repartitionByRange`` approximates), compute each
  file's min/max rectangle, and count file hits for a 16-probe
  workload that mixes orderkey-selective and partkey-selective range
  scans. The audit is pure relational arithmetic, so DuckDB replays
  it bit-for-bit — the z-order advantage is a VERIFIED number, not a
  claim.

100 TB shape: the audit scans two integer columns of the fact table
(footer-pruned), computes z per row with JVM bit math, and aggregates
to |layouts|×|files| rows; the probe join is a 16-row broadcast
against that bounded file-stats table.

The physical z-order writer is the versioned store's
``compact_version(zorder_cols=…)``; its footer stats are checked in
tests/test_versioning.py and tests/test_corpus_build.py.

Reference parity note: the reference engine has no storage layout
layer (it reads whole text files); this is Layer-B capability per
SURVEY.md §6 (scan efficiency at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.io import load_table
from engine.registry import Federation, query

GRID_BITS = 16  # per-dimension grid resolution (65536 cells)
GRID = 1 << GRID_BITS
N_FILES = 64  # simulated file count for the audit
N_PROBES = 16  # 8 x-selective + 8 y-selective range probes
_PROBE_W = 4096  # probe box width on its selective dimension
_PROBE_STRIDE = GRID // 8


def _grid_expr(col: str, lo: str, hi: str, div: str = "DIV") -> str:
    """Normalize ``col`` into [0, GRID) over the closed value range
    [lo, hi] — same integer arithmetic in both engines (all operands
    non-negative, so Spark's truncating DIV and DuckDB's floor //
    agree). ``div`` is the dialect's integer-division operator."""
    return f"(({col} - {lo}) * {GRID}) {div} (({hi} - {lo}) + 1)"


# Morton interleave: z = Σ_i  gx_i·2^(2i) + gy_i·2^(2i+1). The Spark
# form is a fold over sequence(0,15) — whole-stage-codegen'd, no UDF.
MORTON_SPARK = (
    f"aggregate(sequence(0, {GRID_BITS - 1}), cast(0 as bigint),"
    " (acc, i) -> acc + shiftleft(shiftright(gx, i) & 1, 2*i)"
    " + shiftleft(shiftright(gy, i) & 1, 2*i+1))"
)
MORTON_DUCK = (
    f"CAST(list_sum(list_transform(range(0, {GRID_BITS}),"
    " i -> (((gx >> i) & 1) << (2*i)) + (((gy >> i) & 1) << (2*i+1))))"
    " AS BIGINT)"
)


def morton_n_expr(grid_cols: list[str], bits: int | None = None) -> str:
    """N-dimensional Morton interleave as one Spark fold: bit i of
    dimension d lands at position i*N + d. With N dims the per-dim
    resolution drops to 63 // N bits so the value stays inside a signed
    int64 (2 dims → 16-bit grids as above; 3 dims → up to 21 bits).
    Pass already-gridded non-negative columns."""
    n = len(grid_cols)
    if n < 2:
        raise ValueError("morton interleave needs >= 2 dimensions")
    bits = bits if bits is not None else 63 // n
    if bits * n > 63:
        raise ValueError(f"{bits} bits x {n} dims overflows int64")
    terms = " + ".join(
        f"shiftleft(shiftright({c}, i) & 1, {n}*i + {d})"
        for d, c in enumerate(grid_cols)
    )
    return (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc + {terms})"
    )


def with_zorder(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Append grid coordinates (gx, gy) and the Morton z-value for two
    integer columns. Bounds come from a 1-row min/max aggregate
    broadcast against the table (bounded at any scale; in production
    the bounds are catalog statistics and this join folds away)."""
    bounds = df.agg(
        F.min(x_col).cast("bigint").alias("minx"),
        F.max(x_col).cast("bigint").alias("maxx"),
        F.min(y_col).cast("bigint").alias("miny"),
        F.max(y_col).cast("bigint").alias("maxy"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))  # 1-row bounds broadcast
        .withColumn(
            "gx",
            F.expr(_grid_expr(x_col, "minx", "maxx")).cast("bigint"),
        )
        .withColumn(
            "gy",
            F.expr(_grid_expr(y_col, "miny", "maxy")).cast("bigint"),
        )
        .withColumn("z", F.expr(MORTON_SPARK).cast("bigint"))
        .drop("minx", "maxx", "miny", "maxy")
    )


# -- the oracled skipping audit ----------------------------------------------

_PROBES_SQL = f"""
SELECT CAST(i AS BIGINT) AS probe_id,
       CAST(CASE WHEN i < 8 THEN i * {_PROBE_STRIDE} ELSE 0 END AS BIGINT)
         AS xlo,
       CAST(CASE WHEN i < 8 THEN i * {_PROBE_STRIDE} + {_PROBE_W - 1}
                 ELSE {GRID - 1} END AS BIGINT) AS xhi,
       CAST(CASE WHEN i < 8 THEN 0
                 ELSE (i - 8) * {_PROBE_STRIDE} END AS BIGINT) AS ylo,
       CAST(CASE WHEN i < 8 THEN {GRID - 1}
                 ELSE (i - 8) * {_PROBE_STRIDE} + {_PROBE_W - 1} END AS BIGINT)
         AS yhi
"""


def _probes(spark: SparkSession) -> DataFrame:
    """The 16-probe workload: 8 narrow x-range scans (full y) and 8
    narrow y-range scans (full x) — the mixed-predicate pattern a
    single-key layout cannot serve. Mirrors _PROBES_SQL exactly."""
    return spark.range(N_PROBES).selectExpr(
        "cast(id as bigint) as probe_id",
        f"cast(case when id < 8 then id * {_PROBE_STRIDE} else 0 end"
        " as bigint) as xlo",
        f"cast(case when id < 8 then id * {_PROBE_STRIDE} + {_PROBE_W - 1}"
        f" else {GRID - 1} end as bigint) as xhi",
        f"cast(case when id < 8 then 0 else (id - 8) * {_PROBE_STRIDE} end"
        " as bigint) as ylo",
        f"cast(case when id < 8 then {GRID - 1}"
        f" else (id - 8) * {_PROBE_STRIDE} + {_PROBE_W - 1} end"
        " as bigint) as yhi",
    )


_SKIP_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(l_orderkey) AS BIGINT) AS minx,
         CAST(max(l_orderkey) AS BIGINT) AS maxx,
         CAST(min(l_partkey) AS BIGINT) AS miny,
         CAST(max(l_partkey) AS BIGINT) AS maxy
  FROM lineitem
),
g AS (
  SELECT CAST({_grid_expr('l_orderkey', 'minx', 'maxx', '//')} AS BIGINT) AS gx,
         CAST({_grid_expr('l_partkey', 'miny', 'maxy', '//')} AS BIGINT) AS gy
  FROM lineitem CROSS JOIN bounds
),
zed AS (
  SELECT gx, gy, {MORTON_DUCK} AS z FROM g
),
assigned AS (
  SELECT gx, gy, layout,
         CASE layout
           WHEN 'linear' THEN (gx * {N_FILES}) // {GRID}
           ELSE (z * {N_FILES}) // {1 << (2 * GRID_BITS)}
         END AS file_id
  FROM zed CROSS JOIN (VALUES ('linear'), ('zorder')) l(layout)
),
fstats AS (
  SELECT layout, file_id,
         CAST(min(gx) AS BIGINT) AS fx_lo, CAST(max(gx) AS BIGINT) AS fx_hi,
         CAST(min(gy) AS BIGINT) AS fy_lo, CAST(max(gy) AS BIGINT) AS fy_hi,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM assigned GROUP BY layout, file_id
),
probes AS ({_PROBES_SQL} FROM range(0, {N_PROBES}) r(i)),
hits AS (
  SELECT f.layout,
         CAST(count(*) AS BIGINT) AS files_hit,
         CAST(sum(f.n_rows) AS BIGINT) AS rows_hit
  FROM fstats f JOIN probes p
    ON f.fx_lo <= p.xhi AND f.fx_hi >= p.xlo
   AND f.fy_lo <= p.yhi AND f.fy_hi >= p.ylo
  GROUP BY f.layout
)
SELECT s.layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(s.n_rows) AS BIGINT) AS n_rows,
       COALESCE(any_value(h.files_hit), 0) AS files_hit,
       COALESCE(any_value(h.rows_hit), 0) AS rows_hit
FROM fstats s LEFT JOIN hits h ON h.layout = s.layout
GROUP BY s.layout
"""


def _zorder2_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-skipping audit (module docstring): grid lineitem's
    (l_orderkey, l_partkey) to 16 bits each, Morton-interleave, assign
    rows to {N_FILES} simulated files under (a) linear orderkey layout
    and (b) z-order layout, and count, over the 16 mixed-dimension
    range probes, how many files (and rows inside them) each layout
    must scan. Per layout: file count, total rows, probe file hits,
    probe row hits — z-order's lower hit counts are the verified
    data-skipping win."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    zed = with_zorder(li, "l_orderkey", "l_partkey")
    assigned = zed.select(
        "gx",
        "gy",
        F.expr(
            f"stack(2, 'linear', (gx * {N_FILES}) DIV {GRID},"
            f" 'zorder', (z * {N_FILES}) DIV {1 << (2 * GRID_BITS)})"
        ).alias("layout", "file_id"),
    )
    fstats = assigned.groupBy("layout", "file_id").agg(
        F.min("gx").cast("bigint").alias("fx_lo"),
        F.max("gx").cast("bigint").alias("fx_hi"),
        F.min("gy").cast("bigint").alias("fy_lo"),
        F.max("gy").cast("bigint").alias("fy_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    probes = _probes(spark)
    hits = (
        fstats.join(
            F.broadcast(probes),  # 16-row probe workload broadcast
            (F.col("fx_lo") <= F.col("xhi"))
            & (F.col("fx_hi") >= F.col("xlo"))
            & (F.col("fy_lo") <= F.col("yhi"))
            & (F.col("fy_hi") >= F.col("ylo")),
        )
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("files_hit"),
            F.sum("n_rows").cast("bigint").alias("rows_hit"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return (
        fstats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        .join(hits, "layout", "left")
        .select(
            "layout",
            "n_files",
            "n_rows",
            F.coalesce("files_hit", zero).alias("files_hit"),
            F.coalesce("rows_hit", zero).alias("rows_hit"),
        )
    )


# -- three-dimensional z-order audit -------------------------------------------
#
# Real fact tables carry more than two query dimensions (time x entity
# x category). The N-dim fold (morton_n_expr) covers them; this audit
# proves the payoff on three: lineitem gridded on (l_orderkey,
# l_partkey, l_suppkey) at 8 bits each, 64 simulated files, and a
# 12-probe workload of single-dimension range scans (4 per dimension).
# A single-key layout serves only its own dimension's probes; the
# 3-dim z-order serves all three (each file is a ~4x4x4 cube of the
# key space, so a narrow slab on ANY dimension overlaps one 16-file
# layer instead of everything). Same oracle discipline as the 2-dim
# audit: pure relational arithmetic, bit-replayed by DuckDB.

GRID3_BITS = 8
GRID3 = 1 << GRID3_BITS
_P3_W = GRID3 // 16
_P3_STRIDE = GRID3 // 4
N3_PROBES = 12

MORTON3_DUCK = (
    f"CAST(list_sum(list_transform(range(0, {GRID3_BITS}),"
    " i -> (((gx >> i) & 1) << (3*i)) + (((gy >> i) & 1) << (3*i+1))"
    " + (((gz >> i) & 1) << (3*i+2)))) AS BIGINT)"
)


def _probe3_bounds(dim: int, which: str) -> str:
    """CASE expression for probe bound ``which`` ('lo'/'hi') of grid
    dimension ``dim`` — narrow when the probe targets this dimension,
    full range otherwise. Shared text for both engines."""
    lo = f"(i % 4) * {_P3_STRIDE}"
    hi = f"(i % 4) * {_P3_STRIDE} + {_P3_W - 1}"
    if which == "lo":
        return f"CASE WHEN i // 4 = {dim} THEN {lo} ELSE 0 END"
    return f"CASE WHEN i // 4 = {dim} THEN {hi} ELSE {GRID3 - 1} END"


_SKIP3_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(l_orderkey) AS BIGINT) AS minx,
         CAST(max(l_orderkey) AS BIGINT) AS maxx,
         CAST(min(l_partkey) AS BIGINT) AS miny,
         CAST(max(l_partkey) AS BIGINT) AS maxy,
         CAST(min(l_suppkey) AS BIGINT) AS minz,
         CAST(max(l_suppkey) AS BIGINT) AS maxz
  FROM lineitem
),
g AS (
  SELECT
    CAST((((l_orderkey - minx) * {GRID3}) // ((maxx - minx) + 1)) AS BIGINT) AS gx,
    CAST((((l_partkey - miny) * {GRID3}) // ((maxy - miny) + 1)) AS BIGINT) AS gy,
    CAST((((l_suppkey - minz) * {GRID3}) // ((maxz - minz) + 1)) AS BIGINT) AS gz
  FROM lineitem CROSS JOIN bounds
),
zed AS (SELECT gx, gy, gz, {MORTON3_DUCK} AS z FROM g),
assigned AS (
  SELECT gx, gy, gz, layout,
         CASE layout
           WHEN 'linear' THEN (gx * {N_FILES}) // {GRID3}
           ELSE (z * {N_FILES}) // {1 << (3 * GRID3_BITS)}
         END AS file_id
  FROM zed CROSS JOIN (VALUES ('linear'), ('zorder3')) l(layout)
),
fstats AS (
  SELECT layout, file_id,
         CAST(min(gx) AS BIGINT) AS fx_lo, CAST(max(gx) AS BIGINT) AS fx_hi,
         CAST(min(gy) AS BIGINT) AS fy_lo, CAST(max(gy) AS BIGINT) AS fy_hi,
         CAST(min(gz) AS BIGINT) AS fz_lo, CAST(max(gz) AS BIGINT) AS fz_hi,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM assigned GROUP BY layout, file_id
),
probes AS (
  SELECT CAST(i AS BIGINT) AS probe_id,
         CAST({_probe3_bounds(0, 'lo')} AS BIGINT) AS xlo,
         CAST({_probe3_bounds(0, 'hi')} AS BIGINT) AS xhi,
         CAST({_probe3_bounds(1, 'lo')} AS BIGINT) AS ylo,
         CAST({_probe3_bounds(1, 'hi')} AS BIGINT) AS yhi,
         CAST({_probe3_bounds(2, 'lo')} AS BIGINT) AS zlo,
         CAST({_probe3_bounds(2, 'hi')} AS BIGINT) AS zhi
  FROM range(0, {N3_PROBES}) r(i)
),
hits AS (
  SELECT f.layout,
         CAST(count(*) AS BIGINT) AS files_hit,
         CAST(sum(f.n_rows) AS BIGINT) AS rows_hit
  FROM fstats f JOIN probes p
    ON f.fx_lo <= p.xhi AND f.fx_hi >= p.xlo
   AND f.fy_lo <= p.yhi AND f.fy_hi >= p.ylo
   AND f.fz_lo <= p.zhi AND f.fz_hi >= p.zlo
  GROUP BY f.layout
)
SELECT s.layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(s.n_rows) AS BIGINT) AS n_rows,
       COALESCE(any_value(h.files_hit), 0) AS files_hit,
       COALESCE(any_value(h.rows_hit), 0) AS rows_hit
FROM fstats s LEFT JOIN hits h ON h.layout = s.layout
GROUP BY s.layout
"""


@query(
    "layout_zorder3_skipping",
    oracle=_SKIP3_ORACLE,
    tags=("layout", "scale", "lineitem", "zorder"),
    exported=False,  # ZORDER_SKIPPING's `zo3` facet
)
def layout_zorder3_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-dimensional skipping audit (section comment): grid
    lineitem's (l_orderkey, l_partkey, l_suppkey) to 8 bits each,
    interleave with the N-dim Morton fold, assign rows to 64 simulated
    files under single-key vs 3-dim z-order layouts, and count file/row
    hits for 12 single-dimension range probes (4 per dimension). The
    z-order column serves ALL dimensions' probes; the single-key layout
    serves only its own."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_orderkey").cast("bigint").alias("minx"),
        F.max("l_orderkey").cast("bigint").alias("maxx"),
        F.min("l_partkey").cast("bigint").alias("miny"),
        F.max("l_partkey").cast("bigint").alias("maxy"),
        F.min("l_suppkey").cast("bigint").alias("minz"),
        F.max("l_suppkey").cast("bigint").alias("maxz"),
    )
    gexpr = lambda c, lo, hi: (  # noqa: E731
        f"cast((({c} - {lo}) * {GRID3}) DIV (({hi} - {lo}) + 1) as bigint)"
    )
    zed = (
        li.crossJoin(F.broadcast(bounds))  # 1-row bounds broadcast
        .selectExpr(
            gexpr("l_orderkey", "minx", "maxx") + " as gx",
            gexpr("l_partkey", "miny", "maxy") + " as gy",
            gexpr("l_suppkey", "minz", "maxz") + " as gz",
        )
        .withColumn(
            "z",
            F.expr(morton_n_expr(["gx", "gy", "gz"], GRID3_BITS)).cast(
                "bigint"
            ),
        )
    )
    assigned = zed.select(
        "gx",
        "gy",
        "gz",
        F.expr(
            f"stack(2, 'linear', (gx * {N_FILES}) DIV {GRID3},"
            f" 'zorder3', (z * {N_FILES}) DIV {1 << (3 * GRID3_BITS)})"
        ).alias("layout", "file_id"),
    )
    fstats = assigned.groupBy("layout", "file_id").agg(
        F.min("gx").cast("bigint").alias("fx_lo"),
        F.max("gx").cast("bigint").alias("fx_hi"),
        F.min("gy").cast("bigint").alias("fy_lo"),
        F.max("gy").cast("bigint").alias("fy_hi"),
        F.min("gz").cast("bigint").alias("fz_lo"),
        F.max("gz").cast("bigint").alias("fz_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    probes = spark.range(N3_PROBES).selectExpr(
        "cast(id as bigint) as probe_id",
        *(
            f"cast({_probe3_bounds(d, w).replace('i //', 'id DIV').replace('(i %', '(id %')}"
            f" as bigint) as {axis}{w}"
            for d, axis in ((0, "x"), (1, "y"), (2, "z"))
            for w in ("lo", "hi")
        ),
    )
    hits = (
        fstats.join(
            F.broadcast(probes),  # 12-row probe workload broadcast
            (F.col("fx_lo") <= F.col("xhi"))
            & (F.col("fx_hi") >= F.col("xlo"))
            & (F.col("fy_lo") <= F.col("yhi"))
            & (F.col("fy_hi") >= F.col("ylo"))
            & (F.col("fz_lo") <= F.col("zhi"))
            & (F.col("fz_hi") >= F.col("zlo")),
        )
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("files_hit"),
            F.sum("n_rows").cast("bigint").alias("rows_hit"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return (
        fstats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        .join(hits, "layout", "left")
        .select(
            "layout",
            "n_files",
            "n_rows",
            F.coalesce("files_hit", zero).alias("files_hit"),
            F.coalesce("rows_hit", zero).alias("rows_hit"),
        )
    )


_AUDIT_COLS = ("layout", "n_files", "n_rows", "files_hit", "rows_hit")
ZORDER_SKIPPING = Federation(
    "facet STRING, layout STRING, n_files BIGINT, n_rows BIGINT,"
    " files_hit BIGINT, rows_hit BIGINT",
    [
        ("zo2", _SKIP_ORACLE, {c: c for c in _AUDIT_COLS}),
        ("zo3", "layout_zorder3_skipping", {c: c for c in _AUDIT_COLS}),
    ],
)


@query(
    "layout_zorder_skipping",
    oracle=ZORDER_SKIPPING.oracle,
    tags=("layout", "scale", "lineitem", "zorder"),
    # library since round 9 (driver-cap consolidation to admit
    # store_format_suite): these audits are pure relational arithmetic
    # the local 182+-query gate replays bit-for-bit, and the driver
    # keeps z-order skipping coverage through corpus_build_e2e's
    # `zaudit` facet, which measures it on REAL pyarrow footer stats
    exported=False,
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-dimensional layout audits, federated (round-8
    driver-cap consolidation; the 3-dim component keeps its own oracle
    as a library entry): `zo2` is the 2-dimensional audit
    (_zorder2_audit — (l_orderkey, l_partkey) gridded to 16 bits,
    16 mixed-dimension range probes over 64 simulated files under
    linear vs z-order layouts) and `zo3` the 3-dimensional one
    (layout_zorder3_skipping — (l_orderkey, l_partkey, l_suppkey) at
    8 bits through the generalized Morton fold, 12 single-dimension
    probes). Per (facet, layout): file count, total rows, probe file
    hits, probe row hits — z-order's lower hit counts are the verified
    data-skipping win on BOTH dimensionalities."""
    a2 = ZORDER_SKIPPING.project("zo2", _zorder2_audit(spark, sf_dir))
    a3 = layout_zorder3_skipping(spark, sf_dir)
    return a2.unionAll(ZORDER_SKIPPING.project("zo3", a3))
