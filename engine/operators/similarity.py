"""Similarity search over the embeddings table (array<float> column).

Three tiers, per the standard ANN playbook:
- brute-force cosine top-k — the small-scale baseline and recall oracle;
- brute-force near-dup pair scan — baseline for embedding-cosine dedup;
- banded sign-LSH (random hyperplane) bucketing — the 100 TB path:
  candidates are generated by a bucket join (4 bands × 4 sign bits), so
  comparisons scale with bucket collisions, not corpus². Recall < 1 by
  construction; tune bands/bits per target threshold.

Everything is built-in Spark SQL expressions (zip_with/aggregate fold
for the dot product — JVM-side, no Python). The random hyperplanes are
md5-derived, so the DuckDB oracle reproduces the exact same buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.functions.rounding import duck_round_he, round_he, sql_round_he
from engine.io import load_table
from engine.registry import Federation, query
from engine.operators.textstats import DUCK_H60, SPARK_H60

import os as _os

EMB_DIM = 64
NEAR_DUP_COS = 0.4
# Sign-LSH band geometry. Banded LSH's candidate work is
# Σ bucket_size² ≈ LSH_BANDS × n² / 2^(LSH_BITS/LSH_BANDS) on a
# near-orthogonal corpus, so at FIXED width it grows quadratically in
# the corpus — the scale contract is to grow the band WIDTH with
# log2(n) (each extra bit halves expected bucket size; add bands to
# buy recall back). SPARK_GRAFT_LSH_BITS / _BANDS make that contract
# operational exactly like SPARK_GRAFT_KM_K does for the kmeans-based
# operators: read once at import, baked identically into the Spark
# plan and the DuckDB oracle, so the engines cannot desync. The
# fixture default (4 bands × 4 bits) suits its 2k-vector corpus;
# tools/scale_probe.py demonstrates the width-scaled shape at 10×.
LSH_BITS = int(_os.environ.get("SPARK_GRAFT_LSH_BITS", "16"))
LSH_BANDS = int(_os.environ.get("SPARK_GRAFT_LSH_BANDS", "4"))
# Geometry validation: a non-divisible bits/bands pair would silently
# create an extra partial band (LSH_BANDS no longer describes the real
# geometry), and a per-band width > 62 overflows the BIGINT bit-shift
# bucket encoding on BOTH engines.  Fail loudly at import instead.
if LSH_BANDS <= 0 or LSH_BITS <= 0:
    raise ValueError(
        f"SPARK_GRAFT_LSH_BITS/_BANDS must be positive, got "
        f"bits={LSH_BITS} bands={LSH_BANDS}"
    )
if LSH_BITS % LSH_BANDS != 0:
    raise ValueError(
        f"SPARK_GRAFT_LSH_BITS ({LSH_BITS}) must be divisible by "
        f"SPARK_GRAFT_LSH_BANDS ({LSH_BANDS}); a partial band would "
        "desync the documented Σ bucket² geometry"
    )
if LSH_BITS // LSH_BANDS > 62:
    raise ValueError(
        f"per-band width {LSH_BITS // LSH_BANDS} > 62 overflows the "
        "BIGINT bit-shift bucket encoding (shared by Spark and DuckDB)"
    )
LSH_COS = 0.3
TOPK = 5
N_QUERIES = 10  # query vectors: vec_id < 10
IVF_K = 16  # coarse-quantizer cells
IVF_NPROBE = 4  # cells probed per query

# -- shared expressions ----------------------------------------------------

# Measured (round 4, 500k 64-dim pairs): this higher-order fold beats
# an unrolled 64-term `element_at(a,i)*element_at(b,i)` sum 2.2 s vs
# 8.2 s — Spark 4's HOF evaluator outruns the giant codegen'd
# expression, and both produce bit-identical doubles (strict
# left-to-right adds). Don't "optimize" this into an unrolled sum.
_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_dot_product({a}, {b})"

_DUCK_EMB = (
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,"
    " sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings)"
)


def _spark_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.selectExpr(
        "vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>) AS emb",
        "sqrt("
        + _SPARK_DOT.format(a="CAST(embedding AS ARRAY<DOUBLE>)", b="CAST(embedding AS ARRAY<DOUBLE>)")
        + ") AS nrm",
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the
    corpus (the correct plan at any scale — queries are small), dot
    product as a JVM fold, per-query top-k via ranked window."""
    e = _spark_emb(spark, sf_dir)
    q = e.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "emb AS qe", "nrm AS qn"
    )
    scored = e.join(F.broadcast(q), F.expr("vec_id <> query_id")).selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        sql_round_he(_SPARK_DOT.format(a="qe", b="emb") + " / (qn * nrm)", 6)
        + " AS cos_sim",
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cos_sim",
        "CAST(row_number() OVER (PARTITION BY query_id"
        " ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn",
    ).filter(f"rn <= {TOPK}")


def embedding_near_dups_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding near-dup scan — the small-scale oracle
    baseline. At 100 TB use sign_lsh_near_dups (bucketed) instead;
    this one exists to measure its recall (library-only: the registry
    ships the LSH path; tests/test_operators_lib.py pins recall against
    this twin)."""
    e = _spark_emb(spark, sf_dir)
    a = e.selectExpr("vec_id AS vec_a", "emb AS ea", "nrm AS na")
    b = e.selectExpr("vec_id AS vec_b", "emb AS eb", "nrm AS nb")
    cos = _SPARK_DOT.format(a="ea", b="eb") + " / (na * nb)"
    return (
        a.join(b, F.expr("vec_a < vec_b"))
        .selectExpr("vec_a", "vec_b", f"{cos} AS _cos")
        .filter(f"_cos >= {NEAR_DUP_COS!r}D")
        .selectExpr("vec_a", "vec_b", sql_round_he("_cos", 6) + " AS cos_sim")
    )


# Deterministic random-hyperplane component for (bit j, dimension d):
# uniform-ish in [-1, 1] from the shared 60-bit md5 hash.
_SPARK_RP = (
    "((" + SPARK_H60.format(x="concat('rp:', cast({j} as string), ',', cast(d as string))")
    + " % 2001) - 1000) / 1000.0"
)
_DUCK_RP = (
    "((" + DUCK_H60.format(x="'rp:' || CAST({j} AS VARCHAR) || ',' || CAST(d AS VARCHAR)")
    + " % 2001) - 1000) / 1000.0"
)

_DUCK_SIGN_LSH = f"""
{_DUCK_EMB},
proj AS (
  SELECT vec_id, j.j,
         CASE WHEN list_sum(list_transform(range(1, {EMB_DIM + 1}),
                d -> emb[d] * {_DUCK_RP.format(j='j.j')})) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN (SELECT unnest(range(0, {LSH_BITS})) AS j) j
),
bands AS (
  SELECT vec_id, j // {LSH_BITS // LSH_BANDS} AS band,
         CAST(sum(bit << (j % {LSH_BITS // LSH_BANDS})) AS BIGINT) AS bval
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
)
"""


@query(
    "sign_lsh_near_dups",
    oracle=f"""
WITH {_DUCK_SIGN_LSH}
SELECT c.vec_a, c.vec_b,
       {duck_round_he(_DUCK_DOT.format(a='a.emb', b='b.emb') + " / (a.nrm * b.nrm)", 6)} AS cos_sim
FROM cand c JOIN e a ON c.vec_a = a.vec_id JOIN e b ON c.vec_b = b.vec_id
WHERE {_DUCK_DOT.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm) >= {LSH_COS}
""",
    tags=("similarity", "lsh"),
    exported=False,  # driver-visible via facets2.embedding_suite
)
def sign_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-dup search — the scale path. 16 hyperplane
    sign bits per vector, 4 bands of 4; candidate pairs share a band
    value (bucket join, never all-pairs), then exact cosine filters.
    Hyperplanes are md5-derived so buckets are reproducible across
    engines and cluster re-runs."""
    e = _spark_emb(spark, sf_dir)
    band_width = LSH_BITS // LSH_BANDS
    proj = e.selectExpr(
        "vec_id",
        "emb",
        f"explode(sequence(0, {LSH_BITS - 1})) AS j",
    ).selectExpr(
        "vec_id",
        "j",
        "CASE WHEN aggregate(transform(sequence(1, %d), d -> element_at(emb, d) * %s),"
        " cast(0.0 as double), (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END AS bit"
        % (EMB_DIM, _SPARK_RP.format(j="j")),
    )
    bands = proj.groupBy(
        "vec_id", F.expr(f"j div {band_width} AS band")
    ).agg(
        F.expr(
            f"CAST(sum(shiftleft(bit, j % {band_width})) AS BIGINT) AS bval"
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            F.expr("a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id"),
        )
        .selectExpr("a.vec_id AS vec_a", "b.vec_id AS vec_b")
        .distinct()
    )
    ea = e.selectExpr("vec_id AS _ia", "emb AS ea", "nrm AS na")
    eb = e.selectExpr("vec_id AS _ib", "emb AS eb", "nrm AS nb")
    cos = _SPARK_DOT.format(a="ea", b="eb") + " / (na * nb)"
    return (
        cand.join(ea, F.expr("vec_a = _ia"))
        .join(eb, F.expr("vec_b = _ib"))
        .selectExpr("vec_a", "vec_b", f"{cos} AS _cos")
        .filter(f"_cos >= {LSH_COS!r}D")
        .selectExpr("vec_a", "vec_b", sql_round_he("_cos", 6) + " AS cos_sim")
    )


# -- IVF (inverted-file) ANN ----------------------------------------------
#
# Coarse quantizer: the first IVF_K vectors (by vec_id) serve as
# deterministic centroids — sample-as-centroid initialization, chosen
# over trained k-means so the index is bit-reproducible across engines
# and cluster re-runs (no RNG, no iteration order). Each corpus vector
# is assigned to its max-cosine cell; each query probes its IVF_NPROBE
# nearest cells and exact-scores ONLY vectors in those cells.
#
# 100 TB shape: build = one broadcast pass (N × K fold products) + one
# shuffle on cell_id; search touches nprobe/K of the corpus per query
# instead of all of it. Recall < 1 by construction — measured against
# ann_cosine_topk (the brute-force twin) in tests.

_DUCK_IVF = f"""
{_DUCK_EMB},
cents AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id < {IVF_K}),
assign AS (
  SELECT vec_id, emb, nrm, cid AS cell FROM (
    SELECT e.vec_id, e.emb, e.nrm, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_DUCK_DOT.format(a='e.emb', b='c.cemb')} / (e.nrm * c.cnrm) DESC,
                      c.cid) AS crn
    FROM e CROSS JOIN cents c
  ) t WHERE crn = 1
),
probes AS (
  SELECT query_id, qe, qn, cid AS cell FROM (
    SELECT q.vec_id AS query_id, q.emb AS qe, q.nrm AS qn, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_DUCK_DOT.format(a='q.emb', b='c.cemb')} / (q.nrm * c.cnrm) DESC,
                      c.cid) AS crn
    FROM e q CROSS JOIN cents c WHERE q.vec_id < {N_QUERIES}
  ) t WHERE crn <= {IVF_NPROBE}
)
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to their
    max-cosine centroid cell (argmin window over a broadcast N×K
    score), probe the query's IVF_NPROBE nearest cells, exact-score
    only those cells' members. The scale path for ANN when sign-LSH
    recall is insufficient."""
    e = _spark_emb(spark, sf_dir)
    cents = F.broadcast(
        e.filter(f"vec_id < {IVF_K}").selectExpr(
            "vec_id AS cid", "emb AS cemb", "nrm AS cnrm"
        )
    )
    ccos = _SPARK_DOT.format(a="emb", b="cemb") + " / (nrm * cnrm)"
    # Argmax cell via max_by: the K scored rows per vector are
    # co-located after the centroid broadcast, so the partial aggregate
    # collapses them map-side instead of shuffling the n×K expansion
    # through the window sort. Ordering struct (_ccos, -cid) is the
    # exact mirror of the window's (_ccos DESC, cid ASC) tie-break —
    # cid is a non-negative BIGINT, so negation is exact.
    assign = (
        e.join(cents)
        .selectExpr("vec_id", "emb", "nrm", "cid", f"{ccos} AS _ccos")
        .groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(emb, nrm, cid), struct(_ccos, -cid)) AS _b"
            )
        )
        .selectExpr(
            "vec_id", "_b.emb AS emb", "_b.nrm AS nrm", "_b.cid AS cell"
        )
    )
    probes = (
        e.filter(f"vec_id < {N_QUERIES}")
        .join(cents)
        .selectExpr("vec_id", "emb", "nrm", "cid", f"{ccos} AS _ccos")
        .selectExpr(
            "vec_id",
            "emb",
            "nrm",
            "cid",
            "row_number() OVER (PARTITION BY vec_id"
            " ORDER BY _ccos DESC, cid) AS crn",
        )
        .filter(f"crn <= {IVF_NPROBE}")
        .selectExpr(
            "vec_id AS query_id", "emb AS qe", "nrm AS qn", "cid AS cell"
        )
    )
    qcos = _SPARK_DOT.format(a="qe", b="emb") + " / (qn * nrm)"
    return (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter("vec_id <> query_id")
        .selectExpr("query_id", "vec_id", f"{qcos} AS _cos")
        .selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "_cos",
            "CAST(row_number() OVER (PARTITION BY query_id"
            " ORDER BY _cos DESC, vec_id) AS BIGINT) AS rn",
        )
        .filter(f"rn <= {TOPK}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            sql_round_he("_cos", 6) + " AS cos_sim",
            "rn",
        )
    )


# Binary-candidate pool per query before exact rerank: a FRACTION of
# the measured corpus (1/HAM_CAND_DIV, ceil), floored at HAM_CAND_MIN.
# A fixed pool's recall decays as the corpus grows (measured 0.96 →
# 0.66 from 500 to 5k vectors at pool=100); a corpus-proportional pool
# holds the recall/rerank-cost ratio steady — the same contract as
# IVF's nprobe. Both engines compute the pool with exact integer math
# (ceil-div on the corpus count), so candidate sets match bit-for-bit.
HAM_CAND_MIN = 100
HAM_CAND_DIV = 25

# Sign-bit signature halves: bit j of {col}[off + j] > 0 for j in 0..31.
# Two 32-bit halves in BIGINTs rather than one 64-bit word so the
# 2^63 term never touches the sign bit (BIGINT shift-overflow semantics
# differ across engines; 32-bit halves are portable and cost one extra
# bit_count). Both engines fold the same comparison on the same
# float→double promotion, so signatures are bit-identical.
_SPARK_SIG = (
    "aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) -> acc + "
    "IF(element_at({col}, j + {off} + 1) > cast(0 as double),"
    " shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
)
_DUCK_SIG = (
    "CAST(list_sum(list_transform(range(0, 32), j -> CASE WHEN"
    " {col}[j + {off} + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END))"
    " AS BIGINT)"
)
_SPARK_HAM = "cast(bit_count({alo} ^ {blo}) + bit_count({ahi} ^ {bhi}) as bigint)"
_DUCK_HAM = (
    "CAST(bit_count(xor({alo}, {blo})) + bit_count(xor({ahi}, {bhi})) AS BIGINT)"
)


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 64-bit sign signatures + Hamming scan +
    exact cosine rerank (the RaBitQ/binary-embedding recipe).

    Stage 1 packs each vector's sign bits into two BIGINT halves —
    16 bytes/vector vs 512 for the float64 embedding, so at 100 TB
    the candidate scan reads a 30×-smaller column and the distance is
    two XOR+popcount ops (whole-stage codegen, no float math). Stage 2
    takes the max(HAM_CAND_MIN, ⌈n/HAM_CAND_DIV⌉) nearest signatures
    per query (corpus-proportional pool — see the constant comment;
    ties broken by neighbor_id), carrying only (query_id, neighbor_id,
    hamming) through the ranking — the wide embedding column never
    enters the shuffle. Stage 3 fetches the candidate embeddings by
    equi-joining the candidate ids back to the corpus (planner-sized:
    broadcast while the pool is small, candidate-slice shuffle at
    extreme corpus sizes — the pool is corpus-proportional) and
    reranks by exact cosine — output schema matches the brute/IVF
    tiers, so recall is directly comparable (pinned vs brute in
    tests/test_operators_lib.py)."""
    e = _spark_emb(spark, sf_dir)
    s = e.selectExpr(
        "vec_id",
        _SPARK_SIG.format(col="emb", off=0) + " AS sig_lo",
        _SPARK_SIG.format(col="emb", off=32) + " AS sig_hi",
    )
    qh = s.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "sig_lo AS qlo", "sig_hi AS qhi"
    )
    ham = _SPARK_HAM.format(alo="qlo", blo="sig_lo", ahi="qhi", bhi="sig_hi")
    n_cand = s.agg(
        F.expr(
            f"greatest(CAST({HAM_CAND_MIN} AS BIGINT),"
            f" (count(1) + {HAM_CAND_DIV - 1}) div {HAM_CAND_DIV}) AS _ncand"
        )
    )
    cand = (
        s.join(F.broadcast(qh), F.expr("vec_id <> query_id"))
        .selectExpr(
            "query_id", "vec_id AS neighbor_id", f"{ham} AS hamming"
        )
        .crossJoin(F.broadcast(n_cand))  # 1-row corpus-sized pool bound
        .selectExpr(
            "query_id",
            "neighbor_id",
            "_ncand",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY hamming, neighbor_id) AS crn",
        )
        .filter("crn <= _ncand")
        .select("query_id", "neighbor_id")
    )
    q = e.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "emb AS qe", "nrm AS qn"
    )
    cos = _SPARK_DOT.format(a="qe", b="emb") + " / (qn * nrm)"
    # No broadcast hint on the candidate fetch: the pool is corpus-
    # PROPORTIONAL (n/HAM_CAND_DIV per query), so forcing a broadcast
    # would break exactly at the scale this operator targets. It is a
    # plain equi-join — the planner (AQE) broadcasts it while small
    # and shuffles only the candidate slice when it isn't. The query
    # set q stays an explicit broadcast (bounded at N_QUERIES rows).
    return (
        e.join(cand, e.vec_id == cand.neighbor_id)
        .join(F.broadcast(q), "query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos} AS _cos")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "_cos",
            "CAST(row_number() OVER (PARTITION BY query_id"
            " ORDER BY _cos DESC, neighbor_id) AS BIGINT) AS rn",
        )
        .filter(f"rn <= {TOPK}")
        .selectExpr(
            "query_id",
            "neighbor_id",
            sql_round_he("_cos", 6) + " AS cos_sim",
            "rn",
        )
    )


_DUCK_HAMMING_TOPK = f"""
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT c.query_id, c.neighbor_id,
         {duck_round_he(_DUCK_DOT.format(a='q.emb', b='e.emb') + " / (q.nrm * e.nrm)", 6)}
           AS cos_sim,
         CAST(row_number() OVER (PARTITION BY c.query_id
              ORDER BY {_DUCK_DOT.format(a='q.emb', b='e.emb')} / (q.nrm * e.nrm)
                       DESC, c.neighbor_id) AS BIGINT) AS rn
  FROM (
    SELECT query_id, neighbor_id FROM (
      SELECT qh.query_id, s.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY qh.query_id ORDER BY
               {_DUCK_HAM.format(alo='qh.qlo', blo='s.sig_lo',
                                 ahi='qh.qhi', bhi='s.sig_hi')},
               s.vec_id) AS crn
      FROM sig s
      JOIN (SELECT vec_id AS query_id, sig_lo AS qlo, sig_hi AS qhi
            FROM sig WHERE vec_id < {N_QUERIES}) qh
        ON s.vec_id <> qh.query_id
    ) t WHERE crn <= GREATEST({HAM_CAND_MIN}::BIGINT,
                    ((SELECT count(1) FROM sig) + {HAM_CAND_DIV - 1})
                      // {HAM_CAND_DIV})
  ) c
  JOIN e ON e.vec_id = c.neighbor_id
  JOIN e q ON q.vec_id = c.query_id
) t WHERE rn <= {TOPK}
"""

_DUCK_SIG_CTE = (
    "sig AS (SELECT vec_id, "
    + _DUCK_SIG.format(col="emb", off=0)
    + " AS sig_lo, "
    + _DUCK_SIG.format(col="emb", off=32)
    + " AS sig_hi FROM e)"
)


@query(
    "ann_hamming_topk",
    oracle=f"WITH {_DUCK_EMB},\n{_DUCK_SIG_CTE}\n{_DUCK_HAMMING_TOPK}",
    tags=("similarity", "ann", "hamming", "quantization"),
    exported=False,  # driver-visible via the ann_topk `hamming` facet
)
def _ann_hamming_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: packed sign-bit signatures + Hamming
    candidate scan + exact cosine rerank (see
    :func:`ann_hamming_topk` for the full contract)."""
    return ann_hamming_topk(spark, sf_dir)


def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the
    TOPK most-cosine-similar vectors whose ``label`` DIFFERS from the
    query's — the standard training-pair builder for contrastive /
    metric-learning objectives (high-similarity wrong-class examples
    are the informative negatives; random negatives are trivial).

    Same broadcast-queries scan shape as ann_cosine_topk (the query
    set is bounded, the corpus streams through codegen), with the
    label inequality folded into the join condition so the per-query
    ranking never sees same-class rows. At 100 TB the scan side would
    swap to the IVF or Hamming candidate generators above — the
    negative-label filter composes with any of them."""
    # One scan: project label alongside the vector in the same select
    # (label is a sibling column of the same parquet row — a second
    # load + vec_id self-join would re-read and re-shuffle the corpus
    # for nothing).
    el = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>) AS emb",
        "label",
        "sqrt("
        + _SPARK_DOT.format(
            a="CAST(embedding AS ARRAY<DOUBLE>)",
            b="CAST(embedding AS ARRAY<DOUBLE>)",
        )
        + ") AS nrm",
    )
    q = el.filter(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "emb AS qe", "nrm AS qn", "label AS qlabel"
    )
    scored = el.join(F.broadcast(q), F.expr("label <> qlabel")).selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        sql_round_he(_SPARK_DOT.format(a="qe", b="emb") + " / (qn * nrm)", 6)
        + " AS cos_sim",
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cos_sim",
        "CAST(row_number() OVER (PARTITION BY query_id"
        " ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn",
    ).filter(f"rn <= {TOPK}")


_DUCK_HARDNEG_TOPK = f"""
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT q.query_id, el.vec_id AS neighbor_id,
         {duck_round_he(_DUCK_DOT.format(a='q.qe', b='el.emb') + " / (q.qn * el.nrm)", 6)}
           AS cos_sim,
         CAST(row_number() OVER (PARTITION BY q.query_id
              ORDER BY {duck_round_he(_DUCK_DOT.format(a='q.qe', b='el.emb') + " / (q.qn * el.nrm)", 6)} DESC,
                       el.vec_id) AS BIGINT) AS rn
  FROM el
  JOIN (SELECT vec_id AS query_id, emb AS qe, nrm AS qn, label AS qlabel
        FROM el WHERE vec_id < {N_QUERIES}) q
    ON el.label <> q.qlabel
) t WHERE rn <= {TOPK}
"""

_DUCK_EL_CTE = (
    "el AS (SELECT e.vec_id, e.emb, e.nrm, emb0.label FROM e"
    " JOIN embeddings emb0 ON emb0.vec_id = e.vec_id)"
)


@query(
    "hard_negative_topk",
    oracle=f"WITH {_DUCK_EMB},\n{_DUCK_EL_CTE}\n{_DUCK_HARDNEG_TOPK}",
    tags=("similarity", "contrastive", "training-pairs"),
    exported=False,  # driver-visible via the ann_topk `hardneg` facet
)
def _hard_negative_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-k most-similar
    DIFFERENT-label vectors per query (see
    :func:`hard_negative_topk` for the full contract)."""
    return hard_negative_topk(spark, sf_dir)


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column
    (max-abs scale per vector, round-half-up codes in [-127, 127]) —
    the vector-compression step that makes a 100 TB ANN index fit in
    memory (4× smaller than float32, SIMD-friendly dot products).

    All math in doubles promoted from the same float32 inputs, so Spark
    and DuckDB produce bit-identical codes. Narrow per-row pipeline: no
    shuffle at all — the explode to (vec_id, dim, code) is for the
    value-hash gate; the library form would keep array<tinyint>."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        "embedding",
        (
            F.lit(127.0)
            / F.expr(
                "nullif(cast(array_max(transform(embedding, x -> abs(x)))"
                " as double), 0.0d)"
            )
        ).alias("scale"),
    )
    return s.select(
        "vec_id", "scale", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("dim_i"),
        F.when(F.col("scale").isNull(), 0)
        .otherwise(F.floor(F.col("col") * F.col("scale") + 0.5))
        .cast("int")
        .alias("code"),
    )


# -- consolidated registry queries -----------------------------------------
#
# The driver's correctness gate records at most ~50 entries, so the
# registry surface is consolidated: each query below federates the
# library operators above under a `method` facet column. The library
# forms stay importable (and recall-tested in tests/test_operators_lib);
# the oracle is the UNION ALL of the per-method oracles.

_DUCK_BRUTE_TOPK = f"""
WITH {_DUCK_EMB},
q AS (SELECT vec_id AS query_id, emb AS qe, nrm AS qn FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {duck_round_he(_DUCK_DOT.format(a='q.qe', b='e.emb') + " / (q.qn * e.nrm)", 6)} AS cos_sim
  FROM q CROSS JOIN e
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn
  FROM scored
) t WHERE rn <= {TOPK}
"""

_DUCK_IVF_TOPK = f"""
WITH {_DUCK_IVF}
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {duck_round_he(_DUCK_DOT.format(a='p.qe', b='a.emb') + " / (p.qn * a.nrm)", 6)} AS cos_sim,
         CAST(row_number() OVER (PARTITION BY p.query_id
              ORDER BY {_DUCK_DOT.format(a='p.qe', b='a.emb')} / (p.qn * a.nrm) DESC,
                       a.vec_id) AS BIGINT) AS rn
  FROM probes p JOIN assign a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
) t WHERE rn <= {TOPK}
"""

_TOPK_COLS = {c: c for c in ("query_id", "neighbor_id", "cos_sim", "rn")}

ANN_TIERS = Federation(
    "method STRING, query_id BIGINT, neighbor_id BIGINT, cos_sim DOUBLE,"
    " rn BIGINT",
    [
        ("brute", _DUCK_BRUTE_TOPK, {"method": "'brute'", **_TOPK_COLS}),
        ("ivf", _DUCK_IVF_TOPK, {"method": "'ivf'", **_TOPK_COLS}),
        ("hamming", "ann_hamming_topk", {"method": "'hamming'", **_TOPK_COLS}),
        ("hardneg", "hard_negative_topk", {"method": "'hardneg'", **_TOPK_COLS}),
    ],
)


def ann_tier_frames(spark: SparkSession, sf_dir: str) -> list[tuple[str, DataFrame]]:
    """Every ANN_TIERS facet's projected frame, in spec order."""
    return [
        (tag, ANN_TIERS.project(tag, fn(spark, sf_dir)))
        for tag, fn in (
            ("brute", ann_cosine_topk),
            ("ivf", ann_ivf_topk),
            ("hamming", ann_hamming_topk),
            ("hardneg", hard_negative_topk),
        )
    ]


@query(
    "ann_topk",
    oracle=ANN_TIERS.oracle,
    tags=("similarity", "ann", "headline"),
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbor search, the ANN tiers in one result:
    `method='brute'` (exact broadcast scan — the baseline/recall
    oracle), `method='ivf'` (coarse-quantized cell probing — the
    100 TB shuffle-side path), and `method='hamming'` (packed sign-bit
    signatures + Hamming candidate scan + exact cosine rerank — the
    100 TB scan-side path: 16-byte signatures instead of the float
    column). Shipping all under one facet column keeps the driver gate
    on every implementation while the IVF/Hamming recall floors vs
    brute are pinned in tests/test_operators_lib.py. A fourth facet,
    `method='hardneg'`, is the contrastive hard-negative miner (top-k
    most-similar DIFFERENT-label vectors per query — the training-pair
    builder; see :func:`hard_negative_topk`)."""
    # The four tiers share nothing (each rebuilds its own scan of the
    # embeddings table), so materialize them concurrently: profiled as
    # 20 sequential 1-task jobs of 26-580 ms (broadcast builds + AQE
    # stages + top-k windows) — overlapping them collapses the wall to
    # roughly the slowest tier (guide §2.6). Results are the tiers'
    # bounded top-k outputs, recomputed per call. Measured against the
    # lazy union of the same four frames at sf0.1 on a 4-vCPU host
    # (local[4]; build + noop save per op, alternating pairs): the lazy
    # union lost 0/8 and 0/10 pairs, +12-30 % per op, so the eager form
    # stays.
    from engine.plans import checkpoint_concurrently

    bc, ic, hc, nc = checkpoint_concurrently(
        [(f"ann_topk_{tag}", df) for tag, df in ann_tier_frames(spark, sf_dir)]
    )
    return bc.unionAll(ic).unionAll(hc).unionAll(nc)


@query(
    "embedding_transforms",
    oracle=f"""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         CAST(127 AS DOUBLE)
           / nullif(CAST(list_max(list_transform(embedding, x -> abs(x)))
                         AS DOUBLE), 0) AS scale,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim_i,
       CAST(CASE WHEN scale IS NULL THEN 0
                 ELSE floor(emb[i] * scale + 0.5) END AS INT) AS code,
       CASE WHEN nrm = 0 THEN 0.0
            ELSE {duck_round_he('emb[i] / nrm', 6)} END AS unit_val
FROM s CROSS JOIN unnest(range(1, len(emb) + 1)) AS r(i)
""",
    tags=("similarity", "quantization", "embeddings", "headline"),
)
def embedding_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding transforms in one narrow pass: symmetric
    int8 quantization code (see :func:`embedding_quantize_int8`) and
    the L2-normalized component — both as JVM expressions. The
    normalization ran as an Arrow-batched scalar pandas_udf through
    round 10; the JVM ``aggregate`` fold below runs the SAME
    left-to-right IEEE adds as that Python loop (and as DuckDB's
    ``list_dot_product``), so values are bit-identical while the
    ArrowEvalPython node — the whole JVM→Python→JVM transpose+
    serialize round trip of guide §4.1 — disappears from the plan.

    Output is exploded to (vec_id, dim_i, code, unit_val) scalars — the
    driver's value hash cannot canonicalize array columns (round-1
    lesson), and the rounding is floor(x*1e6+0.5)/1e6 on both engines.
    No shuffle anywhere; at 100 TB this is a map-only pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    s = (
        emb.selectExpr(
            "vec_id",
            "CAST(embedding AS ARRAY<DOUBLE>) AS emb",
            "127.0D / nullif(cast(array_max(transform(embedding,"
            " x -> abs(x))) as double), 0.0d) AS scale",
        )
        .selectExpr(
            "vec_id",
            "scale",
            "emb",
            "sqrt(" + _SPARK_DOT.format(a="emb", b="emb") + ") AS nrm",
        )
        .selectExpr(
            "vec_id",
            "scale",
            "emb",
            "transform(emb, x -> CASE WHEN nrm = 0.0D THEN 0.0D"
            " ELSE floor(x / nrm * 1000000.0D + 0.5D) / 1000000.0D END)"
            " AS uv",
        )
    )
    return s.selectExpr(
        "vec_id", "scale", "posexplode(arrays_zip(emb, uv)) AS (pos, col)"
    ).selectExpr(
        "vec_id",
        "CAST(pos AS BIGINT) AS dim_i",
        "CAST(CASE WHEN scale IS NULL THEN 0"
        " ELSE floor(col.emb * scale + 0.5D) END AS INT) AS code",
        "col.uv AS unit_val",
    )


CENTROID_Q = 1000000.0  # quantization grid for order-independent sums


@query(
    "source_embedding_centroids",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
dims AS (
  SELECT d.source, CAST(i - 1 AS BIGINT) AS dim_i,
         CAST(floor(emb[i] * CAST({CENTROID_Q!r} AS DOUBLE)) AS BIGINT) AS q
  FROM e
  JOIN documents d ON d.doc_id = e.vec_id
  CROSS JOIN unnest(range(1, len(emb) + 1)) AS r(i)
)
SELECT source, dim_i,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {duck_round_he(
           "CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*)"
           " / CAST(" + repr(CENTROID_Q) + " AS DOUBLE)", 6)} AS centroid
FROM dims GROUP BY 1, 2
""",
    tags=("similarity", "embedding", "centroid"),
    exported=False,
)
def source_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroids — the domain-signature vectors
    that drive cluster-based mixing, domain drift monitoring, and IVF
    warm starts. vec_id is the fixture's doc_id (FIXTURES.md).

    Determinism by construction: each dimension value is quantized to
    integer millionths BEFORE aggregation and summed as BIGINT —
    order-independent, so Spark's partition-parallel sum matches
    DuckDB's sequential one bit-for-bit (a double avg() would be a
    summation-order lottery). Scale shape: one explode to (vec, dim)
    pairs, one shuffle keyed (source, dim); output is
    |sources| × |dims| rows regardless of corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    dims = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim_i", "val"
            ),
        )
        .join(docs, F.col("vec_id") == F.col("doc_id"))
        .select(
            "source",
            F.col("dim_i").cast("bigint").alias("dim_i"),
            F.floor(F.col("val") * F.lit(CENTROID_Q)).cast("bigint").alias("q"),
        )
    )
    centroid = (
        F.col("sum_q").cast("double") / F.col("n_vecs") / F.lit(CENTROID_Q)
    )
    return (
        dims.groupBy("source", "dim_i")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("q").cast("bigint").alias("sum_q"),
        )
        .select(
            "source",
            "dim_i",
            "n_vecs",
            round_he(centroid, 6).alias("centroid"),
        )
    )


OUTLIER_DIST2 = 1.05  # squared distance from source centroid (~p99)


# The centroid subquery is the already-registered query's oracle text,
# resolved at import time (it is registered just above).
from engine.registry import _REGISTRY as _REG  # noqa: E402

_CENT_ORACLE = _REG["source_embedding_centroids"].oracle


@query(
    "embedding_outliers",
    oracle=f"""
WITH cent_rows AS ({_CENT_ORACLE}),
cent AS (
  SELECT source, list(centroid ORDER BY dim_i) AS cvec
  FROM cent_rows GROUP BY source
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
dist AS (
  SELECT e.vec_id, d.source,
         list_dot_product(
           list_transform(range(1, len(emb) + 1), i -> emb[i] - cvec[i]),
           list_transform(range(1, len(emb) + 1), i -> emb[i] - cvec[i])
         ) AS d2
  FROM e
  JOIN documents d ON d.doc_id = e.vec_id
  JOIN cent ON cent.source = d.source
)
SELECT vec_id, source,
       {duck_round_he("d2", 6)} AS dist2,
       CAST(CASE WHEN d2 > {OUTLIER_DIST2} THEN 1 ELSE 0 END AS INTEGER)
         AS is_outlier
FROM dist
""",
    tags=("similarity", "embedding", "outlier"),
    exported=False,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance embedding outliers — the vector-space data-
    cleaning pass: squared L2 distance of each embedding from its
    source's centroid, flagged past the ~p99 threshold (mislabeled or
    noisy rows in a real corpus).

    The centroid values are `source_embedding_centroids`' ROUNDED
    outputs (shared rounding on both engines keeps the join inputs
    bit-identical); the per-vector distance is a sequential JVM fold
    over zipped arrays, the same in-order construction the ANN dot
    products use, so no quantization is needed. Scale shape: the
    centroid table is |sources| rows — broadcast — and the scan stays
    a single pass over embeddings⋈documents.
    """
    cents = source_embedding_centroids(spark, sf_dir)
    cvec = cents.groupBy("source").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim_i, centroid))),"
            " s -> s.centroid)"
        ).alias("cvec")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    d2 = F.expr(
        "aggregate(zip_with(emb, cvec, (x, c) -> (x - c) * (x - c)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    return (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .join(docs, F.col("vec_id") == F.col("doc_id"))
        .join(F.broadcast(cvec), "source")
        .select(
            "vec_id",
            "source",
            round_he(d2, 6).alias("dist2"),
            F.when(d2 > OUTLIER_DIST2, 1).otherwise(0).cast("int").alias("is_outlier"),
        )
    )
