"""Deduplication operators for LLM training-data pipelines: exact
(hash groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.

Absent from the reference framework (its only dedup-adjacent operation
is `uniq -c` inside the wordcount reducer executable,
tests/testdata/exec/wc_reduce.sh:14); this is new Layer-B capability
per BASELINE.json's north star.

Scale design (the part that matters at 100 TB):
- NOTHING here is all-pairs. Jaccard joins only documents sharing a
  shingle; MinHash compares only documents sharing an LSH band bucket;
  SimHash compares only documents sharing one of four 15-bit chunks
  (pigeonhole: hamming ≤ 3 over 60 bits ⇒ ≥ 1 of 4 chunks equal).
- Shingle/band joins shuffle by the blocking key, so skewed hot
  shingles are the known risk; AQE skew-join handles moderate skew and
  a document-frequency cap is the standard mitigation (not needed at
  this corpus's max DF of 7).
- All hashes are the engine-agnostic md5-derived 60-bit integers
  (SPARK_H60/DUCK_H60) so the DuckDB oracle reproduces results bit
  for bit.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.functions.rounding import duck_round_he, round_he, sql_round_he
from engine.io import load_table
from engine.plans import audited_checkpoint, record_iteration_plan
from engine.registry import Federation, query
from engine.operators.textstats import DUCK_H60, SPARK_H60, ngram_idx

JACCARD_THRESHOLD = 0.2
MINHASH_K = 16  # 8 bands × 2 rows
MINHASH_EST_THRESHOLD = 0.25
SIMHASH_BITS = 60  # 4 chunks × 15 bits
SIMHASH_MAX_HAMMING = 3

# Distinct word-3-shingles per document (shared CTE text, DuckDB side).
_DUCK_SHINGLES = """
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks
)
"""

# Hashed variant: join/compare on the 60-bit shingle hash instead of the
# string — 8-byte shuffle keys instead of ~30-byte strings. Both engines
# apply the SAME hash, so results stay identical by construction even in
# the (≈2^-60) collision case.
_DUCK_SHINGLES_H = f"""
{_DUCK_SHINGLES},
shh AS (SELECT DISTINCT doc_id, {DUCK_H60.format(x='shingle')} AS sh_h FROM sh)
"""


def _spark_shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """doc_id → word-3-shingles as exploded rows (distinct by default).

    Tokenizes once into a column before the shingle transform —
    Catalyst does not CSE the split() inside a lambda, and evaluating
    it 3× per shingle triples the scan-side CPU at corpus scale.
    Consumers whose aggregate is duplicate-insensitive (min() for
    MinHash) pass ``distinct=False`` and skip the dedup shuffle."""
    sh = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform({ngram_idx(3)},"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1), element_at(t, i + 2)))"
            )
        ).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle keyed on sha256(text),
    keep the lowest doc_id per group. At 100 TB, group on the 32-byte
    hash (not the document body) so shuffle volume is O(corpus count),
    not O(corpus bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DUCK_SHINGLES_H},
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS both_cnt
  FROM shh a JOIN shh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {duck_round_he("both_cnt * 1.0 / (na.n + nb.n - both_cnt)", 6)} AS jaccard
FROM inter
JOIN sizes na ON doc_a = na.doc_id
JOIN sizes nb ON doc_b = nb.doc_id
WHERE both_cnt * 1.0 / (na.n + nb.n - both_cnt) >= {JACCARD_THRESHOLD}
""",
    tags=("dedup", "jaccard", "headline"),
    exported=False,  # driver-visible as dedup_minhash_prefix's `ngram` facet
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, shingle-blocked: only
    documents sharing ≥1 word-3-shingle are compared (25 pairs survive
    at threshold 0.2 on this corpus vs 125k all-pairs).

    Materialized eagerly under static planning at a measured width
    (the embedding_suite discipline): per-stage cardinalities are
    corpus-bounded, so AQE re-planning only adds driver round trips —
    ~25% of wall time at sf0.1 in an interleaved A/B. Width = docs/1k
    (the shuffled unit is ~40 8-byte shingle hashes per doc); the
    shingle cache is dropped once the checkpoint holds the result."""
    from engine.session import static_planning

    n_docs = load_table(spark, sf_dir, "documents").count()  # metadata-only
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(conf_parts, -(-n_docs // 1000)))
    with static_planning(spark, shuffle_partitions=width):
        plan, caches = _dedup_ngram_jaccard_plan(spark, sf_dir)
        out = audited_checkpoint("ngram_jaccard_pre", plan)
    for c in caches:
        c.unpersist(False)
    return out


def _dedup_ngram_jaccard_plan(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    # Hash BEFORE the distinct: the dedup shuffle then moves 8-byte
    # ints, not ~30-byte shingle strings. xxhash64 (JVM-native, ~25%
    # cheaper than the md5-derived H60) is safe here because the hash
    # never reaches the output — only (doc_a, doc_b, jaccard) does —
    # so cross-engine agreement needs only injectivity in practice
    # (the oracle dedups the raw strings; a 2^-64 collision would be
    # the only divergence).
    # repartition("sh_h") BEFORE the distinct: hashpartitioning(sh_h)
    # satisfies the distinct's clustering requirement (subset of its
    # grouping keys) AND both self-join sides' distribution, so the
    # cached table is shuffled ONCE and the join adds no exchange.
    # Persisted: three consumers (two join sides + sizes) would each
    # re-run the tokenize/explode/hash pipeline — the dominant CPU
    # cost. MEMORY_AND_DISK so the (hash, doc_id) table — far smaller
    # than the raw text — spills rather than OOMs at corpus scale.
    sh = (
        _spark_shingles(docs, distinct=False)
        .selectExpr("doc_id", "xxhash64(shingle) AS sh_h")
        .repartition("sh_h")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = sh.groupBy("doc_id").agg(F.expr("count(1) AS n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.expr("a.sh_h = b.sh_h AND a.doc_id < b.doc_id"))
        .groupBy(
            F.expr("a.doc_id AS doc_a"), F.expr("b.doc_id AS doc_b")
        )
        .agg(F.expr("count(1) AS both_cnt"))
    )
    # Shingle-set sizes are one row per document — broadcast both sides
    # of the enrichment join so the (potentially huge) pair table never
    # shuffles again.
    na = F.broadcast(sizes.alias("na"))
    nb = F.broadcast(sizes.alias("nb"))
    jac = "both_cnt * 1.0D / (na.n + nb.n - both_cnt)"
    out = (
        inter.join(na, F.expr("doc_a = na.doc_id"))
        .join(nb, F.expr("doc_b = nb.doc_id"))
        .filter(f"{jac} >= {JACCARD_THRESHOLD!r}D")
        # round_he, not engine-native round: Spark's BigDecimal HALF_UP
        # and DuckDB's scaled-double round disagree on decimal half-
        # boundaries (e.g. 1/640 = 0.0015625 at 6 digits) — the exact
        # divergence class engine/functions/rounding.py exists to kill.
        .selectExpr("doc_a", "doc_b", sql_round_he(jac, 6) + " AS jaccard")
    )
    return out, [sh]


def _minhash_tables(docs):
    """(sig, bands) for MinHash/LSH consumers.

    ``sig`` carries the whole K-minhash signature as an array column,
    one row per document, computed in a SINGLE doc_id shuffle: the K
    hash families are K min-aggregates over the raw shingle stream, so
    map-side partial aggregation reduces each input partition to K
    values per document before anything moves. (The previous shape
    exploded the stream K×, shuffled it on (doc_id, hash_index), then
    re-joined the signature twice — three heavyweight exchanges this
    replaces.) No shingle distinct is needed: min() is
    duplicate-insensitive, so values are unchanged vs the oracle.

    ``bands`` derives the 8 band signatures (pairs of minhash slots,
    ordered by slot as before) from the array with a shuffle-free
    explode; the signature array rides along for inline verification.
    """
    sh = _spark_shingles(docs, distinct=False)
    mins = [
        F.min(
            F.expr(SPARK_H60.format(x=f"concat('{i}', '|', shingle)"))
        ).alias(f"m{i}")
        for i in range(MINHASH_K)
    ]
    sig = (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[f"m{i}" for i in range(MINHASH_K)]).alias("sig_arr"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_bands = MINHASH_K // 2
    bands = sig.select(
        "doc_id",
        "sig_arr",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "sig",
        F.md5(
            F.concat_ws(
                ",",
                F.expr("cast(sig_arr[band] as string)"),
                F.expr(f"cast(sig_arr[band + {n_bands}] as string)"),
            )
        ),
    )
    return sig, bands


_DUCK_MINHASH = f"""
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, h.hi,
         min({DUCK_H60.format(x="CAST(h.hi AS VARCHAR) || '|' || shingle")}) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range(0, {MINHASH_K})) AS hi) h
  GROUP BY doc_id, h.hi
),
bands AS (
  SELECT doc_id, hi % 8 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hi)) AS sig
  FROM mh GROUP BY doc_id, hi % 8
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_DUCK_MINHASH}
SELECT c.doc_a, c.doc_b,
       {duck_round_he(
           f"sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / {MINHASH_K}.0", 4
       )}
         AS est_jaccard
FROM cand c
JOIN mh x ON x.doc_id = c.doc_a
JOIN mh y ON y.doc_id = c.doc_b AND x.hi = y.hi
GROUP BY c.doc_a, c.doc_b
HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / {MINHASH_K}.0
       >= {MINHASH_EST_THRESHOLD}
""",
    tags=("dedup", "minhash", "lsh"),
    exported=False,  # driver-visible via facets2.dedup_minhash_prefix
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection: shingle → 16 minhashes
    → 8 bands of 2 → candidates share a band signature → estimated
    Jaccard = fraction of equal minhashes. The banded join is the 100 TB
    path: comparisons scale with bucket collisions, not corpus².
    Deterministic md5-derived hash functions make this reproducible
    across engines (and runs)."""
    docs = load_table(spark, sf_dir, "documents")
    _, bands = _minhash_tables(docs)
    a = bands.alias("a")
    b = bands.alias("b")
    # Estimated Jaccard straight from the two signature arrays riding
    # on the band rows — no signature re-join, no pair aggregation.
    # Candidate pairs found via >1 band collapse in the distinct (the
    # estimate is a pure function of the pair, so it dedups with them).
    est = F.expr(
        "aggregate(zip_with(a.sig_arr, b.sig_arr,"
        " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    ) / float(MINHASH_K)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("_est"),
        )
        .distinct()
        .filter(F.col("_est") >= MINHASH_EST_THRESHOLD)
        # round_he, not round(): the estimate is k/MINHASH_K — dyadic
        # ratios scale to EXACT integer halves (e.g. 3/32 × 1e4 =
        # 937.5), the one place engine round() rules genuinely split.
        .select("doc_a", "doc_b", round_he(F.col("_est"), 4).alias("est_jaccard"))
    )


_DUCK_SIMHASH = f"""
toks2 AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tokcnt AS (SELECT doc_id, token, count(*) AS cnt FROM toks2 GROUP BY 1, 2),
bitsum AS (
  SELECT doc_id, b.bitpos,
         sum(CASE WHEN ({DUCK_H60.format(x='token')} >> b.bitpos) & 1 = 1
                  THEN cnt ELSE -cnt END) AS s
  FROM tokcnt CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS bitpos) b
  GROUP BY doc_id, b.bitpos
),
simh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bitpos)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY doc_id
)
"""


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (Charikar'02): weighted bit votes
    from token-frequency counts. One narrow aggregation pipeline —
    tokens × 60 bit positions — shuffled by (doc_id, bit)."""
    docs = load_table(spark, sf_dir, "documents")
    tokcnt = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.expr(SPARK_H60.format(x="token")))
    )
    bitsum = (
        tokcnt.select(
            "doc_id",
            "cnt",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bitpos"),
        )
        .groupBy("doc_id", "bitpos")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, bitpos) & 1) = 1"), F.col("cnt")).otherwise(
                    -F.col("cnt")
                )
            ).alias("s")
        )
    )
    return (
        bitsum.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(1L, bitpos)")).otherwise(0)
            )
            .cast("bigint")
            .alias("simhash")
        )
    )


_SIMHASH_PAIRS_ORACLE_BODY = f"""
WITH {_DUCK_SIMHASH},
chunks AS (
  SELECT doc_id, simhash, c.chunk_id,
         (simhash >> (c.chunk_id * 15)) & 32767 AS chunk_val
  FROM simh CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk_id) c
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
                  b.doc_id AS doc_b, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
"""


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole blocking: hamming ≤ 3
    over 60 bits ⇒ at least one of four 15-bit chunks is equal, so the
    join key is (chunk_id, chunk_val) — never all-pairs."""
    # Both join sides derive from the fingerprint table (1 row/doc);
    # persisted so the 3-stage SimHash pipeline runs once.
    simh = simhash_fingerprint(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    return _simhash_pairs_from(simh)


def _simhash_pairs_from(simh: DataFrame) -> DataFrame:
    """Pigeonhole-blocked pair search over a (doc_id, simhash) table."""
    chunks = simh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk_id"),
    ).withColumn("chunk_val", F.expr("shiftright(simhash, chunk_id * 15) & 32767"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)")
    return cand.filter(hamming <= SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


CC_MAX_ROUNDS = 50  # safety bound; near-dup graphs have tiny diameter


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_DUCK_MINHASH},
p AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN mh x ON x.doc_id = c.doc_a
  JOIN mh y ON y.doc_id = c.doc_b AND x.hi = y.hi
  GROUP BY c.doc_a, c.doc_b
  HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / {MINHASH_K}.0
         >= {MINHASH_EST_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM p
),
walk(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
)
SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS canonical_id
FROM walk GROUP BY src
"""


def dedup_canonical_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the
    MinHash near-dup pair graph; every clustered document maps to the
    minimum doc_id in its component (the canonical survivor — the
    "keep one per duplicate cluster" step after pair detection).

    Iterative min-label propagation: each round joins labels to the
    symmetric edge list and takes the per-node min — one shuffle join
    + one aggregate per round, converging in ≤ graph-diameter rounds
    (near-dup graphs are shallow; Kiveris'14 large-star/small-star
    halves rounds if ever needed). Lineage is cut with localCheckpoint
    per round; the driver sees only a scalar convergence check, never
    rows. The DuckDB oracle is the same fixpoint as a recursive CTE."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("lbl").cast("bigint").alias("canonical_id")
    )


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components of an undirected pair list (columns
    ``doc_a``, ``doc_b``) by iterative min-label propagation; returns
    (node, lbl) where lbl = the component's minimum node id. See
    dedup_canonical_components for the scale analysis."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(CC_MAX_ROUNDS):
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "lbl")
        nxt = labels.union(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))
        # One propagation round, pre-checkpoint (armed-only no-op).
        labels = audited_checkpoint("components_round", nxt)
        # Labels only ever decrease: an unchanged sum ⇔ a fixpoint.
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:  # pragma: no cover - CC_MAX_ROUNDS >> any real diameter
        raise RuntimeError("connected components did not converge")
    # The checkpointed labels are the only live result: drop the edge
    # cache so long-lived sessions don't accumulate dead blocks (and a
    # leftover InMemoryRelation can't splice this build's lineage into
    # a LATER query's audited plan).
    edges.unpersist(False)
    return labels


# -- consolidated registry queries -----------------------------------------


EXACT_COMPONENTS = Federation(
    "facet STRING, key STRING, doc_id BIGINT, n BIGINT",
    [
        ("exact", """
SELECT sha256(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
         {"key": "content_hash", "doc_id": "keep_doc_id", "n": "n_copies"}),
        ("component", _COMPONENTS_ORACLE,
         {"key": "CAST(doc_id AS STRING)", "doc_id": "canonical_id"}),
    ],
)


@query(
    "dedup_exact_components",
    oracle=EXACT_COMPONENTS.oracle,
    tags=("dedup", "exact", "connected-components"),
)
def dedup_exact_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-resolution dedup surface, two facets: `exact`
    (sha256-content groups: key = content hash, doc_id = kept min,
    n = copy count — one shuffle keyed on the 32-byte hash so shuffle
    volume is O(corpus count) not O(corpus bytes)) and `component`
    (connected components over the MinHash near-dup graph via
    iterative min-label propagation: key = member doc, doc_id = the
    component's canonical minimum). The iterative propagation is the
    genuinely non-SQL-shaped operator here; the recursive-CTE oracle
    proves it exact."""
    exact = EXACT_COMPONENTS.project("exact", dedup_exact(spark, sf_dir))
    comp = EXACT_COMPONENTS.project(
        "component", dedup_canonical_components(spark, sf_dir)
    )
    return exact.unionAll(comp)


SIMHASH_DEDUP = Federation(
    "facet STRING, doc_a BIGINT, doc_b BIGINT, hamming INT, simhash BIGINT",
    [
        ("fingerprint", f"WITH {_DUCK_SIMHASH}\nSELECT doc_id, simhash FROM simh",
         {"doc_a": "doc_id", "simhash": "simhash"}),
        ("near_pair", _SIMHASH_PAIRS_ORACLE_BODY,
         {"doc_a": "doc_a", "doc_b": "doc_b", "hamming": "hamming"}),
    ],
)


@query(
    "simhash_dedup",
    oracle=SIMHASH_DEDUP.oracle,
    tags=("dedup", "simhash", "lsh"),
    exported=False,  # driver-visible via facets2.doc_fingerprint_methods
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup, two facets: `fingerprint` (the 60-bit Charikar
    fingerprint per document) and `near_pair` (hamming ≤ 3 pairs found
    via pigeonhole chunk blocking — never all-pairs). The fingerprint
    table feeds the pair search, so the federated query computes it
    once and shows both the index and its use."""
    simh = simhash_fingerprint(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    fp = SIMHASH_DEDUP.project("fingerprint", simh)
    pairs = SIMHASH_DEDUP.project("near_pair", _simhash_pairs_from(simh))
    return fp.unionAll(pairs)


# Word-n-gram size for cross-document duplicated-span coverage. 4 for
# the same reason as pipeline.DECON_NGRAM: this synthetic corpus has
# almost no natural 5+-gram overlap, so 4 keeps the op exercising a
# real multi-row duplicated-gram set.
COV_NGRAM = 4
COV_HEAVY_THRESHOLD = 0.5  # planted near-dups sit at coverage ≥ 0.5


@query(
    "dedup_crossdoc_ngram_coverage",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i, array_to_string(t[i : i + {COV_NGRAM - 1}], ' ') AS gram
  FROM toks
  CROSS JOIN unnest(range(1, greatest(len(t) - {COV_NGRAM - 1}, 1) + 1)) AS r(i)
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
occ AS (SELECT g.doc_id, g.i FROM grams g JOIN dup USING (gram)),
pos AS (
  SELECT DISTINCT doc_id, p
  FROM occ, unnest(range(occ.i, occ.i + {COV_NGRAM})) AS rr(p)
),
st AS (SELECT doc_id, count(*) AS n_occ FROM occ GROUP BY 1),
cv AS (SELECT doc_id, count(*) AS covered FROM pos GROUP BY 1),
sz AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
SELECT sz.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_occ, 0) AS BIGINT) AS dup_gram_occurrences,
       CAST(COALESCE(covered, 0) AS BIGINT) AS covered_tokens,
       {duck_round_he("CAST(COALESCE(covered, 0) AS DOUBLE) / n_tokens", 6)}
         AS coverage_frac,
       CAST(CASE WHEN CAST(COALESCE(covered, 0) AS DOUBLE) / n_tokens
                      >= {COV_HEAVY_THRESHOLD}
            THEN 1 ELSE 0 END AS INTEGER) AS dup_heavy
FROM sz
LEFT JOIN st ON sz.doc_id = st.doc_id
LEFT JOIN cv ON sz.doc_id = cv.doc_id
""",
    tags=("dedup", "coverage"),
    exported=False,
)
def dedup_crossdoc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage — the scalable
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of token positions covered by at least
    one word-{COV_NGRAM}-gram that also occurs in ANOTHER document.
    Documents above COV_HEAVY_THRESHOLD are near-verbatim duplicates
    that exact-hash dedup misses (they differ somewhere) and pairwise
    Jaccard prices quadratically.

    Scale shape: grams are hashed to 8-byte ints (xxhash64 — the hash
    never reaches the output, so injectivity-in-practice suffices; the
    oracle groups the raw strings), repartitioned by gram hash ONCE and
    persisted, so the duplicated-gram aggregation and the
    occurrence-enrichment self-join both reuse that single shuffle.
    Position coverage then aggregates per doc_id — comparisons scale
    with duplicated-gram occurrences, never corpus².
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(t) - {COV_NGRAM - 1}, 1)),"
                    f" i -> struct(i AS i,"
                    f" concat_ws(' ', slice(t, i, {COV_NGRAM})) AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.i", F.xxhash64("g.gram").alias("gh"))
        .repartition("gh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("gh")
    )
    occ = grams.join(dup, "gh").select("doc_id", "i")
    stats = (
        occ.select(
            "doc_id",
            "i",
            F.explode(F.sequence(F.col("i"), F.col("i") + (COV_NGRAM - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("i").alias("dup_gram_occurrences"),
            F.countDistinct("p").alias("covered_tokens"),
        )
    )
    sz = toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
    covered = F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("bigint")
    frac = covered.cast("double") / F.col("n_tokens")
    return sz.join(stats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_gram_occurrences"), F.lit(0))
        .cast("bigint")
        .alias("dup_gram_occurrences"),
        covered.alias("covered_tokens"),
        round_he(frac, 6).alias("coverage_frac"),
        F.when(frac >= COV_HEAVY_THRESHOLD, 1).otherwise(0).cast("int").alias("dup_heavy"),
    )


INC_MOD = 5  # h60 bucket 0 of 5 → ~20% of docs form the "new" batch

_DUCK_IS_NEW = (
    DUCK_H60.format(x="'inc:' || CAST(doc_id AS VARCHAR)") + f" % {INC_MOD} = 0"
)


@query(
    "dedup_incremental",
    oracle=f"""
WITH {_DUCK_MINHASH},
base AS (SELECT doc_id, text, {_DUCK_IS_NEW} AS is_new FROM documents),
ex AS (
  SELECT b.doc_id, CAST(min(c.doc_id) AS BIGINT) AS duplicate_of
  FROM base b JOIN base c
    ON sha256(b.text) = sha256(c.text) AND b.is_new AND NOT c.is_new
  GROUP BY 1
),
nb AS (
  SELECT a.doc_id, CAST(min(b.doc_id) AS BIGINT) AS duplicate_of
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id <> b.doc_id
  JOIN base na ON na.doc_id = a.doc_id
  JOIN base nc ON nc.doc_id = b.doc_id
  WHERE na.is_new AND NOT nc.is_new
  GROUP BY 1
)
SELECT doc_id, 'exact' AS kind, duplicate_of FROM ex
UNION ALL
SELECT doc_id, 'near_band', duplicate_of FROM nb
""",
    tags=("dedup", "incremental"),
    exported=False,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production pipelines actually run:
    a NEW document batch (deterministic ~20% hash slice standing in for
    today's crawl) checked against the EXISTING corpus only, never
    batch x batch or corpus x corpus. Two tiers per new document:
    `exact` (sha256 content match) and `near_band` (shares a MinHash
    LSH band signature with a corpus document), each reporting the
    lowest matching corpus doc_id.

    Scale shape: cost scales with |batch| x collision rate, not
    |corpus|²; the content-hash join shuffles 32-byte digests and the
    band join shuffles band signatures — both O(corpus count) keys.
    The MinHash/band tables are built once over corpus ∪ batch (the
    same `_minhash_tables` the full LSH dedup uses) and split by the
    membership flag afterward.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = (
        F.expr(SPARK_H60.format(x="concat('inc:', cast(doc_id as string))"))
        % INC_MOD
        == 0
    )
    base = docs.select("doc_id", "text", is_new.alias("is_new"))
    hashes = base.select(
        "doc_id", "is_new", F.sha2("text", 256).alias("content_hash")
    )
    newh = hashes.filter("is_new").select(
        F.col("doc_id"), F.col("content_hash")
    )
    oldh = hashes.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), F.col("content_hash")
    )
    exact = (
        newh.join(oldh, "content_hash")
        .groupBy("doc_id")
        .agg(F.min("old_id").cast("bigint").alias("duplicate_of"))
        .select("doc_id", F.lit("exact").alias("kind"), "duplicate_of")
    )
    _, bands = _minhash_tables(docs)
    flags = base.select("doc_id", "is_new")
    nb_new = bands.join(flags, "doc_id").filter("is_new")
    nb_old = bands.join(flags, "doc_id").filter(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "band", "sig"
    )
    near = (
        nb_new.join(nb_old, ["band", "sig"])
        .filter(F.col("doc_id") != F.col("old_id"))
        .groupBy("doc_id")
        .agg(F.min("old_id").cast("bigint").alias("duplicate_of"))
        .select("doc_id", F.lit("near_band").alias("kind"), "duplicate_of")
    )
    return exact.unionAll(near)


# -- Prefix-filtering set-similarity join (PPJoin-lite) ---------------------

PF_TAU = 0.5  # shingle-set Jaccard threshold


@query(
    "dedup_prefix_filter",
    oracle=f"""
WITH {_DUCK_SHINGLES_H},
tf AS (SELECT sh_h, CAST(count(*) AS BIGINT) AS freq FROM shh GROUP BY sh_h),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shh GROUP BY doc_id),
ranked AS (
  SELECT d.doc_id, d.sh_h,
         row_number() OVER (PARTITION BY d.doc_id ORDER BY t.freq, d.sh_h)
           AS rk,
         s.n
  FROM shh d JOIN tf t USING (sh_h) JOIN sizes s USING (doc_id)
),
pfx AS (
  SELECT doc_id, sh_h FROM ranked
  WHERE rk <= CAST(floor((1.0 - CAST({{PF_TAU!r}} AS DOUBLE)) * CAST(n AS DOUBLE))
                   AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN shh ta ON ta.doc_id = c.id_a
  JOIN shh tb ON tb.doc_id = c.id_b AND tb.sh_h = ta.sh_h
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_common, sa.n AS n_a, sb.n AS n_b,
       floor(CAST(i.n_common AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_common AS DOUBLE)
             * CAST(1000000.0 AS DOUBLE) + 0.5) / CAST(1000000.0 AS DOUBLE)
         AS jaccard6
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(sa.n + sb.n - i.n_common AS DOUBLE) >= CAST({{PF_TAU!r}} AS DOUBLE)
""".format(PF_TAU=PF_TAU),
    tags=("dedup", "jaccard", "prefix-filter", "documents"),
    exported=False,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (the PPJoin family,
    Xiao et al. 2008) — the fifth blocking strategy alongside the
    any-shingle equi-join, MinHash bands, SimHash chunks, and
    sign-LSH: order each doc's shingle-hash set by ascending global
    frequency (rarest first; ties on hash), keep only the first
    floor((1-tau)*n)+1 as the PREFIX, and generate candidates from a
    prefix equi-join. Completeness: two sets with Jaccard >= tau
    overlap in more than n - ceil(tau*n) elements, so their prefixes
    must share one. Rare-first ordering keeps prefix buckets small (a
    boilerplate shingle shared by every doc never enters a prefix), so
    candidate volume is a strict subset of the any-shingle join's —
    at this fixture tau, ~12k any-shingle candidate pairs collapse to
    the ~28 true near-dup pairs' neighborhoods. Exact Jaccard over the
    full hash sets verifies candidates (integer-count ratio, shared
    IEEE rounding).

    100 TB shape: one corpus tokenize + one frequency aggregate; the
    candidate join shuffles only prefix hashes (<= (1-tau)*|doc|+1
    each); verification joins are bounded by the candidate count."""
    docs = load_table(spark, sf_dir, "documents")
    shh = (
        _spark_shingles(docs)
        .select("doc_id", F.expr(SPARK_H60.format(x="shingle")).alias("sh_h"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tf = shh.groupBy("sh_h").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    sizes = shh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ranked = (
        shh.join(tf, "sh_h")
        .join(sizes, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("doc_id").orderBy("freq", "sh_h")),
        )
    )
    pfx = ranked.filter(
        F.col("rk")
        <= F.floor((F.lit(1.0) - F.lit(PF_TAU)) * F.col("n").cast("double")).cast(
            "bigint"
        )
        + F.lit(1)
    ).select("doc_id", "sh_h")
    pa = pfx.select(F.col("doc_id").alias("id_a"), "sh_h")
    pb = pfx.select(F.col("doc_id").alias("id_b"), "sh_h")
    cand = (
        pa.join(pb, "sh_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = shh.select(F.col("doc_id").alias("id_a"), "sh_h")
    tb = shh.select(F.col("doc_id").alias("id_b"), "sh_h")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "sh_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= F.lit(PF_TAU))
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            (F.floor(jac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "jaccard6"
            ),
        )
    )


# -- span-level exact substring dedup ---------------------------------------
#
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better" (ACL 2022) deduplicates at the SUBSTRING level: a span that
# recurs verbatim across documents is cut even when the documents as a
# whole are distinct. The suffix-array construction there is
# single-machine; the distributed equivalent used here is the standard
# windowed-hash reduction: slide fixed-width character windows at a
# stride, hash each window (shared md5-H60, engine-portable), and
# shuffle WINDOW HASHES (8-byte keys) — a span is duplicated iff its
# hash occurs in >= 2 distinct docs. Never all-pairs: candidate work
# is Σ bucket² over identical-span buckets only, and the per-doc
# verdict is one aggregate over the doc's own spans.
#
# 100 TB shape: one explode (docs → ~len/stride span rows, local), one
# hash-keyed shuffle for the duplicate-set aggregate, one hash join of
# span rows against the (much smaller) duplicated-hash set, one
# groupBy(doc_id). Window width 40 chars ≈ the 50-token span of the
# paper scaled to the fixture's short docs; stride 20 halves the rows
# at 2× coarser cut granularity — both are literals baked into the
# Spark plan and the oracle so the engines cannot desync.

SPAN_W = 40
SPAN_STRIDE = 20

# The windowed-hash span builder, shared verbatim by the reporter
# (dedup_substring_spans) and the scrubber (dedup_substring_scrub) so
# the two stages can never desync on window geometry.
_SPANS_CTE = f"""spans AS (
  SELECT doc_id,
         CAST(s AS BIGINT) AS start,
         {DUCK_H60.format(x=f"substring(text, CAST(s AS INT), {SPAN_W})")} AS h
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - {SPAN_W} + 1, 0) + 1,
                               {SPAN_STRIDE})) AS s) g
  WHERE length(text) >= {SPAN_W}
)"""

# The duplicated-span set that both facets of the reporter read.
_DUP_SPANS_CTE = f"""{_SPANS_CTE},
dup AS (
  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)"""

_SPAN_DOC_ORACLE = f"""
WITH {_DUP_SPANS_CTE},
per_doc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
         CAST(min(CASE WHEN d.h IS NOT NULL THEN s.start END) AS BIGINT)
           AS first_dup_start
  FROM spans s LEFT JOIN dup d ON s.h = d.h
  GROUP BY s.doc_id
)
SELECT * FROM per_doc WHERE n_dup_spans > 0
"""

SUBSTRING_SPANS = Federation(
    "facet STRING, id BIGINT, n_spans BIGINT, n_dup_spans BIGINT,"
    " first_dup_start BIGINT",
    [
        ("doc", _SPAN_DOC_ORACLE,
         {"id": "doc_id", "n_spans": "n_spans", "n_dup_spans": "n_dup_spans",
          "first_dup_start": "first_dup_start"}),
        ("span", f"""
WITH {_DUP_SPANS_CTE}
SELECT * FROM dup ORDER BY n_occurrences DESC, n_docs DESC, h LIMIT 20
""",
         {"id": "h", "n_spans": "n_docs", "n_dup_spans": "n_occurrences"}),
    ],
)


def _span_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, start, h) windowed-hash span rows — the Spark twin of
    the `_SPANS_CTE` oracle fragment (same width/stride literals)."""
    return (
        docs.filter(F.length("text") >= SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("text") - F.lit(SPAN_W - 1), F.lit(0)
                    ),
                    F.lit(SPAN_STRIDE),
                )
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            F.col("start").cast("bigint").alias("start"),
            F.expr(
                SPARK_H60.format(
                    x=f"substring(text, cast(start as int), {SPAN_W})"
                )
            ).alias("h"),
        )
    )


@query(
    "dedup_substring_spans",
    oracle=SUBSTRING_SPANS.oracle,
    tags=("dedup", "substring", "span", "documents"),
    exported=False,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (see section comment), two
    facets: `doc` (per affected doc: total spans, duplicated spans,
    first duplicated offset — the cut list a scrubber consumes) and
    `span` (top-20 most-recurrent spans by occurrence count — the
    boilerplate leaderboard). All-integer output."""
    spans = _span_rows(load_table(spark, sf_dir, "documents"))
    # Multi-consumer (dup-set aggregate + per-doc join): persist the
    # hashed span rows so the explode+md5 pass runs once.
    from pyspark import StorageLevel

    spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        spans.groupBy("h")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    per_doc = (
        spans.join(dup.select("h", F.lit(1).alias("_dup")), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.min(
                F.when(F.col("_dup").isNotNull(), F.col("start"))
            ).alias("first_dup_start"),
        )
        .filter(F.col("n_dup_spans") > 0)
    )
    top = (
        dup.orderBy(
            F.desc("n_occurrences"), F.desc("n_docs"), F.asc("h")
        )
        .limit(20)
    )
    return SUBSTRING_SPANS.project("doc", per_doc).unionAll(
        SUBSTRING_SPANS.project("span", top)
    )


# -- substring-dedup scrubber (the consumer stage) --------------------------
#
# Lee et al. don't stop at REPORTING duplicated spans — they cut them
# from the corpus. The cut rule here is the deterministic version of
# theirs: for every duplicated window hash, the globally FIRST
# occurrence (min doc_id, then min start — a total order, so both
# engines agree) is canonical and survives; every other occurrence's
# [start, start+W) character range is removed from its document.
# Overlapping cut ranges within a doc merge naturally.
#
# 100 TB shape: the same span-hash shuffle as the reporter, one
# row_number window over identical-span buckets (bounded bucket sizes
# — same skew profile as the duplicate-set aggregate), one
# groupBy(doc_id) to gather each doc's cut list (≤ len/stride entries),
# then a purely LOCAL per-doc fold (JVM higher-order `aggregate`, no
# Python) that rebuilds the kept text in one pass with a cursor.
# Nothing is all-pairs; document bodies shuffle once (the cut-list
# join). The oracle replays the cut per-character (NOT EXISTS over cut
# ranges) — O(total chars) is fine at oracle scale and obviously
# correct, while the engine path stays O(cuts) per doc.

_SCRUB_ORACLE = f"""
WITH {_SPANS_CTE},
dup AS (
  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT s.doc_id, s.start,
         row_number() OVER (PARTITION BY s.h ORDER BY s.doc_id, s.start)
           AS rn
  FROM spans s JOIN dup USING (h)
),
cuts AS (SELECT doc_id, start FROM occ WHERE rn > 1),
cut_docs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_spans
  FROM cuts GROUP BY doc_id
),
chars AS (
  SELECT d.doc_id, CAST(p AS BIGINT) AS p,
         substring(d.text, CAST(p AS INT), 1) AS ch
  FROM documents d JOIN cut_docs cd ON d.doc_id = cd.doc_id,
       LATERAL (SELECT unnest(range(1, length(d.text) + 1)) AS p) g
),
scrub AS (
  SELECT c.doc_id,
         COALESCE(string_agg(CASE WHEN NOT EXISTS (
             SELECT 1 FROM cuts k
             WHERE k.doc_id = c.doc_id
               AND c.p >= k.start AND c.p < k.start + {SPAN_W}
           ) THEN c.ch END, '' ORDER BY c.p), '') AS stext
  FROM chars c GROUP BY c.doc_id
)
SELECT s.doc_id,
       CAST(length(d.text) AS BIGINT) AS orig_len,
       cd.n_cut_spans,
       CAST(length(s.stext) AS BIGINT) AS scrub_len,
       {DUCK_H60.format(x="s.stext")} AS scrub_h
FROM scrub s
JOIN documents d ON d.doc_id = s.doc_id
JOIN cut_docs cd ON cd.doc_id = s.doc_id
"""

# The per-doc cut fold: cut_starts is the doc's sorted cut list; the
# accumulator carries (kept-text-so-far, cursor). A cut whose end is
# already behind the cursor is fully absorbed by an earlier overlap;
# otherwise append the gap [cursor, start) and advance the cursor past
# the cut. The finisher appends the tail. All JVM (whole-stage
# higher-order function), no Python, no extra shuffle.
_SCRUB_FOLD = f"""
aggregate(
  cut_starts,
  named_struct('txt', cast('' as string), 'cur', cast(1 as bigint)),
  (acc, s) -> if(
    s + {SPAN_W} <= acc.cur,
    acc,
    named_struct(
      'txt', concat(acc.txt,
                    substring(text, cast(acc.cur as int),
                              cast(greatest(s - acc.cur,
                                            cast(0 as bigint)) as int))),
      'cur', greatest(acc.cur, s + {SPAN_W}))),
  acc -> concat(acc.txt,
                substring(text, cast(acc.cur as int), length(text)))
)"""


@query(
    "dedup_substring_scrub",
    oracle=_SCRUB_ORACLE,
    tags=("dedup", "substring", "scrub", "documents"),
    exported=False,  # driver-visible via facets2.dedup_extended
)
def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup SCRUBBER (see section comment): emits, per
    affected document, the original length, the number of cut spans,
    and the scrubbed text's length + portable md5-h60 hash — the hash
    pins the exact output corpus byte-for-byte against the DuckDB
    replay, not just its statistics."""
    docs = load_table(spark, sf_dir, "documents")
    spans = _span_rows(docs).persist(StorageLevel.MEMORY_AND_DISK)
    dup_h = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    occ = spans.join(dup_h, "h")
    win = W.partitionBy("h").orderBy("doc_id", "start")
    cuts = (
        occ.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") > 1)
        .select("doc_id", "start")
    )
    per_doc = cuts.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("start")).alias("cut_starts"),
        F.count(F.lit(1)).cast("bigint").alias("n_cut_spans"),
    )
    joined = docs.select("doc_id", "text").join(per_doc, "doc_id")
    return joined.select(
        "doc_id",
        F.length("text").cast("bigint").alias("orig_len"),
        "n_cut_spans",
        F.expr(_SCRUB_FOLD).alias("stext"),
    ).select(
        "doc_id",
        "orig_len",
        "n_cut_spans",
        F.length("stext").cast("bigint").alias("scrub_len"),
        F.expr(SPARK_H60.format(x="stext")).alias("scrub_h"),
    )
