"""Training-data pipeline operators: deterministic splits, stratified
sampling, source mixing, document chunking, vocabulary construction.

These are the assembly steps between the raw corpus and a training run
— absent from the reference (whose only workloads are wordcount/grep,
SURVEY.md §2.2) and mandated by BASELINE.json's north star.

Design rules at 100 TB:
- **Sampling/splitting is a pure hash predicate** — `h60(id) % N`
  with the engine-agnostic md5 hash — so it is (a) a narrow filter
  Catalyst pushes down, no shuffle, no rand() (nondeterministic under
  task retry ⇒ a document could land in BOTH train and test on
  different runs), and (b) bit-reproducible across engines and
  re-runs.
- **Mixing** is sampling with per-source rates: a broadcast rate table
  and one filter pass; never a per-source union of N scans.
- **Chunking** multiplies rows, not bytes: explode over a sequence of
  offsets computed from token counts, all JVM-side.
- **Vocabulary** is one token-count shuffle + a rank; ids assigned by
  (freq desc, token) so they are stable across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from engine.functions.hashing import DUCK_H60, SPARK_H60
from engine.functions.rounding import duck_round_he, round_he
from engine.io import load_table
from engine.plans import audited_checkpoint
from engine.registry import Federation, query
from engine.operators.textstats import _QQ_QUALITY_DUCK, ngram_idx

TEST_PCT = 5  # h60 buckets 0-4 of 100 → test
VAL_PCT = 5  # buckets 5-9 → val
CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap
VOCAB_MIN_FREQ = 5

_SPLIT_BUCKET_SPARK = SPARK_H60.format(x="concat('split:', cast(doc_id as string))") + " % 100"
_SPLIT_BUCKET_DUCK = DUCK_H60.format(x="'split:' || CAST(doc_id AS VARCHAR)") + " % 100"


@query(
    "pipeline_train_val_test_split",
    oracle=f"""
SELECT split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT doc_id, n_chars,
         CASE WHEN {_SPLIT_BUCKET_DUCK} < {TEST_PCT} THEN 'test'
              WHEN {_SPLIT_BUCKET_DUCK} < {TEST_PCT + VAL_PCT} THEN 'val'
              ELSE 'train' END AS split
  FROM documents
) t GROUP BY split
""",
    tags=("pipeline", "split", "documents"),
    exported=False,  # driver-visible via facets2.pipeline_split_samplers
)
def pipeline_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split via the salted md5
    bucket of doc_id — a pushed-down filter predicate, zero shuffles
    for the assignment itself (the count here just audits it). rand()
    splits are wrong at scale: task retries resample them."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPLIT_BUCKET_SPARK)
    split = (
        F.when(bucket < TEST_PCT, "test")
        .when(bucket < TEST_PCT + VAL_PCT, "val")
        .otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates (downsample the dominant language,
    keep more of the rare ones) as ONE hash predicate — the mixing
    primitive for corpus rebalancing. No shuffle until the audit
    count."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        SPARK_H60.format(x="concat('sample:', cast(doc_id as string))") + " % 100"
    )
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "de", 30)
        .otherwise(50)
    )
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


def pipeline_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing (web downweighted, books upweighted...)
    via per-source keep-rates out of 1000 — the data-mixture step of a
    pretraining pipeline, as one scan + one audit aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        SPARK_H60.format(x="concat('mix:', cast(doc_id as string))") + " % 1000"
    )
    rate = (
        F.when(F.col("source") == "web", 200)
        .when(F.col("source") == "books", 800)
        .when(F.col("source") == "code", 600)
        .otherwise(400)
    )
    sampled = docs.filter(bucket < rate).select("source")
    total = sampled.agg(F.count(F.lit(1)).alias("n_total"))
    # Mixture share in basis points, computed entirely in BIGINT:
    # round-half-up(10000*n/total) = (20000*n + total) div (2*total).
    # No double exists anywhere in the expression, so the value cannot
    # depend on engine float semantics at all.
    frac_bp = F.expr("(20000 * n_docs + n_total) DIV (2 * n_total)").cast(
        "bigint"
    )
    return (
        sampled.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(total))
        .select("source", "n_docs", frac_bp.alias("frac_bp"))
    )


def _chunk_exprs():
    """(n_chunks, start, end) for the fixed-size overlapping chunk
    grid (CHUNK_TOKENS tokens, stride CHUNK_STRIDE) over a tokenized
    column ``t`` with chunk index ``c`` — the pipeline_scrub_chunks
    `chunk` facet's window math."""
    n_chunks = F.expr(
        f"greatest(ceil((size(t) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}), 0) + 1"
    ).cast("int")
    start = F.col("c") * CHUNK_STRIDE + 1
    end = F.least(F.col("c") * CHUNK_STRIDE + CHUNK_TOKENS, F.size("t"))
    return n_chunks, start, end


def pipeline_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus token counts, min-frequency
    cutoff, ids by (freq desc, token) — stable across runs/engines.
    Ids come from the range-partition global row number
    (engine.operators.globalrank) — no single-partition window, so the
    plan stays parallel even for a 100M-token vocabulary."""
    from engine.operators.globalrank import with_global_row_number

    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= VOCAB_MIN_FREQ)
    )
    numbered, _ = with_global_row_number(
        counted, [F.col("freq").desc(), "token"], out_col="_rn"
    )
    return numbered.select(
        "token",
        "freq",
        (F.col("_rn") - 1).cast("bigint").alias("token_id"),
    )


# Simple, engine-portable patterns (identical regex semantics in Spark
# and DuckDB's RE2-style engines: no lookaround, no backrefs).
_URL_RE = "https?://[^ ]+"
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


def _scrub_expr(col: str = "text"):
    """URL/EMAIL scrub expression (URLs → <URL>, emails → <EMAIL>) —
    the pipeline_scrub_chunks facet's scrub step."""
    return F.regexp_replace(
        F.regexp_replace(col, _URL_RE, "<URL>"), _EMAIL_RE, "<EMAIL>"
    )


def pipeline_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (min-count 5) — the n-gram LM /
    contamination-check statistic. Tokenize once, slide a 2-window via
    transform, one count shuffle keyed by bigram; hot bigrams are the
    classic skew case AQE handles (or salted_agg for the extreme
    tail)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("t"))
    bi = toks.select(
        F.explode(
            F.expr(
                f"transform({ngram_idx(2)},"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 5)
    )


# Word n-gram size for contamination checks. Production pipelines use
# 8-13; this synthetic corpus has almost no natural 5+-gram overlap
# (1 doc), so 4 keeps the oracle gate exercising a real multi-row join.
DECON_NGRAM = 4
DECON_EVAL_MOD = 20  # h60 bucket 0 of 20 → ~5% held-out eval set
PACK_CTX = 256  # tokens per packed training sequence
PACK_BUCKETS = 8  # independent packing streams (≈ executors × k at scale)

_DECON_EVAL_SPARK = (
    SPARK_H60.format(x="concat('decon:', cast(doc_id as string))")
    + f" % {DECON_EVAL_MOD} = 0"
)
_DECON_EVAL_DUCK = (
    DUCK_H60.format(x="'decon:' || CAST(doc_id AS VARCHAR)") + f" % {DECON_EVAL_MOD} = 0"
)


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-{DECON_NGRAM}-gram with the held-out eval slice (deterministic
    ~5% h60 bucket of doc_id). Output = contaminated train doc →
    distinct shared-gram count.

    Scale shape: grams are hashed to 60-bit ints (8-byte shuffle keys),
    deduped per document, and the train⋈eval join shuffles on the gram
    hash — never on text. The eval side is ~5% of the corpus, too big
    to broadcast at 100 TB, so a shuffle hash join on g is the right
    plan; one persist serves both branches of the gram stream."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        f"{_DECON_EVAL_SPARK} AS is_eval",
        "split(lower(text), ' ') AS t",
    )
    grams = (
        toks.selectExpr(
            "doc_id",
            "is_eval",
            f"explode(transform(sequence(1, greatest(size(t) - {DECON_NGRAM - 1}, 1)),"
            f" i -> concat_ws(' ', slice(t, i, {DECON_NGRAM})))) AS gram",
        )
        .selectExpr("doc_id", "is_eval", SPARK_H60.format(x="gram") + " AS g")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ev = grams.filter("is_eval").select("g").distinct()
    return (
        grams.filter("NOT is_eval")
        .join(ev, "g")
        .groupBy("doc_id")
        .agg(F.expr("count(1) AS n_shared_grams"))
    )


def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade attrition audit: minimum length →
    alphabetic-character ratio → mean-word-length band, reported as
    survivors after each successive stage (the standard "how much does
    each filter cost me" dashboard before a pretraining run).

    ONE scan, conditional aggregation — the cascade never materializes
    intermediate corpora; at 100 TB this is a single map-side-combined
    pass. The same boolean columns, used as a filter instead of
    counted, ARE the production filter.

    Every threshold is an integer cross-multiplication (alpha ratio
    ≥ 0.82 becomes ``100*alpha_len >= 82*len``; 5.3 ≤ chars/word ≤ 5.7
    becomes ``10*chars BETWEEN 53*words AND 57*words``) and the word
    count is pure arithmetic (``len - len(without spaces) + 1``), so
    no double — and no engine-varying split() edge semantics — exists
    anywhere in the predicate: both engines evaluate identical exact
    integer comparisons."""
    docs = load_table(spark, sf_dir, "documents")
    c_len = F.col("n_chars") >= 200
    c_alpha = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")) * 100
        >= F.greatest(F.length("text"), F.lit(1)) * 82
    )
    words = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    chars10 = F.length("text") * 10
    c_wlen = (chars10 >= words * 53) & (chars10 <= words * 57)
    m = docs.select(c_len.alias("c_len"), c_alpha.alias("c_alpha"), c_wlen.alias("c_wlen"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return m.agg(
        F.count(F.lit(1)).alias("n_total"),
        one(F.col("c_len")).alias("n_after_len"),
        one(F.col("c_len") & F.col("c_alpha")).alias("n_after_alpha"),
        one(F.col("c_len") & F.col("c_alpha") & F.col("c_wlen")).alias(
            "n_after_wordlen"
        ),
    )


RESERVOIR_K = 20  # fixed sample size per source

_RES_KEY_SPARK = SPARK_H60.format(x="concat('res:', cast(doc_id as string))")
_RES_KEY_DUCK = DUCK_H60.format(x="'res:' || CAST(doc_id AS VARCHAR)")


def pipeline_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-SIZE sample of {RESERVOIR_K} docs per source
    (vs the rate-based samplers): rank by a salted hash priority and
    keep the top {RESERVOIR_K} — the distributed, retry-safe stand-in
    for reservoir sampling (same marginal distribution, no RNG state).

    Scale shape: partitioned window + rank filter ⇒ Spark rewrites it
    to WindowGroupLimit (per-partition top-k pushed before the full
    sort materializes); one shuffle on source. Skewed source sizes
    don't matter — every group keeps ≤ {RESERVOIR_K} rows."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.expr(_RES_KEY_SPARK), "doc_id")
    return (
        docs.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("source", "doc_id", "n_chars")
    )


# -- consolidated registry queries -----------------------------------------
#
# The driver's correctness gate records ~50 entries, so the single-step
# queries above are library forms; the registry ships federated or
# composed queries. Compositions (scrub→chunk, decontaminate→pack) are
# the honest production lineage anyway: nobody chunks unscrubbed text
# or packs contaminated documents.


SAMPLERS = Federation(
    "facet STRING, grp STRING, doc_id BIGINT, n BIGINT",
    [
        ("stratified", f"""
SELECT lang, count(*) AS n_sampled
FROM documents
WHERE {DUCK_H60.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 100
      < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 30 ELSE 50 END
GROUP BY lang
""",
         {"grp": "lang", "n": "n_sampled"}),
        ("reservoir", f"""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY {_RES_KEY_DUCK}, doc_id)
           AS rk
  FROM documents
) t WHERE rk <= {RESERVOIR_K}
""",
         {"grp": "source", "doc_id": "doc_id", "n": "CAST(n_chars AS BIGINT)"}),
    ],
)


@query(
    "pipeline_samplers",
    oracle=SAMPLERS.oracle,
    tags=("pipeline", "sampling", "documents"),
    exported=False,  # driver-visible via facets2.pipeline_split_samplers
)
def pipeline_samplers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two sampling families, federated: `stratified` (rate-based
    per-language hash-predicate sampling — grp = lang, n = kept count)
    and `reservoir` (fixed-size top-RESERVOIR_K per source by salted
    hash priority, WindowGroupLimit plan — grp = source, one row per
    kept doc with n = n_chars). Both are deterministic hash machinery:
    no rand(), retry-safe, engine-reproducible."""
    strat = SAMPLERS.project("stratified", pipeline_stratified_sample(spark, sf_dir))
    res = SAMPLERS.project("reservoir", pipeline_reservoir_per_source(spark, sf_dir))
    return strat.unionAll(res)


MIX_FUNNEL = Federation(
    "facet STRING, key STRING, n BIGINT, frac_bp BIGINT",
    [
        ("mix", f"""
WITH sampled AS (
  SELECT source FROM documents
  WHERE {DUCK_H60.format(x="'mix:' || CAST(doc_id AS VARCHAR)")} % 1000
        < CASE source WHEN 'web' THEN 200 WHEN 'books' THEN 800
                      WHEN 'code' THEN 600 ELSE 400 END
)
SELECT source, count(*) AS n_docs,
       CAST((20000 * count(*) + (SELECT count(*) FROM sampled))
            // (2 * (SELECT count(*) FROM sampled)) AS BIGINT) AS frac_bp
FROM sampled GROUP BY source
""",
         {"key": "source", "n": "n_docs", "frac_bp": "frac_bp"}),
        ("funnel", """
WITH m AS (
  SELECT n_chars >= 200 AS c_len,
         100 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
           >= 82 * greatest(length(text), 1) AS c_alpha,
         10 * length(text)
           BETWEEN 53 * (length(text) - length(replace(text, ' ', '')) + 1)
               AND 57 * (length(text) - length(replace(text, ' ', '')) + 1)
           AS c_wlen
  FROM documents
),
funnel AS (
  -- CAST: DuckDB's sum(CASE ...) yields HUGEINT, which UNION-ALL-promotes
  -- the whole `n` column and reaches a fetch-layer value hash as
  -- float64/decimal128 instead of int64.  BIGINT keeps the column
  -- hash-identical to Spark's LongType.
  SELECT count(*) AS n_total,
         CAST(sum(CASE WHEN c_len THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_len,
         CAST(sum(CASE WHEN c_len AND c_alpha THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_alpha,
         CAST(sum(CASE WHEN c_len AND c_alpha AND c_wlen THEN 1 ELSE 0 END)
              AS BIGINT) AS n_after_wordlen
  FROM m
)
SELECT 'n_total' AS key, n_total AS n FROM funnel
UNION ALL SELECT 'n_after_len', n_after_len FROM funnel
UNION ALL SELECT 'n_after_alpha', n_after_alpha FROM funnel
UNION ALL SELECT 'n_after_wordlen', n_after_wordlen FROM funnel
""",
         {"key": "key", "n": "n"}),
    ],
)


@query(
    "pipeline_mix_funnel",
    oracle=MIX_FUNNEL.oracle,
    tags=("pipeline", "sampling", "quality", "documents"),
)
def pipeline_mix_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-assembly dashboards, federated: `mix` (weighted source
    mixing via per-source keep rates — key = source, n = kept docs,
    frac_bp = share of the mixture in basis points on a BIGINT grid,
    so no float column reaches the value hash) and `funnel` (quality-filter cascade
    attrition — key = stage name, n = surviving docs). The funnel's
    single wide row is unpivoted to rows so every number rides the
    same facet schema."""
    mix = MIX_FUNNEL.project("mix", pipeline_source_mix(spark, sf_dir))
    funnel = pipeline_quality_funnel(spark, sf_dir).select(
        F.expr(
            "stack(4, 'n_total', n_total, 'n_after_len', n_after_len,"
            " 'n_after_alpha', n_after_alpha, 'n_after_wordlen', n_after_wordlen)"
        ).alias("key", "n")
    )
    return mix.unionAll(MIX_FUNNEL.project("funnel", funnel))


# The scrubbed text that both facets of pipeline_scrub_chunks read.
_SCRUBBED_CTE = f"""scrubbed AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{_URL_RE}', '<URL>', 'g'),
                        '{_EMAIL_RE}', '<EMAIL>', 'g') AS stext
  FROM documents
)"""

SCRUB_CHUNKS = Federation(
    "facet STRING, doc_id BIGINT, chunk_id BIGINT, n1 BIGINT, n2 BIGINT,"
    " n3 BIGINT, n4 BIGINT, txt STRING",
    [
        ("scrub", f"""
WITH {_SCRUBBED_CTE}
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n1,
       CAST(length(stext) AS BIGINT) AS n2,
       CAST(length(text) - length(regexp_replace(text, '{_URL_RE}', '', 'g'))
            AS BIGINT) AS n3,
       CAST(length(text) - length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
            AS BIGINT) AS n4
FROM scrubbed
""",
         {c: c for c in ("doc_id", "n1", "n2", "n3", "n4")}),
        ("chunk", f"""
WITH {_SCRUBBED_CTE},
toks AS (
  SELECT doc_id, string_split(stext, ' ') AS t FROM scrubbed
)
SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
       CAST(c * {CHUNK_STRIDE} + 1 AS BIGINT) AS n1,
       CAST(least(c * {CHUNK_STRIDE} + {CHUNK_TOKENS}, len(t)) AS BIGINT) AS n2,
       array_to_string(t[c * {CHUNK_STRIDE} + 1 :
                         least(c * {CHUNK_STRIDE} + {CHUNK_TOKENS}, len(t))], ' ')
         AS txt
FROM toks
CROSS JOIN unnest(range(0, greatest((len(t) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                                    // {CHUNK_STRIDE}, 0) + 1)) AS r(c)
""",
         {c: c for c in ("doc_id", "chunk_id", "n1", "n2", "txt")}),
    ],
)


@query(
    "pipeline_scrub_chunks",
    oracle=SCRUB_CHUNKS.oracle,
    tags=("pipeline", "scrub", "chunking", "documents"),
)
def pipeline_scrub_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub → chunk composition: URLs/emails are replaced with
    placeholder tags, then the CLEANED text is windowed into
    overlapping training chunks (CHUNK_TOKENS tokens, CHUNK_STRIDE
    stride). Facets: `scrub` (per-doc audit: n1/n2 = chars
    before/after, n3/n4 = url/email chars removed) and `chunk` (one
    row per chunk of scrubbed text: chunk_id, n1/n2 = token
    start/end, txt = chunk text). All JVM regexp/array expressions,
    zero shuffle — the full pipeline is a narrow map at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = docs.select("doc_id", "text", _scrub_expr().alias("stext"))
    audit = scrubbed.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n1"),
        F.length("stext").cast("bigint").alias("n2"),
        (F.length("text") - F.length(F.regexp_replace("text", _URL_RE, "")))
        .cast("bigint")
        .alias("n3"),
        (F.length("text") - F.length(F.regexp_replace("text", _EMAIL_RE, "")))
        .cast("bigint")
        .alias("n4"),
    )
    toks = scrubbed.select("doc_id", F.split("stext", " ").alias("t"))
    n_chunks, start, end = _chunk_exprs()
    chunks = (
        toks.select("doc_id", "t", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c"))
        .select(
            "doc_id",
            F.col("c").cast("bigint").alias("chunk_id"),
            start.cast("bigint").alias("n1"),
            end.cast("bigint").alias("n2"),
            F.concat_ws(" ", F.slice("t", start, end - start + 1)).alias("txt"),
        )
    )
    return SCRUB_CHUNKS.project("scrub", audit).unionAll(
        SCRUB_CHUNKS.project("chunk", chunks)
    )


VOCAB_BIGRAMS = Federation(
    "facet STRING, gram STRING, freq BIGINT, token_id BIGINT",
    [
        ("vocab", f"""
WITH tf AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
),
counted AS (
  SELECT token, count(*) AS freq FROM tf WHERE token <> '' GROUP BY token
)
SELECT token, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT)
         AS token_id
FROM counted WHERE freq >= {VOCAB_MIN_FREQ}
""",
         {"gram": "token", "freq": "freq", "token_id": "token_id"}),
        ("bigram", """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
bi AS (
  SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS freq
FROM bi WHERE bigram IS NOT NULL
GROUP BY bigram HAVING count(*) >= 5
""",
         {"gram": "bigram", "freq": "freq"}),
    ],
)


@query(
    "pipeline_vocab_bigrams",
    oracle=VOCAB_BIGRAMS.oracle,
    tags=("pipeline", "vocab", "ngram", "documents"),
)
def pipeline_vocab_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram statistics, federated: `vocab` (unigram counts with
    min-frequency cutoff and stable ids from the range-partition
    global numbering — no single-partition window) and `bigram`
    (corpus bigram frequencies, min-count 5). One tokenize each, one
    count shuffle each; hot grams are the classic AQE-skew case."""
    vocab = VOCAB_BIGRAMS.project("vocab", pipeline_vocab(spark, sf_dir))
    bi = VOCAB_BIGRAMS.project("bigram", pipeline_bigram_counts(spark, sf_dir))
    return vocab.unionAll(bi)


# The contaminated training docs, which the `decontam` facet reports
# and the `pack` facet's clean set excludes.
_CONTAMINATED_CTE = f"""toks AS (
  SELECT doc_id, {_DECON_EVAL_DUCK} AS is_eval,
         string_split(lower(text), ' ') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, is_eval,
         {DUCK_H60.format(x="array_to_string(t[i : i + " + str(DECON_NGRAM - 1) + "], ' ')")} AS g
  FROM toks
  CROSS JOIN unnest(range(1, greatest(len(t) - {DECON_NGRAM - 1}, 1) + 1)) AS r(i)
),
contaminated AS (
  SELECT tr.doc_id, count(*) AS n_shared_grams
  FROM (SELECT doc_id, g FROM grams WHERE NOT is_eval) tr
  JOIN (SELECT DISTINCT g FROM grams WHERE is_eval) ev USING (g)
  GROUP BY tr.doc_id
)"""

# Tokens packed ahead of a doc in its bucket: the same window text on
# both engines; only the integer division is spelled per engine.
_PACK_CUM = (
    "coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
)

DECONTAM_PACK = Federation(
    "facet STRING, doc_id BIGINT, bucket BIGINT, n BIGINT, seq_id BIGINT,"
    " seq_offset BIGINT",
    [
        ("decontam", f"WITH {_CONTAMINATED_CTE}\nSELECT * FROM contaminated",
         {"doc_id": "doc_id", "n": "n_shared_grams"}),
        ("pack", f"""
WITH {_CONTAMINATED_CTE}
SELECT doc_id,
       {DUCK_H60.format(x="'pack:' || CAST(doc_id AS VARCHAR)")} % {PACK_BUCKETS}
         AS bucket,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
WHERE NOT ({_DECON_EVAL_DUCK})
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
         {"doc_id": "doc_id", "bucket": "CAST(bucket AS BIGINT)",
          "n": "CAST(n_tokens AS BIGINT)",
          "seq_id": (f"CAST({_PACK_CUM} / {PACK_CTX} AS BIGINT)",
                     f"CAST({_PACK_CUM} // {PACK_CTX} AS BIGINT)"),
          "seq_offset": f"CAST({_PACK_CUM} % {PACK_CTX} AS BIGINT)"}),
    ],
)


@query(
    "pipeline_decontam_pack",
    oracle=DECONTAM_PACK.oracle,
    tags=("pipeline", "decontamination", "packing", "documents", "headline"),
)
def pipeline_decontam_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminate → pack composition: training documents sharing any
    word-4-gram with the held-out eval slice are flagged (`decontam`
    facet: n = distinct shared grams), then sequence packing runs over
    the CLEAN training set only — eval docs and contaminated docs never
    reach a packed sequence (`pack` facet: bucket, n = doc tokens,
    seq_id/seq_offset of the doc's start).

    Scale shape: gram join shuffles 8-byte hashes; the contaminated set
    (small by construction) anti-joins the corpus; packing windows are
    partitioned by hash bucket — no global state anywhere.

    Materialized eagerly under static planning at a measured width
    (docs/1k — see dedup_ngram_jaccard): the gram/anti-join/window
    stages have corpus-bounded cardinalities, so AQE re-planning only
    added driver round trips (~25% of sf0.1 wall time, interleaved
    A/B)."""
    from engine.session import static_planning

    n_docs = load_table(spark, sf_dir, "documents").count()  # metadata-only
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(conf_parts, -(-n_docs // 1000)))
    with static_planning(spark, shuffle_partitions=width):
        plan, caches = _pipeline_decontam_pack_plan(spark, sf_dir)
        out = audited_checkpoint("decontam_pack_pre", plan)
    for c in caches:
        c.unpersist(False)
    return out


def _pipeline_decontam_pack_plan(spark: SparkSession, sf_dir: str):
    from pyspark import StorageLevel

    contaminated = pipeline_decontaminate(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    decon_facet = DECONTAM_PACK.project("decontam", contaminated)
    docs = load_table(spark, sf_dir, "documents")
    bucket_sql = (
        SPARK_H60.format(x="concat('pack:', cast(doc_id as string))")
        + f" % {PACK_BUCKETS}"
    )
    clean = (
        docs.filter(f"NOT ({_DECON_EVAL_SPARK})")
        .join(contaminated.select("doc_id"), "doc_id", "left_anti")
        .selectExpr(
            "doc_id",
            f"{bucket_sql} AS bucket",
            "size(split(text, ' ')) AS n_tokens",
        )
    )
    pack_facet = DECONTAM_PACK.project("pack", clean)
    return decon_facet.unionAll(pack_facet), [contaminated]


LM_SURPRISE_THRESHOLD = 0.0333  # ~bottom decile of avg bigram likelihood


@query(
    "pipeline_lm_likelihood",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks CROSS JOIN unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)
),
c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c FROM bi GROUP BY 1),
v AS (
  SELECT count(DISTINCT w1) AS v
  FROM (SELECT w1 FROM bi UNION ALL SELECT w2 FROM bi) u(w1)
),
scored AS (
  SELECT b.doc_id,
         CAST(floor(CAST(c12.c + 1 AS DOUBLE) / (c1.c + v.v)
                    * CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS q9
  FROM bi b
  JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
  JOIN c1 ON b.w1 = c1.w1
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(q9) AS BIGINT) AS sum_p_q9
  FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams, sum_p_q9,
       {duck_round_he(
           "CAST(sum_p_q9 AS DOUBLE) / n_bigrams"
           " / CAST(1000000000.0 AS DOUBLE)", 6)} AS avg_bigram_p,
       CAST(CASE WHEN CAST(sum_p_q9 AS DOUBLE) / n_bigrams
                      / CAST(1000000000.0 AS DOUBLE)
                      < {LM_SURPRISE_THRESHOLD}
            THEN 1 ELSE 0 END AS INTEGER) AS surprising
FROM agg
""",
    tags=("pipeline", "lm", "quality"),
    exported=False,
)
def pipeline_lm_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal without the external model: score
    each document by its average add-one-smoothed bigram probability
    under the corpus's own bigram LM, and flag the least-likely
    (most "surprising") decile — the linear-domain stand-in for KenLM
    perplexity filtering (Wenzek et al. 2020).

    Cross-engine exactness by construction: every per-bigram
    probability is an integer-count ratio (bit-identical doubles on
    both engines), quantized to integer billionths and SUMMED AS
    BIGINT — order-independent, so Spark's partition-parallel sum
    cannot diverge from DuckDB's sequential one (the ln-domain
    formulation would accumulate libm ulps and turn the driver hash
    into a lottery). Scale shape: the tokenized bigram stream persists
    once and feeds the LM counts and the scoring join; the scoring
    join shuffles on (w1, w2) against the count table, the unigram
    table broadcasts, and V is a 1-row scalar.
    """
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    bi = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform({ngram_idx(2)},"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
        .filter(F.col("w2").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        bi.select("w1")
        .unionAll(bi.select(F.col("w2").alias("w1")))
        .agg(F.countDistinct("w1").alias("v"))
    )
    q9 = F.floor(
        (F.col("c12") + 1).cast("double")
        / (F.col("c1") + F.col("v"))
        * F.lit(1000000000.0)
    ).cast("bigint")
    scored = (
        bi.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(v))
        .select("doc_id", q9.alias("q9"))
    )
    avg_p = (
        F.col("sum_p_q9").cast("double")
        / F.col("n_bigrams")
        / F.lit(1000000000.0)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("q9").cast("bigint").alias("sum_p_q9"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_p_q9",
            round_he(avg_p, 6).alias("avg_bigram_p"),
            F.when(avg_p < LM_SURPRISE_THRESHOLD, 1)
            .otherwise(0)
            .cast("int")
            .alias("surprising"),
        )
    )


TOKEN_BUDGET_PER_SOURCE = 5000  # whitespace tokens admitted per source


@query(
    "pipeline_token_budget",
    oracle="""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         {quality} AS quality
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_tokens, quality,
         CAST(sum(n_tokens) OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT source, doc_id, n_tokens, quality, cum_tokens
FROM ranked WHERE cum_tokens <= {budget}
""".format(quality=_QQ_QUALITY_DUCK, budget=TOKEN_BUDGET_PER_SOURCE),
    tags=("pipeline", "budget", "quality"),
    exported=False,
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy token-budget allocation: admit each source's
    best documents (by the shared logistic quality score) until the
    source's token budget is exhausted — the data-mixing primitive for
    assembling a fixed-size training corpus from heterogeneous
    sources.

    Determinism: the cumulative sum is BIGINT token counts over a
    fully-ordered window (quality DESC, doc_id) — order-independent
    arithmetic, deterministic order — so the admitted set is
    bit-identical across engines. Scale note: per-source window sort
    has the same giant-source caveat as `quality_quantile_filter`;
    globalrank's range-partitioned two-pass is the drop-in at that
    point.
    """
    from engine.operators.textstats import spark_quality_expr

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint")
        .alias("n_tokens"),
        spark_quality_expr().alias("quality"),
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("source", "doc_id", "n_tokens", "quality", "cum_tokens")
    )


EPOCHS = 2


@query(
    "pipeline_epoch_order",
    oracle=f"""
WITH e AS (SELECT unnest(range(0, {EPOCHS})) AS epoch),
keyed AS (
  SELECT e.epoch, d.doc_id,
         {DUCK_H60.format(x="'epoch:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS hk
  FROM documents d CROSS JOIN e
)
SELECT epoch, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id)
            AS BIGINT) AS pos
FROM keyed
""",
    tags=("pipeline", "shuffle", "documents"),
    exported=False,
)
def pipeline_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: each epoch permutes the
    corpus by the salted h60 hash (`epoch:<e>:<doc_id>`), so every
    epoch sees a different but REPLAY-STABLE order — re-running a
    crashed epoch reproduces byte-identical batches, and no `rand()`
    state needs checkpointing. Positions are assigned with the
    range-partition global numbering (one range shuffle per epoch, no
    single-partition window); the oracle's plain window is DuckDB's
    single-node equivalent of the same total order."""
    from engine.operators.globalrank import with_global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = None
    for e in range(EPOCHS):
        hk = SPARK_H60.format(
            x=f"concat('epoch:{e}:', cast(doc_id as string))"
        )
        keyed = docs.select(
            F.lit(e).cast("bigint").alias("epoch"),
            "doc_id",
            F.expr(hk).alias("hk"),
        )
        numbered, _ = with_global_row_number(
            keyed, ["hk", "doc_id"], out_col="pos"
        )
        part = numbered.select("epoch", "doc_id", F.col("pos").cast("bigint"))
        out = part if out is None else out.unionAll(part)
    return out


# -- temperature-based source mixing ----------------------------------------
#
# Multilingual/multi-source LM corpora are rarely mixed at natural
# proportions: high-resource sources drown the tail. The standard fix
# (GPT-3's data mixing, mT5/UniMax sampling) reweights source s by
# n_s^alpha with alpha < 1 — alpha = 1 is natural sampling, alpha = 0
# is uniform, alpha = 0.5 (used here: exactly sqrt, whose IEEE result
# is correctly rounded and therefore engine-identical) is the common
# compromise. Everything after the sqrt rides integer grids: the
# per-source weight is floor(sqrt(n_s)*1e6 + 0.5) (a BIGINT), the
# normalizer is an exact BIGINT sum, and the keep-rate in basis points
# is half-up integer division — no float reaches the output or the
# sampling predicate. Sampling is the engine's standard deterministic
# hash predicate (h60 of a salted doc id), so the sampled corpus is
# reproducible across engines and runs.
#
# 100 TB shape: one count aggregate per source (map-side partial), a
# broadcast of the O(sources) rate table, one pass over the corpus
# with the hash predicate, one final count per source. No shuffle of
# document bodies at all.

MIX_ALPHA_NOTE = "alpha = 0.5 (sqrt); generalize via pow(n, alpha)"

_TMIX_H = DUCK_H60.format(x="'tmix:' || CAST(doc_id AS VARCHAR)")

_TMIX_ORACLE = f"""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
q AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           AS w_grid
  FROM c
),
t AS (SELECT CAST(sum(w_grid) AS BIGINT) AS tot FROM q),
r AS (
  SELECT source, n_docs, w_grid,
         CAST((20000 * w_grid + tot) // (2 * tot) AS BIGINT) AS rate_bp
  FROM q CROSS JOIN t
),
s AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN r ON d.source = r.source
  WHERE {_TMIX_H} % 10000 < r.rate_bp
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.w_grid, r.rate_bp,
       COALESCE(s.n_sampled, CAST(0 AS BIGINT)) AS n_sampled
FROM r LEFT JOIN s USING (source)
"""


@query(
    "pipeline_temperature_mix",
    oracle=_TMIX_ORACLE,
    tags=("pipeline", "sampling", "mixing", "documents"),
    exported=False,
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (see section comment): per
    source, the natural count, the sqrt-temperature weight on the 1e6
    grid, the basis-point keep rate, and the deterministically sampled
    count under that rate. All-integer output."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    q = counts.withColumn(
        "w_grid",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint"),
    )
    tot = q.agg(F.sum("w_grid").cast("bigint").alias("tot"))
    rates = (
        q.crossJoin(F.broadcast(tot))  # 1-row normalizer broadcast
        .withColumn(
            # Exact integer division (DIV), matching the oracle's `//`:
            # double division + cast can flip the truncated quotient by 1
            # once 2*tot exceeds ~1e12 — at corpus scale, not hypothetical.
            "rate_bp",
            F.expr("(20000 * w_grid + tot) DIV (2 * tot)").cast("bigint"),
        )
        .drop("tot")
    )
    sampled = (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .filter(
            F.expr(
                SPARK_H60.format(x="concat('tmix:', cast(doc_id as string))")
            )
            % F.lit(10000)
            < F.col("rate_bp")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    )
    return rates.join(sampled, "source", "left").select(
        "source",
        "n_docs",
        "w_grid",
        "rate_bp",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("bigint")).alias(
            "n_sampled"
        ),
    )


# -- leakage-safe (dedup-aware) train/val/test split ------------------------
#
# Hash-splitting by doc_id leaks: two near-duplicate documents hash to
# different buckets, so a test document's twin sits in train and the
# eval is contaminated from inside the corpus (distinct from
# pipeline_decontam_pack, which handles EXTERNAL benchmark overlap).
# The fix is to split by the near-dup cluster's canonical id — every
# member of a cluster inherits the canonical's bucket, so a cluster can
# never span splits.  This query emits both the cluster-keyed split
# stats and the audit that proves the property: the number of
# multi-doc clusters spanning >1 split under the naive doc_id bucket
# (the leak being fixed, nonzero whenever clusters exist) and under
# the canonical bucket (structurally zero — computed, not asserted).
#
# 100 TB shape: the cluster map is the MinHash-LSH + min-label
# iteration already used by dedup_exact_components (bucketed candidate
# generation, diameter-bounded label rounds); everything after it is
# one left join against that (small: clustered docs only) map plus two
# grouped aggregates.  The split predicate itself stays a pushed-down
# hash filter exactly like the doc_id version — assignment costs zero
# shuffles at training-shard-write time.

_CANON_BUCKET_SPARK = (
    SPARK_H60.format(x="concat('split:', cast(canon as string))") + " % 100"
)
_CANON_BUCKET_DUCK = (
    DUCK_H60.format(x="'split:' || CAST(canon AS VARCHAR)") + " % 100"
)


from engine.operators.dedup import _COMPONENTS_ORACLE  # noqa: E402

_LS_CCASE = (
    f"CASE WHEN {_CANON_BUCKET_DUCK} < {TEST_PCT} THEN 'test' "
    f"WHEN {_CANON_BUCKET_DUCK} < {TEST_PCT + VAL_PCT} THEN 'val' "
    f"ELSE 'train' END"
)
_LS_NCASE = (
    f"CASE WHEN {_SPLIT_BUCKET_DUCK} < {TEST_PCT} THEN 'test' "
    f"WHEN {_SPLIT_BUCKET_DUCK} < {TEST_PCT + VAL_PCT} THEN 'val' "
    f"ELSE 'train' END"
)
# Every doc's canonical and naive split, which both facets read.
_LS_SPLITS_CTE = f"""canon_map AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(cc.canonical_id, d.doc_id) AS canon
  FROM documents d
  LEFT JOIN ({_COMPONENTS_ORACLE.strip()}) cc ON cc.doc_id = d.doc_id
),
splits AS (
  SELECT doc_id, n_chars, canon,
         {_LS_CCASE} AS csplit,
         {_LS_NCASE} AS nsplit
  FROM canon_map
)"""

LEAKAGE_SAFE_SPLIT = Federation(
    "facet STRING, key STRING, n1 BIGINT, n2 BIGINT, n3 BIGINT",
    [
        ("split", f"""
WITH {_LS_SPLITS_CTE}
SELECT csplit, count(*) AS n1,
       count(DISTINCT canon) AS n2, CAST(sum(n_chars) AS BIGINT) AS n3
FROM splits GROUP BY csplit
""",
         {"key": "csplit", "n1": "n1", "n2": "n2", "n3": "n3"}),
        # Both audit rows, naive and canonical, in one component.
        ("audit", f"""
WITH {_LS_SPLITS_CTE},
groups AS (
  SELECT canon, count(*) AS n_members,
         count(DISTINCT csplit) AS n_csplits,
         count(DISTINCT nsplit) AS n_nsplits
  FROM splits GROUP BY canon HAVING count(*) >= 2
)
SELECT 'clusters_spanning_naive' AS key,
       CAST(COALESCE(sum(CASE WHEN n_nsplits > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n1,
       count(*) AS n2
FROM groups
UNION ALL
SELECT 'clusters_spanning_canonical',
       CAST(COALESCE(sum(CASE WHEN n_csplits > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT),
       count(*)
FROM groups
""",
         {"key": "key", "n1": "n1", "n2": "n2"}),
    ],
)


@query(
    "pipeline_leakage_safe_split",
    oracle=LEAKAGE_SAFE_SPLIT.oracle,
    tags=("pipeline", "split", "dedup", "documents"),
    exported=False,  # driver-visible via facets2.pipeline_split_samplers
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware 90/5/5 split (see section comment): `split` facet =
    per-split docs / distinct clusters / total chars under the
    canonical-id bucket; `audit` facet = multi-doc clusters spanning
    >1 split under the naive doc_id bucket (n1 = spanning, n2 = all
    multi-doc clusters) and under the canonical bucket (always 0,
    computed end-to-end)."""
    from pyspark import StorageLevel

    from engine.operators import dedup as _dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = _dedup.dedup_canonical_components(spark, sf_dir)
    canon = (
        docs.join(comp, "doc_id", "left")
        .withColumn("canon", F.coalesce("canonical_id", "doc_id"))
        .select("doc_id", "n_chars", "canon")
    )
    cbucket = F.expr(_CANON_BUCKET_SPARK)
    nbucket = F.expr(_SPLIT_BUCKET_SPARK)

    def _case(b):
        return (
            F.when(b < TEST_PCT, "test")
            .when(b < TEST_PCT + VAL_PCT, "val")
            .otherwise("train")
        )

    splits = canon.select(
        "doc_id",
        "n_chars",
        "canon",
        _case(cbucket).alias("csplit"),
        _case(nbucket).alias("nsplit"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per_split = splits.groupBy("csplit").agg(
        F.count(F.lit(1)).alias("n1"),
        F.countDistinct("canon").alias("n2"),
        F.sum("n_chars").cast("bigint").alias("n3"),
    )
    groups = (
        splits.groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("csplit").alias("n_csplits"),
            F.countDistinct("nsplit").alias("n_nsplits"),
        )
        .filter(F.col("n_members") >= 2)
    )
    audit = groups.agg(
        F.coalesce(
            F.sum((F.col("n_nsplits") > 1).cast("bigint")), F.lit(0)
        ).alias("spn"),
        F.coalesce(
            F.sum((F.col("n_csplits") > 1).cast("bigint")), F.lit(0)
        ).alias("spc"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    # The audit facet's two rows, naive and canonical.
    naive = audit.selectExpr(
        "'clusters_spanning_naive' AS key", "spn AS n1", "n_groups AS n2"
    )
    canonical = audit.selectExpr(
        "'clusters_spanning_canonical' AS key", "spc AS n1", "n_groups AS n2"
    )
    return (
        LEAKAGE_SAFE_SPLIT.project("split", per_split)
        .unionAll(LEAKAGE_SAFE_SPLIT.project("audit", naive))
        .unionAll(LEAKAGE_SAFE_SPLIT.project("audit", canonical))
    )


# -- sequence-length bucketing (padding-waste accounting) -------------------
#
# Training batches pad every sequence to the longest in the batch;
# batching docs of similar length (seq-len bucketing) is the standard
# fix.  This operator assigns every document to a power-of-two token
# bucket and accounts the padding cost: per bucket, docs / real tokens
# / padded slots / waste in basis points — plus the `global` baseline
# (pad everything to the corpus max) whose waste_bp is the number that
# justifies bucketing.  The bucket ladder is a fixed integer CASE (no
# float log2 — a boundary count must never depend on IEEE rounding);
# documents longer than the ladder land in a single overflow bucket
# and should have been chunked upstream (CHUNK_TOKENS).
#
# 100 TB shape: one scan computing n_tokens, one map-side-combined
# groupBy over <= 10 bucket keys, one O(1) global aggregate — the scan
# is the cost, exactly like a count.

LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
LEN_OVERFLOW = 1 << 20

_LB_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in LEN_BUCKETS
    )
    + f" ELSE {LEN_OVERFLOW} END"
)

_LB_NTOK_DUCK = (
    "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)"
)


@query(
    "pipeline_length_buckets",
    oracle=f"""
WITH toks AS (
  SELECT {_LB_NTOK_DUCK} AS n_tokens FROM documents
),
bucketed AS (
  SELECT n_tokens, CAST({_LB_CASE_SQL} AS BIGINT) AS bucket FROM toks
),
per_bucket AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
  FROM bucketed GROUP BY bucket
)
SELECT CAST(bucket AS VARCHAR) AS bucket, n_docs, sum_tokens,
       CAST(n_docs * bucket - sum_tokens AS BIGINT) AS padded,
       CAST((20000 * (n_docs * bucket - sum_tokens) + n_docs * bucket)
            // (2 * n_docs * bucket) AS BIGINT) AS waste_bp
FROM per_bucket
UNION ALL
SELECT 'global', CAST(count(*) AS BIGINT), CAST(sum(n_tokens) AS BIGINT),
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT),
       CAST((20000 * (count(*) * max(n_tokens) - sum(n_tokens))
             + count(*) * max(n_tokens))
            // (2 * greatest(count(*), 1)
                  * greatest(coalesce(max(n_tokens), 0), 1)) AS BIGINT)
FROM toks
""",
    tags=("pipeline", "batching", "documents"),
    exported=False,  # driver-visible via facets2.pipeline_extended
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing with padding-waste accounting (see
    section comment): one row per power-of-two token bucket (n_docs,
    real tokens, padded slots, waste_bp on the integer basis-point
    grid) plus the `global` pad-to-corpus-max baseline row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint")
        .alias("n_tokens")
    )
    bucketed = toks.withColumn(
        "bucket", F.expr(_LB_CASE_SQL).cast("bigint")
    )
    per_bucket = (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .select(
            F.col("bucket").cast("string").alias("bucket"),
            "n_docs",
            "sum_tokens",
            (F.col("n_docs") * F.col("bucket") - F.col("sum_tokens"))
            .cast("bigint")
            .alias("padded"),
            F.expr(
                "(20000 * (n_docs * bucket - sum_tokens) + n_docs * bucket)"
                " DIV (2 * n_docs * bucket)"
            )
            .cast("bigint")
            .alias("waste_bp"),
        )
    )
    glob = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tok"),
    ).select(
        F.lit("global").alias("bucket"),
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("max_tok") - F.col("sum_tokens"))
        .cast("bigint")
        .alias("padded"),
        # Denominator guarded: an all-empty corpus has max_tok = 0 (and
        # an empty table has n_docs = 0 / max_tok NULL) — padding waste
        # is then 0 by definition, not a divide-by-zero (ANSI error in
        # Spark, hard error in DuckDB).  Per-bucket rows need no guard:
        # bucket >= 16 always.
        F.expr(
            "(20000 * (n_docs * max_tok - sum_tokens) + n_docs * max_tok)"
            " DIV (2 * greatest(n_docs, 1) * greatest(coalesce(max_tok, 0), 1))"
        )
        .cast("bigint")
        .alias("waste_bp"),
    )
    return per_bucket.unionAll(glob)
