"""Text analysis for LLM training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All expressions are built-in `pyspark.sql.functions` (JVM-side,
whole-stage-codegen'd) — no Python UDF anywhere, so the hot path over
100 TB of documents stays vectorized. Every query has an exact DuckDB
oracle twin built from the same deterministic arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.functions.rounding import duck_round_he, round_he, sql_round_he
from engine.io import load_table
from engine.registry import Federation, query

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Deterministic and engine-agnostic.
STOPWORDS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "of", "and", "to", "a", "in", "is", "it"),
    "es": ("el", "los", "de", "que", "y", "en", "un", "se"),
    "fr": ("le", "la", "les", "et", "une", "des", "est", "dans"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}


def _sql_array(words: tuple[str, ...]) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _duck_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics (recomputes and validates the
    stored n_chars — FIXTURES.md documents schema)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).cast("bigint")
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_calc"),
        F.when(n_chars == F.col("n_chars"), 1).otherwise(0).cast("int").alias("n_chars_ok"),
        n_tokens.alias("n_tokens"),
        round_he(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0
            / F.nullif(n_tokens, F.lit(0)),
            4,
        ).alias("avg_token_len"),
        round_he(
            F.length(F.regexp_replace("text", "[^0-9]", "")) * 1.0
            / F.nullif(n_chars, F.lit(0)),
            6,
        ).alias("digit_ratio"),
        round_he(
            F.length(F.regexp_replace("text", "[^A-Z]", "")) * 1.0
            / F.nullif(n_chars, F.lit(0)),
            6,
        ).alias("upper_ratio"),
    )


def _lang_scores_sql(engine: str) -> dict[str, str]:
    """Per-language stopword-hit-count expressions, one dialect each."""
    out = {}
    for lang, words in STOPWORDS.items():
        if engine == "spark":
            arr = _sql_array(words)
            out[lang] = (
                f"size(filter(split(lower(text), ' '), t -> array_contains({arr}, t)))"
            )
        else:
            lst = _duck_list(words)
            out[lang] = (
                f"len(list_filter(string_split(lower(text), ' '),"
                f" t -> list_contains({lst}, t)))"
            )
    return out


def _langid_case(scores: dict[str, str]) -> str:
    """argmax with deterministic lexicographic tiebreak (sorted langs)."""
    g = "greatest(" + ", ".join(scores[lang] for lang in sorted(scores)) + ")"
    whens = " ".join(
        f"WHEN {scores[lang]} = {g} THEN '{lang}'" for lang in sorted(scores)
    )
    return f"CASE {whens} END"


_LANGID_ORACLE = f"""
SELECT doc_id, lang AS lang_declared,
       {_langid_case(_lang_scores_sql('duck'))} AS lang_predicted,
       CAST({_lang_scores_sql('duck')['en']} AS BIGINT) AS en_stopword_hits
FROM documents
"""


def langid_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID: score = stopword hits per language,
    argmax with lexicographic tiebreak. Pure JVM expressions — at scale
    this is a single codegen'd projection over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _lang_scores_sql("spark")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        F.expr(_langid_case(scores)).alias("lang_predicted"),
        F.expr(scores["en"]).cast("bigint").alias("en_stopword_hits"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality score from (length, stopword ratio, digit
    ratio) — the standard pretraining-corpus heuristic family."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    stop_ratio = F.expr(_lang_scores_sql("spark")["en"]) * 1.0 / F.nullif(
        n_tokens, F.lit(0)
    )
    digit_ratio = F.length(F.regexp_replace("text", "[^0-9]", "")) * 1.0 / F.nullif(
        F.length("text"), F.lit(0)
    )
    quality = round_he(
        1.0
        / (1.0 + F.exp(-(0.3 * F.log(1 + n_tokens) + 2.0 * stop_ratio - 5.0 * digit_ratio))),
        6,
    )
    return docs.select("doc_id", quality.alias("quality"))


def token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (alnum runs + individual punctuation) — the cheap proxy for LLM
    token budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint")
        .alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("n_bpeish_tokens"),
    )


# Shared Spark/DuckDB deterministic 60-bit hash (canonical home:
# engine.functions.hashing; re-exported here for operator modules).
from engine.functions.hashing import DUCK_H60, SPARK_H60  # noqa: E402


def ngram_idx(n: int) -> str:
    """Ascending Spark-SQL index array ``1 .. size(t)-(n-1)``, EMPTY
    when the tokenized column ``t`` has fewer than ``n`` tokens.

    The naive ``sequence(1, greatest(size(t) - k, 0))`` is a trap:
    Spark's ``sequence`` REVERSES direction when start > stop, so a 1-
    or 2-token document yields the DESCENDING ``[1, 0]`` and the
    n-gram lambda evaluates ``element_at(t, 0)`` — an unconditional
    runtime error (and out-of-range indices error under ANSI mode,
    this session's default). The slice form is always ascending and
    empty for short documents, matching the DuckDB oracles' end-
    exclusive ``range(...)`` which is empty-for-short by construction.
    Used by every ``element_at``-indexed n-gram transform (shingles,
    bigrams); ``slice(t, i, n)``-based grams degrade gracefully and
    keep their own floor-at-1 form to match their oracles."""
    k = n - 1
    return (
        f"slice(sequence(1, greatest(size(t) - {k}, 1)),"
        f" 1, greatest(size(t) - {k}, 0))"
    )


@query(
    "doc_fingerprints",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sl AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 1, 1)),
           i -> {{'pos': i,
                 'h': {DUCK_H60.format(x="t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}}})
           AS lst
  FROM toks
), hashed AS (
  SELECT doc_id, unnest(lst, recursive := true) FROM sl
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
FROM hashed
""",
    tags=("textstats", "fingerprint"),
    exported=False,  # driver-visible via facets2.doc_fingerprint_methods
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprints: rolling hash over 3-token
    shingles, min-hash per 4-shingle window, distinct per doc — the
    MOSS/winnowing construction (Schleimer et al., SIGMOD'03) that
    keeps fingerprint density constant per document length."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform({ngram_idx(3)},"
                " i -> concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1), element_at(t, i + 2)))"
            )
        ).alias("pos0", "shingle"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(SPARK_H60.format(x="shingle")).alias("h"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    return sh.select("doc_id", F.min("h").over(w).alias("fp")).distinct()


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf = term fraction of doc,
    idf = ln(N/df)). One shuffle builds the (doc, token) counts; doc
    length comes from a window over the same partitioning; the
    document-frequency table is one small aggregate broadcast back —
    the raw token stream is never re-shuffled.

    Ranks by the 6-digit ``round_he``-quantized score (token tiebreak),
    not the raw double: the score contains ln(), whose last ulp is not
    guaranteed identical between the JVM and DuckDB's libm, and a raw
    ORDER BY would let that ulp flip which token holds rank 3 vs 4.
    Quantizing before ranking confines any residual risk to the
    astronomically-thin rounding boundary (the collocations_lift
    precedent)."""
    from pyspark.sql import Window as W

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # Three consumers (scores, DF table, corpus size) — persisted so
    # the tokenize/explode/count pipeline runs once; (doc, token, cnt)
    # is the classic inverted-index materialization, far smaller than
    # the token stream it summarizes.
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dl = F.sum("cnt").over(W.partitionBy("doc_id"))
    tf = tf.withColumn("dl", dl)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("ndocs"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    score = (F.col("cnt") * 1.0 / F.col("dl")) * F.log(
        F.col("n_docs") * 1.0 / F.col("ndocs")
    )
    w = W.partitionBy("doc_id").orderBy(F.col("_s").desc(), "token")
    return (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n_docs))
        .withColumn("_s", round_he(score, 6))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", F.col("_s").alias("tfidf"), "rnk")
    )


# -- consolidated registry queries -----------------------------------------


# Rounded fragments precomputed as plain strings (f-string expression
# parts cannot contain the \S backslash escapes these SQL bodies need).
_TQP_AVG_TOKLEN = duck_round_he(
    "length(replace(text, ' ', '')) * 1.0"
    " / nullif(len(regexp_extract_all(text, '\\S+')), 0)",
    4,
)
_TQP_DIGIT = duck_round_he(
    "length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0"
    " / nullif(length(text), 0)",
    6,
)
_TQP_UPPER = duck_round_he(
    "length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0"
    " / nullif(length(text), 0)",
    6,
)
_TQP_QUALITY = duck_round_he(
    "1.0 / (1.0 + exp(-("
    "0.3 * ln(1 + len(regexp_extract_all(text, '\\S+')))"
    " + 2.0 * (" + _lang_scores_sql("duck")["en"] + " * 1.0"
    " / nullif(len(regexp_extract_all(text, '\\S+')), 0))"
    " - 5.0 * (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0"
    " / nullif(length(text), 0)))))",
    6,
)

_TQP_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS INT) AS n_chars_ok,
       CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       {_TQP_AVG_TOKLEN} AS avg_token_len,
       {_TQP_DIGIT} AS digit_ratio,
       {_TQP_UPPER} AS upper_ratio,
       lang AS lang_declared,
       {_langid_case(_lang_scores_sql('duck'))} AS lang_predicted,
       CAST({_lang_scores_sql('duck')['en']} AS BIGINT) AS en_stopword_hits,
       {_TQP_QUALITY} AS quality,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS n_bpeish_tokens
FROM documents
"""


@query(
    "text_quality_profile",
    oracle=_TQP_ORACLE,
    tags=("textstats", "quality", "langid", "headline"),
)
def text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis surface in ONE codegen'd
    projection: surface stats (char/token counts, token length, digit /
    uppercase ratios), stopword language ID with declared-language
    audit, the logistic quality score, and BPE-ish token counting.

    Each facet exists as a library operator above (text_stats /
    langid_stopword / quality_score / token_count_bpeish); federating
    them is both a registry-slot consolidation AND the honest
    production shape — every former single-facet query paid a full
    corpus scan to demonstrate one projection, this pays one scan for
    all of them. Still zero Python UDFs, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    # One selectExpr: the whole projection ships as SQL text (a single
    # parse) instead of ~150 Column-API py4j round trips per build
    # (rounding.py SQL-twin note). SQL string literals unescape
    # backslashes, so regex backslashes are doubled here ('\\S+' in
    # the SQL text is the regex \S+ — exactly the string the Column
    # form passed via F.lit(r"\S+")).
    n_tokens = "size(regexp_extract_all(text, '\\\\S+', 0))"
    scores = _lang_scores_sql("spark")
    stop_ratio = f"{scores['en']} * 1.0D / nullif({n_tokens}, 0)"
    digit_ratio = (
        "length(regexp_replace(text, '[^0-9]', '')) * 1.0D"
        " / nullif(length(text), 0)"
    )
    # round_he on every rounded ratio (not engine-native round): the
    # half-boundary divergence class rounding.py documents — Spark's
    # BigDecimal HALF_UP vs DuckDB's scaled-double round can differ by
    # one last-digit ulp on exact decimal halves.
    quality = sql_round_he(
        f"1.0D / (1.0D + exp(-(0.3D * ln(1 + {n_tokens})"
        f" + 2.0D * ({stop_ratio}) - 5.0D * ({digit_ratio}))))",
        6,
    )
    return docs.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_calc",
        "CAST(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS INT)"
        " AS n_chars_ok",
        f"CAST({n_tokens} AS BIGINT) AS n_tokens",
        sql_round_he(
            "length(replace(text, ' ', '')) * 1.0D"
            f" / nullif(CAST({n_tokens} AS BIGINT), 0)",
            4,
        )
        + " AS avg_token_len",
        sql_round_he(digit_ratio, 6) + " AS digit_ratio",
        sql_round_he(
            "length(regexp_replace(text, '[^A-Z]', '')) * 1.0D"
            " / nullif(length(text), 0)",
            6,
        )
        + " AS upper_ratio",
        "lang AS lang_declared",
        _langid_case(scores) + " AS lang_predicted",
        f"CAST({scores['en']} AS BIGINT) AS en_stopword_hits",
        quality + " AS quality",
        "CAST(size(regexp_extract_all(lower(text),"
        " '[a-z0-9]+|[^a-z0-9\\\\s]', 0)) AS BIGINT) AS n_bpeish_tokens",
    )


TERM_RANKINGS = Federation(
    "facet STRING, doc_id BIGINT, token STRING, x DOUBLE, rnk BIGINT",
    [
        ("tfidf", f"""
WITH toks3 AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS cnt FROM toks3
  WHERE token <> '' GROUP BY 1, 2
),
doclen AS (SELECT doc_id, sum(cnt) AS dl FROM tf GROUP BY 1),
df AS (SELECT token, count(*) AS ndocs FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
SELECT doc_id, token,
       {duck_round_he("(cnt * 1.0 / dl) * ln(n_docs * 1.0 / ndocs)", 6)} AS tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT tf.doc_id, tf.token, tf.cnt, doclen.dl, df.ndocs, n.n_docs,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY {duck_round_he("(cnt * 1.0 / dl) * ln(n_docs * 1.0 / ndocs)", 6)}
             DESC, tf.token
         ) AS rnk
  FROM tf JOIN doclen USING (doc_id) JOIN df USING (token) CROSS JOIN n
) t WHERE rnk <= 3
""",
         {"doc_id": "doc_id", "token": "token", "x": "tfidf", "rnk": "rnk"}),
        ("token_topk", """
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
FROM (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(string_split_regex(lower(text), '[ \t]')) AS token
        FROM documents) t
  GROUP BY token
  ORDER BY cnt DESC, token
  LIMIT 20
) topk
""",
         {"token": "token", "x": "CAST(cnt AS DOUBLE)", "rnk": "rnk"}),
    ],
)


@query(
    "term_rankings",
    oracle=TERM_RANKINGS.oracle,
    tags=("textstats", "tfidf", "topk"),
    exported=False,  # driver-visible via corpus_mining's tfidf/token_topk facets
)
def term_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-importance rankings, two facets: per-document top-3 TF-IDF
    terms (`tfidf`: x = score) and corpus-global top-20 tokens
    (`token_topk`: x = count, computed with per-partition heaps via
    TakeOrderedAndProject — no global vocabulary sort)."""
    from pyspark import StorageLevel

    from engine.operators.mapreduce_queries import token_topk

    tfidf = TERM_RANKINGS.project("tfidf", tfidf_top_terms(spark, sf_dir))
    # Rank the 20 top tokens WITHOUT a global window (the plan-audit
    # invariant): a broadcast self-join count over the post-LIMIT rows.
    # Persisted — it feeds both join sides and is the result of a full
    # corpus aggregation.
    tk = token_topk(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    other = tk.select(F.col("token").alias("o_token"), F.col("cnt").alias("o_cnt"))
    ahead = (F.col("o_cnt") > F.col("cnt")) | (
        (F.col("o_cnt") == F.col("cnt")) & (F.col("o_token") < F.col("token"))
    )
    topk = (
        tk.join(F.broadcast(other), ahead, "left")
        .groupBy("token", "cnt")
        .agg((F.count("o_token") + 1).cast("bigint").alias("rnk"))
    )
    return tfidf.unionAll(TERM_RANKINGS.project("token_topk", topk))


_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
g AS (SELECT doc_id, unnest(t) AS tok FROM toks),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks
),
tg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
  FROM toks
),
ts AS (
  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS nd FROM g GROUP BY 1
),
tgs AS (
  SELECT doc_id, count(*) AS n_tg, count(DISTINCT tg) AS nd_tg FROM tg GROUP BY 1
),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
bgs AS (
  SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg FROM bgc GROUP BY 1
)
SELECT ts.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       {{r6_distinct}} AS distinct_token_ratio,
       {{r6_topbg}} AS top_bigram_frac,
       {{r6_duptg}} AS dup_trigram_frac,
       CAST(CASE WHEN CAST(nd AS DOUBLE) / n_tokens >= {{thr_distinct}}
                  AND CAST(top_bg AS DOUBLE) / n_bg <= {{thr_topbg}}
                  AND 1.0 - CAST(nd_tg AS DOUBLE) / n_tg <= {{thr_duptg}}
            THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM ts JOIN tgs ON ts.doc_id = tgs.doc_id JOIN bgs ON ts.doc_id = bgs.doc_id
"""

# Gopher-style repetition thresholds, adapted to this corpus's
# distribution (distinct-token ratio avg .50, top-bigram frac avg .04,
# dup-trigram frac avg .001 at sf0.01) so both keep branches are
# populated: ~28% of documents survive.
REP_THR_DISTINCT = 0.55
REP_THR_TOP_BIGRAM = 0.08
REP_THR_DUP_TRIGRAM = 0.05



@query(
    "text_repetition",
    oracle=_REPETITION_ORACLE.format(
        r6_distinct=duck_round_he("CAST(nd AS DOUBLE) / n_tokens", 6),
        r6_topbg=duck_round_he("CAST(top_bg AS DOUBLE) / n_bg", 6),
        r6_duptg=duck_round_he("1.0 - CAST(nd_tg AS DOUBLE) / n_tg", 6),
        thr_distinct=REP_THR_DISTINCT,
        thr_topbg=REP_THR_TOP_BIGRAM,
        thr_duptg=REP_THR_DUP_TRIGRAM,
    ),
    tags=("textstats", "quality", "repetition"),
    exported=False,  # driver-visible as eval_quality_audit's `rep` facet
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", app. A1.1 repetition filters), adapted to
    newline-free token streams: per-document distinct-token ratio,
    fraction of bigram occurrences held by the single most common
    bigram, duplicate-trigram fraction, and the resulting keep flag.

    Scale design: one explode pass emits (tok, bigram, trigram) structs
    per position; the stream is repartitioned by doc_id ONCE and
    persisted, so the three per-document aggregations and the final
    joins all reuse that single shuffle (hashpartitioning(doc_id)
    satisfies every downstream clustering requirement). All ratios are
    BIGINT-count divisions — bit-identical across engines — rounded
    with the shared half-even-free ``round_he`` IEEE sequence.
    """
    from pyspark import StorageLevel

    from engine.functions.rounding import round_he

    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)), i -> struct("
                    " element_at(t, i) AS tok,"
                    " CASE WHEN i <= size(t) - 1 THEN concat_ws(' ',"
                    "   element_at(t, i), element_at(t, i + 1)) END AS bg,"
                    " CASE WHEN i <= size(t) - 2 THEN concat_ws(' ',"
                    "   element_at(t, i), element_at(t, i + 1),"
                    "   element_at(t, i + 2)) END AS tg))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.tok", "g.bg", "g.tg")
        .repartition("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = g.groupBy("doc_id").agg(
        F.count("tok").alias("n_tokens"),
        F.countDistinct("tok").alias("nd"),
        F.count("tg").alias("n_tg"),
        F.countDistinct("tg").alias("nd_tg"),
    )
    bgs = (
        g.filter(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("n_bg"))
    )
    distinct_ratio = F.col("nd").cast("double") / F.col("n_tokens")
    top_bg_frac = F.col("top_bg").cast("double") / F.col("n_bg")
    dup_tg_frac = F.lit(1.0) - F.col("nd_tg").cast("double") / F.col("n_tg")
    return (
        # Inner-join bgs AND require >=1 trigram: the oracle's
        # ts JOIN tgs JOIN bgs drops docs with no trigrams (its tg CTE
        # emits no row for them), while the Spark single-aggregate tok
        # carries n_tg=0 for such docs — without the filter a 2-token
        # doc would surface here with a NaN dup_trigram_frac and
        # diverge from the oracle's row set.
        tok.filter(F.col("n_tg") > 0)
        .join(bgs, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            round_he(distinct_ratio, 6).alias("distinct_token_ratio"),
            round_he(top_bg_frac, 6).alias("top_bigram_frac"),
            round_he(dup_tg_frac, 6).alias("dup_trigram_frac"),
            F.when(
                (distinct_ratio >= REP_THR_DISTINCT)
                & (top_bg_frac <= REP_THR_TOP_BIGRAM)
                & (dup_tg_frac <= REP_THR_DUP_TRIGRAM),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


QQ_THRESHOLD = 0.75  # keep the top quartile per source

_QQ_QUALITY_DUCK = duck_round_he(
    f"""1.0 / (1.0 + exp(-(
    0.3 * ln(1 + len(regexp_extract_all(text, '\\S+')))
    + 2.0 * ({_lang_scores_sql('duck')['en']} * 1.0
             / nullif(len(regexp_extract_all(text, '\\S+')), 0))
    - 5.0 * (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / nullif(length(text), 0)))))""",
    6,
)


@query(
    "quality_quantile_filter",
    oracle=f"""
WITH q AS (
  SELECT source, doc_id, {_QQ_QUALITY_DUCK} AS quality FROM documents
),
r AS (
  SELECT source, doc_id, quality,
         percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
  FROM q
)
SELECT source, doc_id, quality, {duck_round_he('pr', 6)} AS pct_rank
FROM r WHERE pr >= {QQ_THRESHOLD}
""",
    tags=("textstats", "quality", "window"),
    exported=False,
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-quantile filtering — keep the top quartile of
    each source by heuristic quality score (the percentile-threshold
    complement of `pipeline_reservoir_per_source`'s fixed-k sampling).

    percent_rank is (rank-1)/(n-1) — an integer ratio, bit-identical
    across engines; ties on the rounded score are broken by doc_id so
    the rank is fully deterministic. Scale note: the window partitions
    by source (bounded key set), so a single giant source serializes
    into one sort — at 100 TB swap the window for the two-pass
    range-partitioned ranking in `engine.operators.globalrank` applied
    per source; semantics are identical.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    stop_ratio = F.expr(_lang_scores_sql("spark")["en"]) * 1.0 / F.nullif(
        n_tokens, F.lit(0)
    )
    digit_ratio = F.length(F.regexp_replace("text", "[^0-9]", "")) * 1.0 / F.nullif(
        F.length("text"), F.lit(0)
    )
    # round_he to mirror the oracle's duck_round_he (_QQ_QUALITY_DUCK)
    # exactly — the two sides of one query must round identically.
    quality = round_he(
        1.0
        / (
            1.0
            + F.exp(
                -(0.3 * F.log(1 + n_tokens) + 2.0 * stop_ratio - 5.0 * digit_ratio)
            )
        ),
        6,
    )
    q = docs.select("source", "doc_id", quality.alias("quality"))
    pr = F.percent_rank().over(
        W.partitionBy("source").orderBy("quality", "doc_id")
    )
    return (
        q.withColumn("_pr", pr)
        .filter(F.col("_pr") >= QQ_THRESHOLD)
        .select(
            "source",
            "doc_id",
            "quality",
            round_he(F.col("_pr"), 6).alias("pct_rank"),
        )
    )


def spark_quality_expr() -> "F.Column":
    """The logistic quality score as a reusable Column (the exact
    expression `quality_score` / `quality_quantile_filter` use; DuckDB
    twin: `_QQ_QUALITY_DUCK`)."""
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    stop_ratio = F.expr(_lang_scores_sql("spark")["en"]) * 1.0 / F.nullif(
        n_tokens, F.lit(0)
    )
    digit_ratio = F.length(F.regexp_replace("text", "[^0-9]", "")) * 1.0 / F.nullif(
        F.length("text"), F.lit(0)
    )
    return round_he(
        1.0
        / (
            1.0
            + F.exp(
                -(0.3 * F.log(1 + n_tokens) + 2.0 * stop_ratio - 5.0 * digit_ratio)
            )
        ),
        6,
    )


MIN_SHARED_FP = 5  # winnowing pair-candidate threshold


# Resolved at import time: doc_fingerprints is registered above.
from engine.registry import _REGISTRY as _TREG  # noqa: E402

_FP_ORACLE = _TREG["doc_fingerprints"].oracle


@query(
    "fingerprint_near_pairs",
    oracle=f"""
WITH fp AS ({_FP_ORACLE})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {MIN_SHARED_FP}
""",
    tags=("textstats", "fingerprint", "dedup"),
    exported=False,
)
def fingerprint_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style candidate pairing from winnowing fingerprints
    (Schleimer et al., SIGMOD'03 §4): documents sharing >= {MIN_SHARED_FP}
    fingerprints are plagiarism/near-dup candidates. Completes the
    winnowing story — `doc_fingerprints` selects the fingerprints,
    this query uses them as the blocking key.

    Scale shape: same single-shuffle self-join as the jaccard dedup —
    the fingerprint set is repartitioned by fp ONCE and persisted, so
    both join sides and the bucket join itself reuse one exchange;
    comparisons scale with fingerprint collisions, never corpus².
    """
    from pyspark import StorageLevel

    fps = (
        doc_fingerprints(spark, sf_dir)
        .repartition("fp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= MIN_SHARED_FP)
    )


# -- Collocation mining ----------------------------------------------------

COLLOC_MIN_PAIR = 3
COLLOC_MIN_LIFT = 1.2


@query(
    "collocations_lift",
    oracle=f"""
WITH t AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM t) WHERE w <> '' GROUP BY w
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM t CROSS JOIN unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)
  WHERE t[i] <> '' AND t[i + 1] <> ''
  GROUP BY 1, 2
)
SELECT w1, w2, n_pair,
       {duck_round_he("((CAST(n_pair AS DOUBLE) / a.c) * t.n) / b.c", 6)}
         AS lift6
FROM bi JOIN uni a ON a.w = w1 JOIN uni b ON b.w = w2 CROSS JOIN tot t
WHERE n_pair >= {COLLOC_MIN_PAIR}
  AND {duck_round_he("((CAST(n_pair AS DOUBLE) / a.c) * t.n) / b.c", 6)}
      >= {COLLOC_MIN_LIFT!r}
""",
    tags=("text", "collocations"),
    exported=False,
)
def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by lift: bigrams occurring far more often
    than their unigram frequencies predict (lift = p(w1 w2) / (p(w1)
    p(w2)) — PMI's argument, kept as a ratio because log() is not
    bit-portable across engines while fixed-order double arithmetic
    is). The corpus statistic behind phrase vocabularies ("new york")
    and tokenizer pre-merges.

    100 TB shape: one token shuffle for unigrams, one for bigrams, a
    1-row total broadcast, and vocabulary-sized joins AQE broadcasts
    when small — never a corpus-sized join."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.split(F.lower("text"), " ").alias("t"))
    uni = (
        t.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bi = (
        t.select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .filter((F.col("p.w1") != "") & (F.col("p.w2") != "") & F.col("p.w2").isNotNull())
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    a = uni.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    b = uni.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    lift6 = round_he(
        ((F.col("n_pair").cast("double") / F.col("ca")) * F.col("n"))
        / F.col("cb"),
        6,
    )
    return (
        bi.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))  # 1-row corpus total
        .withColumn("lift6", lift6)
        .filter(
            (F.col("n_pair") >= COLLOC_MIN_PAIR)
            & (F.col("lift6") >= COLLOC_MIN_LIFT)
        )
        .select("w1", "w2", "n_pair", "lift6")
    )


_EVAL_P6 = (
    "CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
    " floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)"
    " * CAST(1000000.0 AS DOUBLE) + 0.5) / CAST(1000000.0 AS DOUBLE) END"
)
_EVAL_R6 = (
    "CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
    " floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)"
    " * CAST(1000000.0 AS DOUBLE) + 0.5) / CAST(1000000.0 AS DOUBLE) END"
)
_EVAL_F6 = (
    "CASE WHEN p6 + r6 = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE) ELSE"
    " floor(CAST(2.0 AS DOUBLE) * p6 * r6 / (p6 + r6)"
    " * CAST(1000000.0 AS DOUBLE) + 0.5) / CAST(1000000.0 AS DOUBLE) END"
)


@query(
    "langid_eval",
    oracle=f"""
WITH pred AS (
  SELECT lang AS actual,
         {_langid_case(_lang_scores_sql('duck'))} AS predicted
  FROM documents
),
conf AS (
  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
classes AS (
  SELECT actual AS cls FROM conf UNION SELECT predicted FROM conf
),
m AS (
  SELECT c.cls,
         CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
         CAST(coalesce(f.fp, 0) AS BIGINT) AS fp,
         CAST(coalesce(g.fn, 0) AS BIGINT) AS fn
  FROM classes c
  LEFT JOIN (SELECT actual AS cls, sum(n) AS tp FROM conf
             WHERE actual = predicted GROUP BY 1) t ON t.cls = c.cls
  LEFT JOIN (SELECT predicted AS cls, sum(n) AS fp FROM conf
             WHERE actual <> predicted GROUP BY 1) f ON f.cls = c.cls
  LEFT JOIN (SELECT actual AS cls, sum(n) AS fn FROM conf
             WHERE actual <> predicted GROUP BY 1) g ON g.cls = c.cls
)
SELECT cls, tp, fp, fn, CAST(tp + fn AS BIGINT) AS support,
       p6 AS precision6, r6 AS recall6, {_EVAL_F6} AS f16
FROM (SELECT cls, tp, fp, fn, {_EVAL_P6} AS p6, {_EVAL_R6} AS r6 FROM m)
""",
    tags=("text", "langid", "evaluation"),
    exported=False,
)
def langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation metrics for the stopword language-ID heuristic
    against the declared gold labels: per-class tp/fp/fn, support,
    precision, recall, F1. The corpus collapses to a |langs|² confusion
    matrix in ONE aggregate; every metric derives from that bounded
    table with exact integer ratios (guarded zero denominators — the
    engines diverge on 0/0) and the shared IEEE rounding; F1 combines
    the already-published rounded precision/recall so all three agree
    cross-engine bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"),
        F.expr(_langid_case(_lang_scores_sql("spark"))).alias("predicted"),
    )
    conf = (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    classes = (
        conf.select(F.col("actual").alias("cls"))
        .union(conf.select("predicted"))
        .distinct()
    )
    tp = (
        conf.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("n").alias("tp"))
    )
    fp = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("predicted").alias("cls"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        conf.filter(F.col("actual") != F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("n").alias("fn"))
    )
    m = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("bigint").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("bigint").alias("fn"),
        )
    )
    pr = m.select(
        "cls", "tp", "fp", "fn",
        F.expr(_EVAL_P6).alias("p6"),
        F.expr(_EVAL_R6).alias("r6"),
    )
    return pr.select(
        "cls", "tp", "fp", "fn",
        (F.col("tp") + F.col("fn")).cast("bigint").alias("support"),
        F.col("p6").alias("precision6"),
        F.col("r6").alias("recall6"),
        F.expr(_EVAL_F6).alias("f16"),
    )
