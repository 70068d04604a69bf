"""Text-analysis operators over the ``documents`` table.

North-star training-data-pipeline ops (SURVEY.md §7.1 M7): token
counting, quality scoring, language-ID heuristic, and document
fingerprinting (rolling-hash analog of the reference's per-image
`hist_compare` similarity seed, `IJHistogram.scala:34-41`).

Design stance: every op here is a pure Catalyst expression — built-in
`pyspark.sql.functions` and higher-order array functions, zero Python
UDFs — so the whole pipeline stays inside whole-stage codegen and
scales as a map-only stage (no shuffle except the final aggregates).
Fingerprints/shingle hashes use md5-derived 60-bit ints, which DuckDB
reproduces bit-for-bit (`conv(substring(md5(s),1,15),16,10)` ==
``('0x'||substring(md5(s),1,15))::BIGINT``), so every op has an exact
value-hash oracle.

At 100 TB: all per-doc ops are embarrassingly parallel over parquet
row groups; the only shuffles are the explicit groupBys (token top-k,
confusion matrix), which partial-aggregate map-side before exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- shared expression fragments (Spark SQL == DuckDB SQL surface) ---

# 60-bit positive hash both engines compute identically from md5 hex.
def hash60_spark(expr: str) -> str:
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash60_duck(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


# NULL text tokenizes exactly like '' (one canonical rule, both
# engines): real corpora carry null-text rows (null sweep,
# tools/make_nulls.py), and a bare split(NULL) nulls every downstream
# token metric while ''-docs flow through defined — coalescing at the
# single tokenizer boundary makes the two degenerate cases identical
# everywhere (counts, quality, packing, sampling, classifier).
TOKENS_SPARK = "split(coalesce(text, ''), ' ')"
TOKENS_DUCK = "string_split(coalesce(text, ''), ' ')"

# Marker stopword sets for the language-ID heuristic (public stopword
# lists, truncated). Scoring = count of tokens in each set; predicted
# language = first set (en→de→es→fr→zh priority) with maximal score.
LANG_MARKERS = {
    "en": ("the", "a", "is", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "los", "de", "es", "un"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "zh": ("的", "是", "了"),
}

EN_STOPWORDS = ("the", "a", "is", "of", "and", "to", "in", "it")


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _lang_score_spark(lang: str) -> str:
    return f"size(filter(toks, t -> t IN ({_in_list(LANG_MARKERS[lang])})))"


def _lang_score_duck(lang: str) -> str:
    return f"len(list_filter(toks, t -> t IN ({_in_list(LANG_MARKERS[lang])})))"


_PRED_CASE = """CASE
  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
  WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
  WHEN s_fr >= s_zh THEN 'fr'
  ELSE 'zh' END"""


# --- queries -----------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, type-token ratio,
    mean token length, stopword ratio, composite quality score.
    Map-only (no shuffle); every expression is codegen'd JVM-side."""
    stop = _in_list(EN_STOPWORDS)
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            F.expr("size(toks)").alias("n_tokens"),
            F.expr("size(array_distinct(toks))").alias("n_types"),
            F.expr(
                "CAST(length(coalesce(text, '')) - (size(toks) - 1) AS DOUBLE)"
                " / size(toks)"
            ).alias("mean_token_len"),
            F.expr(
                f"CAST(size(filter(toks, t -> t IN ({stop}))) AS DOUBLE)"
                " / size(toks)"
            ).alias("stop_ratio"),
        )
        .withColumn(
            "quality_score",
            F.expr(
                "round(0.25 * least(n_tokens / 100.0, 1.0)"
                " + 0.25 * (1.0 - stop_ratio)"
                " + 0.25 * (CAST(n_types AS DOUBLE) / n_tokens)"
                " + 0.25 * least(mean_token_len / 8.0, 1.0), 6)"
            ),
        )
        .withColumn("stop_ratio", F.expr("round(stop_ratio, 6)"))
        .withColumn("mean_token_len", F.expr("round(mean_token_len, 6)"))
    )


def _round6_duck(e: str) -> str:
    """DuckDB round(DOUBLE, 6) with SPARK's rounding semantics.

    DuckDB's native double round multiplies by 1e6 first; when that
    product IEEE-rounds INTO an exact .5 the result goes the wrong way
    (k10 sweep: quality 0.72406249999999994
    — strictly below the tie — multiplied to exactly 724062.5 and
    rounded UP where Spark's BigDecimal.valueOf(double).setScale(6,
    HALF_UP) correctly rounds down). The VARCHAR hop reproduces
    Spark's semantics exactly: both engines print the shortest
    round-trip decimal repr (Double.toString == DuckDB's double
    VARCHAR cast), the DECIMAL parse is exact, and round(DECIMAL, 6)
    is half-away-from-zero on exact digits — the same function Spark
    computes. The inverse-direction rule (DECIMAL→DOUBLE via STRING,
    dsum_sql) is a CLAUDE.md rule; this is its round() twin. Only
    for provably finite values: 'nan'/'inf' strings crash the DECIMAL
    parse."""
    return f"CAST(round(CAST(CAST(({e}) AS VARCHAR) AS DECIMAL(28,17)), 6) AS DOUBLE)"


Q_TEXT_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, {TOKENS_DUCK} AS toks FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_types,
         CAST(length(coalesce(text, '')) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
         CAST(len(list_filter(toks, t -> t IN ({_in_list(EN_STOPWORDS)}))) AS DOUBLE)
           / len(toks) AS stop_ratio
  FROM t)
SELECT doc_id, n_tokens, n_types,
       {_round6_duck('mean_token_len')} AS mean_token_len,
       {_round6_duck('stop_ratio')} AS stop_ratio,
       {_round6_duck(
           "0.25 * least(n_tokens / 100.0, 1.0)"
           " + 0.25 * (1.0 - stop_ratio)"
           " + 0.25 * (CAST(n_types AS DOUBLE) / n_tokens)"
           " + 0.25 * least(mean_token_len / 8.0, 1.0)"
       )} AS quality_score
FROM m
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker voting) → confusion
    matrix against the labeled ``lang`` column. One hash-agg shuffle."""
    df = _docs(spark, sf_dir).withColumn("toks", F.expr(TOKENS_SPARK))
    for lang in LANG_MARKERS:
        df = df.withColumn(f"s_{lang}", F.expr(_lang_score_spark(lang)))
    return (
        df.withColumn("pred_lang", F.expr(_PRED_CASE))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


Q_TEXT_LANG_ID_SQL = f"""
WITH t AS (SELECT lang, {TOKENS_DUCK} AS toks FROM documents),
s AS (
  SELECT lang,
         {_lang_score_duck('en')} AS s_en,
         {_lang_score_duck('de')} AS s_de,
         {_lang_score_duck('es')} AS s_es,
         {_lang_score_duck('fr')} AS s_fr,
         {_lang_score_duck('zh')} AS s_zh
  FROM t)
SELECT lang, {_PRED_CASE} AS pred_lang, COUNT(*) AS n_docs
FROM s GROUP BY 1, 2
"""


# BPE-ish pre-tokenizer: letter runs, digit runs, and single
# non-alphanumeric marks — the GPT-2-style split both engines' regex
# dialects agree on (Java regex == RE2 for this subset).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex
    pre-tokens, plus the pre-token/word ratio (a fertility-style
    quality signal). Map-only, pure Catalyst."""
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"size({TOKENS_SPARK})").alias("n_ws_tokens"),
            F.expr(f"size(regexp_extract_all(coalesce(text, ''), '{BPE_PATTERN}', 0))").alias(
                "n_bpe_tokens"
            ),
        )
        .withColumn(
            "bpe_per_word",
            F.expr("round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 6)"),
        )
    )


Q_TEXT_TOKENS_SQL = f"""
WITH c AS (
  SELECT doc_id,
         len({TOKENS_DUCK}) AS n_ws_tokens,
         len(regexp_extract_all(coalesce(text, ''), '{BPE_PATTERN}')) AS n_bpe_tokens
  FROM documents)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 6) AS bpe_per_word
FROM c
"""


def q_text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-20 (explode → partial-agg → final
    agg → top-k). The sort is over the tiny aggregated set only."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
    )


Q_TEXT_TOKEN_TOPK_SQL = f"""
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest({TOKENS_DUCK}) AS token FROM documents)
GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
"""


# Word-3-gram shingle array (empty when the doc has <3 tokens).
SHINGLES_SPARK = (
    "CASE WHEN size(toks) < 3 THEN array()"
    " ELSE transform(sequence(0, size(toks) - 3),"
    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END"
)
SHINGLES_DUCK = (
    "list_transform(range(1, greatest(len(toks) - 1, 1)),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


BIGRAMS_SPARK = (
    "CASE WHEN size(toks) < 2 THEN array()"
    " ELSE transform(sequence(0, size(toks) - 2),"
    " i -> concat(toks[i], ' ', toks[i+1])) END"
)
BIGRAMS_DUCK = (
    "list_transform(range(1, greatest(len(toks), 1)),"
    " i -> toks[i] || ' ' || toks[i+1])"
)


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score from a corpus bigram LM: mean
    −ln P(w2|w1) over each doc's bigrams, with P = bigram_count /
    unigram_count (MLE over the whole corpus). Two aggregations build
    the LM (both partial-aggregating); the scoring joins carry NO
    broadcast hint — the LM tables are vocabulary-sized (unbounded at
    web scale), so AQE broadcasts them while they measure small (31
    words → ≤961 bigrams here) and shuffle-joins on the bigram key at
    scale (broadcast policy, session.get_spark).

    Determinism: per-bigram surprisal is rounded to 6 digits, so the
    per-doc mean is an exact decimal sum / count — order-independent
    and hash-identical in DuckDB."""
    from spark_ij_spark.operators.relational import dsum

    docs = _docs(spark, sf_dir).withColumn("toks", F.expr(TOKENS_SPARK))
    doc_bigrams = docs.select(
        "doc_id", F.explode(F.expr(BIGRAMS_SPARK)).alias("bg")
    )
    bg_counts = doc_bigrams.groupBy("bg").agg(F.count("*").alias("c_bg"))
    w1_counts = (
        doc_bigrams.withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_w1"))
    )
    scored = (
        doc_bigrams.join(bg_counts, "bg")
        .withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .join(w1_counts, "w1")
        .withColumn(
            "surprisal",
            F.expr("round(-ln(CAST(c_bg AS DOUBLE) / c_w1), 6)"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr(
                "round(CAST(SUM(CAST(surprisal AS DECIMAL(28,6))) AS DOUBLE)"
                " / COUNT(*), 6)"
            ).alias("mean_surprisal"),
        )
    )


Q_TEXT_SURPRISAL_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
db AS (SELECT doc_id, unnest({BIGRAMS_DUCK}) AS bg FROM t),
bgc AS (SELECT bg, COUNT(*) AS c_bg FROM db GROUP BY bg),
w1c AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS c_w1 FROM db GROUP BY 1),
scored AS (
  SELECT db.doc_id,
         round(-ln(CAST(c_bg AS DOUBLE) / c_w1), 6) AS surprisal
  FROM db
  JOIN bgc USING (bg)
  JOIN w1c ON string_split(db.bg, ' ')[1] = w1c.w1)
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(CAST(CAST(SUM(CAST(surprisal AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal
FROM scored GROUP BY doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min 60-bit hash over word-
    3-gram shingles (a k=1 MinHash). Map-only, no shuffle — at 100 TB
    this is a single scan producing one bigint per doc. Docs with <3
    tokens have no shingles; their fingerprint is the -1 sentinel
    (hash60 is nonnegative) on BOTH sides — a NULL BIGINT would come
    back NaN through the driver's pandas fetch but None from Spark
    (CLAUDE.md NULL-coalescing rule)."""
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.expr(SHINGLES_SPARK))
        .select(
            "doc_id",
            F.expr(
                f"coalesce(array_min(transform(shingles,"
                f" s -> {hash60_spark('s')})), CAST(-1 AS BIGINT))"
            ).alias("fingerprint"),
        )
    )


Q_TEXT_FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES_DUCK} AS shingles FROM t)
SELECT doc_id,
       COALESCE(list_min(list_transform(shingles, s -> {hash60_duck('s')})),
                CAST(-1 AS BIGINT)) AS fingerprint
FROM s
"""


# --- BM25 ranked retrieval --------------------------------------------

BM25_QUERY_TERMS = ("table", "hash", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


def _bm25_score_sql(tf_fn, df_fn) -> str:
    """Shared Spark/DuckDB scoring text: Σ_t idf(t) · saturated-tf(t).
    Fixed textual term order keeps the float sum order identical in
    both engines; `ln` cross-engine agreement is already proven by the
    surprisal oracle."""
    parts = []
    for term in BM25_QUERY_TERMS:
        tf, dfc = tf_fn(term), df_fn(term)
        idf = f"ln(1.0 + (n_docs - {dfc} + 0.5) / ({dfc} + 0.5))"
        sat = (
            f"({tf} * {BM25_K1 + 1.0})"
            f" / ({tf} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
        )
        parts.append(f"{idf} * {sat}")
    return " + ".join(parts)


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed query over the corpus — the
    search-scoring op of the text family, entirely in Catalyst: one
    corpus-stats aggregate (broadcast as a 1-row frame) + a map-only
    scoring scan + a top-N sort. Ranking orders by the ROUNDED score
    (identical in both engines) with a doc_id tie-break, so the top-N
    is hash-stable."""
    t = _docs(spark, sf_dir).withColumn("toks", F.expr(TOKENS_SPARK))

    def tf(term: str) -> str:
        return f"size(filter(toks, x -> x = '{term}'))"

    stats_aggs = [
        F.expr("COUNT(*)").alias("n_docs"),
        F.expr(
            "CAST(SUM(CAST(size(toks) AS BIGINT)) AS DOUBLE) / COUNT(*)"
        ).alias("avgdl"),
    ] + [
        F.expr(f"SUM(CASE WHEN {tf(term)} > 0 THEN 1 ELSE 0 END)").alias(
            f"df_{term}"
        )
        for term in BM25_QUERY_TERMS
    ]
    stats = t.agg(*stats_aggs)
    scored = (
        t.crossJoin(F.broadcast(stats))
        .withColumn("dl", F.expr("CAST(size(toks) AS DOUBLE)"))
        .withColumn(
            "bm25",
            F.expr(
                f"round({_bm25_score_sql(tf, lambda term: f'df_{term}')}, 6)"
            ),
        )
        .filter(F.col("bm25") > 0)
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPN)
        .select("doc_id", "bm25")
    )


def _bm25_duck() -> str:
    def tf(term: str) -> str:
        return f"len(list_filter(toks, x -> x = '{term}'))"

    df_cols = ", ".join(
        f"SUM(CASE WHEN {tf(term)} > 0 THEN 1 ELSE 0 END) AS df_{term}"
        for term in BM25_QUERY_TERMS
    )
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(toks) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl,
         {df_cols}
  FROM t),
scored AS (
  SELECT doc_id,
         round({_bm25_score_sql(tf, lambda term: f'df_{term}')}, 6) AS bm25
  FROM (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t)
  CROSS JOIN stats)
SELECT doc_id, bm25 FROM scored
WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOPN}
"""


Q_TEXT_BM25_SQL = _bm25_duck()


# HLL relative standard deviation ≈ 1.04/sqrt(2^p); rsd=0.01 is the
# tightest Spark accepts without erroring, well inside the pytest
# tolerance band.
VOCAB_HLL_RSD = 0.01


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language vocabulary size (distinct tokens + doc
    count). COUNT(DISTINCT) is the exactness baseline: Spark plans it
    as expand + two-phase aggregate, which shuffles every distinct
    (lang, token) pair — fine here, the 100 TB twin is
    q_text_vocab_approx below."""
    return (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("lang")
        .agg(
            F.countDistinct("token").alias("vocab_size"),
            F.count("*").alias("n_tokens"),
        )
    )


Q_TEXT_VOCAB_SQL = f"""
SELECT lang,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size,
       COUNT(*) AS n_tokens
FROM (SELECT lang, unnest({TOKENS_DUCK}) AS token FROM documents)
GROUP BY lang
"""


def q_text_vocab_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of q_text_vocab: HyperLogLog++ cardinality via
    ``approx_count_distinct`` (rsd=VOCAB_HLL_RSD). Map-side the sketch
    is O(2^p) registers per group regardless of token count, and
    merge is register-wise max — no shuffle of distinct (lang, token)
    pairs at all, where exact COUNT(DISTINCT) shuffles every one.
    Sketch estimates are engine-specific, so this query carries a
    tolerance pytest against the exact twin (3x the configured rsd)
    rather than a DuckDB hash oracle; the driver records the
    rows-only check."""
    return (
        _docs(spark, sf_dir)
        .select("lang", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("lang")
        .agg(
            F.expr(
                f"approx_count_distinct(token, {VOCAB_HLL_RSD}D)"
            ).alias("vocab_size"),
            F.count("*").alias("n_tokens"),
        )
    )


def q_text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram frequency spectrum: number of distinct n-gram types
    and total occurrence mass per log2-frequency bucket — the one-page
    Zipf/Heaps health check run on a corpus before tokenizer or LM
    training (a healthy natural-language corpus is hapax-dominated in
    types with mass concentrating in the high buckets; boilerplate-
    heavy or template-generated corpora bend the spectrum visibly).
    Over 3-grams rather than unigrams because the n-gram spectrum is
    what repetition filters (Rae 2021 §A.1.2) and dedup threshold
    tuning actually consume.

    Shape: one partial-aggregating groupBy on the shingle (the same
    corpus-sized shuffle every inverted-index op pays), then a
    ~60-bucket aggregate — no vocab-sized global sort or rank window,
    which is what makes this the scale-safe form of "plot the Zipf
    curve" (true rank assignment would be a single-reducer window
    over the whole vocabulary).

    Determinism: the bucket is length(bin(cnt))-1 — integer log2 via
    the binary-string length, identical on both engines (float
    ``log2`` at exact powers of two is libm-dependent); sums are
    occurrence counts (BIGINT, corpus-token bounded)."""
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select(F.explode(F.expr(SHINGLES_SPARK)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("cnt"))
        .groupBy(F.expr("CAST(length(bin(cnt)) - 1 AS BIGINT)").alias("log2_bucket"))
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_types"),
            F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_grams"),
        )
    )


Q_TEXT_FREQ_SPECTRUM_SQL = f"""
WITH c AS (
  SELECT s, COUNT(*) AS cnt
  FROM (SELECT unnest({SHINGLES_DUCK.replace('toks', TOKENS_DUCK)}) AS s
        FROM documents)
  GROUP BY s)
SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(cnt) AS BIGINT) AS n_grams
FROM c
GROUP BY 1
"""


TFIDF_TOP_TERMS = 3


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the top-3 highest-scoring terms per
    document, score = tf × ln(N / df).

    Shape (the canonical distributed TF-IDF):
    1. explode → groupBy(doc, token): term frequencies, one
       partial-aggregated shuffle;
    2. groupBy(token) over that (already doc-distinct) frame: document
       frequencies — no COUNT(DISTINCT) Expand;
    3. tf ⋈ df equi-join on token (both sides shuffle on token — the
       inverted-index shape; df is NOT broadcast because at 100 TB the
       vocabulary is itself large);
    4. per-doc top-k via row_number window over the scored frame
       (partitioned by doc_id, so no global funnel).
    N arrives as a broadcast 1-row count. ln/× are IEEE-identical
    across engines on equal inputs, so the score hash-matches exactly.
    """
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    scored = (
        tf.join(df_, "token")
        .crossJoin(n)
        .withColumn(
            "score",
            F.expr("round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_TERMS)
        .select("doc_id", "rank", "token", "tf", "df", "score")
    )


Q_TEXT_TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents)
  GROUP BY doc_id, token),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n)
SELECT doc_id, rank, token, tf, df, score
FROM (
  SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, token ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {TFIDF_TOP_TERMS}
"""


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training prep: corpus-wide adjacent character-pair
    counts — the statistic the first BPE merge iteration (Sennrich
    2016) maximizes. Top-50 pairs, frequency-weighted by word
    occurrences (not distinct words), deterministic tie-break on the
    pair itself.

    Scale shape: two map-only explodes (words, then in-word adjacent
    pairs — both inside whole-stage codegen, zero Python) feeding one
    partial-aggregating groupBy; the sort ranks only the aggregated
    pair vocabulary (O(alphabet²)), never the corpus. Iterated BPE
    would re-run this count per merge round on a re-encoded corpus;
    the per-round shape is exactly this query."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(TOKENS_SPARK)).alias("w"))
        .where(F.expr("char_length(w) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(50)
    )


Q_TEXT_BPE_PAIRS_SQL = f"""
WITH w AS (SELECT unnest({TOKENS_DUCK}) AS w FROM documents),
p AS (SELECT unnest(list_transform(range(1, length(w)),
                    i -> substring(w, i, 2))) AS pair
      FROM w WHERE length(w) >= 2)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50
"""


# Hashing-trick vector space: dimension count and probe set for the
# sparse retrieval op (probes = doc_id < HV_PROBES, like the ANN ops).
HV_DIM = 64
HV_PROBES = 20
HV_TOPK = 5
HV_SALTS = 32  # stage-1 salt fan-out of the per-probe top-k


def q_text_hash_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-free document retrieval via the hashing trick
    (Weinberger 2009 feature hashing): each doc becomes a sparse
    HV_DIM-dim integer vector (token → md5 dim, ±1 sign; value = signed
    occurrence count), probes are scored by cosine against the corpus,
    top-HV_TOPK per probe. The no-model baseline for semantic-ish
    retrieval when embeddings aren't available — and the sparse-vector
    complement of the dense ANN family in ``similarity.py``.

    Scale shape: vectorization is map-only explode + one (doc, dim)
    partial agg; scoring is the SPARSE dot product — probe postings
    (O(probes×dim), broadcast) equi-join corpus postings on the
    dimension key, partial-agg to pairs — never a dense all-pairs
    join. Norms are exact integer sums; cosine is a fixed IEEE
    sequence from ints, so the DuckDB oracle is exact."""
    from pyspark.sql.window import Window

    h = hash60_spark("concat('hv:', token)")
    vec = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("token"))
        .select(
            "doc_id",
            F.expr(f"CAST(({h}) % {HV_DIM} AS INT)").alias("dim"),
            F.expr(
                f"CASE WHEN (({h}) div {HV_DIM}) % 2 = 0 THEN 1 ELSE -1 END"
            ).alias("s"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.expr("CAST(SUM(s) AS BIGINT)").alias("val"))
        .filter("val <> 0")
        .cache()
    )
    norm = vec.groupBy("doc_id").agg(
        F.expr("CAST(SUM(val * val) AS BIGINT)").alias("n2")
    )
    probes = vec.filter(F.col("doc_id") < HV_PROBES).select(
        F.col("doc_id").alias("pid"), "dim", F.col("val").alias("pval")
    )
    dots = (
        F.broadcast(probes)
        .join(vec, "dim")
        .filter(F.col("pid") != F.col("doc_id"))
        .groupBy("pid", "doc_id")
        .agg(F.expr("CAST(SUM(pval * val) AS BIGINT)").alias("dot"))
    )
    scored = (
        dots.join(norm.withColumnRenamed("doc_id", "pid").withColumnRenamed("n2", "pa"), "pid")
        .join(norm.withColumnRenamed("n2", "nb"), "doc_id")
        .select(
            "pid",
            "doc_id",
            F.expr(
                "CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(pa AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))"
            ).alias("cos"),
        )
    )
    # Salted two-stage top-k (the RETRIEVAL_SALTS pattern / guide
    # §2.5): with HV_PROBES constant, a bare per-pid window lands each
    # probe's corpus-sized candidate list on ONE reducer at scale.
    # Stage 1 ranks within (pid, doc_id % HV_SALTS); stage 2 merges
    # the <= HV_SALTS*HV_TOPK survivors. Exact: the order
    # (cos DESC, doc_id ASC) is total, so every global top-k row is
    # inside its salt bucket's top-k.
    w1 = Window.partitionBy(
        "pid", F.pmod(F.col("doc_id"), F.lit(HV_SALTS))
    ).orderBy(F.desc("cos"), F.asc("doc_id"))
    w = Window.partitionBy("pid").orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        scored.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= HV_TOPK)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HV_TOPK)
        .select("pid", "doc_id", "rank", F.expr("round(cos, 6)").alias("cos_sim"))
        .orderBy("pid", "rank")
    )


def _hash_retrieval_sql() -> str:
    h = hash60_duck("concat('hv:', token)")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents),
dims AS (
  SELECT doc_id, CAST(({h}) % {HV_DIM} AS INT) AS dim,
         CASE WHEN (({h}) // {HV_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM tok),
vec AS (
  SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS val
  FROM dims GROUP BY doc_id, dim HAVING SUM(s) <> 0),
nrm AS (SELECT doc_id, CAST(SUM(val * val) AS BIGINT) AS n2 FROM vec GROUP BY doc_id),
dots AS (
  SELECT p.doc_id AS pid, v.doc_id, CAST(SUM(p.val * v.val) AS BIGINT) AS dot
  FROM vec p JOIN vec v ON p.dim = v.dim AND p.doc_id <> v.doc_id
  WHERE p.doc_id < {HV_PROBES}
  GROUP BY 1, 2),
scored AS (
  SELECT pid, dots.doc_id,
         CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
  FROM dots
  JOIN nrm na ON na.doc_id = pid
  JOIN nrm nb ON nb.doc_id = dots.doc_id),
ranked AS (
  SELECT pid, doc_id, cos,
         row_number() OVER (PARTITION BY pid ORDER BY cos DESC, doc_id ASC) AS rank
  FROM scored)
SELECT pid, doc_id, rank, round(cos, 6) AS cos_sim
FROM ranked WHERE rank <= {HV_TOPK} ORDER BY pid, rank
"""


Q_TEXT_HASH_RETRIEVAL_SQL = _hash_retrieval_sql()


# Fixed two-term phrase for the positional phrase-search query
# (chosen to occur at every test SF; any phrase works).
PHRASE = ("order", "fast")


def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via positional postings — the search-engine
    primitive bag-of-words retrieval can't express: docs where
    PHRASE[0] is IMMEDIATELY followed by PHRASE[1], with per-doc
    occurrence counts and the first match position (1-based).

    Scale shape: the positional index is filtered to the phrase's
    terms BEFORE any join (map-side pushdown — posting lists for two
    terms, not the corpus index), then adjacency is a co-partitioned
    (doc_id, pos+1)=(doc_id, pos) equi-join and one per-doc aggregate.
    Contrast ``dedup.q_dedup_aligned_spans``, which joins the FULL
    positional index for corpus-vs-corpus span discovery; phrase
    search touches O(df(term)) rows."""
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(F.expr(TOKENS_SPARK)).alias("pos", "token"),
        )
    )
    pa = tok.filter(F.col("token") == PHRASE[0]).select("doc_id", "pos")
    pb = tok.filter(F.col("token") == PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        pa.join(pb, (pa.doc_id == pb.doc_id) & (pa.pos + 1 == pb.pos_b))
        .drop(pb.doc_id)
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_occurrences"),
            F.expr("CAST(MIN(pos) + 1 AS BIGINT)").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
    )


Q_TEXT_PHRASE_SEARCH_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               generate_subscripts(toks, 1) AS pos
        FROM t),
pa AS (SELECT doc_id, pos FROM tok WHERE token = '{PHRASE[0]}'),
pb AS (SELECT doc_id, pos FROM tok WHERE token = '{PHRASE[1]}')
SELECT pa.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(pa.pos) AS BIGINT) AS first_pos
FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pa.pos + 1 = pb.pos
GROUP BY pa.doc_id
ORDER BY n_occurrences DESC, pa.doc_id ASC
"""


# --- PII scan + typed redaction ---------------------------------------

# Patterns use [.] instead of \. so the same literal string is a valid
# regex in BOTH engines (Java regex in Spark, RE2 in DuckDB) without
# escaping games; all constructs below ([], {}, +, |, ()) behave
# identically in the two dialects.
PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
PII_PHONE_RE = "555-[0-9]{4}"
PII_IP_RE = "([0-9]{1,3}[.]){3}[0-9]{1,3}"


def _pii_enriched(engine: str) -> str:
    """The synthetic corpus contains no PII, so the op deterministically
    plants some (keyed off doc_id) before scanning — the same
    generate-then-process round-trip pattern the media queries use.
    Returns the enriched-text SQL expression for 'spark' or 'duck'.

    NULL text scans as '' (same canonical rule as TOKENS_*): concat
    with a NULL would null the whole enriched string — silently
    DROPPING the planted PII of a null-text doc from the counts and
    the redaction fingerprint on one engine's NULL-skipping aggregate
    (null sweep)."""
    s = "STRING" if engine == "spark" else "VARCHAR"
    return (
        "concat(coalesce(text, ''),"
        f" CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS {s})"
        " || '@example.com' ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN ' tel 555-'"
        f" || lpad(CAST(doc_id % 10000 AS {s}), 4, '0') ELSE '' END,"
        f" CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS {s})"
        f" || '.' || CAST((doc_id * 7) % 256 AS {s}) ELSE '' END)"
    )


def q_text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + typed redaction audit: count emails / phone numbers /
    IPv4 addresses per source and replace each with a typed tag,
    reporting an order-independent fingerprint (bit_xor of hash60) of
    the redacted corpus — the compliance pass every training-data
    pipeline runs before release, with the audit trail that proves
    what was removed.

    Scale shape: map-only regex extract+replace in the scan stage
    (whole-stage codegen, no Python), then ONE partial-agg group-by on
    source. bit_xor (not sum) folds the per-doc hashes so the corpus
    fingerprint is exact, order-independent, and overflow-free.
    """
    pii = _pii_enriched("spark")
    red = (
        f"regexp_replace(regexp_replace(regexp_replace({pii},"
        f" '{PII_EMAIL_RE}', '<EMAIL>'),"
        f" '{PII_IP_RE}', '<IP>'),"
        f" '{PII_PHONE_RE}', '<PHONE>')"
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.expr(f"size(regexp_extract_all({pii}, '{PII_EMAIL_RE}', 0))").alias(
                "n_em"
            ),
            F.expr(f"size(regexp_extract_all({pii}, '{PII_PHONE_RE}', 0))").alias(
                "n_ph"
            ),
            F.expr(f"size(regexp_extract_all({pii}, '{PII_IP_RE}', 0))").alias(
                "n_ip"
            ),
            F.expr(hash60_spark(red)).alias("rh"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_em").alias("n_emails"),
            F.sum("n_ph").alias("n_phones"),
            F.sum("n_ip").alias("n_ips"),
            F.expr("bit_xor(rh)").alias("redacted_fingerprint"),
        )
    )


def _pii_scan_sql() -> str:
    pii = _pii_enriched("duck")
    red = (
        f"regexp_replace(regexp_replace(regexp_replace({pii},"
        f" '{PII_EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{PII_IP_RE}', '<IP>', 'g'),"
        f" '{PII_PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
WITH scanned AS (
  SELECT source,
         len(regexp_extract_all({pii}, '{PII_EMAIL_RE}')) AS n_em,
         len(regexp_extract_all({pii}, '{PII_PHONE_RE}')) AS n_ph,
         len(regexp_extract_all({pii}, '{PII_IP_RE}')) AS n_ip,
         {hash60_duck(red)} AS rh
  FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_em) AS BIGINT) AS n_emails,
       CAST(SUM(n_ph) AS BIGINT) AS n_phones,
       CAST(SUM(n_ip) AS BIGINT) AS n_ips,
       bit_xor(rh) AS redacted_fingerprint
FROM scanned
GROUP BY source
"""


Q_TEXT_PII_SCAN_SQL = _pii_scan_sql()


# --- compression-ratio quality signal ---------------------------------

ZLIB_LEVEL = 6          # fixed level → bit-deterministic output size
LOW_INFO_RATIO = 0.25   # compressed/raw below this ⇒ near-pure repetition


def q_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic
    low-information filter (highly repetitive/boilerplate text
    compresses far better than natural prose; CCNet and RefinedWeb
    both gate on it). Emits raw/compressed byte counts, the ratio in
    integer per-mille (no float division), and the low-information
    flag.

    No DuckDB oracle (no SQL zlib), so this is a rows-only driver row;
    the pytest twin recomputes zlib(level 6) driver-side for the whole
    test corpus and asserts EXACT equality — zlib at a fixed level is
    bit-deterministic, making this as strongly checked as the hashed
    queries, just not cross-engine.

    Shape: map-only Arrow-batched hop (zlib is C-speed); only
    (doc_id, source, 2 ints) come back — the text never leaves the
    scan stage. At 100 TB this is embarrassingly parallel.
    """
    import pandas as pd

    def ratios(batches):
        import zlib

        for pdf in batches:
            if not len(pdf):
                continue
            # NULL text measures like '' (the TOKENS_* rule); pandas
            # renders parquet NULL strings as None/NaN here
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in pdf["text"]
            ]
            comp = [len(zlib.compress(b, ZLIB_LEVEL)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": comp,
                }
            )

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "text")
        .mapInPandas(
            ratios,
            "doc_id BIGINT, source STRING, n_bytes BIGINT, n_compressed BIGINT",
        )
        .select(
            "doc_id",
            "source",
            "n_bytes",
            "n_compressed",
            # -1 sentinel for zero-byte docs (null/empty text): the
            # ratio is undefined and an integer div-by-zero errors
            # under ANSI mode; -1 < threshold so they flag low_info,
            # which an empty document is
            F.expr(
                "CASE WHEN n_bytes = 0 THEN CAST(-1 AS BIGINT)"
                " ELSE (n_compressed * 1000) div n_bytes END"
            ).alias("ratio_pm"),
        )
        # derive the flag from the EMITTED ratio column so threshold
        # and reported value can never use two drifted expressions
        .withColumn("low_info", F.col("ratio_pm") < int(LOW_INFO_RATIO * 1000))
    )


QUERIES = {
    "text_compression_ratio": q_text_compression_ratio,
    "text_bm25": q_text_bm25,
    "text_bpe_pairs": q_text_bpe_pairs,
    "text_hash_retrieval": q_text_hash_retrieval,
    "text_phrase_search": q_text_phrase_search,
    "text_pii_scan": q_text_pii_scan,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_tokens": q_text_tokens,
    "text_token_topk": q_text_token_topk,
    "text_surprisal": q_text_surprisal,
    "text_fingerprint": q_text_fingerprint,
    "text_vocab": q_text_vocab,
    "text_vocab_approx": q_text_vocab_approx,
    "text_freq_spectrum": q_text_freq_spectrum,
    "text_tfidf": q_text_tfidf,
}

ORACLES = {
    "text_bm25": Q_TEXT_BM25_SQL,
    "text_bpe_pairs": Q_TEXT_BPE_PAIRS_SQL,
    "text_pii_scan": Q_TEXT_PII_SCAN_SQL,
    "text_hash_retrieval": Q_TEXT_HASH_RETRIEVAL_SQL,
    "text_phrase_search": Q_TEXT_PHRASE_SEARCH_SQL,
    "text_quality": Q_TEXT_QUALITY_SQL,
    "text_lang_id": Q_TEXT_LANG_ID_SQL,
    "text_tokens": Q_TEXT_TOKENS_SQL,
    "text_token_topk": Q_TEXT_TOKEN_TOPK_SQL,
    "text_surprisal": Q_TEXT_SURPRISAL_SQL,
    "text_fingerprint": Q_TEXT_FINGERPRINT_SQL,
    "text_vocab": Q_TEXT_VOCAB_SQL,
    "text_freq_spectrum": Q_TEXT_FREQ_SPECTRUM_SQL,
    "text_tfidf": Q_TEXT_TFIDF_SQL,
    # text_vocab_approx: sketch-based, tolerance-tested in pytest
    # (tests/test_north_star.py), no hash oracle by design.
}
