"""Training-data pipeline operators over ``documents``.

The corpus-preparation stages an LLM data pipeline runs after cleaning
and dedup (conceptual siblings of the ops in ``dedup.py`` / ``text.py``):

- ``pipeline_hash_split``   — deterministic train/val/test sharding by
  content-independent key hash: every engine, run, and machine assigns
  the same doc to the same split, the property that makes a 100 TB
  re-shard reproducible. Map-only + one tiny groupBy.
- ``pipeline_pack_sequences`` — contiguous fixed-token-budget packing
  (the streaming form of sequence packing for pretraining batches):
  running token cumsum per language stream → budget-quotient bin id.
  One shuffle on the stream key; the window is the Spark shape of a
  per-stream scan, no driver loop.
- ``pipeline_contamination`` — benchmark-contamination detection:
  which training docs share a word-3-gram with any eval-set doc. The
  eval side of the inverted-index join is tiny by construction (a
  benchmark, not a corpus), so it broadcasts — at 100 TB the scan of
  the training corpus is the only big cost, and it's map-only.

All three are pure Catalyst expressions (no Python in the hot path)
with exact DuckDB oracles via the shared 60-bit md5 hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ij_spark.operators.text import (
    BIGRAMS_DUCK,
    BIGRAMS_SPARK,
    EN_STOPWORDS,
    SHINGLES_DUCK,
    SHINGLES_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    _docs,
    _in_list,
    hash60_duck,
    hash60_spark,
)
from spark_ij_spark.session import checkpoint

# train/val/test = 80/10/10 by hash60(doc_id-as-string) mod 100.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10

PACK_TOKEN_BUDGET = 512

# Every doc_id divisible by this models the held-out benchmark set.
CONTAM_EVAL_MOD = 97


# --- deterministic hash split -----------------------------------------


def q_pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard the corpus 80/10/10 by md5(doc_id) — not by position or
    random(), so the assignment is stable under re-runs, re-orders, and
    engine changes. Per-split accounting: doc count, char volume, and
    min/max doc_id as a spot-checkable determinism witness."""
    bucket = f"({hash60_spark('CAST(doc_id AS STRING)')}) % 100"
    split = (
        f"CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'"
        f" WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'"
        f" ELSE 'test' END"
    )
    return (
        _docs(spark, sf_dir)
        .select(F.expr(split).alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_BUCKET_DUCK = f"({hash60_duck('CAST(doc_id AS VARCHAR)')}) % 100"

Q_PIPELINE_HASH_SPLIT_SQL = f"""
WITH s AS (
  SELECT doc_id, n_chars,
         CASE WHEN {_BUCKET_DUCK} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {_BUCKET_DUCK} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM s GROUP BY split
"""


# --- sequence packing --------------------------------------------------


# Documents per packing shard. Packing runs per (lang, shard) so the
# window never sorts more than PACK_SHARD_DOCS rows in one partition —
# a whole-language window is a single-reducer straggler at corpus
# scale, and real pipelines pack within output shards anyway (bins
# reset at shard boundaries; the ≤1 partially-filled bin per shard is
# the accepted cost).
PACK_SHARD_DOCS = 1000


def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each (language, shard) stream into fixed-token-budget bins:
    running cumsum of whitespace-token counts in doc_id order, bin =
    exclusive cumsum DIV budget. Contiguous fill is the streaming-pack
    shape a distributed pipeline actually uses (first-fit bin packing
    needs global mutable state); a doc larger than the budget still
    gets its own bin(s). Sharding bounds the per-partition sort (see
    PACK_SHARD_DOCS). Per (lang, shard, bin): docs packed and tokens
    filled."""
    t = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.expr(f"doc_id DIV {PACK_SHARD_DOCS}").alias("shard"),
        F.expr(f"size({TOKENS_SPARK})").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = t.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "seq_bin", F.expr(f"(cum - n_tok) DIV {PACK_TOKEN_BUDGET}")
    )
    return binned.groupBy("lang", "shard", "seq_bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tokens")
    )


Q_PIPELINE_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, doc_id // {PACK_SHARD_DOCS} AS shard,
         len({TOKENS_DUCK}) AS n_tok
  FROM documents),
c AS (
  SELECT lang, shard, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT lang, shard,
       CAST((cum - n_tok) // {PACK_TOKEN_BUDGET} AS BIGINT) AS seq_bin,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM c GROUP BY lang, shard, seq_bin
"""


# --- benchmark contamination ------------------------------------------


def q_pipeline_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-benchmark n-gram contamination: (train_doc, eval_doc)
    pairs sharing ≥1 distinct word-3-gram, with the shared count. The
    eval postings (the benchmark) broadcast; the training-corpus scan
    is map-only, so the whole check is one broadcast hash join — the
    shape that survives a 100 TB training side."""
    post = (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.expr(SHINGLES_SPARK)).alias("s"))
        .distinct()
    )
    ev = post.filter(F.expr(f"doc_id % {CONTAM_EVAL_MOD} = 0")).select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    tr = post.filter(F.expr(f"doc_id % {CONTAM_EVAL_MOD} != 0")).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared"))
    )


Q_PIPELINE_CONTAM_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
p AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t),
e AS (SELECT doc_id AS eval_doc, s FROM p WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_doc, s FROM p WHERE doc_id % {CONTAM_EVAL_MOD} != 0)
SELECT train_doc, eval_doc, COUNT(*) AS n_shared
FROM tr JOIN e USING (s)
GROUP BY train_doc, eval_doc
"""


# Training-mix sampling rates per source (percent of docs kept). A
# pretraining mix up/down-weights sources; rates are applied by hash
# threshold so the SAME docs are kept on every engine, run, and
# machine — reproducible mixes, no RNG.
SOURCE_MIX_PCT: dict[str, int] = {"src0": 100, "src1": 50, "src2": 25}
SOURCE_MIX_DEFAULT_PCT = 10


def q_pipeline_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling by source: doc kept iff
    hash60(doc_id) mod 100 < rate(source). Map-only + one tiny groupBy;
    at 100 TB this is a single scan that keeps its partitioning.
    Reports per-source kept/total so the realized mix is auditable."""
    bucket = f"({hash60_spark('CAST(doc_id AS STRING)')}) % 100"
    rate = "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in SOURCE_MIX_PCT.items()
    ) + f" ELSE {SOURCE_MIX_DEFAULT_PCT} END"
    return (
        _docs(spark, sf_dir)
        .select(
            "source",
            "n_chars",
            F.expr(f"CASE WHEN {bucket} < {rate} THEN 1 ELSE 0 END").alias("keep"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("keep").alias("n_kept"),
            F.sum(F.expr("CASE WHEN keep = 1 THEN n_chars ELSE 0 END")).alias(
                "kept_chars"
            ),
        )
    )


_RATE_DUCK = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {p}" for s, p in SOURCE_MIX_PCT.items()
) + f" ELSE {SOURCE_MIX_DEFAULT_PCT} END"

Q_PIPELINE_SOURCE_MIX_SQL = f"""
WITH k AS (
  SELECT source, n_chars,
         CASE WHEN ({_BUCKET_DUCK}) < ({_RATE_DUCK}) THEN 1 ELSE 0 END AS keep
  FROM documents)
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM k GROUP BY source
"""


# Quality gate for the end-to-end corpus filter (test-SF scores span
# 0.53-0.71; 0.62 keeps roughly the upper half — non-vacuous at the
# oracle SFs).
CLEAN_QUALITY_MIN = 0.62


def _quality_score_sql(sz: str, flt: str, dst: str) -> str:
    """The 4-term composite quality score (length, stopword ratio,
    distinct-token ratio, mean word length), parameterized on the
    engine's array function names — ONE formula for clean_corpus and
    curriculum_mix on BOTH engines. CLEAN_QUALITY_MIN and
    CURRICULUM_EDGES are calibrated against exactly this expression;
    a reweighted copy in one of the four former call sites would
    silently shift the kept set (or fail the hash gate)."""
    stop = _in_list(EN_STOPWORDS)
    return (
        f"round(0.25 * least({sz}(toks) / 100.0, 1.0)"
        f" + 0.25 * (1.0 - CAST({sz}({flt}(toks, t -> t IN ({stop})))"
        f" AS DOUBLE) / {sz}(toks))"
        f" + 0.25 * (CAST({sz}({dst}(toks)) AS DOUBLE) / {sz}(toks))"
        f" + 0.25 * least((CAST(length(text) - ({sz}(toks) - 1) AS DOUBLE)"
        f" / {sz}(toks)) / 8.0, 1.0), 6)"
    )


QUALITY_SCORE_SPARK = _quality_score_sql("size", "filter", "array_distinct")
QUALITY_SCORE_DUCK = _quality_score_sql("len", "list_filter", "list_distinct")


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composition query a training
    pipeline actually runs, chaining the individual ops: keep a doc iff
    it (1) is its exact-dup cluster representative (min doc_id per
    content hash), (2) clears the quality gate, (3) is training-side,
    and (4) shares no 3-gram with the benchmark (contamination check).
    Per-language accounting of what survives.

    Scale: (1) is a window over the content-hash shuffle, (2) is
    map-only, (4) is the broadcast contamination join — nothing here
    adds a new shuffle shape beyond the component ops."""

    t = (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn("quality_score", F.expr(QUALITY_SCORE_SPARK))
        .withColumn(
            "rep", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
    )
    contaminated = (
        q_pipeline_contamination(spark, sf_dir).select("train_doc").distinct()
    )
    kept = (
        t.filter(F.col("doc_id") == F.col("rep"))
        .filter(F.col("quality_score") >= CLEAN_QUALITY_MIN)
        .filter(F.expr(f"doc_id % {CONTAM_EVAL_MOD} != 0"))
        .join(
            contaminated.withColumnRenamed("train_doc", "doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.expr(
            "round(CAST(SUM(CAST(quality_score AS DECIMAL(28,6))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("avg_quality"),
    )


Q_PIPELINE_CLEAN_SQL = f"""
WITH t AS (SELECT doc_id, lang, n_chars, text, {TOKENS_DUCK} AS toks FROM documents),
q AS (
  SELECT doc_id, lang, n_chars,
         {QUALITY_SCORE_DUCK} AS quality_score,
         min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM t),
post AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s
         FROM (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents)),
contam AS (
  SELECT DISTINCT tr.doc_id AS train_doc
  FROM (SELECT * FROM post WHERE doc_id % {CONTAM_EVAL_MOD} != 0) tr
  JOIN (SELECT * FROM post WHERE doc_id % {CONTAM_EVAL_MOD} = 0) e USING (s)),
kept AS (
  SELECT * FROM q
  WHERE doc_id = rep
    AND quality_score >= {CLEAN_QUALITY_MIN}
    AND doc_id % {CONTAM_EVAL_MOD} != 0
    AND doc_id NOT IN (SELECT train_doc FROM contam))
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       round(CAST(CAST(SUM(CAST(quality_score AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS avg_quality
FROM kept GROUP BY lang
"""


# --- Gopher-style repetition filter -----------------------------------

# Repetition thresholds (Rae et al. 2021 "Scaling Language Models"
# §A1.1 uses the same metric family; values here are calibrated to the
# synthetic corpus so the filter is non-vacuous at the oracle SFs:
# top-token-fraction p75≈0.111, dup-bigram-fraction p75≈0.047).
GOPHER_TOP_TOKEN_FRAC_MAX = 0.125
GOPHER_DUP_BIGRAM_FRAC_MAX = 0.06
GOPHER_DUP_TRIGRAM_FRAC_MAX = 0.04


# Per-doc metric/pass expression fragments over the toks/bgs/tgs
# columns — the ONE Spark-side definition both the batch filters below
# and the streaming ingest (streaming/documents.quality_flags) compose,
# so a metric retune cannot silently fork the two code paths.
GOPHER_TOP_FRAC_SPARK = (
    "round(CAST(array_max(transform(array_distinct(toks),"
    " w -> size(filter(toks, x -> x = w)))) AS DOUBLE)"
    " / size(toks), 6)"
)
GOPHER_DUP_BI_SPARK = (
    "round(CASE WHEN size(bgs) = 0 THEN 0.0 ELSE"
    " 1.0 - CAST(size(array_distinct(bgs)) AS DOUBLE) / size(bgs)"
    " END, 6)"
)
GOPHER_DUP_TRI_SPARK = (
    "round(CASE WHEN size(tgs) = 0 THEN 0.0 ELSE"
    " 1.0 - CAST(size(array_distinct(tgs)) AS DOUBLE) / size(tgs)"
    " END, 6)"
)


def gopher_pass_spark() -> str:
    """0/1 pass expression for the Gopher repetition rules."""
    return (
        f"CASE WHEN {GOPHER_TOP_FRAC_SPARK} <= {GOPHER_TOP_TOKEN_FRAC_MAX}"
        f" AND {GOPHER_DUP_BI_SPARK} <= {GOPHER_DUP_BIGRAM_FRAC_MAX}"
        f" AND {GOPHER_DUP_TRI_SPARK} <= {GOPHER_DUP_TRIGRAM_FRAC_MAX}"
        " THEN 1 ELSE 0 END"
    )


# DuckDB twins of the metric/pass fragments above — composed by the
# batch oracles here AND the streaming ingest oracle
# (streaming/documents._ingest_audit_sql), one definition per engine.
GOPHER_TOP_FRAC_DUCK = (
    "round(CAST(list_max(list_transform(list_distinct(toks),"
    " w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)"
    " / len(toks), 6)"
)
GOPHER_DUP_BI_DUCK = (
    "round(CASE WHEN len(bgs) = 0 THEN 0.0 ELSE"
    " 1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs) END, 6)"
)
GOPHER_DUP_TRI_DUCK = (
    "round(CASE WHEN len(tgs) = 0 THEN 0.0 ELSE"
    " 1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE) / len(tgs) END, 6)"
)


def gopher_pass_duck() -> str:
    """0/1 pass expression for the Gopher rules (DuckDB)."""
    return (
        f"CASE WHEN {GOPHER_TOP_FRAC_DUCK} <= {GOPHER_TOP_TOKEN_FRAC_MAX}"
        f" AND {GOPHER_DUP_BI_DUCK} <= {GOPHER_DUP_BIGRAM_FRAC_MAX}"
        f" AND {GOPHER_DUP_TRI_DUCK} <= {GOPHER_DUP_TRIGRAM_FRAC_MAX}"
        " THEN 1 ELSE 0 END"
    )


def c4_pass_duck() -> str:
    """0/1 pass expression for the C4 rules (DuckDB)."""
    stop = _in_list(EN_STOPWORDS)
    return (
        f"CASE WHEN len(toks) BETWEEN {C4_MIN_TOKENS} AND {C4_MAX_TOKENS}"
        " AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)"
        f" >= {C4_MIN_TTR}"
        f" AND len(list_filter(toks, t -> t IN ({stop})))"
        f" >= {C4_MIN_STOPWORDS}"
        " THEN 1 ELSE 0 END"
    )


def q_pipeline_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rules family): a doc
    is dropped when its most-frequent token dominates, or too many of
    its word bigrams/trigrams are repeats. All three metrics are exact
    ratios of small integers (bit-identical across engines); per-doc
    metrics round to 6 before the decimal-sum average so aggregation
    order can't drift the hash. Map-only scan + one tiny per-lang
    aggregate — the 100 TB cost is one pass over the corpus."""
    t = (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn("bgs", F.expr(BIGRAMS_SPARK))
        .withColumn("tgs", F.expr(SHINGLES_SPARK))
        .select(
            "lang",
            F.expr(GOPHER_TOP_FRAC_SPARK).alias("top_frac"),
            F.expr(GOPHER_DUP_BI_SPARK).alias("dup_bi"),
            F.expr(GOPHER_DUP_TRI_SPARK).alias("dup_tri"),
        )
        .withColumn(
            "keep",
            F.expr(
                f"CASE WHEN top_frac <= {GOPHER_TOP_TOKEN_FRAC_MAX}"
                f" AND dup_bi <= {GOPHER_DUP_BIGRAM_FRAC_MAX}"
                f" AND dup_tri <= {GOPHER_DUP_TRIGRAM_FRAC_MAX}"
                " THEN 1 ELSE 0 END"
            ),
        )
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        F.expr(
            "round(CAST(SUM(CAST(top_frac AS DECIMAL(28,6))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("avg_top_frac"),
        F.expr(
            "round(CAST(SUM(CAST(dup_bi AS DECIMAL(28,6))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("avg_dup_bigram"),
    )


Q_PIPELINE_GOPHER_SQL = f"""
WITH t AS (
  SELECT lang, {TOKENS_DUCK} AS toks FROM documents),
b AS (
  SELECT lang, toks, {BIGRAMS_DUCK} AS bgs, {SHINGLES_DUCK} AS tgs FROM t),
m AS (
  SELECT lang,
         {GOPHER_TOP_FRAC_DUCK} AS top_frac,
         {GOPHER_DUP_BI_DUCK} AS dup_bi,
         {GOPHER_DUP_TRI_DUCK} AS dup_tri
  FROM b),
k AS (
  SELECT lang, top_frac, dup_bi,
         CASE WHEN top_frac <= {GOPHER_TOP_TOKEN_FRAC_MAX}
               AND dup_bi <= {GOPHER_DUP_BIGRAM_FRAC_MAX}
               AND dup_tri <= {GOPHER_DUP_TRIGRAM_FRAC_MAX}
              THEN 1 ELSE 0 END AS keep
  FROM m)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_kept,
       round(CAST(CAST(SUM(CAST(top_frac AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS avg_top_frac,
       round(CAST(CAST(SUM(CAST(dup_bi AS DECIMAL(28,6))) AS STRING) AS DOUBLE) / COUNT(*), 6) AS avg_dup_bigram
FROM k GROUP BY lang
"""


# --- C4-style heuristic filter ----------------------------------------

# Rule bounds (C4 / Raffel et al. 2020 family, calibrated non-vacuous:
# corpus n_tok p05≈16 / p95≈94, type-token-ratio p25≈0.36, stopword
# count p05=0).
C4_MIN_TOKENS = 20
C4_MAX_TOKENS = 90
C4_MIN_TTR = 0.33
C4_MIN_STOPWORDS = 1


def c4_pass_spark() -> str:
    """0/1 pass expression for the C4 rules (over the toks column)."""
    stop = _in_list(EN_STOPWORDS)
    return (
        f"CASE WHEN size(toks) BETWEEN {C4_MIN_TOKENS} AND {C4_MAX_TOKENS}"
        " AND CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)"
        f" >= {C4_MIN_TTR}"
        f" AND size(filter(toks, t -> t IN ({stop}))) >= {C4_MIN_STOPWORDS}"
        " THEN 1 ELSE 0 END"
    )


def q_pipeline_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule filter with per-rule attribution: per source, how
    many docs fail the length / type-token-ratio / stopword rules and
    how many survive all three. Counts only — integer-exact across
    engines. Map-only + one per-source aggregate; rule attribution is
    what lets a 100 TB run be audited source-by-source before the
    filtered corpus is written."""
    stop = _in_list(EN_STOPWORDS)
    t = (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select(
            "source",
            F.expr(
                f"CASE WHEN size(toks) BETWEEN {C4_MIN_TOKENS} AND {C4_MAX_TOKENS}"
                " THEN 0 ELSE 1 END"
            ).alias("fail_len"),
            F.expr(
                "CASE WHEN CAST(size(array_distinct(toks)) AS DOUBLE)"
                f" / size(toks) >= {C4_MIN_TTR} THEN 0 ELSE 1 END"
            ).alias("fail_ttr"),
            F.expr(
                f"CASE WHEN size(filter(toks, t -> t IN ({stop})))"
                f" >= {C4_MIN_STOPWORDS} THEN 0 ELSE 1 END"
            ).alias("fail_stop"),
        )
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum("fail_len").alias("n_fail_len"),
        F.sum("fail_ttr").alias("n_fail_ttr"),
        F.sum("fail_stop").alias("n_fail_stop"),
        F.sum(
            F.expr(
                "CASE WHEN fail_len = 0 AND fail_ttr = 0 AND fail_stop = 0"
                " THEN 1 ELSE 0 END"
            )
        ).alias("n_kept"),
    )


Q_PIPELINE_C4_SQL = f"""
WITH t AS (SELECT source, {TOKENS_DUCK} AS toks FROM documents),
r AS (
  SELECT source,
         CASE WHEN len(toks) BETWEEN {C4_MIN_TOKENS} AND {C4_MAX_TOKENS}
              THEN 0 ELSE 1 END AS fail_len,
         CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               >= {C4_MIN_TTR} THEN 0 ELSE 1 END AS fail_ttr,
         CASE WHEN len(list_filter(toks, t -> t IN ({_in_list(EN_STOPWORDS)})))
               >= {C4_MIN_STOPWORDS} THEN 0 ELSE 1 END AS fail_stop
  FROM t)
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(fail_len) AS BIGINT) AS n_fail_len,
       CAST(SUM(fail_ttr) AS BIGINT) AS n_fail_ttr,
       CAST(SUM(fail_stop) AS BIGINT) AS n_fail_stop,
       CAST(SUM(CASE WHEN fail_len = 0 AND fail_ttr = 0 AND fail_stop = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM r GROUP BY source
"""


# --- deterministic stratified sample ----------------------------------

SAMPLE_PER_STRATUM = 20
# Stage-1 salt fan-out for the per-stratum top-k / budget-walk windows
# (the RETRIEVAL_SALTS pattern / guide §2.5): lang strata are FEW
# and corpus-sized, so a bare per-lang window lands each stratum on
# ONE reducer at 100 TB. Stage 1 ranks within (lang, doc_id % SALTS),
# stage 2 merges the bounded survivors. Top-k exactness: the order
# (key, doc_id) is total, so every global top-k row is inside its salt
# bucket's top-k. Budget-walk exactness (token_budget): a doc's salt-
# bucket prefix lower-bounds its true prefix, so stage-1 drops are
# sound; if ANY doc of a bucket is dropped, that bucket's survivors
# already hold >= BUDGET tokens and all precede every later doc, so
# stage 2 still drops everything the true walk drops; and every
# predecessor of a truly-kept doc survives stage 1, so the emitted
# cum_tokens equals the true prefix sum. (The INCLUSIVE cum <= budget
# walk in calibrated_mix does NOT decompose over doc_id salts — a huge
# doc can be dropped in stage 1 while still owing its tokens to later
# true prefixes — so that query instead uses ORDER-ALIGNED h-range
# buckets, whose offsets compose exactly: see MIX_RANGE_BITS.)
PIPE_SALTS = 32


def q_pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per language, the K docs with
    the smallest hash60(doc_id) — a uniform-without-RNG sample that
    every engine and every re-run reproduces exactly (the hash IS the
    random order). One window per stratum; at 100 TB this is a
    rank-over-shuffle per language, and because K is tiny the same
    result is also reachable shuffle-free as a per-partition top-K
    merge (Spark's TakeOrderedAndProject when expressed as ORDER BY
    LIMIT per group)."""

    h = f"{hash60_spark('CAST(doc_id AS STRING)')}"
    # salted two-stage top-k (see PIPE_SALTS): exact, and the stage-2
    # window ranks <= SALTS*K survivors per stratum instead of the
    # whole corpus slice
    w1 = Window.partitionBy(
        "lang", F.pmod(F.col("doc_id"), F.lit(PIPE_SALTS))
    ).orderBy("h", "doc_id")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", F.expr(h).alias("h"))
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= SAMPLE_PER_STRATUM)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("lang", "rk", "doc_id")
    )


Q_PIPELINE_SAMPLE_SQL = f"""
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {hash60_duck('CAST(doc_id AS VARCHAR)')}, doc_id) AS rk
  FROM documents)
SELECT lang, rk, doc_id FROM r WHERE rk <= {SAMPLE_PER_STRATUM}
"""


# --- token-budget subset selection ------------------------------------

TOKEN_BUDGET_PER_LANG = 1000


def q_pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a fixed training-token budget per language, reproducibly:
    walk the stratum in hash60(doc_id) order (a deterministic uniform
    shuffle) and keep documents while the budget isn't exhausted — a
    doc is kept iff the tokens BEFORE it are under budget, so the
    budget overshoots by at most one document and the same subset
    materializes on every engine and re-run. The per-stratum cumsum is
    one window over one shuffle; output size is budget-bound, not
    corpus-bound (the same ~90 rows at every SF)."""

    h = hash60_spark("CAST(doc_id AS STRING)")
    # salted two-stage budget walk (see PIPE_SALTS for the exactness
    # proof): stage 1 prunes on the per-(lang, salt) prefix — a lower
    # bound of the true prefix — so the stage-2 cumsum runs over a
    # budget-bounded survivor set per stratum, not the corpus slice,
    # and emits the identical rows and cum_tokens values
    w1 = (
        Window.partitionBy("lang", F.pmod(F.col("doc_id"), F.lit(PIPE_SALTS)))
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = _docs(spark, sf_dir).select(
        "lang",
        "doc_id",
        F.expr(f"size({TOKENS_SPARK})").alias("n_tok"),
        F.expr(h).alias("h"),
    )
    return (
        t.withColumn("bcum", F.sum("n_tok").over(w1))
        .filter(F.col("bcum") - F.col("n_tok") < TOKEN_BUDGET_PER_LANG)
        .withColumn("cum_tokens", F.sum("n_tok").over(w))
        .filter(
            F.col("cum_tokens") - F.col("n_tok") < TOKEN_BUDGET_PER_LANG
        )
        .select("lang", "doc_id", "n_tok", "cum_tokens")
    )


Q_PIPELINE_TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT lang, doc_id, len({TOKENS_DUCK}) AS n_tok FROM documents),
c AS (
  SELECT lang, doc_id, n_tok,
         SUM(n_tok) OVER (
           PARTITION BY lang
           ORDER BY {hash60_duck('CAST(doc_id AS VARCHAR)')}, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t)
SELECT lang, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens - n_tok < {TOKEN_BUDGET_PER_LANG}
"""


# --- context-window chunking ------------------------------------------

# Overlapping token windows: CHUNK_TOKENS per chunk, a new chunk every
# CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48
_CHUNK_NEW = CHUNK_TOKENS - CHUNK_STRIDE  # tokens a non-first chunk must add


def q_pipeline_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping context-window chunks (the
    retrieval / pretraining-window prep stage): token windows of
    CHUNK_TOKENS with stride CHUNK_STRIDE.

    A trailing start is emitted only if its chunk adds tokens beyond
    the previous chunk's coverage (``s = 1 OR s + overlap <= n``), so
    no chunk is a subset of its predecessor. Output carries the 60-bit
    chunk-text hash, not the text — at 100 TB the chunk table is a
    join key table, and re-slicing the source is cheaper than
    duplicating it 1.33×.

    Shape: map-only (tokenize → higher-order filter over the start
    sequence → explode → slice), zero shuffles, whole-stage codegen
    end-to-end; the explode multiplies rows ≈ n_tokens/stride, which
    partitions absorb row-group-locally.
    """
    chunk = f"slice(toks, s, {CHUNK_TOKENS})"
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn(
            "s",
            F.explode(
                F.expr(
                    f"filter(sequence(1, size(toks), {CHUNK_STRIDE}),"
                    f" s -> s = 1 OR s + {_CHUNK_NEW} <= size(toks))"
                )
            ),
        )
        .select(
            "doc_id",
            F.expr(f"CAST((s - 1) DIV {CHUNK_STRIDE} AS BIGINT)").alias("chunk_id"),
            F.expr("CAST(s AS BIGINT)").alias("start_token"),
            F.expr(f"CAST(size({chunk}) AS BIGINT)").alias("n_chunk_tokens"),
            F.expr(hash60_spark(f"concat_ws(' ', {chunk})")).alias("chunk_hash"),
        )
    )


Q_PIPELINE_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
st AS (
  SELECT doc_id, toks,
         unnest(list_filter(range(1, len(toks) + 1, {CHUNK_STRIDE}),
                            s -> s = 1 OR s + {_CHUNK_NEW} <= len(toks))) AS s
  FROM t),
ch AS (
  SELECT doc_id, s,
         list_slice(toks, s, least(s + {CHUNK_TOKENS - 1}, len(toks))) AS chunk
  FROM st)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_token,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       {hash60_duck("array_to_string(chunk, ' ')")} AS chunk_hash
FROM ch
"""


# --- model-based quality classifier inference -------------------------

# Hashed-bag-of-words linear classifier (fastText-style inference): a
# token hashes to one of CLF_BUCKETS feature buckets; the doc score is
# the sum of the bucket weights. Weights are a fixed, deterministic
# table (stand-in for trained parameters) chosen as multiples of 1/8 —
# binary fractions, so every partial sum is exactly representable and
# the score is order-independent in IEEE doubles (no decimal-sum
# machinery needed, and no libm exp/sigmoid in the graded output).
CLF_BUCKETS = 64
CLF_WEIGHTS = tuple(((i * 37 + 11) % 13 - 6) / 8.0 for i in range(CLF_BUCKETS))

_W_SPARK = "array(" + ", ".join(f"{w}D" for w in CLF_WEIGHTS) + ")"
_W_DUCK = "[" + ", ".join(f"CAST({w} AS DOUBLE)" for w in CLF_WEIGHTS) + "]"


def q_pipeline_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering (the model-scored sibling of
    the rule-based Gopher/C4 filters): per-doc linear margin from a
    hashed-feature bag-of-words model, keep = margin > 0.

    Inference is a pure Catalyst expression — tokenize → transform
    each token to its hashed bucket weight → aggregate-sum → compare.
    Map-only, zero shuffles, whole-stage codegen: at 100 TB this is
    exactly a scan with a slightly more expensive projection, which is
    what model-based filtering must compile to (a Python-UDF scorer
    would bottleneck the whole corpus pass).
    """
    bucket = f"CAST(({hash60_spark('t')}) % {CLF_BUCKETS} AS INT) + 1"
    score = (
        f"aggregate(transform(toks, t -> element_at({_W_SPARK}, {bucket})),"
        f" CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select(
            "doc_id",
            "lang",
            F.expr(f"round({score}, 6)").alias("quality_margin"),
            F.expr(f"CAST({score} > 0 AS INT)").alias("kept"),
        )
    )


_CLF_BUCKET_DUCK = f"CAST(({hash60_duck('t')}) % {CLF_BUCKETS} AS INT) + 1"
_CLF_SCORE_DUCK = (
    f"list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    f" list_transform(toks, t -> list_extract({_W_DUCK}, {_CLF_BUCKET_DUCK}))),"
    f" (acc, x) -> acc + x)"
)

Q_PIPELINE_CLASSIFIER_SQL = f"""
WITH t AS (SELECT doc_id, lang, {TOKENS_DUCK} AS toks FROM documents)
SELECT doc_id, lang,
       round({_CLF_SCORE_DUCK}, 6) AS quality_margin,
       CAST({_CLF_SCORE_DUCK} > 0 AS INT) AS kept
FROM t
"""


# --- leakage-safe (cluster-aware) split -------------------------------


def q_pipeline_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    splits: every document hashes on its near-dup CLUSTER
    representative (connected-component min doc_id) instead of its own
    id, so a whole dup-cluster always lands in one split — the
    split-time complement of dedup (leaving near-dups of training docs
    in the test set inflates eval).

    Output is per-split accounting plus ``max_splits_per_cluster``, a
    graded witness of the no-leakage invariant (must be 1).

    Scale shape: the cluster-label frame from the CC loop joins the
    corpus on doc_id (labels exist only for docs in near-dup pairs — a
    small fraction by construction, but not broadcast-safe at 100 TB,
    so it's a keyed shuffle join AQE can downgrade to broadcast when
    small); everything downstream is the map-only hash-split plus one
    (split, cluster_rep) pre-aggregate that both outputs derive from.
    The witness aggregates the PRODUCTION split column of the joined
    frame (through that pre-aggregate), exactly as the oracle does:
    a witness recomputed from cluster_rep would be 1 by construction
    (countDistinct of a pure function of the group key) and could
    never catch a split assignment edited to depend on doc-level data
    — the audit must measure the code path production runs (CLAUDE.md
    shared-generator rule).
    """
    from spark_ij_spark.operators.dedup import q_dedup_clusters

    labels = q_dedup_clusters(spark, sf_dir)

    def split_of(rep_col: str) -> str:
        bucket = f"({hash60_spark(f'CAST({rep_col} AS STRING)')}) % 100"
        return (
            f"CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'"
            f" WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'"
            f" ELSE 'test' END"
        )

    s = (
        _docs(spark, sf_dir)
        .join(labels, "doc_id", "left")
        .withColumn("rep", F.coalesce("cluster_rep", "doc_id"))
        .withColumn("split", F.expr(split_of("rep")))
    )
    # ONE corpus pass into the (split, cluster_rep) pre-aggregate; the
    # witness and the accounting both derive from it (guide §2.3/§5:
    # caching the corpus-sized joined frame and aggregating it twice
    # would make that cache write the cost at 100 TB).
    # The witness still aggregates the PRODUCTION split column (g is
    # an aggregate OF s.split; per-cluster countDistinct(split) ==
    # row count in g because g is distinct on the pair) — the
    # shared-generator rule holds. Cache the AGGREGATE
    # (O(|clusters|) rows), never the corpus.
    g = (
        s.groupBy("split", "cluster_rep")
        .agg(
            F.count("*").alias("n"),
            F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("sc"),
        )
        .cache()
    )
    wit = F.broadcast(
        g.where(F.col("cluster_rep").isNotNull())
        .groupBy("cluster_rep")
        .agg(F.count("*").alias("ns"))
        .agg(
            F.coalesce(F.max("ns"), F.lit(0))
            .cast("bigint")
            .alias("max_splits_per_cluster")
        )
    )
    return (
        g.crossJoin(wit)
        .groupBy("split", "max_splits_per_cluster")
        .agg(
            F.expr("CAST(SUM(n) AS BIGINT)").alias("n_docs"),
            F.expr(
                "CAST(SUM(CASE WHEN cluster_rep IS NOT NULL THEN n"
                " ELSE 0 END) AS BIGINT)"
            ).alias("n_clustered_docs"),
            F.expr("CAST(SUM(sc) AS BIGINT)").alias("sum_chars"),
        )
    )


def _leakage_split_sql() -> str:
    from spark_ij_spark.operators.dedup import Q_DEDUP_CLUSTERS_SQL

    bucket = f"({hash60_duck('CAST(rep AS VARCHAR)')}) % 100"
    return f"""
WITH labels AS (SELECT * FROM ({Q_DEDUP_CLUSTERS_SQL})),
j AS (
  SELECT d.doc_id, d.n_chars, l.cluster_rep,
         COALESCE(l.cluster_rep, d.doc_id) AS rep
  FROM documents d LEFT JOIN labels l USING (doc_id)),
s AS (
  SELECT *,
         CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM j),
wit AS (
  SELECT CAST(COALESCE(MAX(ns), 0) AS BIGINT) AS max_splits_per_cluster
  FROM (SELECT cluster_rep, COUNT(DISTINCT split) AS ns
        FROM s WHERE cluster_rep IS NOT NULL GROUP BY cluster_rep))
SELECT split, wit.max_splits_per_cluster,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cluster_rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clustered_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s CROSS JOIN wit
GROUP BY split, wit.max_splits_per_cluster
"""


# --- blocklist-term redaction (scrub transform + audit) ---------------

# Terms to mask from the corpus (stand-in for a PII / toxic-term
# blocklist; the synthetic corpus has no emails/digits, so the list is
# vocabulary words — the machinery is term-set-agnostic). 'secret'
# never occurs: it exercises the zero-hit path.
REDACT_TERMS = ("customer", "vector", "secret")
REDACT_MASK = "[REDACTED]"


def q_pipeline_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-term redaction with per-source audit — the scrub
    TRANSFORM stage of a PII/toxicity pass (C4 drops whole documents;
    production PII handling masks in place and keeps the doc).

    Per doc, blocklisted tokens are counted and their character mass
    measured (what masking saves/changes); the graded output is the
    per-source audit a compliance pass must produce: docs touched,
    terms masked, chars masked, and the redacted corpus size assuming
    each hit is replaced by the mask token.

    Scale shape: tokenize → higher-order filter/aggregate per row (all
    Catalyst, no Python, no explode — the token array never leaves the
    row) → one tiny per-source aggregate. A 100 TB scrub is exactly a
    map-only corpus pass plus an O(sources) audit table; integer
    character arithmetic keeps both engines bit-identical.
    """
    pred = f"t -> t IN ({_in_list(REDACT_TERMS)})"
    n_hits = f"size(filter(toks, {pred}))"
    chars_hit = (
        f"aggregate(transform(filter(toks, {pred}), t -> length(t)),"
        f" 0, (acc, x) -> acc + x)"
    )
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn("n_hits", F.expr(n_hits))
        .withColumn("chars_hit", F.expr(chars_hit))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "docs_affected"
            ),
            F.expr("CAST(SUM(n_hits) AS BIGINT)").alias("terms_redacted"),
            F.expr("CAST(SUM(chars_hit) AS BIGINT)").alias("chars_redacted"),
            F.expr(
                f"CAST(SUM(length(text) - chars_hit"
                f" + n_hits * {len(REDACT_MASK)}) AS BIGINT)"
            ).alias("redacted_corpus_chars"),
        )
        .orderBy("source")
    )


_REDACT_PRED_DUCK = f"t -> t IN ({_in_list(REDACT_TERMS)})"
_REDACT_CHARS_DUCK = (
    f"list_reduce(list_prepend(0, list_transform("
    f"list_filter(toks, {_REDACT_PRED_DUCK}), t -> length(t))),"
    f" (acc, x) -> acc + x)"
)

Q_PIPELINE_REDACT_SQL = f"""
WITH t AS (SELECT source, text, {TOKENS_DUCK} AS toks FROM documents),
m AS (
  SELECT source, text,
         len(list_filter(toks, {_REDACT_PRED_DUCK})) AS n_hits,
         {_REDACT_CHARS_DUCK} AS chars_hit
  FROM t)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
       CAST(SUM(n_hits) AS BIGINT) AS terms_redacted,
       CAST(SUM(chars_hit) AS BIGINT) AS chars_redacted,
       CAST(SUM(length(text) - chars_hit + n_hits * {len(REDACT_MASK)}) AS BIGINT)
         AS redacted_corpus_chars
FROM m
GROUP BY source
ORDER BY source
"""


# --- curriculum mixing by quality bucket ------------------------------

# Quality-score bucket edges (calibrated offline — at sf0.01 these sit
# near the corpus quartiles) and per-bucket keep percentages: the
# curriculum keeps all of the best bucket and thins progressively
# toward the worst — the quality-weighted mixing stage (DoReMi-style
# reweighting with fixed weights).
CURRICULUM_EDGES = (0.62, 0.64, 0.66)
CURRICULUM_KEEP_PCT = (25, 50, 75, 100)


def q_pipeline_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucketed curriculum mixing: score every document with
    the map-only composite quality expression, place it in a bucket by
    fixed calibrated thresholds, then keep a per-bucket deterministic
    hash fraction (higher quality → higher keep rate).

    Scale shape: bucket edges are literals (from an offline
    calibration job), so the whole pass is map-only scoring + the
    hash-mod keep decision — zero shuffles before the O(buckets)
    audit aggregate. No RNG: re-runs and retries keep identical docs.
    The same pattern reweights any corpus-wide mix at 100 TB without
    a sort or a sample() pass.
    """
    score = QUALITY_SCORE_SPARK
    e0, e1, e2 = CURRICULUM_EDGES
    bucket = (
        f"CASE WHEN q < {e0} THEN 0 WHEN q < {e1} THEN 1"
        f" WHEN q < {e2} THEN 2 ELSE 3 END"
    )
    rate = "CASE " + " ".join(
        f"WHEN bucket = {i} THEN {p}" for i, p in enumerate(CURRICULUM_KEEP_PCT)
    ) + " END"
    keep = f"({hash60_spark('CAST(doc_id AS STRING)')}) % 100 < {rate}"
    return (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .withColumn("q", F.expr(score))
        .withColumn("bucket", F.expr(bucket))
        .withColumn("kept", F.expr(f"CAST({keep} AS INT)"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("CAST(SUM(kept) AS BIGINT)").alias("n_kept"),
            F.expr("CAST(SUM(kept * size(toks)) AS BIGINT)").alias("kept_tokens"),
            F.expr("round(MIN(q), 6)").alias("min_q"),
            F.expr("round(MAX(q), 6)").alias("max_q"),
        )
        .orderBy("bucket")
    )


def _curriculum_sql() -> str:
    score = QUALITY_SCORE_DUCK
    e0, e1, e2 = CURRICULUM_EDGES
    rate = "CASE " + " ".join(
        f"WHEN bucket = {i} THEN {p}" for i, p in enumerate(CURRICULUM_KEEP_PCT)
    ) + " END"
    return f"""
WITH t AS (SELECT doc_id, text, {TOKENS_DUCK} AS toks FROM documents),
s AS (SELECT doc_id, toks, {score} AS q FROM t),
b AS (SELECT doc_id, toks, q,
             CASE WHEN q < {e0} THEN 0 WHEN q < {e1} THEN 1
                  WHEN q < {e2} THEN 2 ELSE 3 END AS bucket
      FROM s),
k AS (SELECT bucket, q, toks,
             CAST(({hash60_duck('CAST(doc_id AS VARCHAR)')}) % 100 < {rate}
                  AS INT) AS kept
      FROM b)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept * len(toks)) AS BIGINT) AS kept_tokens,
       round(MIN(q), 6) AS min_q,
       round(MAX(q), 6) AS max_q
FROM k GROUP BY bucket ORDER BY bucket
"""


# --- deterministic training-order sharding ----------------------------

# Shards are sized like training files (a few GB each in production);
# the count scales with the corpus, so the per-shard window below is
# bounded by shard size — the same bounded-window argument as
# PACK_SHARD_DOCS in sequence packing.
ORDER_SHARDS = 8


def q_pipeline_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order materialization: every doc
    gets a (shard, position) so the training loader can stream shards
    sequentially and still see a corpus-wide pseudo-random order — the
    distributed "global shuffle" without RNG state.

    Shard assignment and within-shard order use INDEPENDENT 60-bit
    hashes (different salt prefixes), so position within a shard is
    uncorrelated with shard membership. Re-runs reproduce the exact
    order; adding documents perturbs only their own placements.

    Scale shape: one shuffle partitioned by shard; position is a
    row_number window per shard, bounded because shard count scales
    with corpus size (shards ≈ training-file-sized). No global sort,
    no driver collection.
    """
    shard_h = hash60_spark("concat('s:', CAST(doc_id AS STRING))")
    okey = hash60_spark("concat('o:', CAST(doc_id AS STRING))")
    shard = f"({shard_h}) % {ORDER_SHARDS}"

    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"CAST({shard} AS BIGINT)").alias("shard"),
            F.expr(okey).alias("okey"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


Q_PIPELINE_SHARD_ORDER_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CAST(({hash60_duck("'s:' || CAST(doc_id AS VARCHAR)")})
              % {ORDER_SHARDS} AS BIGINT) AS shard,
         {hash60_duck("'o:' || CAST(doc_id AS VARCHAR)")} AS okey
  FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id)
            AS BIGINT) AS pos
FROM s
"""


# Weighted sample size per language stratum.
WS_K = 10
_TWO_60 = 1 << 60


def q_pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis via exponential clocks): each doc draws
    key = −ln(u)/w with u a [0,1) uniform derived from hash60(doc_id)
    and w its token count; the WS_K smallest keys per language stratum
    are the sample. Inclusion probability is proportional to weight —
    the reproducible-without-RNG way to oversample long documents (or
    any per-doc quality weight) in a training mix.

    Scale shape: the draw key is one map-only codegen expression (md5
    + ln per doc); selection is a per-stratum top-k window on ONE
    keyed shuffle — no global sort, no RNG state. Determinism: u is an
    exact dyadic rational (60-bit hash / 2^60); +, /, and the window
    ordering are bit-exact IEEE, but ln() is NOT guaranteed correctly
    rounded by either engine — JVM Math.log and DuckDB's libm log
    agree on every value this data produces (empirically verified,
    same dependency as text_surprisal, graded green across rounds and
    a Spark 4.0→4.1 swap), yet a 1-ulp divergence on some future input
    could flip a near-tie at the top-k boundary. The doc_id tiebreak
    bounds the blast radius to genuinely adjacent keys; ordering uses
    the raw key, display rounds."""

    h = hash60_spark("concat('ws:', CAST(doc_id AS STRING))")
    key = (
        f"-ln((CAST(({h}) AS DOUBLE) + 1) / {_TWO_60}.0)"
        f" / CAST(size({TOKENS_SPARK}) AS DOUBLE)"
    )
    # salted two-stage top-k (see PIPE_SALTS): exact under the total
    # (draw_key, doc_id) order
    w1 = Window.partitionBy(
        "lang", F.pmod(F.col("doc_id"), F.lit(PIPE_SALTS))
    ).orderBy("draw_key", "doc_id")
    w = Window.partitionBy("lang").orderBy("draw_key", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "lang",
            "doc_id",
            F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tokens"),
            F.expr(key).alias("draw_key"),
        )
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= WS_K)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WS_K)
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            F.expr("round(draw_key, 9)").alias("draw_key"),
        )
        .orderBy("lang", "doc_id")
    )


def _weighted_sample_sql() -> str:
    h = hash60_duck("concat('ws:', CAST(doc_id AS VARCHAR))")
    key = (
        f"-ln((CAST(({h}) AS DOUBLE) + 1) / {_TWO_60}.0)"
        f" / CAST(len({TOKENS_DUCK}) AS DOUBLE)"
    )
    return f"""
WITH keyed AS (
  SELECT lang, doc_id,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         {key} AS draw_key
  FROM documents),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY draw_key, doc_id) AS rk
  FROM keyed)
SELECT lang, doc_id, n_tokens, round(draw_key, 9) AS draw_key
FROM ranked WHERE rk <= {WS_K} ORDER BY lang, doc_id
"""


Q_PIPELINE_WEIGHTED_SAMPLE_SQL = _weighted_sample_sql()


# Calibrated-mix targets: source tiers (source number mod 4) with
# binary-fraction TOKEN shares. Written as (numerator, denominator)
# pairs so the budget arithmetic stays pure-integer in both engines.
MIX_TIER_SHARES = {0: (1, 2), 1: (1, 4), 2: (1, 8), 3: (1, 8)}
# Order-aligned bucket fan-out for the calibrated-mix INCLUSIVE budget
# walk: buckets are h-RANGES (b = h div 2^(60-bits)), aligned
# with the walk's (h, doc_id) sort order, so per-bucket local prefix
# sums compose exactly with broadcast bucket offsets — unlike the
# doc_id % SALTS decomposition (see PIPE_SALTS), which interleaves the
# order and cannot express an inclusive walk. 2^10 buckets x 4 tiers
# bounds the offsets frame at 4096 rows (broadcast-safe by
# construction); at 100 TB each (tier, bucket) window stratum holds
# ~corpus/4096 rows instead of corpus/4.
MIX_RANGE_BITS = 10


def q_pipeline_calibrated_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating source mixing: hit exact target TOKEN
    proportions across source tiers without upsampling. Phase 1
    measures each tier's available tokens; the largest feasible corpus
    is K = min_t(avail_t / share_t) and each tier's budget is
    share_t·K. Phase 2 walks each tier in hash order and keeps docs
    while the running token count fits the budget (same cumsum-window
    shape as ``pipeline_token_budget`` — but with budgets DERIVED from
    the data, the calibrate-then-apply pattern real mixture tuning
    uses, instead of fixed constants).

    Scale shape: the INCLUSIVE ``cum <= budget`` walk does not
    salt-decompose (a doc_id-salted bucket prefix only lower-bounds
    the true prefix, and a stage-1-dropped giant still owes its tokens
    to later docs' true prefixes) — but it DOES decompose over buckets
    that are ALIGNED WITH THE WALK ORDER: bucket b = h div
    2^(60-MIX_RANGE_BITS) is monotone in the sort key h (ties in h
    share a bucket), so true_cum(d) = offset(tier, b) + local_cum(d)
    EXACTLY, where offset is the total tokens of all earlier buckets.
    Bucket totals are one partial-aggregating groupBy to O(tiers·2^10)
    rows (which also yields avail_tokens for calibration), offsets a
    window over that tiny frame, and the corpus walk becomes a window
    per (tier, bucket) — 4096 well-spread strata instead of one
    reducer per tier. Buckets whose offset already exceeds the budget
    are dropped whole BEFORE the window shuffle (sound: every doc in
    such a bucket has cum >= offset > budget; bucket-granular, so no
    surviving doc's local_cum changes). Determinism: token counts,
    budgets, offsets are exact integers (shares are rational pairs,
    floor division)."""

    tier = "CAST(substring(source, 4) AS INT) % 4"
    toks = f"CAST(size({TOKENS_SPARK}) AS BIGINT)"
    h = hash60_spark("concat('mix:', CAST(doc_id AS STRING))")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(tier).alias("tier"),
        F.expr(toks).alias("n_tokens"),
        F.expr(h).alias("h"),
    ).withColumn(
        "b", F.expr(f"h div {1 << (60 - MIX_RANGE_BITS)}")
    )
    # per-(tier, order-bucket) token totals: bounded at tiers·2^bits
    # rows by construction, and avail = their per-tier sum (exact
    # BIGINT adds in any grouping), so ONE corpus aggregation pass
    # feeds both calibration and the walk offsets. The checkpoint
    # materializes that pass ONCE — offs and budgets are separate
    # broadcast subtrees, and without it each re-runs the corpus
    # tokenize.
    bt, _ = checkpoint(
        docs.groupBy("tier", "b").agg(
            F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("b_tokens")
        )
    )
    avail = bt.groupBy("tier").agg(
        F.expr("CAST(SUM(b_tokens) AS BIGINT)").alias("avail_tokens")
    )
    # K = min_t(avail_t * den_t / num_t); budget_t = avail-independent
    # share_t * K — all BIGINT floor arithmetic, identical cross-engine.
    cap = "CASE " + " ".join(
        f"WHEN tier = {t} THEN avail_tokens * {d} div {n}"
        for t, (n, d) in MIX_TIER_SHARES.items()
    ) + " END"
    budget = "CASE " + " ".join(
        f"WHEN tier = {t} THEN k * {n} div {d}"
        for t, (n, d) in MIX_TIER_SHARES.items()
    ) + " END"
    budgets = (
        avail.withColumn("cap", F.expr(cap))
        .withColumn("k", F.expr("CAST(MIN(cap) OVER () AS BIGINT)"))
        .select("tier", "avail_tokens", F.expr(f"CAST({budget} AS BIGINT)").alias("budget_tokens"))
    )
    woff = (
        Window.partitionBy("tier")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bt.select(
        "tier",
        "b",
        F.coalesce(F.sum("b_tokens").over(woff), F.lit(0).cast("long")).alias("off"),
    )
    wloc = (
        Window.partitionBy("tier", "b")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        docs.join(F.broadcast(offs), ["tier", "b"])
        .join(F.broadcast(budgets), "tier")
        .filter(F.col("off") <= F.col("budget_tokens"))
        .withColumn("cum", F.col("off") + F.sum("n_tokens").over(wloc))
        .filter(F.col("cum") <= F.col("budget_tokens"))
    )
    return (
        kept.groupBy("tier", "avail_tokens", "budget_tokens")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("kept_docs"),
            F.expr("CAST(SUM(n_tokens) AS BIGINT)").alias("kept_tokens"),
        )
        .orderBy("tier")
    )


def _calibrated_mix_sql() -> str:
    tier = "CAST(substring(source, 4) AS INT) % 4"
    toks = f"CAST(len({TOKENS_DUCK}) AS BIGINT)"
    h = hash60_duck("concat('mix:', CAST(doc_id AS VARCHAR))")
    cap = "CASE " + " ".join(
        f"WHEN tier = {t} THEN avail_tokens * {d} // {n}"
        for t, (n, d) in MIX_TIER_SHARES.items()
    ) + " END"
    budget = "CASE " + " ".join(
        f"WHEN tier = {t} THEN k * {n} // {d}"
        for t, (n, d) in MIX_TIER_SHARES.items()
    ) + " END"
    return f"""
WITH docs AS (
  SELECT doc_id, {tier} AS tier, {toks} AS n_tokens, {h} AS h
  FROM documents),
avail AS (
  SELECT tier, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
  FROM docs GROUP BY tier),
budgets AS (
  SELECT tier, avail_tokens,
         CAST({budget} AS BIGINT) AS budget_tokens
  FROM (SELECT tier, avail_tokens,
               CAST(MIN({cap}) OVER () AS BIGINT) AS k
        FROM avail)),
kept AS (
  SELECT d.tier, b.avail_tokens, b.budget_tokens, d.n_tokens
  FROM (SELECT *, SUM(n_tokens) OVER (PARTITION BY tier ORDER BY h, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
        FROM docs) d
  JOIN budgets b ON d.tier = b.tier
  WHERE d.cum <= b.budget_tokens)
SELECT tier, avail_tokens, budget_tokens,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
FROM kept GROUP BY tier, avail_tokens, budget_tokens ORDER BY tier
"""


Q_PIPELINE_CALIBRATED_MIX_SQL = _calibrated_mix_sql()


# Candidate padding granularities audited by pipeline_padding_waste.
PAD_GRANULARITIES = (32, 64, 128, 256)


def q_pipeline_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: for each candidate padding
    granularity g, every doc pads to ceil(n_tokens/g)·g (the
    bucketed-batching rule that keeps GPU batch shapes uniform), and
    the audit reports how many padded tokens each granularity wastes —
    the number that decides g before a 100 TB tokenization run burns
    the waste for real. Coarser buckets waste more padding but yield
    fewer distinct shapes (`n_shapes` — fewer recompiled kernels);
    this is the whole tradeoff in one table.

    Scale shape: token counting and the ×|granularities| explode are
    map-only codegen; the audit is one partial-aggregating shuffle to
    O(granularities) rows. Counts are exact BIGINTs; the ppm is
    FLOOR(1e6 · waste / padded) computed as ONE double multiply and
    ONE double divide in the same order on both engines (bit-identical
    IEEE, so the hash matches) — NOT a 1000000·waste BIGINT numerator,
    which overflows 2^63 at ~9.2e12 waste tokens, i.e. exactly the
    ~100 TB corpus this audit exists to plan for."""
    g_list = ", ".join(str(g) for g in PAD_GRANULARITIES)
    return (
        _docs(spark, sf_dir)
        .select(F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_tok"))
        .select("n_tok", F.explode(F.expr(f"array({g_list})")).alias("g"))
        .withColumn(
            "padded", F.expr("((n_tok + g - 1) DIV g) * CAST(g AS BIGINT)")
        )
        .groupBy(F.col("g").cast("bigint").alias("granularity"))
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(n_tok) AS BIGINT)").alias("sum_tokens"),
            F.expr("CAST(SUM(padded) AS BIGINT)").alias("padded_tokens"),
            F.expr("CAST(COUNT(DISTINCT padded) AS BIGINT)").alias("n_shapes"),
            F.expr(
                "CAST(FLOOR(1e6 * (SUM(padded) - SUM(n_tok))"
                " / SUM(padded)) AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("granularity")
    )


Q_PIPELINE_PADDING_WASTE_SQL = f"""
WITH toks AS (
  SELECT CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok FROM documents),
ex AS (
  SELECT n_tok, unnest([{", ".join(str(g) for g in PAD_GRANULARITIES)}]) AS g
  FROM toks),
pad AS (
  SELECT n_tok, g, ((n_tok + g - 1) // g) * CAST(g AS BIGINT) AS padded
  FROM ex)
SELECT CAST(g AS BIGINT) AS granularity,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(padded) AS BIGINT) AS padded_tokens,
       CAST(COUNT(DISTINCT padded) AS BIGINT) AS n_shapes,
       CAST(FLOOR(1e6 * (SUM(padded) - SUM(n_tok)) / SUM(padded)) AS BIGINT)
         AS waste_ppm
FROM pad
GROUP BY g
ORDER BY granularity
"""


# --- DSIR importance-resampling data selection -------------------------

# DSIR (Xie 2023, "Data Selection for Language Models via Importance
# Resampling"): score every raw document by how much its hashed n-gram
# feature distribution looks like a declared TARGET domain, then keep
# the highest-importance slice. The weight model is tiny (one count
# per hash bucket); the corpus pass is a scan.
DSIR_TARGET_SOURCE = "src0"  # declared reference domain (the "Wikipedia")
DSIR_BUCKETS = 256  # hashed-unigram feature space (fixed, corpus-independent)
DSIR_TOP_K = 50  # selected slice size in the graded output
# Importance weights are clipped (standard importance-sampling variance
# control) — and the clip also bounds the per-doc BIGINT score sum:
# sum_w <= n_tokens * 1e9 stays far under 2^63 for any real document.
DSIR_W_CAP = 1_000_000_000

# Per-bucket weight: rate ratio target/raw with +1 smoothing, quantized
# to millionths. ONE shared expression string evaluated by BOTH engines
# over identical BIGINT columns (tf, cf, ttot, ctot): the double ops
# run in the same order, so the result is bit-identical IEEE before
# FLOOR makes it integral (the pipeline_padding_waste double-ppm rule;
# never a BIGINT numerator, which would overflow at corpus scale).
_DSIR_W_EXPR = (
    f"least(CAST(FLOOR(1e6 * ((tf + 1.0) / (cf + 1.0))"
    f" * ((ctot + 1.0) / (ttot + 1.0))) AS BIGINT), {DSIR_W_CAP})"
)


def q_pipeline_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resampling data selection (DSIR, Xie 2023): pick the
    raw-corpus documents whose hashed-unigram distribution best matches
    a declared target domain (``DSIR_TARGET_SOURCE``) — the
    distribution-matching complement of the rule-based (C4/Gopher) and
    model-based (``pipeline_quality_classifier``) filters. Per-bucket
    importance weight = smoothed rate ratio
    (tf/ttot)/(cf/ctot), clipped and quantized to BIGINT millionths;
    per-doc score = mean token weight; graded output = top-K docs by
    (imp_ppm DESC, doc_id ASC).

    Scale shape (two corpus passes, like every calibrate-then-apply
    op): phase 1 aggregates token buckets to EXACTLY ``DSIR_BUCKETS``
    rows (map-side partial agg; the shuffle carries O(buckets ×
    partitions) rows) and collects the O(256) weight table driver-side
    — the same documented bounded-model-state collect as the k-means
    centroids and PQ codebooks. Phase 2 scores map-only: the weights
    inline as a literal array and each doc's score is a pure Catalyst
    ``aggregate`` over its token array (zero joins, zero shuffles,
    whole-stage codegen — the ``pipeline_quality_classifier`` shape,
    but with DATA-DERIVED weights). Selection is orderBy().limit() —
    Spark plans TakeOrdered (per-partition partial top-K, never a
    single-reducer global window). The DuckDB oracle recomputes the
    weights in SQL and scores by unnest + bucket join + per-doc SUM:
    integer adds are order-independent, and doc_id is unique/non-null
    by the ingest contract, so per-row array aggregation and per-doc
    group aggregation are the same numbers.
    """
    bucket_t = f"CAST(({hash60_spark('t')}) % {DSIR_BUCKETS} AS INT)"
    toks_b = (
        _docs(spark, sf_dir)
        .select(
            "source", F.explode(F.expr(TOKENS_SPARK)).alias("t")
        )
        .select(
            F.expr(f"CAST(source = '{DSIR_TARGET_SOURCE}' AS INT)").alias(
                "is_t"
            ),
            F.expr(bucket_t).alias("bucket"),
        )
    )
    counts = toks_b.groupBy("bucket").agg(
        F.expr("CAST(SUM(is_t) AS BIGINT)").alias("tf"),
        F.expr("CAST(SUM(1 - is_t) AS BIGINT)").alias("cf"),
    )
    # totals via a window over the O(buckets) frame (calibrated_mix
    # pattern), weights collected as O(256) driver model state.
    wrows = (
        counts.withColumn("ttot", F.expr("CAST(SUM(tf) OVER () AS BIGINT)"))
        .withColumn("ctot", F.expr("CAST(SUM(cf) OVER () AS BIGINT)"))
        .select("bucket", F.expr(_DSIR_W_EXPR).alias("w"))
        .collect()
    )
    warr = [0] * DSIR_BUCKETS
    for r in wrows:
        warr[int(r["bucket"])] = int(r["w"])
    arr_lit = "array(" + ", ".join(f"{v}L" for v in warr) + ")"
    score = (
        f"aggregate({TOKENS_SPARK}, CAST(0 AS BIGINT),"
        f" (acc, t) -> acc + element_at({arr_lit}, {bucket_t} + 1))"
    )
    return (
        _docs(spark, sf_dir)
        .where(F.expr(f"source <> '{DSIR_TARGET_SOURCE}'"))
        .select(
            "doc_id",
            "source",
            F.expr(f"CAST(size({TOKENS_SPARK}) AS BIGINT)").alias("n_toks"),
            F.expr(score).alias("sum_w"),
        )
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.expr("sum_w div n_toks").alias("imp_ppm"),
        )
        .orderBy(F.desc("imp_ppm"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
    )


Q_PIPELINE_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({TOKENS_DUCK}) AS t FROM documents),
bk AS (
  SELECT doc_id, source, ({hash60_duck('t')}) % {DSIR_BUCKETS} AS bucket
  FROM tok),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS tf,
         CAST(SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS cf
  FROM bk GROUP BY bucket),
tot AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS ttot, CAST(SUM(cf) AS BIGINT) AS ctot
  FROM counts),
w AS (
  SELECT bucket, {_DSIR_W_EXPR} AS w FROM counts, tot),
sc AS (
  SELECT bk.doc_id, bk.source,
         CAST(SUM(w.w) AS BIGINT) AS sum_w,
         CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM bk JOIN w USING (bucket)
  WHERE bk.source <> '{DSIR_TARGET_SOURCE}'
  GROUP BY bk.doc_id, bk.source)
SELECT doc_id, source, n_toks, sum_w // n_toks AS imp_ppm
FROM sc
ORDER BY imp_ppm DESC, doc_id ASC
LIMIT {DSIR_TOP_K}
"""


QUERIES = {
    "pipeline_hash_split": q_pipeline_hash_split,
    "pipeline_padding_waste": q_pipeline_padding_waste,
    "pipeline_weighted_sample": q_pipeline_weighted_sample,
    "pipeline_calibrated_mix": q_pipeline_calibrated_mix,
    "pipeline_source_mix": q_pipeline_source_mix,
    "pipeline_clean_corpus": q_pipeline_clean_corpus,
    "pipeline_pack_sequences": q_pipeline_pack_sequences,
    "pipeline_contamination": q_pipeline_contamination,
    "pipeline_gopher_quality": q_pipeline_gopher_quality,
    "pipeline_c4_filter": q_pipeline_c4_filter,
    "pipeline_stratified_sample": q_pipeline_stratified_sample,
    "pipeline_token_budget": q_pipeline_token_budget,
    "pipeline_chunk_windows": q_pipeline_chunk_windows,
    "pipeline_leakage_split": q_pipeline_leakage_split,
    "pipeline_quality_classifier": q_pipeline_quality_classifier,
    "pipeline_redact_terms": q_pipeline_redact_terms,
    "pipeline_curriculum_mix": q_pipeline_curriculum_mix,
    "pipeline_shard_order": q_pipeline_shard_order,
    "pipeline_dsir_select": q_pipeline_dsir_select,
}

ORACLES = {
    "pipeline_hash_split": Q_PIPELINE_HASH_SPLIT_SQL,
    "pipeline_padding_waste": Q_PIPELINE_PADDING_WASTE_SQL,
    "pipeline_weighted_sample": Q_PIPELINE_WEIGHTED_SAMPLE_SQL,
    "pipeline_calibrated_mix": Q_PIPELINE_CALIBRATED_MIX_SQL,
    "pipeline_source_mix": Q_PIPELINE_SOURCE_MIX_SQL,
    "pipeline_clean_corpus": Q_PIPELINE_CLEAN_SQL,
    "pipeline_pack_sequences": Q_PIPELINE_PACK_SQL,
    "pipeline_contamination": Q_PIPELINE_CONTAM_SQL,
    "pipeline_gopher_quality": Q_PIPELINE_GOPHER_SQL,
    "pipeline_c4_filter": Q_PIPELINE_C4_SQL,
    "pipeline_stratified_sample": Q_PIPELINE_SAMPLE_SQL,
    "pipeline_token_budget": Q_PIPELINE_TOKEN_BUDGET_SQL,
    "pipeline_chunk_windows": Q_PIPELINE_CHUNK_SQL,
    "pipeline_leakage_split": _leakage_split_sql(),
    "pipeline_quality_classifier": Q_PIPELINE_CLASSIFIER_SQL,
    "pipeline_redact_terms": Q_PIPELINE_REDACT_SQL,
    "pipeline_curriculum_mix": _curriculum_sql(),
    "pipeline_shard_order": Q_PIPELINE_SHARD_ORDER_SQL,
    "pipeline_dsir_select": Q_PIPELINE_DSIR_SQL,
}
