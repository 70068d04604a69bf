"""Data-quality profiling and monitoring operators.

The pre-training sanity layer every 100 TB pipeline runs before (and
after) the expensive stages — the Spark-native take on the
deequ/great-expectations profile pass plus a simple statistical
monitor:

- ``q_profile_orders`` — one-pass column profile (null count, distinct
  count, numeric min/max) of the ``orders`` table. ONE scan feeds a
  single aggregate row holding every metric; the per-column output
  rows come from exploding that constant-size row, so the operator
  costs one reduce regardless of table width × corpus size.
- ``q_events_anomalies`` — hourly-volume anomaly detection per event
  type: hours whose event count deviates from the type's mean by more
  than Z_THRESHOLD standard deviations. Counts and power sums are
  exact integers (the decimal/moments pattern); the z-score is a
  fixed sequence of IEEE double ops identical in both engines.

Scale shapes: profile = map-side partial agg to ONE row (the distinct
counts add one Expand pass — exact by contract here; the HLL sketch
twin in ``text.py`` is the documented scale alternative). Anomalies =
one keyed shuffle to hourly grain, a tiny per-type stats agg, and a
broadcast join back — the fact table is scanned once and never
re-shuffled on the low-cardinality type key (same skew rationale as
``events_salted_agg``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ij_spark.operators.dedup import EMB_CLEAN_DUCK, EMBED_QUANT
from spark_ij_spark.operators.text import hash60_duck
from spark_ij_spark.session import load_tables

# (column, kind) profile targets; timestamps profile numerically via
# epoch-micros so min/max stay in one DOUBLE column with exact values.
_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]

# Sentinels instead of NULLs in the graded output (driver hash rule):
# numeric slots of string columns carry -1.0, string slots of numeric
# columns carry ''.
_NUM_SENTINEL = -1.0
_STR_SENTINEL = ""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``orders``: per column the null count, exact
    distinct count, and min/max (numeric columns as DOUBLE — dates via
    epoch-micros — string columns as strings). See module docstring
    for the one-scan shape."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    aggs = []
    for c, kind in _PROFILE_COLS:
        aggs += [
            F.expr(f"CAST(COUNT(*) - COUNT({c}) AS BIGINT)").alias(f"nn_{c}"),
            F.expr(f"CAST(COUNT(DISTINCT {c}) AS BIGINT)").alias(f"nd_{c}"),
        ]
        if kind == "num":
            aggs += [
                F.expr(f"CAST(MIN({c}) AS DOUBLE)").alias(f"mn_{c}"),
                F.expr(f"CAST(MAX({c}) AS DOUBLE)").alias(f"mx_{c}"),
            ]
        elif kind == "ts":
            # CAST to TIMESTAMP first: Spark 4.1 reads parquet
            # timestamps as TIMESTAMP_NTZ; the session tz is pinned
            # UTC, so the cast preserves the stored micros exactly.
            aggs += [
                F.expr(
                    f"CAST(unix_micros(CAST(MIN({c}) AS TIMESTAMP)) AS DOUBLE)"
                ).alias(f"mn_{c}"),
                F.expr(
                    f"CAST(unix_micros(CAST(MAX({c}) AS TIMESTAMP)) AS DOUBLE)"
                ).alias(f"mx_{c}"),
            ]
        else:
            aggs += [
                F.expr(f"MIN({c})").alias(f"mn_{c}"),
                F.expr(f"MAX({c})").alias(f"mx_{c}"),
            ]
    one = orders.agg(*aggs)
    rows = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            mn_d, mx_d = f"{_NUM_SENTINEL}D", f"{_NUM_SENTINEL}D"
            mn_s, mx_s = f"mn_{c}", f"mx_{c}"
        else:
            mn_d, mx_d = f"mn_{c}", f"mx_{c}"
            mn_s, mx_s = f"'{_STR_SENTINEL}'", f"'{_STR_SENTINEL}'"
        rows.append(
            f"named_struct('col_name', '{c}', 'n_nulls', nn_{c},"
            f" 'n_distinct', nd_{c}, 'min_num', CAST({mn_d} AS DOUBLE),"
            f" 'max_num', CAST({mx_d} AS DOUBLE), 'min_str', {mn_s},"
            f" 'max_str', {mx_s})"
        )
    return (
        one.select(F.explode(F.expr(f"array({', '.join(rows)})")).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def _profile_sql() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            mns = mxs = f"'{_STR_SENTINEL}'"
        elif kind == "ts":
            mn = f"CAST(epoch_us(MIN({c})) AS DOUBLE)"
            mx = f"CAST(epoch_us(MAX({c})) AS DOUBLE)"
            mns = mxs = f"'{_STR_SENTINEL}'"
        else:
            mn = mx = f"CAST({_NUM_SENTINEL} AS DOUBLE)"
            mns, mxs = f"MIN({c})", f"MAX({c})"
        parts.append(
            f"SELECT '{c}' AS col_name,"
            f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,"
            f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {mns} AS min_str, {mxs} AS max_str FROM orders"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


Q_PROFILE_ORDERS_SQL = _profile_sql()


# Hours whose count is more than this many standard deviations from
# the type mean. Binary fraction (2.0) — exact in both engines.
Z_THRESHOLD = 2.0


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-volume anomalies per type: |z| > Z_THRESHOLD where
    z = (n − mean) / stddev over that type's hourly counts.

    Determinism: hourly counts, per-type count and power sums are
    exact BIGINTs; mean/var/z are the identical fixed sequence of IEEE
    double ops in both engines (see module docstring); z is rounded
    in-engine for display, filtered on the raw value. A zero-variance
    type (constant hourly counts — exact 0.0 in doubles, since the
    cancellation is between identical products) takes the CASE's NULL
    branch and drops out of the filter on BOTH engines; without the
    guard, Spark's ANSI mode throws DIVIDE_BY_ZERO where DuckDB
    silently NULLs — an engine divergence AND a crashed grade."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    # cache: hourly feeds BOTH the stats calibration aggregate and the
    # join left side — uncached, the events scan + (type, hour) shuffle
    # run twice per execution; cached it is O(types × hours) rows.
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n")).cache()
    stats = hourly.groupBy("event_type").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("nh"),
        F.expr("CAST(SUM(n) AS BIGINT)").alias("s1"),
        # moment partial GROWS with corpus volume: widen the product
        # and its sum internally (DECIMAL(38,0), the embed_covariance
        # pattern; oracle uses HUGEINT) — raw n*n wraps/throws past
        # hourly counts of ~3e9.
        F.expr(
            "CAST(SUM(CAST(n AS DECIMAL(19,0)) * n) AS BIGINT)"
        ).alias("s2"),
    )
    z = _Z_EXPR
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.expr(f"abs({z}) > {Z_THRESHOLD}"))
        .select(
            "event_type",
            F.col("h").alias("hour"),
            "n",
            F.expr(f"round({z}, 6)").alias("z"),
        )
        .orderBy("event_type", "hour")
    )


# One z-score expression, IDENTICAL text on both engines: the CASE
# guards the zero-variance denominator (NULL → row filtered) — see
# q_events_anomalies docstring.
_Z_VAR = (
    "(CAST(s2 AS DOUBLE) / nh"
    " - (CAST(s1 AS DOUBLE) / nh) * (CAST(s1 AS DOUBLE) / nh))"
)
_Z_EXPR = (
    "((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / nh)"
    f" / (CASE WHEN {_Z_VAR} > 0 THEN sqrt({_Z_VAR})"
    " ELSE CAST(NULL AS DOUBLE) END))"
)
_Z_DUCK = _Z_EXPR

Q_EVENTS_ANOMALIES_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(CAST(n AS HUGEINT) * n) AS BIGINT) AS s2
  FROM hourly GROUP BY 1)
SELECT event_type, h AS hour, n, round({_Z_DUCK}, 6) AS z
FROM hourly JOIN stats USING (event_type)
WHERE abs({_Z_DUCK}) > {Z_THRESHOLD}
ORDER BY event_type, hour
"""


# PSI drift monitor: token-count bins of width PSI_BIN_W, capped at
# PSI_MAX_BIN; slices = deterministic md5 halves of the corpus.
PSI_BIN_W = 10
PSI_MAX_BIN = 9


def q_docs_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two corpus slices.

    Splits ``documents`` into two deterministic md5 halves (the
    new-crawl vs reference-crawl stand-in), histograms each over
    token-count bins, and emits the per-bin PSI contribution
    (p−q)·ln(p/q) with add-one smoothing — the standard pre-training
    drift monitor between crawls (or train vs validation mix).

    Scale shape: ONE map-only scan (hash slice + bin are codegen
    expressions) feeding a single partial-aggregating groupBy to
    O(bins) rows; the PSI arithmetic runs on that constant-size frame.
    Determinism: bin counts are exact BIGINTs; p, q, and the PSI term
    are the identical fixed sequence of IEEE double ops in both
    engines (ln over rationals of exact integers), rounded in-engine
    for display."""
    from spark_ij_spark.operators.text import _docs, hash60_spark

    docs = _docs(spark, sf_dir)
    h = hash60_spark("concat('psi:', CAST(doc_id AS STRING))")
    binned = docs.select(
        F.expr(
            f"least(CAST(size(split(text, ' ')) AS BIGINT) div {PSI_BIN_W},"
            f" {PSI_MAX_BIN})"
        ).alias("bin"),
        F.expr(f"({h}) % 2").alias("slice"),
    )
    counts = binned.groupBy("bin").agg(
        F.expr("CAST(SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_a"
        ),
        F.expr("CAST(SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_b"
        ),
    )
    nbins = PSI_MAX_BIN + 1
    p = f"(CAST(n_a AS DOUBLE) + 1) / (CAST(ta AS DOUBLE) + {nbins})"
    q = f"(CAST(n_b AS DOUBLE) + 1) / (CAST(tb AS DOUBLE) + {nbins})"
    return (
        counts.withColumn("ta", F.expr("CAST(SUM(n_a) OVER () AS BIGINT)"))
        .withColumn("tb", F.expr("CAST(SUM(n_b) OVER () AS BIGINT)"))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.expr(f"round((({p}) - ({q})) * ln(({p}) / ({q})), 6)").alias("psi"),
        )
        .orderBy("bin")
    )


def _drift_psi_sql() -> str:
    from spark_ij_spark.operators.text import hash60_duck

    h = hash60_duck("concat('psi:', CAST(doc_id AS STRING))")
    nbins = PSI_MAX_BIN + 1
    p = f"(CAST(n_a AS DOUBLE) + 1) / (CAST(ta AS DOUBLE) + {nbins})"
    q = f"(CAST(n_b AS DOUBLE) + 1) / (CAST(tb AS DOUBLE) + {nbins})"
    return f"""
WITH binned AS (
  SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT) // {PSI_BIN_W},
               {PSI_MAX_BIN}) AS bin,
         ({h}) % 2 AS slice
  FROM documents),
counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY bin),
tot AS (
  SELECT bin, n_a, n_b,
         CAST(SUM(n_a) OVER () AS BIGINT) AS ta,
         CAST(SUM(n_b) OVER () AS BIGINT) AS tb
  FROM counts)
SELECT bin, n_a, n_b,
       round((({p}) - ({q})) * ln(({p}) / ({q})), 6) AS psi
FROM tot ORDER BY bin
"""


Q_DOCS_DRIFT_PSI_SQL = _drift_psi_sql()


# Heavy hitters reported by the join-key skew profile.
SKEW_TOPN = 10


def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of ``lineitem.l_partkey`` — the
    pre-flight check that decides whether a planned join needs
    salting/AQE skew handling: the SKEW_TOPN heaviest keys with their
    row counts and each key's ratio to the mean per-key load.

    Scale shape: one partial-aggregating groupBy to |keys| rows; the
    global mean comes from re-aggregating that (already tiny) frame to
    ONE row, broadcast back — the fact table is scanned once and the
    full key histogram is never globally sorted (top-N via the
    aggregated frame only). Ratios are doubles from exact integer
    counts — deterministic in both engines."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    # cache: counts feeds both the 1-row totals re-aggregate and the
    # crossJoin — uncached, the fact scan + per-key groupBy run twice.
    counts = li.groupBy("l_partkey").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("cnt")
    ).cache()
    totals = counts.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("total"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("nkeys"),
    )
    mean = "CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE)"
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("l_partkey").alias("part_key"),
            "cnt",
            F.expr(f"round({mean}, 6)").alias("mean_cnt"),
            F.expr(f"round(CAST(cnt AS DOUBLE) / ({mean}), 6)").alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("part_key"))
        .limit(SKEW_TOPN)
    )


Q_JOIN_KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nkeys
  FROM counts)
SELECT l_partkey AS part_key, cnt,
       round(CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE), 6) AS mean_cnt,
       round(CAST(cnt AS DOUBLE)
             / (CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE)), 6) AS skew_ratio
FROM counts, tot
ORDER BY cnt DESC, part_key ASC LIMIT {SKEW_TOPN}
"""


def q_integrity_docs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between ``documents`` and
    ``embeddings`` (doc_id ↔ vec_id): matched count plus orphans on
    each side in one row — the join-coverage check a multimodal /
    multi-artifact corpus runs after every pipeline stage that is
    supposed to keep tables aligned.

    Scale shape: key-only projections of both tables into one
    co-partitioned full outer join, aggregated map-side to a single
    row; no table is scanned twice."""
    from spark_ij_spark.operators.text import _docs

    docs = _docs(spark, sf_dir).select("doc_id")
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    return (
        docs.join(vecs, docs.doc_id == vecs.vec_id, "full_outer")
        .agg(
            F.expr("CAST(COUNT(doc_id) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(COUNT(vec_id) AS BIGINT)").alias("n_vecs"),
            F.expr(
                "CAST(SUM(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_matched"),
            F.expr(
                "CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_docs_only"),
            F.expr(
                "CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_vecs_only"),
        )
    )


Q_INTEGRITY_SQL = """
SELECT CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(vec_id) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_only,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs_only
FROM (SELECT doc_id FROM documents) d
FULL OUTER JOIN (SELECT vec_id FROM embeddings) e ON d.doc_id = e.vec_id
"""


# k-anonymity: quasi-identifier = (lang, source, character-length
# bucket). K and the bucket width are powers of two so every derived
# integer is exact in both engines.
KANON_K = 8
KANON_LEN_BUCKET = 256


def q_docs_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit of the documents table: group by the
    quasi-identifier tuple (lang, source, n_chars div 256) and flag
    every equivalence class smaller than KANON_K — the release-gate
    check for "could a document be re-identified from its visible
    attributes alone". ``risk_pm`` is the worst-case re-identification
    probability 1/|class| in integer per-mille (1000 div n — no float
    division in the graded output).

    Privacy-audit sibling of ``q_text_pii_scan`` (content-level PII):
    this one measures STRUCTURAL disclosure risk; together they are
    the minimal governance pass before sharing a corpus slice.

    Scale shape: a single partial-agg group-by on a low-cardinality
    composite key — one shuffle of one row per (class, map partition),
    no joins, no windows. At 100 TB this is the cheapest query in the
    governance family.
    """
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        docs.groupBy(
            "lang",
            "source",
            F.expr(
                # -1 sentinel bucket for unknown length (NULL
                # n_chars = null-text docs, null sweep): a
                # NULL group key hashes None-vs-NaN across the
                # driver fetch; an explicit CASE (not coalesce to a
                # negative then divide) because Spark div truncates
                # toward zero while DuckDB // floors on negatives
                f"CASE WHEN n_chars IS NULL THEN CAST(-1 AS BIGINT)"
                f" ELSE n_chars div {KANON_LEN_BUCKET} END"
            ).alias("len_bucket"),
        )
        .agg(F.count("*").alias("group_n"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "group_n",
            # integer 0/1 flag, not BOOLEAN: no graded query emits
            # booleans (untested typing through the driver's pandas
            # fetch), so keep the proven BIGINT path
            F.expr(f"CAST(group_n >= {KANON_K} AS BIGINT)").alias("k_anon"),
            F.expr("1000 div group_n").alias("risk_pm"),
        )
    )


Q_DOCS_K_ANONYMITY_SQL = f"""
SELECT lang, source,
       CASE WHEN n_chars IS NULL THEN CAST(-1 AS BIGINT)
            ELSE n_chars // {KANON_LEN_BUCKET} END AS len_bucket,
       COUNT(*) AS group_n,
       CAST(COUNT(*) >= {KANON_K} AS BIGINT) AS k_anon,
       CAST(1000 // COUNT(*) AS BIGINT) AS risk_pm
FROM documents
GROUP BY 1, 2, 3
"""


def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus slices: the
    per-dimension mean shift between two deterministic md5 halves of
    the embeddings table — the vector-modality sibling of
    ``q_docs_drift_psi`` (a retrained/re-crawled embedding batch whose
    per-dim means move against the reference slice signals encoder or
    corpus drift before it poisons ANN indexes and dedup thresholds).

    Scale shape: ONE map-only scan (hash slice + ×d posexplode are
    codegen expressions) into a single partial-aggregating groupBy to
    O(d) rows — the first-moment little sibling of
    ``clustering.q_embed_covariance``'s Gram pass; no joins, no
    windows.

    Determinism: sums are EMBED_QUANT-quantized BIGINTs widened
    internally (DECIMAL(38,0) / DuckDB HUGEINT — per-dim totals grow
    with corpus rows); each mean is ONE exact-integer-operand IEEE
    division, so both engines round identical doubles."""
    from spark_ij_spark.operators.dedup import quantized_embeddings
    from spark_ij_spark.operators.text import hash60_spark

    h = hash60_spark("concat('ed:', CAST(vec_id AS STRING))")
    return (
        quantized_embeddings(spark, sf_dir)
        .select(F.expr(f"({h}) % 2").alias("slice"), F.posexplode("qv"))
        .groupBy(F.expr("CAST(pos + 1 AS BIGINT)").alias("dim"))
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_a"),
            F.expr(
                "CAST(SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_b"),
            F.expr(
                "CAST(SUM(CAST(CASE WHEN slice = 0 THEN col ELSE 0 END"
                " AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("s_a"),
            F.expr(
                "CAST(SUM(CAST(CASE WHEN slice = 1 THEN col ELSE 0 END"
                " AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("s_b"),
        )
        .select(
            "dim",
            "n_a",
            "n_b",
            # -1e12 sentinel (outside any quantized mean's range) for an
            # empty slice: NULL would come back NaN from the driver's
            # pandas fetch on the DuckDB side only
            F.expr(
                "CASE WHEN n_a = 0 THEN CAST(-1e12 AS DOUBLE)"
                " ELSE round(s_a / n_a, 6) END"
            ).alias("mean_a"),
            F.expr(
                "CASE WHEN n_b = 0 THEN CAST(-1e12 AS DOUBLE)"
                " ELSE round(s_b / n_b, 6) END"
            ).alias("mean_b"),
            F.expr(
                "CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(-1e12 AS DOUBLE)"
                " ELSE round(s_b / n_b - s_a / n_a, 6) END"
            ).alias("mean_shift"),
        )
    )


Q_EMBED_DRIFT_SQL = f"""
WITH q AS (
  SELECT {hash60_duck("'ed:' || CAST(vec_id AS VARCHAR)")} % 2 AS slice,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {EMBED_QUANT}) AS BIGINT)) AS qv
  FROM {EMB_CLEAN_DUCK} embeddings),
e AS (
  SELECT slice, generate_subscripts(qv, 1) AS dim, unnest(qv) AS v FROM q),
a AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN slice = 0 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN slice = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS BIGINT) AS s_b
  FROM e GROUP BY dim)
SELECT dim, n_a, n_b,
       CASE WHEN n_a = 0 THEN CAST(-1e12 AS DOUBLE)
            ELSE round(s_a / n_a, 6) END AS mean_a,
       CASE WHEN n_b = 0 THEN CAST(-1e12 AS DOUBLE)
            ELSE round(s_b / n_b, 6) END AS mean_b,
       CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(-1e12 AS DOUBLE)
            ELSE round(s_b / n_b - s_a / n_a, 6) END AS mean_shift
FROM a
"""


QUERIES = {
    "docs_k_anonymity": q_docs_k_anonymity,
    "embed_drift": q_embed_drift,
    "profile_orders": q_profile_orders,
    "events_anomalies": q_events_anomalies,
    "docs_drift_psi": q_docs_drift_psi,
    "join_key_skew": q_join_key_skew,
    "integrity_docs_embeddings": q_integrity_docs_embeddings,
}
ORACLES = {
    "docs_k_anonymity": Q_DOCS_K_ANONYMITY_SQL,
    "embed_drift": Q_EMBED_DRIFT_SQL,
    "profile_orders": Q_PROFILE_ORDERS_SQL,
    "events_anomalies": Q_EVENTS_ANOMALIES_SQL,
    "docs_drift_psi": Q_DOCS_DRIFT_PSI_SQL,
    "join_key_skew": Q_JOIN_KEY_SKEW_SQL,
    "integrity_docs_embeddings": Q_INTEGRITY_SQL,
}
