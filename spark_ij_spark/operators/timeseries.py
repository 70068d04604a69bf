"""Time-series analytics over the events table: time-weighted average,
OHLC bars, and integer-exact EWMA.

These are the telemetry/metering queries a training-data platform runs
over its event firehose (billing by time-in-state, per-hour market
bars, exponentially-smoothed per-user activity). None exist in the
reference (kmader/spark-ij is image-centric); they extend the engine
the same way the dedup/ANN families do.

Cross-engine determinism (CLAUDE.md rules):
- all money/value arithmetic quantizes DOUBLE to BIGINT cents
  (``ROUND(value*100)`` — Spark SQL round == DuckDB round, half away
  from zero) so sums are order-independent;
- durations are integer microseconds (Spark ``unix_micros`` == DuckDB
  ``epoch_us``);
- EWMA weights are powers of two (binary fractions) so the weighted
  sum is integer-exact; the only floating-point op on either engine is
  the final BIGINT/BIGINT division (identical IEEE operands → identical
  result) followed by ``round(_, 6)``;
- DuckDB ``SUM(BIGINT)`` is HUGEINT (→ float64 through the driver's
  pandas fetch), so every oracle sum is ``CAST(... AS BIGINT)``.

Scale shapes: each query is ONE hash shuffle. TWA and EWMA window and
aggregate on the same key (``user_id``), so the aggregate reuses the
window's partitioning — no second exchange; OHLC is a plain partial-agg
group-by on (event_type, hour). No joins, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ij_spark.operators.text import hash60_duck, hash60_spark
from spark_ij_spark.session import load_tables

# EWMA: alpha = 1/2 over the last EWMA_K events (weight 2^(K-rank)).
# K=16 keeps the largest weight (2^15) and the worst-case numerator
# (~1e4 cents * 2^15 * 16 rows ~ 5e9) far inside BIGINT.
EWMA_K = 16


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["events"])["events"]


# TRY_CAST: ROUND(NaN)=NaN and a plain cast of NaN to BIGINT crashes
# BOTH engines (Spark ANSI CAST_OVERFLOW, DuckDB conversion error) —
# a NaN reading is "missing", not a crash (NaN sweep). Same
# text works identically in Spark SQL and DuckDB.
_VALUE_C = "TRY_CAST(ROUND(value * 100) AS BIGINT)"

# A NULL/NaN/±Inf reading is NOT a measurement: TWA/EWMA/OHLC filter
# to valid finite readings AT THE SCAN (same rule as OHLC's original
# null filter and the as-of join). Filtering — rather than letting
# NULL value_c ride into the aggregates — is what closes the all-null
# group hazard: a user/bucket whose every reading is invalid would
# otherwise emit NULL sums that the driver's pandas fetch renders NaN
# on the DuckDB side only (and promotes the BIGINT numerator column
# to float64, drifting every row's hash). Identical text both engines.
_VALID_READING = (
    "value IS NOT NULL AND NOT isnan(value)"
    " AND abs(value) <> CAST('Infinity' AS DOUBLE)"
)


def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value: each event's value is held
    until the user's next event; TWA = Σ(value·dur) / Σ(dur). The
    metering/billing primitive (value = rate while in a state).

    The last event of each user has no successor and is excluded (no
    duration to weight it by) — users with a single event drop out.
    Invalid readings (NULL/NaN/Inf) are filtered at the scan
    (``_VALID_READING``): a valid reading is held until the user's
    next VALID reading, and a user with no valid readings has no TWA
    — on both engines.

    Shape: one window (lag/lead by user) + one aggregate on the SAME
    key, so Catalyst plans a single hash exchange on user_id; the
    weighted sum is BIGINT cents × BIGINT micros (order-independent),
    and only the final division is floating point.
    """
    # event_id tie-break: ts-only ordering is engine-dependent when a
    # user has two events at the same ts (same rule as
    # events_transitions / events_scd2).
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .filter(_VALID_READING)
        .select(
            "user_id",
            F.expr(_VALUE_C).alias("value_c"),
            (
                F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
            ).alias("dur_us"),
        )
        .where(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dur_us").alias("dur_us_total"),
            F.sum(F.col("value_c") * F.col("dur_us")).alias("twa_num_c"),
        )
        .select(
            "user_id",
            "n_intervals",
            "dur_us_total",
            "twa_num_c",
            # -1 sentinel when every interval has zero duration (all of
            # a user's events share one ts): divide-by-zero is NULL on
            # both engines, but the driver's pandas fetch turns DuckDB
            # NULL doubles into NaN, which never hash-equals Spark None.
            F.expr(
                "CASE WHEN dur_us_total = 0 THEN CAST(-1.0 AS DOUBLE)"
                " ELSE round(twa_num_c / dur_us_total / 100.0, 6) END"
            ).alias("twa_value"),
        )
    )


Q_EVENTS_TWA_SQL = f"""
WITH spans AS (
  SELECT user_id,
         {_VALUE_C} AS value_c,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events WHERE {_VALID_READING})
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS dur_us_total,
       CAST(SUM(value_c * dur_us) AS BIGINT) AS twa_num_c,
       CASE WHEN CAST(SUM(dur_us) AS BIGINT) = 0 THEN CAST(-1.0 AS DOUBLE)
            ELSE ROUND(CAST(SUM(value_c * dur_us) AS BIGINT)
                       / CAST(SUM(dur_us) AS BIGINT) / 100.0, 6) END
         AS twa_value
FROM spans
WHERE dur_us IS NOT NULL
GROUP BY user_id
"""


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type: open/close = value at the
    first/last event of the hour, high/low = extremes, volume = exact
    cent sum. The market-data / metrics-rollup bar builder.

    Shape: single partial-agg group-by on (event_type, hour) — min_by/
    max_by carry (key, value) pairs through the map-side combine, so
    the shuffle moves one row per (type, hour, partition), not per
    event. open/high/low/close are SELECTED stored doubles (no
    accumulation), so they hash-match without quantization.

    Determinism: the min_by/max_by ordering key is the packed string
    ``lpad(micros)||lpad(event_id)`` — ts alone leaves same-timestamp
    ties engine-dependent (the hazard the TWA/EWMA windows already
    tie-break with event_id; micro-truncation of distinct nanos can
    also manufacture ties on one engine only).

    Bars are built over VALID ticks only (``_VALID_READING`` — finite,
    non-null — pushed to the scan): a null reading is not a price, and
    letting it through
    makes min_by pick a NULL open while a bucket of only-null readings
    emits an all-NULL bar that can never round-trip the driver's
    pandas fetch (null sweep). A bucket with zero valid ticks
    has no bar — on both engines."""
    tie_key = (
        "concat(lpad(CAST(unix_micros(ts) AS STRING), 20, '0'),"
        " lpad(CAST(event_id AS STRING), 20, '0'))"
    )
    return (
        _events(spark, sf_dir)
        .filter(_VALID_READING)
        .groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bar_hour")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(f"min_by(value, {tie_key})").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr(f"max_by(value, {tie_key})").alias("close"),
            F.sum(F.expr(_VALUE_C)).alias("volume_c"),
        )
    )


_OHLC_KEY_DUCK = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||"
    " lpad(CAST(event_id AS VARCHAR), 20, '0')"
)

Q_EVENTS_OHLC_SQL = f"""
SELECT event_type,
       date_trunc('hour', ts) AS bar_hour,
       COUNT(*) AS n_events,
       arg_min(value, {_OHLC_KEY_DUCK}) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, {_OHLC_KEY_DUCK}) AS close,
       CAST(SUM({_VALUE_C}) AS BIGINT) AS volume_c
FROM events
WHERE {_VALID_READING}
GROUP BY event_type, date_trunc('hour', ts)
"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value (alpha = 1/2) over the user's last
    EWMA_K events — the smoothed-activity score fed to rate limiters
    and engagement models.

    Integer fixed point: rank events newest-first, weight 2^(K-rank)
    (most recent gets 2^(K-1)), EWMA = Σ(value_c·w) / Σ(w) / 100. All
    weights are powers of two and value_c is BIGINT cents, so both
    sums are integer-exact and order-independent; the single division
    is the only float op on either engine.

    Shape: row_number window + aggregate on the same user_id key → one
    exchange; the rank filter bounds per-user state to K rows, so a
    hot user costs the same as a cold one (contrast an unbounded
    collect_list).
    """
    # event_id tie-break, same reason as TWA: ts-only row_number is
    # engine-dependent on same-user timestamp ties.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        _events(spark, sf_dir)
        # the EWMA runs over the user's last K VALID readings — an
        # invalid reading neither consumes a rank slot nor NULLs the
        # numerator (a user with no valid readings has no EWMA).
        .filter(_VALID_READING)
        .select(
            "user_id",
            F.expr(_VALUE_C).alias("value_c"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= EWMA_K)
        .select(
            "user_id",
            "value_c",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {EWMA_K} - rn)").alias("wt"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_used"),
            F.sum(F.col("value_c") * F.col("wt")).alias("ewma_num_c"),
            F.sum("wt").alias("weight_den"),
        )
        .select(
            "user_id",
            "n_used",
            "ewma_num_c",
            "weight_den",
            F.round(
                F.col("ewma_num_c") / F.col("weight_den") / F.lit(100.0), 6
            ).alias("ewma_value"),
        )
    )


Q_EVENTS_EWMA_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         {_VALUE_C} AS value_c,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE {_VALID_READING}),
weighted AS (
  SELECT user_id, value_c,
         (CAST(1 AS BIGINT) << ({EWMA_K} - rn)) AS wt
  FROM ranked WHERE rn <= {EWMA_K})
SELECT user_id,
       COUNT(*) AS n_used,
       CAST(SUM(value_c * wt) AS BIGINT) AS ewma_num_c,
       CAST(SUM(wt) AS BIGINT) AS weight_den,
       ROUND(CAST(SUM(value_c * wt) AS BIGINT)
             / CAST(SUM(wt) AS BIGINT) / 100.0, 6) AS ewma_value
FROM weighted
GROUP BY user_id
"""


def q_events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable-sketch rollup: per (event_type, day) a
    DataSketches HLL sketch of distinct users, then ``hll_union_agg``
    merges the daily sketches into the per-type total — the
    re-aggregatable distinct-count pattern (store daily sketches once,
    answer weekly/monthly/all-time unions without re-reading events).
    At 100 TB this replaces a full distinct shuffle with fixed-size
    (≤ ~1.5 KB) sketch merges.

    Sketch estimates are engine-specific, so per repo convention this
    op has NO DuckDB oracle (rows-only driver check); its exact twin
    lives in the same module's pytest, which bounds the relative error
    at the HLL lgK=12 accuracy (~1.6% σ).
    """
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    return daily.groupBy("event_type").agg(
        F.expr(
            "CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)"
        ).alias("est_distinct_users"),
        F.count("*").alias("n_daily_sketches"),
    )


def q_events_hll_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count twin of ``events_hll_rollup``: per-type distinct
    users and active days by full COUNT(DISTINCT ...) — the ground
    truth the HLL estimate is tolerance-tested against
    (tests/test_timeseries.py), now hash-graded in its own right so
    the sketch/exact pair both carry driver evidence (the
    ``events_kmv_users`` pattern).

    Scale shape: COUNT(DISTINCT) is the full distinct shuffle the HLL
    rollup exists to avoid — this query is the exactness baseline, not
    the 100 TB path. Spark partial-aggregates the distinct expansion
    map-side; both counts share one expand + shuffle on event_type."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").alias(
                "exact_distinct_users"
            ),
            F.expr(
                "CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)"
            ).alias("n_days"),
        )
    )


Q_EVENTS_HLL_EXACT_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
       CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
FROM events GROUP BY event_type
"""


# KMV (k-minimum-values) sketch: k smallest 60-bit hashes of the key
# set estimate distinct count as (k-1)·2^60 / h_(k). Unlike HLL, the
# sketch is DETERMINISTIC (a pure function of the key set), so the
# whole estimate is exactly oracle-checkable across engines.
KMV_K = 64
_TWO60 = "1152921504606846976.0"  # 2^60 as an exact double literal
# The per-type k-min sample runs as a salted two-stage window (the
# RETRIEVAL_SALTS pattern / guide §2.5): stage 1 ranks within
# (event_type, h % SALTS) so a type's corpus-sized distinct-user list
# spreads over SALTS reducers instead of ONE (the global-per-type
# window straggler at 100 TB); stage 2 merges the <= SALTS*KMV_K
# survivors per type. Exact: h is distinct within a type (the frame is
# distinct on (type, h)), the order is total, and every global k-min
# is inside its salt bucket's k-min.
KMV_SALTS = 32


def _kmv_sample(d: DataFrame) -> DataFrame:
    """Per-type KMV_K smallest h off the distinct (event_type, h)
    frame — the salted two-stage form (see KMV_SALTS). Shared by
    q_events_kmv_users and q_events_kmv_overlap so the sketch both
    queries reuse is ONE code path."""
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.col("h"), F.lit(KMV_SALTS))
    ).orderBy("h")
    w2 = Window.partitionBy("event_type").orderBy("h")
    return (
        d.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= KMV_K)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )


def q_events_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimation per event_type via a KMV sketch,
    reported side-by-side with the exact count and the realized
    relative error — the deterministic alternative to HLL when
    replayable, engine-portable estimates matter (the k hash values
    are also a uniform sample of the keyset, reusable for set
    intersection). Types with fewer than K distinct users fall back to
    the exact rule (the sketch IS the keyset).

    Scale shape: the DISTINCT collapse is the only corpus-sized
    shuffle (raw events → one row per (type, user)); the rank window
    then runs on the collapsed frame. A production deployment replaces
    the window with a bounded top-k aggregator so per-group state
    never exceeds K — the estimate is identical; this expression keeps
    the oracle exact.

    The (k−1)·2^60 numerator is computed in doubles ((k−1)·2^60 <
    2^66 but needs only 6 significand bits — exactly representable),
    so both engines divide identical IEEE operands.
    """
    d = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.expr(
                hash60_spark("concat('u:', CAST(user_id AS STRING))")
            ).alias("h"),
        )
        .distinct()
        # cached: the exact count and the sketch sample both
        # consume the distinct collapse — uncached, each re-runs the
        # events scan + corpus-sized distinct shuffle (the overlap
        # query already cached its copy).
        .cache()
    )
    n = d.groupBy("event_type").agg(F.count("*").alias("n_users"))
    km = (
        _kmv_sample(d)
        .groupBy("event_type")
        .agg(F.max("h").alias("hk"), F.count("*").alias("m"))
    )
    return (
        n.join(F.broadcast(km), "event_type")
        # Bind kmv_est ONCE, then derive rel_err from the bound column
        # (mirrors the oracle's j CTE) — two verbatim copies of the
        # CASE would have to be retuned in lockstep or rel_err silently
        # measures a different estimate than kmv_est reports.
        .select(
            "event_type",
            "n_users",
            F.expr(
                f"CASE WHEN m < {KMV_K} THEN n_users"
                f" ELSE CAST(FLOOR({KMV_K - 1}.0 * {_TWO60} / hk) AS BIGINT) END"
            ).alias("kmv_est"),
        )
        .select(
            "event_type",
            "n_users",
            "kmv_est",
            F.expr("round(abs(kmv_est - n_users) / n_users, 6)").alias(
                "rel_err"
            ),
        )
    )


Q_EVENTS_KMV_SQL = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         {hash60_duck("'u:' || CAST(user_id AS VARCHAR)")} AS h
  FROM events),
n AS (SELECT event_type, COUNT(*) AS n_users FROM d GROUP BY event_type),
km AS (
  SELECT event_type,
         list_sort(list(h))[1:{KMV_K}] AS mins
  FROM d GROUP BY event_type),
j AS (
  SELECT n.event_type, n.n_users,
         CASE WHEN len(km.mins) < {KMV_K} THEN n.n_users
              ELSE CAST(FLOOR({KMV_K - 1}.0 * {_TWO60} / mins[{KMV_K}]) AS BIGINT)
         END AS kmv_est
  FROM n JOIN km ON n.event_type = km.event_type)
SELECT event_type, n_users, kmv_est,
       round(abs(kmv_est - n_users) / n_users, 6) AS rel_err
FROM j
"""


def q_events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-INTERSECTION estimation from reusable KMV sketches: for
    every ordered pair of event types, the Jaccard of their user sets
    is estimated as |K(A∪B) ∩ A_k ∩ B_k| / |K(A∪B)|, where A_k/B_k
    are the per-type k-minimum-value samples and K(A∪B) is the union
    sketch (the k smallest of the merged samples, so |K| =
    min(k, |A∪B|)) — the documented reuse of ``events_kmv_users``'s
    sketches as uniform keyset samples (Beyer 2007 "On synopses for
    distinct-value estimation"). The denominator is the REALIZED
    sketch size, not k: when the union is smaller than k the sketch
    IS the union and m/|K| is exact (the m/k form underestimates by
    |A∪B|/k — caught by the 4σ property test at sf0.001, where all
    types share the same 15 users; the mirrored oracle hash-matched
    the bug, which is precisely what the independent property test
    exists for). Exact Jaccard rides along for the realized error.

    Determinism: the sketch is a pure function of the keyset (shared
    60-bit md5 rule) and the estimate is ONE integer-operand IEEE
    division — the whole output hash-matches DuckDB, unlike HLL.

    Scale shape: the DISTINCT (type, user) collapse is the only
    corpus-sized shuffle (shared with the exact side); everything
    after runs on O(types·k) sample rows (320 here) and O(types²)
    pairs via broadcast equi-joins. The exact intersection self-join
    on user hash is the exactness baseline the sketch replaces at
    100 TB."""
    d = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.expr(
                hash60_spark("concat('u:', CAST(user_id AS STRING))")
            ).alias("h"),
        )
        .distinct()
        .cache()
    )
    # cached: sa/sb reference the sample four times below and
    # each uncached reference re-runs the corpus-wide sample windows;
    # the frame is provably bounded (<= types * KMV_K rows).
    samp = _kmv_sample(d).cache()
    sa = samp.select(F.col("event_type").alias("ta"), "h")
    sb = samp.select(F.col("event_type").alias("tb"), "h")
    # union sketch per ordered type pair: k smallest of merged samples
    # explicit broadcasts: the distinct type list is O(types) rows
    # (provably bounded), so the pair fan-out is a broadcast
    # nested-loop, not a CartesianProduct, under the runtime-size-only
    # broadcast policy.
    merged = (
        sa.crossJoin(F.broadcast(sb.select("tb").distinct()))
        .where(F.col("ta") < F.col("tb"))
        .select("ta", "tb", "h")
        .union(
            sb.crossJoin(F.broadcast(sa.select("ta").distinct()))
            .where(F.col("ta") < F.col("tb"))
            .select("ta", "tb", "h")
        )
        .distinct()
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    usk = merged.withColumn("rn", F.row_number().over(wp)).where(
        F.col("rn") <= KMV_K
    )
    m = (
        usk.join(
            F.broadcast(sa.withColumn("in_a", F.lit(1))), ["ta", "h"], "left"
        )
        .join(
            F.broadcast(sb.withColumn("in_b", F.lit(1))), ["tb", "h"], "left"
        )
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("k_used"),
            F.expr(
                "CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("m_overlap"),
        )
    )
    # exact side: per-type sizes + pairwise intersection on the hash
    n = d.groupBy("event_type").agg(F.count("*").alias("n"))
    ea = d.select(F.col("event_type").alias("ta"), "h")
    eb = d.select(F.col("event_type").alias("tb"), "h")
    inter = (
        ea.join(eb, "h")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(n.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))),
            "ta",
        )
        .join(
            F.broadcast(n.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))),
            "tb",
        )
        .join(m, ["ta", "tb"])
        .select(
            "ta",
            "tb",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)"
            ).alias("exact_jaccard"),
            "m_overlap",
            "k_used",
            F.expr("CAST(m_overlap AS DOUBLE) / k_used").alias("kmv_jaccard"),
        )
    )


Q_EVENTS_KMV_OVERLAP_SQL = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substring(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
samp AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM d) WHERE rn <= {KMV_K}),
types AS (SELECT DISTINCT event_type AS t FROM d),
merged AS (
  SELECT DISTINCT x.ta, x.tb, x.h FROM (
    SELECT s.event_type AS ta, t.t AS tb, s.h
    FROM samp s JOIN types t ON s.event_type < t.t
    UNION
    SELECT t.t AS ta, s.event_type AS tb, s.h
    FROM samp s JOIN types t ON t.t < s.event_type) x),
usk AS (
  SELECT ta, tb, h FROM (
    SELECT ta, tb, h,
           row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
    FROM merged) WHERE rn <= {KMV_K}),
m AS (
  SELECT u.ta, u.tb, COUNT(*) AS k_used,
         CAST(SUM(CASE WHEN
           EXISTS (SELECT 1 FROM samp a
                   WHERE a.event_type = u.ta AND a.h = u.h)
           AND EXISTS (SELECT 1 FROM samp b
                       WHERE b.event_type = u.tb AND b.h = u.h)
           THEN 1 ELSE 0 END) AS BIGINT) AS m_overlap
  FROM usk u
  GROUP BY u.ta, u.tb),
n AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY event_type),
inter AS (
  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_common
  FROM d a JOIN d b ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT i.ta, i.tb,
       na.n AS n_a, nb.n AS n_b, i.n_common,
       round(CAST(i.n_common AS DOUBLE) / (na.n + nb.n - i.n_common), 6)
         AS exact_jaccard,
       m.m_overlap, m.k_used,
       CAST(m.m_overlap AS DOUBLE) / m.k_used AS kmv_jaccard
FROM inter i
JOIN n na ON i.ta = na.event_type
JOIN n nb ON i.tb = nb.event_type
JOIN m ON i.ta = m.ta AND i.tb = m.tb
"""


MOVING_WINDOW_US = 3_600_000_000  # trailing 1 hour, in microseconds


def q_events_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving aggregate per event_type at EVERY event
    (RANGE frame over event-time, not a row-count frame and not a
    bucketed window): each event sees the exact count and cent-sum of
    its type's events in (ts − 1h, ts]. The continuous sibling of the
    bucketed sliding window — alert thresholds evaluate per event, not
    per bucket boundary.

    Shape: one exchange on event_type + one sort per partition; the
    RANGE frame over integer microseconds makes both engines' frame
    arithmetic identical (no interval/timezone semantics involved).
    At 100 TB per-KEY ordering is the constraint — event_type keys are
    few but heavy, so a production deployment pre-buckets by (type,
    hour) and runs the range frame inside buckets; the frame logic is
    unchanged.
    """
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-(MOVING_WINDOW_US - 1), 0)
    )
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "event_type",
            F.expr(_VALUE_C).alias("value_c"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .select(
            "event_id",
            "event_type",
            F.count("*").over(w).alias("n_trailing"),
            F.coalesce(
                # a trailing hour of only-null readings sums to 0
                # (additive identity; null sweep)
                F.sum("value_c").over(w), F.lit(0).cast("bigint")
            ).alias("sum_trailing_c"),
        )
    )


Q_EVENTS_MOVING_WINDOW_SQL = f"""
SELECT event_id, event_type,
       COUNT(*) OVER w AS n_trailing,
       CAST(COALESCE(SUM({_VALUE_C}) OVER w, 0) AS BIGINT) AS sum_trailing_c
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN {MOVING_WINDOW_US - 1} PRECEDING AND CURRENT ROW)
"""


# Count-Min sketch: CMS_DEPTH hash rows x CMS_WIDTH counters. Like KMV
# (and unlike HLL) the sketch is a pure function of the data under the
# shared 60-bit md5 hash, so estimates are exactly oracle-checkable.
CMS_DEPTH = 4
CMS_WIDTH = 256
# Heavy-hitter cutoff: estimate >= (5/4) x the mean per-user count,
# tested as the integer cross-multiplication 4*est*n_users >= 5*total
# (exact in both engines; no division). A total-fraction phi cutoff
# would degenerate here because the user population grows with SF
# while per-user counts stay flat.
CMS_HH_NUM, CMS_HH_DEN = 5, 4


def _cms_bucket(prefix: str, key_expr: str, d: int) -> str:
    """Row-d counter index: 60-bit md5 hash of the salted key, mod W.

    The hash is nonnegative, so ``%`` agrees between Spark and DuckDB
    (no pmod needed)."""
    salted = f"concat('{prefix}{d}:', {key_expr})"
    return f"{hash60_spark(salted)} % {CMS_WIDTH}"


def q_events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users via a Count-Min sketch (Cormode & Muthu 2005):
    CMS_DEPTH x CMS_WIDTH integer counters, point estimate = min over
    rows of the counter each hash lands in, selected by the ESTIMATE
    crossing 5/4 of the mean per-user count (the real CMS use case
    never sees exact counts; they are emitted here as audit columns —
    CMS guarantees est >= exact, so ``overcount`` is >= 0 by
    construction). Deterministic md5 hashing makes the whole sketch a
    pure function of the data — exact DuckDB oracle, unlike HLL.

    Scale shape: the counter table is the corpus collapsed to at most
    DEPTH*WIDTH = 1024 rows — the explode-by-DEPTH happens before a
    partial agg, so the shuffle moves <= 1024 rows per map partition,
    and the probe side joins the per-user frame to a BROADCAST of the
    counters. The threshold is data-derived (total event count) via
    the calibrate-then-apply pattern: 1-row agg cross-joined, never a
    global window. At 100 TB the sketch build is a map-side-combine
    scan; only the (already user-collapsed) probe frame shuffles.
    """
    ev = _events(spark, sf_dir).select(
        F.expr("CAST(user_id AS STRING)").alias("u")
    )
    buckets = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(_cms_bucket("cms", "u", d)).alias("b"),
            )
            for d in range(CMS_DEPTH)
        ]
    )
    counters = (
        ev.select(F.explode(buckets).alias("db"))
        .groupBy(F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    users = ev.groupBy("u").agg(F.count("*").alias("exact_n"))
    total = users.agg(
        F.sum("exact_n").alias("total_n"), F.count("*").alias("n_users")
    )
    est = (
        users.select("u", "exact_n", F.explode(buckets).alias("db"))
        .join(
            F.broadcast(counters),
            (F.col("db.d") == F.col("d")) & (F.col("db.b") == F.col("b")),
        )
        .groupBy("u", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .where(
            F.expr(
                f"{CMS_HH_DEN} * cms_est * n_users >= {CMS_HH_NUM} * total_n"
            )
        )
        .select(
            F.expr("CAST(u AS BIGINT)").alias("user_id"),
            "cms_est",
            "exact_n",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
    )


def _cms_bucket_duck(prefix: str, key_expr: str, d: int) -> str:
    salted = f"'{prefix}{d}:' || {key_expr}"
    return f"{hash60_duck(salted)} % {CMS_WIDTH}"


def _cms_sql() -> str:
    probe_rows = "\n    UNION ALL\n".join(
        f"    SELECT u, exact_n, {d} AS d,"
        f" {_cms_bucket_duck('cms', 'u', d)} AS b FROM users"
        for d in range(CMS_DEPTH)
    )
    counter_rows = "\n    UNION ALL\n".join(
        f"    SELECT {d} AS d, {_cms_bucket_duck('cms', 'u', d)} AS b FROM ev"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u FROM events),
counters AS (
  SELECT d, b, COUNT(*) AS cnt FROM (
{counter_rows}
  ) GROUP BY d, b),
users AS (SELECT u, COUNT(*) AS exact_n FROM ev GROUP BY u),
total AS (SELECT CAST(SUM(exact_n) AS BIGINT) AS total_n,
                 COUNT(*) AS n_users FROM users),
est AS (
  SELECT p.u, p.exact_n, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
  FROM (
{probe_rows}
  ) p JOIN counters c ON p.d = c.d AND p.b = c.b
  GROUP BY p.u, p.exact_n)
SELECT CAST(u AS BIGINT) AS user_id, cms_est,
       CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cms_est - exact_n AS BIGINT) AS overcount
FROM est, total
WHERE {CMS_HH_DEN} * cms_est * n_users >= {CMS_HH_NUM} * total_n
"""


Q_EVENTS_CMS_SQL = _cms_sql()


# Lagged cross-correlation: hourly cent-sum series per event_type,
# uncentered normalized cross-correlation at integer hour lags. All
# accumulation is BIGINT (cents x cents); the only float ops are the
# final sqrt/divide on identical integer-valued operands (IEEE sqrt is
# correctly rounded, so both engines produce the same double).
XCORR_MAX_LAG = 3
_HOUR_US = 3_600_000_000


def q_events_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lagged cross-correlation between event types: for every
    ordered type pair (ta < tb) and lag L in 0..XCORR_MAX_LAG hours,
    the uncentered normalized correlation of ta's hourly value series
    against tb's series shifted L hours later — the "does activity in
    A lead activity in B?" telemetry primitive.

    Shape: the corpus collapses to one tiny hourly frame (types x
    hours) in a single partial-agg shuffle; the lag fan-out explodes
    that SMALL frame by (MAX_LAG+1) and self-joins on the shifted hour
    — an equi-join on (a.hour_us + lag) = b.hour_us with the pair
    inequality as a post-filter. Norms are computed over the matched
    overlap only (windowed cross-correlation). At 100 TB the hourly
    frame is still only |types| x |hours| rows — the heavy scan
    happens exactly once.
    """
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        )
        .agg(
            # an hour whose every sample is a null reading has 0
            # volume: the additive identity keeps downstream window
            # arithmetic defined and NULL-free (null sweep)
            F.expr(
                f"COALESCE(SUM({_VALUE_C}), CAST(0 AS BIGINT))"
            ).alias("s_c")
        )
    )
    lagged = hourly.select(
        "event_type",
        "hour_us",
        "s_c",
        F.explode(
            F.array(*[F.lit(lag) for lag in range(XCORR_MAX_LAG + 1)])
        ).alias("lag_h"),
    )
    a, b = lagged.alias("a"), hourly.alias("b")
    return (
        a.join(
            b,
            (
                F.col("a.hour_us") + F.col("a.lag_h") * F.lit(_HOUR_US)
                == F.col("b.hour_us")
            )
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            F.col("a.lag_h").alias("lag_h"),
        )
        .agg(
            F.count("*").alias("n_overlap"),
            # cent-sum products GROW with corpus volume (s_c² passes
            # 2^63 near $30M/hour/type): widen the operands so the
            # product and its sum accumulate in DECIMAL(38,0) — exact
            # order-independent integer adds, NULL (not silently
            # wrapped) on the BIGINT output cast — matching the
            # HUGEINT arithmetic the oracle uses (CLAUDE.md
            # widen-internally rule; embed_covariance pattern).
            F.expr(
                "CAST(SUM(CAST(a.s_c AS DECIMAL(19,0))"
                " * CAST(b.s_c AS DECIMAL(19,0))) AS BIGINT)"
            ).alias("dot_c2"),
            F.expr(
                "CAST(SUM(CAST(a.s_c AS DECIMAL(19,0))"
                " * CAST(a.s_c AS DECIMAL(19,0))) AS BIGINT)"
            ).alias("na_c2"),
            F.expr(
                "CAST(SUM(CAST(b.s_c AS DECIMAL(19,0))"
                " * CAST(b.s_c AS DECIMAL(19,0))) AS BIGINT)"
            ).alias("nb_c2"),
        )
        .select(
            "ta",
            "tb",
            "lag_h",
            "n_overlap",
            "dot_c2",
            # -2 sentinel (outside [-1, 1]) when a zero-norm series
            # makes the denominator 0: NULL would come back NaN from
            # the driver's pandas fetch on the DuckDB side only.
            F.expr(
                "CASE WHEN na_c2 = 0 OR nb_c2 = 0 THEN CAST(-2.0 AS DOUBLE)"
                " ELSE round(dot_c2 / (sqrt(CAST(na_c2 AS DOUBLE))"
                " * sqrt(CAST(nb_c2 AS DOUBLE))), 6) END"
            ).alias("xcorr"),
        )
    )


Q_EVENTS_CROSSCORR_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(COALESCE(SUM({_VALUE_C}), 0) AS BIGINT) AS s_c
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, hour_us, s_c, unnest(range(0, {XCORR_MAX_LAG + 1})) AS lag_h
  FROM hourly)
SELECT ta, tb, lag_h, n_overlap, dot_c2,
       CASE WHEN na_c2 = 0 OR nb_c2 = 0 THEN CAST(-2.0 AS DOUBLE)
            ELSE round(dot_c2 / (sqrt(CAST(na_c2 AS DOUBLE))
                                 * sqrt(CAST(nb_c2 AS DOUBLE))), 6) END
         AS xcorr
FROM (
  SELECT a.event_type AS ta, b.event_type AS tb, CAST(a.lag_h AS INT) AS lag_h,
         COUNT(*) AS n_overlap,
         -- HUGEINT product/sum: exact past 2^63 like the Spark side's
         -- DECIMAL(38,0) accumulator; BIGINT only at the output cast
         CAST(SUM(CAST(a.s_c AS HUGEINT) * b.s_c) AS BIGINT) AS dot_c2,
         CAST(SUM(CAST(a.s_c AS HUGEINT) * a.s_c) AS BIGINT) AS na_c2,
         CAST(SUM(CAST(b.s_c AS HUGEINT) * b.s_c) AS BIGINT) AS nb_c2
  FROM lagged a JOIN hourly b
    ON a.hour_us + a.lag_h * {_HOUR_US} = b.hour_us
   AND a.event_type < b.event_type
  GROUP BY 1, 2, 3)
"""


# CUSUM change-point detection: one-sided upward CUSUM with zero
# slack over each type's hourly series, via the prefix-sum identity
# C_i = S_i − min(0, min_{j≤i} S_j) — two running windows, no
# recursion. Deviations are mean-centered and ×n-scaled so everything
# stays BIGINT: d_i = n·x_i − total (no division). Alarm when the
# cumulative excess exceeds CUSUM_H_HOURS mean-hours of volume, which
# in the ×n-scaled units is exactly CUSUM_H_HOURS × total.
CUSUM_H_HOURS = 2


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type change-point detection (Page 1954 CUSUM): flag the
    hours where a type's volume has sustained an upward shift whose
    cumulative excess over the historical mean reaches CUSUM_H_HOURS
    average hours of volume — the drift detector that catches slow
    ramps a fixed per-hour threshold (``q_events_anomalies``) misses.

    The recursive definition C_i = max(0, C_{i-1} + d_i) is
    deliberately NOT computed with an iterative loop or a stateful
    UDF: with zero slack it collapses to prefix sums,
    C_i = S_i − min(0, min_{j≤i} S_j), so the whole detector is two
    ROWS-frame running windows (sum + min) over the hourly frame.
    Everything is integer: deviations are mean-centered ×n
    (d_i = n·x_i − total avoids the mean division) and the alarm
    threshold in those units is exactly CUSUM_H_HOURS × total.

    Scale shape: the corpus collapses to |types| × |hours| rows in one
    partial-agg shuffle; the windows repartition only that tiny frame
    by type. At 100 TB the heavy scan happens once; per-type window
    state is one running sum + one running min.
    """
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        )
        .agg(
            # an hour whose every sample is a null reading has 0
            # volume: the additive identity keeps downstream window
            # arithmetic defined and NULL-free (null sweep)
            F.expr(
                f"COALESCE(SUM({_VALUE_C}), CAST(0 AS BIGINT))"
            ).alias("s_c")
        )
    )
    wtype = Window.partitionBy("event_type")
    wrun = wtype.orderBy("hour_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # DECIMAL(38,0) internal arithmetic: d ~ n_hours·s_c and its prefix
    # sum GROW with span × corpus volume, so raw BIGINT would silently
    # wrap past 2^63 (CLAUDE.md widen-internally rule); the
    # oracle accumulates in HUGEINT the same way. Output stays BIGINT
    # and goes NULL, not wrong, if a real corpus ever exceeds it.
    return (
        hourly.withColumn("n_hours", F.count("*").over(wtype))
        .withColumn("total_c", F.sum("s_c").over(wtype))
        .withColumn(
            "d", F.expr("CAST(n_hours AS DECIMAL(19,0)) * s_c - total_c")
        )
        .withColumn("ps", F.sum("d").over(wrun))
        .withColumn("mn", F.min("ps").over(wrun))
        .withColumn(
            "cusum_dec",
            F.expr("ps - least(mn, CAST(0 AS DECIMAL(38,0)))"),
        )
        .select(
            "event_type",
            "hour_us",
            "s_c",
            F.expr("CAST(cusum_dec AS BIGINT)").alias("cusum_nc"),
            F.expr(
                f"CAST(cusum_dec > CAST({CUSUM_H_HOURS} AS DECIMAL(19,0))"
                " * total_c AS BIGINT)"
            ).alias("alarm"),
        )
    )


Q_EVENTS_CUSUM_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(COALESCE(SUM({_VALUE_C}), 0) AS BIGINT) AS s_c
  FROM events GROUP BY 1, 2),
d AS (
  SELECT event_type, hour_us, s_c,
         COUNT(*) OVER (PARTITION BY event_type) AS n_hours,
         CAST(SUM(s_c) OVER (PARTITION BY event_type) AS BIGINT) AS total_c
  FROM hourly),
ps AS (
  -- HUGEINT accumulation mirrors the Spark side's DECIMAL(38,0):
  -- n_hours*s_c and the prefix sum grow past 2^63 at real volume
  SELECT event_type, hour_us, s_c, total_c,
         SUM(CAST(n_hours AS HUGEINT) * s_c - total_c) OVER w AS ps
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, hour_us, s_c,
       CAST(ps - LEAST(MIN(ps) OVER w, 0) AS BIGINT) AS cusum_nc,
       CAST(ps - LEAST(MIN(ps) OVER w, 0)
              > CAST({CUSUM_H_HOURS} AS HUGEINT) * total_c
            AS BIGINT) AS alarm
FROM ps
WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


QUERIES = {
    "events_cusum": q_events_cusum,
    "events_cms_heavy_hitters": q_events_cms_heavy_hitters,
    "events_crosscorr": q_events_crosscorr,
    "events_moving_window": q_events_moving_window,
    "events_kmv_users": q_events_kmv_users,
    "events_hll_rollup": q_events_hll_rollup,
    "events_hll_exact": q_events_hll_exact,
    "events_kmv_overlap": q_events_kmv_overlap,
    "events_twa": q_events_twa,
    "events_ohlc": q_events_ohlc,
    "events_ewma": q_events_ewma,
}

ORACLES = {
    "events_cusum": Q_EVENTS_CUSUM_SQL,
    "events_cms_heavy_hitters": Q_EVENTS_CMS_SQL,
    "events_crosscorr": Q_EVENTS_CROSSCORR_SQL,
    "events_moving_window": Q_EVENTS_MOVING_WINDOW_SQL,
    "events_kmv_users": Q_EVENTS_KMV_SQL,
    "events_hll_exact": Q_EVENTS_HLL_EXACT_SQL,
    "events_kmv_overlap": Q_EVENTS_KMV_OVERLAP_SQL,
    "events_twa": Q_EVENTS_TWA_SQL,
    "events_ohlc": Q_EVENTS_OHLC_SQL,
    "events_ewma": Q_EVENTS_EWMA_SQL,
}
