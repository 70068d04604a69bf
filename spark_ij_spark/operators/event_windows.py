"""Batch queries over the events table, with their DuckDB oracles.

The sliding and session window queries call the stream operators of
``spark_ij_spark.streaming.events`` on the batch loader's frame (on
batch input Spark drops their watermark), so the DuckDB oracles
(sliding window = 30-min bucket union of 2 offsets; session window =
gaps-and-islands with lag + running sum) check the stream operators'
own code. The other stream operators are checked by stream==batch
equivalence tests against their batch twins here.

Double sums use the decimal-sum pattern (relational.dsum) so the
aggregate is order-independent and hash-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ij_spark.operators.relational import (
    dec_double_sql,
    dsum,
    dsum_sql,
    finite_or_null,
)
from spark_ij_spark.session import load_tables
from spark_ij_spark.streaming.events import session_stats, sliding_counts

SESSION_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["events"])["events"]


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min per event_type
    (``streaming.events.sliding_counts``). One shuffle on
    (window, type); window() expands each event to 2 rows map-side."""
    return sliding_counts(_events(spark, sf_dir))


Q_EVENTS_SLIDING_SQL = f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - (k * INTERVAL '30 minutes') AS ws,
         event_type, value
  FROM events, (VALUES (0), (1)) AS off(k))
SELECT ws AS window_start,
       ws + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value', 2)} AS sum_value
FROM expanded
GROUP BY ws, event_type
"""


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap), batch session_window
    (``streaming.events.session_stats``).
    Semantics: window end = last event + gap; an event at EXACTLY
    last+gap still MERGES into the session (Spark session_window
    treats the boundary inclusively — empirically probed: events at
    00:00 and 00:30 form ONE session with a 30-min gap). The oracle's
    gaps-and-islands split therefore uses strict '>', not '>='."""
    return session_stats(_events(spark, sf_dir), gap=f"{SESSION_GAP_MIN} minutes")


Q_EVENTS_SESSION_SQL = f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL
                OR ts - prev > INTERVAL '{SESSION_GAP_MIN} minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM f)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '{SESSION_GAP_MIN} minutes' AS session_end,
       COUNT(*) AS n_events,
       {dsum_sql('value', 2)} AS sum_value
FROM s
GROUP BY user_id, sid
"""


def q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful streaming op: final per-user totals."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", 2, "sum_value"))
    )


Q_EVENTS_RUNNING_TOTALS_SQL = f"""
SELECT user_id, COUNT(*) AS n_events, {dsum_sql('value', 2)} AS sum_value
FROM events GROUP BY user_id
"""


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value percentiles. Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition but NOT
    the interpolation formula's floating-point evaluation order: at
    the 10x replica the at-volume sweep caught a 1-ulp p99 drift
    (227.41 vs 227.40999999999997 — the v[lo]+d*(v[hi]-v[lo]) vs
    (1-d)*v[lo]+d*v[hi] class). Both sides therefore round(…, 6),
    which is deterministically safe here: values carry 2 decimals and
    the interpolation fraction ((q*100)*(n-1) mod 100)/100 carries 2,
    so the exact result has <= 4 decimals — >= 5e-7 from any 6-decimal
    rounding boundary, which 1e-14 noise cannot cross. Exact
    percentile is a full-sort-per-group aggregate — at 100 TB swap in
    approx_percentile and accept the documented error bound; this
    query is the exactness baseline for that tradeoff."""
    return (
        _events(spark, sf_dir)
        # order statistics are over VALID readings only: engines
        # disagree on where NULL/NaN sort in percentile interpolation
        # (NaN sweep), and a NaN quantile is meaningless
        .filter("value IS NOT NULL AND NOT isnan(value)")
        .groupBy("event_type")
        .agg(
            F.expr("round(percentile(value, 0.5), 6)").alias("p50"),
            F.expr("round(percentile(value, 0.95), 6)").alias("p95"),
            F.expr("round(percentile(value, 0.99), 6)").alias("p99"),
            F.count("*").alias("n_events"),
        )
    )


Q_EVENTS_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       COUNT(*) AS n_events
FROM events
WHERE value IS NOT NULL AND NOT isnan(value)
GROUP BY event_type
"""

# approx_percentile rank-error bound: |rank(approx) - q*n| <= n / ACCURACY
# (Greenwald-Khanna as implemented by Spark's ApproximatePercentile).
QUANTILE_ACCURACY = 10_000


def q_events_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``events_quantiles``: one-pass mergeable-
    sketch percentiles via ``approx_percentile`` (Greenwald-Khanna,
    rank error ≤ n/{accuracy}) instead of the exact full-sort-per-
    group aggregate. Partial-aggregates map-side and merges O(accuracy)
    sketch state per group — no per-group sort, no full-value shuffle.
    Sketch results are engine- and merge-order-specific, so this query
    carries a tolerance pytest against the exact twin (rank-error
    bound) rather than a DuckDB hash oracle; the driver records the
    rows-only check."""
    return (
        _events(spark, sf_dir)
        # same valid-readings filter as the exact twin (the tolerance
        # pytest compares the two — they must see identical inputs)
        .filter("value IS NOT NULL AND NOT isnan(value)")
        .groupBy("event_type")
        .agg(
            F.expr(
                f"approx_percentile(value, array(0.5, 0.95, 0.99), {QUANTILE_ACCURACY})"
            ).alias("pcts"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.expr("pcts[0]").alias("p50"),
            F.expr("pcts[1]").alias("p95"),
            F.expr("pcts[2]").alias("p99"),
            "n_events",
        )
    )


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via the median absolute
    deviation (MAD): an event is an outlier when
    |value − median| > 3.5 · MAD (the modified-z-score rule,
    Iglewicz & Hoaglin 1993) — the robust alternative to mean/stddev
    flagging, which heavy tails corrupt (the outliers inflate the very
    stddev that should flag them).

    Shape: calibrate-then-apply twice (CLAUDE.md rule) — the per-type
    median is a tiny O(types) aggregate broadcast back onto the
    events; the MAD is a second tiny aggregate over |value − med|,
    broadcast again; the final count is map-only + one O(types)
    combine. Never a global ntile/window over the corpus. Exact
    percentile is the test-SF oracle anchor; at 100 TB both
    calibration aggs swap to approx_percentile unchanged.

    Determinism: Spark ``percentile`` and DuckDB ``quantile_cont``
    share linear interpolation bit-for-bit; |value − med| and
    3.5·MAD are single IEEE ops on identical operands."""
    # valid readings only, same rule as events_quantiles: median/MAD
    # over NULL/NaN is engine-dependent and meaningless
    ev = _events(spark, sf_dir).filter(
        "value IS NOT NULL AND NOT isnan(value)"
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    # cache: dev feeds BOTH the MAD calibration aggregate and the final
    # outlier count — uncached, the events scan (plus the median
    # aggregate feeding the broadcast) re-runs for each consumer
    # (4 fact scans measured in the executed plan).
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .select("event_type", "med", "value")
        .cache()
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("any_value(med)").alias("med"),
            F.expr("any_value(mad)").alias("mad"),
            F.expr(
                "CAST(SUM(CASE WHEN abs(value - med) > 3.5 * mad"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
    )


Q_EVENTS_MAD_SQL = """
WITH ve AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM ve GROUP BY event_type),
dev AS (
  SELECT e.event_type, m.med, e.value
  FROM ve e JOIN med m ON e.event_type = m.event_type),
mad AS (
  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       any_value(d.med) AS med,
       any_value(a.mad) AS mad,
       CAST(SUM(CASE WHEN abs(d.value - d.med) > 3.5 * a.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n_events
FROM dev d JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the most recent prior click of
    the same user (attribution). Implemented as the union-scan shape —
    both event kinds sort once per user and a last(ignorenulls) window
    carries the latest click forward — which is ONE shuffle on user_id
    and no join at all. The naive equi-join + max-ts form shuffles both
    sides and explodes on active users; this form is how an as-of join
    survives 100 TB. Ties break on event_id, so the order (and the
    result) is engine-independent.

    Null metric samples (null sweep): the click-value branch
    coalesces to the -1.0 sentinel BEFORE the window, so it is non-NULL
    for every click row and the ts/value last() pairs pick the SAME
    click — with a bare `value` there, a null-valued latest click made
    last_click_ts come from click A but last_click_value from an older
    click B. The purchase's own `value` coalesces to -1.0 at output
    (None from Spark vs NaN through the driver's pandas fetch never
    hash-equal)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = _events(spark, sf_dir)
    click_ts = F.expr("CASE WHEN event_type = 'click' THEN ts END")
    click_val = F.expr(
        "CASE WHEN event_type = 'click'"
        " THEN coalesce(value, CAST(-1.0 AS DOUBLE)) END"
    )
    return (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .withColumn("last_click_value", F.last(click_val, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.expr("coalesce(value, CAST(-1.0 AS DOUBLE))").alias("value"),
            # No-prior-click rows coalesce to fixed sentinels: NULL
            # doubles/timestamps round-trip as NaN/NaT through pandas
            # (the driver's DuckDB fetch path) but as None from Spark,
            # and that rendering split is hash-unstable across pandas
            # versions. Sentinels render identically everywhere. The
            # explicit has_prior_click flag disambiguates a genuine
            # epoch-timestamp / -1.0 click from the sentinel domain.
            F.expr(
                "CASE WHEN last_click_ts IS NULL THEN 0 ELSE 1 END"
            ).alias("has_prior_click"),
            F.expr(
                "coalesce(last_click_ts, TIMESTAMP '1970-01-01 00:00:00')"
            ).alias("last_click_ts"),
            F.expr("coalesce(last_click_value, CAST(-1.0 AS DOUBLE))").alias(
                "last_click_value"
            ),
        )
    )


Q_EVENTS_ASOF_SQL = """
WITH j AS (
  SELECT event_id, user_id, ts, value, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER w AS last_click_ts,
         last_value(CASE WHEN event_type = 'click'
                         THEN coalesce(value, CAST(-1.0 AS DOUBLE)) END
                    IGNORE NULLS)
           OVER w AS last_click_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, ts,
       coalesce(value, CAST(-1.0 AS DOUBLE)) AS value,
       CASE WHEN last_click_ts IS NULL THEN 0 ELSE 1 END AS has_prior_click,
       coalesce(last_click_ts, TIMESTAMP '1970-01-01 00:00:00') AS last_click_ts,
       coalesce(last_click_value, CAST(-1.0 AS DOUBLE)) AS last_click_value
FROM j WHERE event_type = 'purchase'
"""


RANGE_JOIN_US = 300 * 1_000_000  # 5-minute lookback, in microseconds


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per error event, count and sum the same user's
    events in the preceding 5 minutes. A time-range theta-join is a
    nested-loop at the planner level; the scale shape is BUCKETED — bin
    both sides by the range width, explode each probe to its two
    candidate bins, hash equi-join on (user, bin), then filter the
    exact range. Shuffles on (user, bin) only; replication factor is a
    constant 2 on the probe side."""
    ev = _events(spark, sf_dir)
    b = ev.select(
        "user_id",
        F.col("event_id").alias("b_eid"),
        F.expr("unix_micros(ts)").alias("bus"),
        F.col("value").alias("b_value"),
    ).withColumn("bin", F.expr(f"bus DIV {RANGE_JOIN_US}"))
    a = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("event_id"),
            F.col("user_id").alias("a_uid"),
            F.expr("unix_micros(ts)").alias("aus"),
        )
        .withColumn(
            "bin",
            F.explode(
                F.expr(
                    f"array(aus DIV {RANGE_JOIN_US} - 1, aus DIV {RANGE_JOIN_US})"
                )
            ),
        )
    )
    cond = (
        (a["a_uid"] == b["user_id"])
        & (a["bin"] == b["bin"])
        & (b["bus"] >= a["aus"] - RANGE_JOIN_US)
        & (b["bus"] < a["aus"])
    )
    return (
        a.join(b, cond, "left")
        .groupBy("event_id")
        .agg(
            F.count("b_eid").alias("n_prior"),
            F.coalesce(dsum("b_value", 2), F.lit(0.0)).alias(
                "sum_prior_value"
            ),
        )
    )


Q_EVENTS_RANGE_SQL = f"""
SELECT a.event_id AS event_id,
       COUNT(b.event_id) AS n_prior,
       COALESCE({dsum_sql('b.value', 2)}, CAST(0 AS DOUBLE)) AS sum_prior_value
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) >= epoch_us(a.ts) - {RANGE_JOIN_US}
 AND epoch_us(b.ts) < epoch_us(a.ts)
WHERE a.event_type = 'error'
GROUP BY a.event_id
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week;
    for each (cohort, weeks-since-cohort) the count of cohort members
    still active. Three keyed shuffles, no join (guide §2.4):
    the distinct on (user, week), a min-over-user window for the
    first-active week (not an aggregate + self-join — same shuffle
    key, one pass), and the final (cohort, week_index)
    count. The final count is a plain COUNT(*): the frame is distinct
    per (user, week) and week_index is injective in week for a fixed
    user, so each (cohort, week_index, user) appears exactly once and
    countDistinct(user_id) == COUNT(*) — dropping the distinct-agg
    expand. Monday-start week truncation matches DuckDB's
    date_trunc('week')."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.expr("CAST(date_trunc('week', ts) AS DATE)").alias("week")
    )
    ua = ev.distinct()
    w = Window.partitionBy("user_id")
    return (
        ua.withColumn("cohort_week", F.min("week").over(w))
        .select(
            "cohort_week",
            F.expr("datediff(week, cohort_week) DIV 7").alias("week_index"),
        )
        .groupBy("cohort_week", "week_index")
        .agg(F.count("*").alias("n_active"))
        # DATE renders as midnight-datetime through pandas (the
        # driver's DuckDB fetch path) but as a bare date from Spark;
        # string it on both sides so the hash is renderer-independent.
        .withColumn("cohort_week", F.col("cohort_week").cast("string"))
    )


Q_EVENTS_RETENTION_SQL = """
WITH ua AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM ua GROUP BY user_id)
SELECT CAST(first.cohort_week AS VARCHAR) AS cohort_week,
       date_diff('day', first.cohort_week, ua.week) // 7 AS week_index,
       COUNT(DISTINCT ua.user_id) AS n_active
FROM ua JOIN first USING (user_id)
GROUP BY first.cohort_week, week_index
"""


# Salt fan-out for the two-stage aggregation. 16 sub-keys per hot key
# is enough to spread a 5-key aggregate across a 32-executor stage;
# at 1000 executors raise toward the executor count.
SALT_BUCKETS = 16


def q_events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: per-event-type totals computed as a
    two-stage SALTED aggregate.

    ``groupBy(event_type)`` alone hashes 100 TB of events onto 5
    reducer keys — 5 straggler tasks no matter how many executors.
    Stage 1 groups on (event_type, salt) with salt = event_id %
    SALT_BUCKETS, spreading each hot key over SALT_BUCKETS parallel
    partial aggregates; stage 2 re-aggregates the 5 × SALT_BUCKETS
    partials. Decimal sums are associative, so the result is
    bit-identical to the single-stage form the oracle runs — the
    partials stay DECIMAL between stages and only the final sum casts
    to DOUBLE.
    """
    ev = _events(spark, sf_dir)
    stage1 = (
        ev.withColumn("salt", F.expr(f"event_id % {SALT_BUCKETS}"))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.expr(f"SUM(TRY_CAST({finite_or_null('value')} AS DECIMAL(28,6)))").alias("pv"),
        )
    )
    return (
        stage1.groupBy("event_type")
        .agg(
            F.expr("CAST(SUM(pn) AS BIGINT)").alias("n_events"),
            F.expr("CAST(COALESCE(SUM(pv), 0) AS DOUBLE)").alias("sum_value"),
        )
        .withColumn(
            "avg_value", F.expr("round(sum_value / n_events, 6)")
        )
        .orderBy("event_type")
    )


Q_EVENTS_SALTED_AGG_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(COALESCE(SUM(TRY_CAST({finite_or_null('value')} AS DECIMAL(28,6))), 0) AS STRING) AS DOUBLE) AS sum_value,
       round(CAST(CAST(COALESCE(SUM(TRY_CAST({finite_or_null('value')} AS DECIMAL(28,6))), 0) AS STRING) AS DOUBLE) / COUNT(*), 6)
         AS avg_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup hierarchy: hourly → daily → monthly
    aggregates where each coarser level RE-AGGREGATES the previous
    level's partials instead of rescanning the fact table.

    The hourly frame (the only scan of events) is persisted; daily
    sums hourly rows, monthly sums daily rows — at 100 TB that's one
    fact-table pass plus two aggregations over O(hours) and O(days)
    rows. Counts and decimal value-sums are associative, so every
    level is bit-identical to aggregating the raw events directly
    (which is exactly what the oracle does). Partials stay DECIMAL
    between levels; only the emitted columns cast to DOUBLE.
    """
    ev = _events(spark, sf_dir)
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"SUM(TRY_CAST({finite_or_null('value')} AS DECIMAL(28,6)))").alias("pv"),
        )
        .persist()
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket")
    ).agg(F.expr("CAST(SUM(n) AS BIGINT)").alias("n"), F.expr("SUM(pv)").alias("pv"))
    monthly = daily.groupBy(
        F.date_trunc("month", F.col("bucket")).alias("bucket")
    ).agg(F.expr("CAST(SUM(n) AS BIGINT)").alias("n"), F.expr("SUM(pv)").alias("pv"))

    def _emit(frame: DataFrame, level: str) -> DataFrame:
        return frame.select(
            F.lit(level).alias("level"),
            "bucket",
            F.expr("CAST(n AS BIGINT)").alias("n_events"),
            F.expr("CAST(COALESCE(pv, 0) AS DOUBLE)").alias("sum_value"),
        )

    return _emit(hourly, "hour").union(_emit(daily, "day")).union(
        _emit(monthly, "month")
    )


Q_EVENTS_ROLLUP_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
         SUM(TRY_CAST({finite_or_null('value')} AS DECIMAL(28,6))) AS pv
  FROM events GROUP BY 1),
daily AS (
  SELECT date_trunc('day', bucket) AS bucket, CAST(SUM(n) AS BIGINT) AS n,
         SUM(pv) AS pv
  FROM hourly GROUP BY 1),
monthly AS (
  SELECT date_trunc('month', bucket) AS bucket, CAST(SUM(n) AS BIGINT) AS n,
         SUM(pv) AS pv
  FROM daily GROUP BY 1)
SELECT 'hour' AS level, bucket, CAST(n AS BIGINT) AS n_events,
       {dec_double_sql('COALESCE(pv, 0)')} AS sum_value FROM hourly
UNION ALL
SELECT 'day', bucket, CAST(n AS BIGINT), {dec_double_sql('COALESCE(pv, 0)')}
FROM daily
UNION ALL
SELECT 'month', bucket, CAST(n AS BIGINT), {dec_double_sql('COALESCE(pv, 0)')}
FROM monthly
"""


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered pair of consecutive events of one
    user, count (from_type → to_type) and the conditional probability
    p(to|from) — the user-behavior-modeling building block (next-event
    prediction features, funnel anomaly detection).

    Determinism: the sequence order is the TOTAL order (ts, event_id)
    — ts alone ties within a user and lag() would then be
    engine-dependent. Counts are integers; p is ONE double division of
    two bigints (identical IEEE op both engines), rounded in-engine.

    Scale shape: one shuffle keyed on user_id for the lag window
    (state per user is one row), then a partial-agg shuffle down to
    O(|types|²) rows; the probability normalization is a window over
    that tiny matrix — nothing rescans the fact table and no join
    exists anywhere.
    """
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        _events(spark, sf_dir)
        .select(
            F.lag("event_type").over(seq).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            "round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER "
            "(PARTITION BY from_type) AS DOUBLE), 6)"
        ).alias("p"),
    ).orderBy("from_type", "to_type")


Q_EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) /
             CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM counts ORDER BY from_type, to_type
"""


def q_events_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction (CDC upsert materialization): treat
    ``events`` as a keyed change stream and materialize the LATEST
    state per user — last event id/type/timestamp plus first-seen and
    change count. This is the maintenance query behind every mutable
    "current state" table fed by an append-only log (Delta/Hudi MERGE
    does it engine-side; this is the explicit Spark form).

    Scale shape: ONE shuffle keyed on user_id — the row_number window
    (latest row; (user_id, ts) is unique in this log, event_id makes
    the tie-break total) and the whole-partition count/min windows
    share the same partitioning, so Spark plans them over a single
    Exchange with no join anywhere (plan-guarded). At 100 TB the same
    query runs incrementally: new-batch compaction then a keyed merge
    against the (bucketed) state table, exactly the
    ``layout.bucketed_join`` shape."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wp = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            F.row_number().over(wo).alias("rn"),
            F.count(F.lit(1)).over(wp).alias("n_changes"),
            F.min("ts").over(wp).alias("first_ts"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
            "n_changes",
            "first_ts",
        )
        .orderBy("user_id")
    )


Q_EVENTS_CDC_STATE_SQL = """
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       ts AS last_ts, n_changes, first_ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes,
             MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events)
WHERE rn = 1
ORDER BY user_id
"""


# Open-interval sentinel for the current SCD-2 row, as BIGINT epoch
# micros (== epoch_us(TIMESTAMP '9999-12-31')). A far-future TIMESTAMP
# sentinel overflowed pandas datetime64[ns] (max 2262-04-11) in the
# driver's DuckDB fetch (CORRECTNESS_r06 OutOfBoundsDatetime), so the
# validity bounds are emitted as integer micros on both engines —
# graded output must stay pandas-representable.
SCD2_OPEN_END_US = 253402214400000000


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history materialization: turn the per-user change log
    into validity intervals — each event opens a state row valid from
    its timestamp until the user's next event ((user_id, ts) is
    unique), with the latest row left open (far-future sentinel) and
    flagged current. This is the slowly-changing-dimension type-2
    table every warehouse derives from CDC feeds; the CDC compaction
    (``q_events_cdc_state``) is its "current rows only" projection.

    Scale shape: ONE shuffle keyed on user_id; the lead() window and
    the is-current test (lead IS NULL) come from the same sort — no
    join, no second pass. Validity bounds are BIGINT ``unix_micros``
    (== DuckDB ``epoch_us``) so the open-row sentinel never exceeds
    pandas' datetime64[ns] range in the driver's grading fetch;
    is_current is cast to INT (cross-engine bool rendering differs)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.expr("unix_micros(ts)").alias("valid_from_us"),
            "event_id",
        )
        .select(
            "user_id",
            "state",
            "valid_from_us",
            F.lead("valid_from_us").over(w).alias("nxt"),
        )
        .select(
            "user_id",
            "state",
            "valid_from_us",
            F.expr(
                f"coalesce(nxt, CAST({SCD2_OPEN_END_US} AS BIGINT))"
            ).alias("valid_to_us"),
            F.expr("CAST(nxt IS NULL AS INT)").alias("is_current"),
        )
        .orderBy("user_id", "valid_from_us")
    )


Q_EVENTS_SCD2_SQL = f"""
SELECT user_id, event_type AS state, epoch_us(ts) AS valid_from_us,
       CAST(coalesce(lead(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     {SCD2_OPEN_END_US}) AS BIGINT) AS valid_to_us,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            IS NULL AS INT) AS is_current
FROM events
ORDER BY user_id, valid_from_us
"""


# Centered moving-average half-width (hours) for the gap-filled grid.
GAPFILL_MA_HOURS = 3


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense time-series materialization: the hourly event
    counts per type are re-gridded onto EVERY hour between the type's
    first and last activity (missing hours become explicit zeros), and
    a trailing 3-hour moving average is computed on the dense grid —
    the resample + rolling-stat step every monitoring/forecast
    pipeline needs, which naive GROUP BY can't produce (it never emits
    empty buckets).

    Scale shape: the dense grid is generated with sequence()+explode
    from an O(types) min/max agg (never a driver loop); the sparse
    counts left-join onto it co-partitioned on (type, hour); the
    rolling window is one keyed shuffle. Determinism: counts are
    exact ints; the moving average is SUM(int)/3 — fixed double ops."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"))
    span = hourly.groupBy("event_type").agg(
        F.expr("MIN(h)").alias("h0"), F.expr("MAX(h)").alias("h1")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")
        ).alias("h"),
    )
    dense = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.expr("coalesce(n, CAST(0 AS BIGINT))").alias("n")
        )
    )
    return (
        dense.withColumn(
            "ma",
            F.expr(
                f"round(CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY h"
                f" ROWS BETWEEN {GAPFILL_MA_HOURS - 1} PRECEDING AND CURRENT ROW)"
                f" AS DOUBLE) / {GAPFILL_MA_HOURS}, 6)"
            ),
        )
        .select("event_type", F.col("h").alias("hour"), "n", "ma")
        .orderBy("event_type", "hour")
    )


Q_EVENTS_GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
span AS (
  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM span),
dense AS (
  SELECT grid.event_type, grid.h, COALESCE(hourly.n, 0) AS n
  FROM grid LEFT JOIN hourly
    ON grid.event_type = hourly.event_type AND grid.h = hourly.h)
SELECT event_type, h AS hour, CAST(n AS BIGINT) AS n,
       round(CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN {GAPFILL_MA_HOURS - 1} PRECEDING AND CURRENT ROW)
             AS DOUBLE) / {GAPFILL_MA_HOURS}, 6) AS ma
FROM dense ORDER BY event_type, hour
"""


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with DATA-DERIVED quartile edges: per user,
    recency (hours since the corpus's last event), frequency (event
    count) and monetary (exact decimal value sum), each scored 1-4 by
    quartile, concatenated into the classic segment code ('444' =
    best). Quartile edges come from the data itself — the
    calibrate-then-apply shape again, NOT a global ntile (a global
    ntile window is a single-reducer straggler at scale; three
    broadcast quartile edges are O(1) state).

    Scale shape: one user-keyed aggregate, then two 1-row broadcast
    calibration aggs (global max ts; the 9 quartile edges) and a
    map-only scoring pass. Determinism: recency/frequency are exact
    ints, monetary is a decimal sum; quartile edges use the shared
    linear-interpolation percentile (bit-identical in DuckDB —
    see events_quantiles); scoring compares against those doubles."""
    users = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.expr("MAX(ts)").alias("last_ts"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("frequency"),
            dsum("value", 2, "monetary"),
        )
    )
    gmax = users.agg(F.expr("MAX(last_ts)").alias("gmax"))
    ru = users.crossJoin(F.broadcast(gmax)).withColumn(
        "recency_h",
        F.expr(
            "CAST((unix_micros(gmax) - unix_micros(last_ts)) div 3600000000 AS BIGINT)"
        ),
    )
    edges = ru.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m[0]}{i}")
            for m in ("recency_h", "frequency", "monetary")
            for i, q in enumerate((0.25, 0.5, 0.75), 1)
        ]
    )
    score = (
        "CAST(1 + (CAST({m} > {c}1 AS INT) + CAST({m} > {c}2 AS INT)"
        " + CAST({m} > {c}3 AS INT)) AS INT)"
    )
    r_s = f"CAST(5 - {score.format(m='recency_h', c='r')} AS INT)"
    f_s = score.format(m="frequency", c="f")
    m_s = score.format(m="monetary", c="m")
    return (
        ru.crossJoin(F.broadcast(edges))
        .select(
            "user_id",
            "recency_h",
            "frequency",
            "monetary",
            F.expr(f"concat({r_s}, {f_s}, {m_s})").alias("segment"),
        )
        .orderBy("user_id")
    )


def _rfm_sql() -> str:
    edges = ", ".join(
        f"quantile_cont({m}, {q}) AS {m[0]}{i}"
        for m in ("recency_h", "frequency", "monetary")
        for i, q in enumerate((0.25, 0.5, 0.75), 1)
    )
    score = (
        "CAST(1 + (CAST({m} > {c}1 AS INT) + CAST({m} > {c}2 AS INT)"
        " + CAST({m} > {c}3 AS INT)) AS INT)"
    )
    r_s = "CAST(5 - " + score.format(m="recency_h", c="r") + " AS INT)"
    f_s = score.format(m="frequency", c="f")
    m_s = score.format(m="monetary", c="m")
    return f"""
WITH users AS (
  SELECT user_id, MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {dsum_sql('value', 2)} AS monetary
  FROM events GROUP BY user_id),
g AS (SELECT MAX(last_ts) AS gmax FROM users),
ru AS (
  SELECT user_id, frequency, monetary,
         CAST((epoch_us(gmax) - epoch_us(last_ts)) // 3600000000 AS BIGINT) AS recency_h
  FROM users CROSS JOIN g),
e AS (SELECT {edges} FROM ru)
SELECT user_id, recency_h, frequency, monetary,
       CONCAT({r_s}, {f_s}, {m_s}) AS segment
FROM ru CROSS JOIN e
ORDER BY user_id
"""


Q_EVENTS_RFM_SQL = _rfm_sql()


def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type association mining: for every unordered type pair,
    the number of users exhibiting both, plus lift and PMI against
    independence — the "users who do X also do Y" co-occurrence signal
    behind recommendation and behavioral-cohort analyses.

    Scale shape: one distinct (user, type) shuffle; the pair join is a
    SELF equi-join on user_id (co-partitioned — fan-in bounded by
    types-per-user, ≤|event types| per row, never all-users); pair and
    marginal aggregates partial-aggregate to O(types²) rows and the
    marginals join back broadcast. Determinism: counts are exact
    BIGINTs; lift/PMI are fixed IEEE double sequences from those ints
    (ln bit-identity verified across engines — see text_surprisal)."""
    ev = _events(spark, sf_dir)
    # cache: ut feeds FOUR subtrees (both pair-join sides, the user
    # count, the marginals) — uncached, the corpus scan + distinct
    # shuffle re-runs for each (5 fact scans measured in the executed
    # plan); cached, the distinct collapse materializes once.
    ut = ev.select("user_id", "event_type").distinct().cache()
    # Calibrate-then-apply (CLAUDE.md): the user count rides along as a
    # broadcast 1-row frame, not a driver-side .count() — an eager
    # action here would scan the corpus at plan-build time and again
    # in the query's own lineage (twice per run, and bench re-pays it
    # per timed call).
    nu = ut.select("user_id").distinct().agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_ab"))
    )
    marg = ut.groupBy("event_type").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n")
    )
    lift = (
        "(CAST(n_ab AS DOUBLE) * CAST(n_users AS DOUBLE))"
        " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"
    )
    return (
        pairs.crossJoin(F.broadcast(nu))
        .join(
            F.broadcast(
                marg.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
            ),
            "ta",
        )
        .join(
            F.broadcast(
                marg.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
            ),
            "tb",
        )
        .select(
            "ta",
            "tb",
            "n_ab",
            F.expr(f"round({lift}, 6)").alias("lift"),
            F.expr(f"round(ln({lift}), 6)").alias("pmi"),
        )
        .orderBy("ta", "tb")
    )


def _cooccurrence_sql() -> str:
    lift = (
        "(CAST(n_ab AS DOUBLE) * CAST(nu.nu AS DOUBLE))"
        " / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE))"
    )
    return f"""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM ut),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
marg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1)
SELECT ta, tb, n_ab,
       round({lift}, 6) AS lift, round(ln({lift}), 6) AS pmi
FROM pairs
CROSS JOIN nu
JOIN marg ma ON ma.event_type = ta
JOIN marg mb ON mb.event_type = tb
ORDER BY ta, tb
"""


Q_EVENTS_COOCCURRENCE_SQL = _cooccurrence_sql()


# Multi-touch attribution: which event types count as marketing
# touches, and the fixed-point scale for linear credit shares.
ATTR_TOUCH_TYPES = ("click", "view")
ATTR_CREDIT_SCALE = 1_000_000


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every purchase closes a
    per-user *journey* (the touches since the previous purchase), and
    each touch type earns credit under three standard models at once —
    first-touch (the journey's opening touch converts), last-touch
    (the final touch before the purchase converts), and linear (each
    of the journey's n touches earns 1/n). The reset-at-conversion
    journey model needs NO time-range join: journey_id is simply the
    count of purchases strictly before the row in the per-user
    (ts, event_id) order.

    Scale shape: journey segmentation is ONE window on the single
    user_id shuffle (the as-of-join union-scan shape — no join against
    a purchases table), then ONE partial-aggregating collapse to
    (user, journey, type) grain. Journey totals and first/last touch
    attach via a second window over THAT aggregated frame (≤ types+1
    rows per journey) — a single lineage, so the corpus is scanned and
    windowed exactly once and the plan contains NO join at all. The
    final aggregate is O(types).

    Determinism: first/last touches are MIN/MAX over zero-padded
    ``lpad(micros)||lpad(event_id)||':'||type`` strings (NULL-skipping
    MIN, identical both engines — no min_by NULL-key semantics to
    trust); linear credit is integer fixed-point,
    ``SCALE * n_type DIV n_touches`` summed as BIGINT — exact and
    order-independent, no float accumulation."""
    types = ", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias(
            "is_purchase"
        ),
        F.expr(
            f"CASE WHEN event_type IN ({types}) THEN event_type END"
        ).alias("touch_type"),
    )
    seg = ev.withColumn(
        "journey",
        F.coalesce(
            F.sum("is_purchase").over(w), F.lit(0).cast("bigint")
        ).cast("bigint"),
    ).withColumn(
        "touch_key",
        F.expr(
            "CASE WHEN touch_type IS NOT NULL THEN"
            " concat(lpad(CAST(unix_micros(ts) AS STRING), 20, '0'),"
            # 20-digit pad covers any BIGINT event_id (19 digits max);
            # lpad TRUNCATES past the width on both engines, which would
            # silently corrupt the MIN/MAX touch selection.
            " lpad(CAST(event_id AS STRING), 20, '0'), ':', touch_type)"
            " END"
        ),
    )
    lvl1 = seg.groupBy("user_id", "journey", "touch_type").agg(
        F.expr("CAST(SUM(is_purchase) AS BIGINT)").alias("n_purch_g"),
        F.expr("CAST(COUNT(touch_type) AS BIGINT)").alias("c_jt"),
        F.expr("MIN(touch_key)").alias("min_key"),
        F.expr("MAX(touch_key)").alias("max_key"),
    )
    wj = Window.partitionBy("user_id", "journey")
    lvl2 = lvl1.select(
        "touch_type",
        "c_jt",
        F.sum("n_purch_g").over(wj).alias("n_purch"),
        F.sum("c_jt").over(wj).alias("n_touches"),
        F.expr("substring(MIN(min_key) OVER"
               " (PARTITION BY user_id, journey), 42)").alias("first_type"),
        F.expr("substring(MAX(max_key) OVER"
               " (PARTITION BY user_id, journey), 42)").alias("last_type"),
    )
    return (
        lvl2.filter(
            "touch_type IS NOT NULL AND n_purch = 1 AND n_touches >= 1"
        )
        .groupBy("touch_type")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN first_type = touch_type THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("first_touch"),
            F.expr(
                "CAST(SUM(CASE WHEN last_type = touch_type THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("last_touch"),
            F.expr("CAST(SUM(c_jt) AS BIGINT)").alias("touches"),
            # ~1e6 per converted journey: the total GROWS with corpus
            # rows, so widen internally (DECIMAL(38,0), the
            # embed_covariance pattern) — DuckDB's SUM is HUGEINT
            # already; raw SUM(BIGINT) would wrap silently past 2^63.
            F.expr(
                f"CAST(SUM(CAST(({ATTR_CREDIT_SCALE} * c_jt) DIV n_touches"
                " AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("linear_credit_ppm"),
        )
        .orderBy("touch_type")
    )


def _attribution_sql() -> str:
    types = ", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
         CASE WHEN event_type IN ({types}) THEN event_type END AS touch_type
  FROM events),
seg AS (
  SELECT *,
         COALESCE(SUM(is_purchase) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS journey,
         CASE WHEN touch_type IS NOT NULL THEN
           lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
           lpad(CAST(event_id AS VARCHAR), 20, '0') || ':' || touch_type
         END AS touch_key
  FROM ev),
lvl1 AS (
  SELECT user_id, journey, touch_type,
         CAST(SUM(is_purchase) AS BIGINT) AS n_purch_g,
         CAST(COUNT(touch_type) AS BIGINT) AS c_jt,
         MIN(touch_key) AS min_key,
         MAX(touch_key) AS max_key
  FROM seg GROUP BY user_id, journey, touch_type),
lvl2 AS (
  SELECT touch_type, c_jt,
         SUM(n_purch_g) OVER w AS n_purch,
         SUM(c_jt) OVER w AS n_touches,
         substring(MIN(min_key) OVER w, 42) AS first_type,
         substring(MAX(max_key) OVER w, 42) AS last_type
  FROM lvl1
  WINDOW w AS (PARTITION BY user_id, journey))
SELECT touch_type,
       CAST(SUM(CASE WHEN first_type = touch_type THEN 1 ELSE 0 END)
            AS BIGINT) AS first_touch,
       CAST(SUM(CASE WHEN last_type = touch_type THEN 1 ELSE 0 END)
            AS BIGINT) AS last_touch,
       CAST(SUM(c_jt) AS BIGINT) AS touches,
       CAST(SUM(({ATTR_CREDIT_SCALE} * c_jt) // n_touches)
            AS BIGINT) AS linear_credit_ppm
FROM lvl2
WHERE touch_type IS NOT NULL AND n_purch = 1 AND n_touches >= 1
GROUP BY touch_type
ORDER BY touch_type
"""


Q_EVENTS_ATTRIBUTION_SQL = _attribution_sql()


# Path analysis: max steps kept per session path (the scale guard that
# keeps path cardinality bounded), the number of top paths reported,
# and the visit gap that closes a path (wider than the 30-min session
# gap: on this corpus the median same-user inter-event gap is ~7 h, so
# a 12 h visit boundary yields genuinely multi-step paths).
PATH_MAX_STEPS = 8
PATH_TOP_K = 20
PATH_GAP_MIN = 720


def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: each PATH_GAP_MIN-gap visit (12 h — wider
    than ``events_session``'s 30-min gap, see the constant's comment)
    becomes the ordered sequence of its event types (truncated to the first
    PATH_MAX_STEPS — the guard that keeps distinct-path cardinality
    bounded no matter how long a bot session runs), and the PATH_TOP_K
    most frequent paths are reported with their session count and how
    many of those sessions converted (contain a purchase anywhere in
    the FULL session, not just the kept prefix).

    Scale shape: visit segmentation is the gaps-and-islands pair of
    windows on ONE user_id shuffle (the ``events_session`` shape with
    a wider PATH_GAP_MIN boundary);
    path assembly is a partial-aggregating collect per (user, session)
    — state per group is ≤ session length, the same bound streaming
    session windows rely on; the path count is an O(paths) aggregate.
    Top-k is a global sort over O(distinct paths) rows, not events.

    Determinism: the collected step list sorts on (ts, event_id)
    structs — total order, engine-independent; top-k breaks count ties
    on the path string."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev", F.lag("ts").over(wo))
        .withColumn(
            "new_s",
            F.expr(
                "CASE WHEN prev IS NULL OR ts - prev >="
                f" INTERVAL {PATH_GAP_MIN} MINUTES THEN 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                wo.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.expr(
                "concat_ws('>', slice(transform("
                "array_sort(collect_list(struct(ts, event_id, event_type))),"
                f" s -> s.event_type), 1, {PATH_MAX_STEPS}))"
            ).alias("path"),
            F.expr(
                "CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("converted"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_sessions"),
            F.expr("CAST(SUM(converted) AS BIGINT)").alias("n_converted"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP_K)
    )


Q_EVENTS_SESSION_PATHS_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts - prev >= INTERVAL '{PATH_GAP_MIN} minutes'
                 THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM f),
paths AS (
  SELECT user_id, sid,
         array_to_string(list_slice(
           list(event_type ORDER BY ts, event_id), 1, {PATH_MAX_STEPS}),
           '>') AS path,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM s GROUP BY user_id, sid)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""


QUERIES = {
    "events_sliding": q_events_sliding,
    "events_cdc_state": q_events_cdc_state,
    "events_scd2": q_events_scd2,
    "events_gapfill": q_events_gapfill,
    "events_rfm": q_events_rfm,
    "events_cooccurrence": q_events_cooccurrence,
    "events_transitions": q_events_transitions,
    "events_retention": q_events_retention,
    "events_quantiles": q_events_quantiles,
    "events_mad_outliers": q_events_mad_outliers,
    "events_quantiles_approx": q_events_quantiles_approx,
    "events_session": q_events_session,
    "events_running_totals": q_events_running_totals,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
    "events_salted_agg": q_events_salted_agg,
    "events_rollup": q_events_rollup,
    "events_attribution": q_events_attribution,
    "events_session_paths": q_events_session_paths,
}

ORACLES = {
    "events_sliding": Q_EVENTS_SLIDING_SQL,
    "events_cdc_state": Q_EVENTS_CDC_STATE_SQL,
    "events_scd2": Q_EVENTS_SCD2_SQL,
    "events_gapfill": Q_EVENTS_GAPFILL_SQL,
    "events_rfm": Q_EVENTS_RFM_SQL,
    "events_cooccurrence": Q_EVENTS_COOCCURRENCE_SQL,
    "events_transitions": Q_EVENTS_TRANSITIONS_SQL,
    "events_retention": Q_EVENTS_RETENTION_SQL,
    "events_quantiles": Q_EVENTS_QUANTILES_SQL,
    "events_mad_outliers": Q_EVENTS_MAD_SQL,
    "events_session": Q_EVENTS_SESSION_SQL,
    "events_running_totals": Q_EVENTS_RUNNING_TOTALS_SQL,
    "events_asof_join": Q_EVENTS_ASOF_SQL,
    "events_range_join": Q_EVENTS_RANGE_SQL,
    "events_salted_agg": Q_EVENTS_SALTED_AGG_SQL,
    "events_rollup": Q_EVENTS_ROLLUP_SQL,
    "events_attribution": Q_EVENTS_ATTRIBUTION_SQL,
    "events_session_paths": Q_EVENTS_SESSION_PATHS_SQL,
}
