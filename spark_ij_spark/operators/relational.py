"""Relational query surface (TPC-H-ish) — pure built-in DataFrame ops.

The reference delegates ALL relational algebra to Spark SQL unchanged
(reference: SURVEY.md §2.8; no joins/sorts/set-ops of its own anywhere
in src/main). This module is therefore idiomatic PySpark DataFrame
code: Catalyst handles pushdown, pruning, join selection; AQE handles
skew and partition coalescing at scale.

Determinism contract with the DuckDB oracle: floating-point SUMs are
order-dependent, so every money aggregate is computed as an exact
DECIMAL sum (per-row cast rounds the double product to a scale where
the exact value is representable) and only then cast back to DOUBLE.
Both engines then produce bit-identical values regardless of
partitioning / aggregation order.

Scale notes (100 TB):
- `region`/`nation` are O(10) rows at any SF → broadcast-joined.
- Aggregations are partial (map-side combine) by construction of
  groupBy().agg() on associative decimal sums.
- Top-k queries sort only grouped output (small), never the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ij_spark.session import load_tables

# ---------------------------------------------------------------------------
# determinism-safe aggregate helpers
# ---------------------------------------------------------------------------


def finite_or_null(expr: str) -> str:
    """``expr`` if it is a finite double, else NULL — identical text on
    Spark SQL and DuckDB. The guard every decimal-cast boundary needs:
    DuckDB errors casting NaN to DECIMAL even through TRY_CAST, Spark's
    ANSI BIGINT cast of NaN crashes, and Spark's decimal cast silently
    NULLs — so without this one engine crashes where the other
    answers. A NaN/Inf reading is *missing*, not a poison pill
    (NaN sweep)."""
    d = f"CAST(({expr}) AS DOUBLE)"
    return (
        f"(CASE WHEN isnan({d})"
        f" OR abs({d}) = CAST('Infinity' AS DOUBLE)"
        f" THEN NULL ELSE ({expr}) END)"
    )


def dsum(expr: str, scale: int = 6, alias: str | None = None):
    """Exact decimal SUM of a double expression, returned as DOUBLE.

    ``expr`` must evaluate to a value whose exact decimal form fits in
    ``scale`` fractional digits (TPC-H money columns have 2; products of
    two/three such columns have 4/6). The per-row double is within 1 ulp
    of that exact value, so rounding to ``scale`` digits recovers it
    identically in Spark and DuckDB; decimal summation is then exact and
    order-independent.

    An all-NULL group (every input value missing — real corpora carry
    null metric samples; null-injection sweep) sums to 0.0, not
    NULL: SQL's NULL sum renders None from Spark collect but NaN through
    the driver's DuckDB pandas fetch — and a single NULL promotes the
    whole pandas int column to float64 — so a NULL total must never be
    emitted from a graded output. 0 is the additive identity; paired
    COUNT columns still say how many samples the group had.

    TRY_CAST, not CAST (identical syntax+semantics on both engines): a
    NaN double sample makes the plain decimal cast silently NULL on
    Spark but CRASH DuckDB ("nan out of range for INT128") — one bad
    reading would kill every money sum on exactly one engine. TRY_CAST
    maps NaN/Inf/overflow to NULL on both, i.e. NaN ≡ missing at the
    measurement boundary (NaN sweep).
    """
    c = F.expr(
        f"COALESCE(CAST(SUM(TRY_CAST({finite_or_null(expr)} "
        f"AS DECIMAL(28,{scale}))) AS DOUBLE), CAST(0 AS DOUBLE))"
    )
    return c.alias(alias) if alias else c


def dsum_sql(expr: str, scale: int = 6) -> str:
    """The oracle-SQL twin of :func:`dsum`.

    Carries a STRING hop around the final double cast: DuckDB's
    direct DECIMAL(28,s)→DOUBLE cast is not correctly rounded for
    int128-backed decimals (measured at the 10x replica:
    35591213907.498270 → ...498276, 1.5 ulp off, while Spark's
    BigDecimal cast and Python's Decimal both give ...49827), so the
    exact decimal sum silently lost its cross-engine guarantee the
    moment the total outgrew double's 15.95 exact digits. The hop —
    exact decimal digits, then strtod — is correctly rounded on both
    engines, so the text stays shared (STRING, not VARCHAR: Spark
    rejects bare VARCHAR, and some graded queries execute this very
    text via spark.sql). On the Spark side the hop is value-identical
    to a direct cast (both correctly rounded). Apply the same
    hop to EVERY oracle-side wide-DECIMAL→DOUBLE cast."""
    return (
        f"COALESCE(CAST(CAST(SUM(TRY_CAST({finite_or_null(expr)} "
        f"AS DECIMAL(28,{scale}))) AS STRING) AS DOUBLE), CAST(0 AS DOUBLE))"
    )


def dec_double_sql(expr: str) -> str:
    """Wide-DECIMAL → DOUBLE with the STRING hop, as a shared fragment
    for oracle SQL whose decimal flows through an ALIAS (re-summed
    CTE columns like the rollup's pv) rather than sitting adjacent to
    its DECIMAL cast: a grep for the cast misses exactly those
    alias-flow sites, so any new one must splice this helper instead
    of hand-writing the cast. Rationale for the hop itself: dsum_sql
    docstring."""
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy → agg → sort.

    Single shuffle on the two low-cardinality group keys; partial
    aggregation makes the shuffle O(groups), not O(rows).
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2, "sum_qty"),
            dsum("l_extendedprice", 2, "sum_base_price"),
            dsum("l_extendedprice * (1 - l_discount)", 6, "sum_disc_price"),
            dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6, "sum_charge"),
            F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)").alias(
                "avg_qty"
            ),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)"
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity', 2)} AS sum_qty,
       {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS STRING) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS STRING) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join, filtered both sides, top-10 revenue.

    Join order: filter each input before joining so the shuffled sides
    are minimal; the final sort runs on grouped output only. Ties broken
    by l_orderkey so top-k is deterministic for the oracle.
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].where(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join through region, revenue by nation.

    `region`/`nation` are broadcast (O(10) rows at any SF) so the only
    shuffles are the big fact-side joins, which AQE plans.
    """
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "supplier", "orders", "lineitem"]
    )
    region = F.broadcast(t["region"].where(F.col("r_name") == "ASIA"))
    nation = F.broadcast(t["nation"])
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    orders = t["orders"].where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = f"""
SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan-filter-aggregate — all predicates push
    to the parquet scan (verify with .explain: PushedFilters)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum("l_extendedprice * l_discount", 4, "revenue"))
    )


Q6_SQL = f"""
SELECT {dsum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-3 orders by totalprice per customer.

    row_number over (custkey) — shuffles once on the partition key;
    deterministic tie-break on o_orderkey.
    """
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rnk",
            F.col("o_totalprice").alias("totalprice"),
        )
    )


Q_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, rnk, totalprice FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk,
         o_totalprice AS totalprice
  FROM orders
) WHERE rnk <= 3
"""


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate over (status, priority) — grouping-set surface."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2, "sum_totalprice"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority")
        )
    )


Q_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice', 2)} AS sum_totalprice
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + conditional aggregation: revenue share of one nation's
    suppliers per order-year (TPC-H Q8 flavor, simplified)."""
    t = load_tables(spark, sf_dir, ["lineitem", "orders", "supplier", "nation"])
    nation = F.broadcast(t["nation"])
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .withColumn("volume", F.expr("l_extendedprice * (1 - l_discount)"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            # NATION_3, not the TPC-H spec's 'CHINA': the generated
            # nation table holds NATION_0..NATION_24, so the spec
            # literal matched nothing and the conditional-aggregation
            # path this query exists to exercise was vacuously 0 (q7
            # was adapted the same way).
            F.expr(
                "CAST(SUM(CASE WHEN n_name = 'NATION_3' "
                "THEN CAST(volume AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)"
            ).alias("nation_volume"),
            dsum("volume", 6, "total_volume"),
        )
        .orderBy("o_year")
    )


Q_MARKET_SHARE_SQL = f"""
SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
       CAST(CAST(SUM(CASE WHEN n_name = 'NATION_3'
                THEN CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(28,6))
                ELSE CAST(0 AS DECIMAL(28,6)) END) AS STRING) AS DOUBLE) AS nation_volume,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS total_volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY EXTRACT(YEAR FROM o_orderdate)
ORDER BY o_year
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti/outer pattern (TPC-H Q13 flavor): customers by order
    count, including zero-order customers."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q_CUSTDIST_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: join part, conditional share of promo revenue."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    joined = t["lineitem"].join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.expr(
            "CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' "
            "THEN CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(28,6)) "
            "ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)"
        ).alias("promo_revenue"),
        dsum("l_extendedprice * (1 - l_discount)", 6, "total_revenue"),
    )


Q_PROMO_SQL = f"""
SELECT CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
              THEN CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(28,6))
              ELSE CAST(0 AS DECIMAL(28,6)) END) AS STRING) AS DOUBLE) AS promo_revenue,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregate: events per
    (hour, type) with value sum. The streaming variant lives in
    spark_ij_spark.streaming.events."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6, "sum_value"))
        .orderBy("hour", "event_type")
    )


Q_EVENTS_HOURLY_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
       {dsum_sql('value', 6)} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY hour, event_type
"""


def q_supplier_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + HAVING + semi-join shape: suppliers whose shipped
    revenue exceeds a threshold."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    rev = (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "supplier_revenue"))
        .where(F.col("supplier_revenue") > 1000.0)
    )
    return (
        rev.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "supplier_revenue")
        .orderBy("s_suppkey")
    )


Q_SUPPLIER_HAVING_SQL = f"""
SELECT s_suppkey, s_name, supplier_revenue FROM (
  SELECT l_suppkey, {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS supplier_revenue
  FROM lineitem GROUP BY l_suppkey
  HAVING supplier_revenue > 1000.0
) JOIN supplier ON l_suppkey = s_suppkey
ORDER BY s_suppkey
"""


def q_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode / LATERAL VIEW surface (reference: IJSqlTest.scala:40-74
    asserts explode cardinality over an int-array column). Rebuilt over
    real data: split each document into whitespace tokens, explode, and
    count distinct tokens per language."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct_tokens"),
        )
        .orderBy("lang")
    )


Q_EXPLODE_SQL = """
SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct_tokens
FROM (
  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
) WHERE token <> ''
GROUP BY lang
ORDER BY lang
"""


def q_semi_join_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join. Orders with at least
    one returned lineitem, counted per priority. The semi join shuffles
    on orderkey with early-out semantics (no fan-out on duplicates)."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    returned = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        t["orders"]
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q_SEMI_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: NOT EXISTS → left-anti join. Customers with no
    orders since 2000-01-01 (churned customers), counted per nation.
    The date filter keeps the anti-join non-vacuous: every customer in
    the generated data has *some* order, but plenty have none in the
    window — the filter also pushes to the orders scan, shrinking the
    build side before the shuffle."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "nation"])
    recent = t["orders"].where(F.col("o_orderdate") >= "2000-01-01")
    no_orders = t["customer"].join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", 2, "total_acctbal"),
        )
    )


Q_ANTI_JOIN_SQL = f"""
SELECT n_name, COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal', 2)} AS total_acctbal
FROM customer c JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey
                    AND o_orderdate >= DATE '2000-01-01')
GROUP BY n_name
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over part-key predicate sets, tagged
    and counted (one row per set operator)."""
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    big = t["part"].where(F.col("p_size") >= 30).select("p_partkey")
    shipped = t["lineitem"].select(F.col("l_partkey").alias("p_partkey")).distinct()
    rows = [
        big.union(shipped).distinct().select(
            F.lit("union").alias("op"), F.lit(1).alias("one")
        ),
        big.intersect(shipped).select(F.lit("intersect").alias("op"), F.lit(1).alias("one")),
        big.exceptAll(shipped).distinct().select(
            F.lit("except").alias("op"), F.lit(1).alias("one")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.groupBy("op").agg(F.count("one").alias("n_keys"))


Q_SET_OPS_SQL = """
WITH big AS (SELECT p_partkey FROM part WHERE p_size >= 30),
shipped AS (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem),
tagged AS (
  SELECT 'union' AS op, p_partkey FROM (SELECT * FROM big UNION SELECT * FROM shipped)
  UNION ALL
  SELECT 'intersect' AS op, p_partkey FROM (SELECT * FROM big INTERSECT SELECT * FROM shipped)
  UNION ALL
  SELECT 'except' AS op, p_partkey FROM (SELECT * FROM big EXCEPT SELECT * FROM shipped))
SELECT op, COUNT(*) AS n_keys FROM tagged GROUP BY op
"""


def q_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping set over (returnflag, linestatus) with GROUPING()
    markers — all four grouping combinations in one shuffle."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity", 2, "sum_qty"),
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
        )
    )


Q_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       {dsum_sql('l_quantity', 2)} AS sum_qty,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_correlated_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery — revenue from
    lineitems below 50% of their part's average quantity. Expressed as
    the decorrelated join Catalyst would produce (aggregate the inner
    side once, then equi-join), which is also the plan that scales."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)"
        ).alias("avg_qty")
    )
    return (
        li.join(part_avg, li.l_partkey == part_avg.pk)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", 2, "small_qty_revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q_CORRELATED_SQL = f"""
SELECT {dsum_sql('l_extendedprice', 2)} AS small_qty_revenue,
       COUNT(*) AS n_items
FROM lineitem l
WHERE l_quantity < 0.5 * (
  SELECT CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS STRING) AS DOUBLE) / COUNT(*)
  FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel detection: users whose first 'click' is followed
    by a 'purchase' within 1 hour. Window over per-user event time —
    one shuffle on user_id; at scale this is the sessionize-then-scan
    pattern (no self-join explosion)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    # first_click is constant per user inside the group, so carry it
    # through the aggregate (MIN) instead of re-joining first_click —
    # the re-join recomputed the click aggregate over events a second
    # time plus an extra shuffle join for an identical result.
    return (
        first_click.join(purchases, "user_id")
        .where(
            (F.col("p_ts") >= F.col("first_click"))
            & (F.col("p_ts") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(
            F.min("first_click").alias("first_click"),
            F.min("p_ts").alias("first_purchase"),
            F.count("*").alias("n_purchases_in_window"),
        )
        .select(
            "user_id", "first_click", "first_purchase", "n_purchases_in_window"
        )
    )


Q_EVENTS_FUNNEL_SQL = """
WITH fc AS (
  SELECT user_id, MIN(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY user_id),
conv AS (
  SELECT e.user_id,
         MIN(e.ts) AS first_purchase,
         COUNT(*) AS n_purchases_in_window
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= fc.first_click
    AND e.ts <= fc.first_click + INTERVAL '1 hour'
  GROUP BY e.user_id)
SELECT conv.user_id, fc.first_click, conv.first_purchase, conv.n_purchases_in_window
FROM conv JOIN fc ON conv.user_id = fc.user_id
"""


def q_date_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date dimension extraction: per (year, month) order counts and
    revenue — the date-function surface (year/month/quarter/date_trunc)
    over the orders timeline."""
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (
        o.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 2, "total_revenue"),
        )
    )


Q_DATE_DIMS_SQL = f"""
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       EXTRACT(quarter FROM o_orderdate) AS o_quarter,
       EXTRACT(month FROM o_orderdate) AS o_month,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice', 2)} AS total_revenue
FROM orders GROUP BY 1, 2, 3
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math/string scalar-function surface: sqrt/ln/abs/round and
    upper/substr/length/concat compose per-row (IEEE functions are
    bit-identical across engines on equal double inputs)."""
    p = load_tables(spark, sf_dir, ["part"])["part"]
    return p.select(
        "p_partkey",
        F.expr("upper(substr(p_name, 1, 8))").alias("name_prefix"),
        F.expr("length(p_name)").alias("name_len"),
        F.expr("concat(p_brand, '#', p_type)").alias("brand_type"),
        F.expr("round(sqrt(CAST(p_size AS DOUBLE)), 6)").alias("size_sqrt"),
        F.expr("round(ln(CAST(p_retailprice AS DOUBLE)), 6)").alias("price_ln"),
        F.expr("abs(CAST(p_size AS DOUBLE) - 25.0)").alias("size_dev"),
    )


Q_SCALAR_FUNCS_SQL = """
SELECT p_partkey,
       upper(substr(p_name, 1, 8)) AS name_prefix,
       length(p_name) AS name_len,
       concat(p_brand, '#', p_type) AS brand_type,
       round(sqrt(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
       round(ln(CAST(p_retailprice AS DOUBLE)), 6) AS price_ln,
       abs(CAST(p_size AS DOUBLE) - 25.0) AS size_dev
FROM part
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bilateral trade volume: shipping between two
    named nations, by supplier nation × customer nation × ship year.

    Shape: fact-fact join (lineitem ⋈ orders) shuffled on orderkey,
    then supplier/customer key joins, with BOTH nation lookups
    broadcast (O(25) rows at any SF) so the disjunctive nation-pair
    predicate is evaluated map-side right after the broadcast joins —
    no shuffle ever carries rows outside the two nations of interest
    beyond the first fact join.
    """
    t = load_tables(
        spark, sf_dir, ["lineitem", "orders", "supplier", "customer", "nation"]
    )
    n1 = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        t["nation"].select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("sn_key"))
        .join(n2, F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_sql('volume', 6)} AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-line profit by nation × year (adapted:
    the trimmed schema has no partsupp, so profit = discounted revenue
    for parts whose name matches the product line).

    Shape: the p_name LIKE filter prunes part BEFORE its join (filter
    pushdown through the 5-way join), part joins lineitem on partkey,
    then orderkey/suppkey joins, nation broadcast. Widest join tree in
    the matrix — the test asserts Catalyst orders filters below joins.
    """
    t = load_tables(
        spark, sf_dir, ["lineitem", "orders", "supplier", "part", "nation"]
    )
    parts = t["part"].where(F.col("p_name").like("%gear%"))
    return (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


Q9_SQL = f"""
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top-20 customers by lost
    revenue from returned lineitems in one quarter.

    Shape: date-filtered orders ⋈ returnflag-filtered lineitem (both
    filters pushed to the scans), customer join, nation broadcast;
    the top-k sort runs over grouped output only. Ties broken by
    c_custkey for oracle determinism.
    """
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: supplier(s) whose quarterly
    revenue equals the maximum over all suppliers.

    Shape: revenue per suppkey via one partial-aggregated shuffle; the
    "= MAX" comparison joins against a broadcast 1-row MAX
    re-aggregate (textbook scalar-subquery shape, two pruned scans).
    Deliberately NOT a global window max: that funnels all
    O(suppliers) aggregated rows through a single task at scale,
    while the re-aggregate is fully partial-aggregated map-side and
    broadcasts 1 row (no-Window plan-guarded).
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    rev = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 6, "total_revenue"))
        # cache: rev feeds both the 1-row MAX re-aggregate and the
        # equality join — uncached, the filtered lineitem scan + per-
        # suppkey aggregate run twice; cached it is O(suppliers) rows.
        .cache()
    )
    top = F.broadcast(rev.agg(F.max("total_revenue").alias("max_revenue")))
    rev = rev.join(top, F.col("total_revenue") == F.col("max_revenue")).drop(
        "max_revenue"
    )
    return (
        rev.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive predicate: revenue from three
    OR-ed (brand, size-range, quantity-range) conjunct groups
    (adapted: p_container/l_shipmode are not in the trimmed schema).

    Shape: the common conjunct (the partkey equi-join) is factored out
    by Catalyst so the join stays a hash join with the OR-of-ANDs as a
    post-join filter; per-branch part predicates still prune the
    broadcast side scan. Single aggregate output row.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    joined = t["lineitem"].join(
        t["part"], F.col("l_partkey") == F.col("p_partkey")
    )
    branch = (
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
        " AND l_quantity BETWEEN 1 AND 11)"
        " OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
        " AND l_quantity BETWEEN 10 AND 20)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 "
        " AND l_quantity BETWEEN 20 AND 30)"
    )
    return joined.where(F.expr(branch)).agg(
        dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction: parse the events ``props``
    JSON column with built-in JSON path expressions (JVM-side, no
    Python), bucket the extracted value, and aggregate per
    (event_type, bucket).

    Shape: map-only extraction fused into the scan stage, then one
    partial-aggregated shuffle on the two low-cardinality keys. At
    100 TB the JSON parse is the scan's CPU cost — it stays inside
    whole-stage codegen (get_json_object), never a Python UDF.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    # Missing '$.k' coalesces to its own -1 bucket with a 0 sum
    # contribution: a NULL k would otherwise produce a NULL group key
    # and NULL sum_k — None from Spark, NaN through the driver's
    # pandas fetch (the CLAUDE.md NULL-sentinel rule).
    return (
        ev.select(
            "event_type",
            F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
        )
        .withColumn(
            "k_bucket",
            F.expr(
                "CASE WHEN k IS NULL THEN CAST(-1 AS BIGINT)"
                " ELSE CAST(k DIV 10 AS BIGINT) END"
            ),
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(coalesce(k, 0)) AS BIGINT)").alias("sum_k"),
            F.expr(
                "round(CAST(SUM(coalesce(k, 0)) AS DOUBLE) / COUNT(*), 6)"
            ).alias("avg_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


Q_JSON_PROPS_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CASE WHEN k IS NULL THEN CAST(-1 AS BIGINT)
            ELSE CAST(k // 10 AS BIGINT) END AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k,
       round(CAST(SUM(COALESCE(k, 0)) AS DOUBLE) / COUNT(*), 6) AS avg_k
FROM e
GROUP BY event_type, k_bucket
ORDER BY event_type, k_bucket
"""


# Fixed pivot columns: passing the value list to pivot() skips the
# extra distinct-values job Spark otherwise runs, and keeps the output
# schema static (a driver-contract requirement).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: hour-of-day event counts, one column per type.

    groupBy(hour).pivot(type, fixed_list).count() plans as two keyed
    partial-aggregated shuffles: (hour, type) pair counts, then a
    pivot_first assembly over the O(24 × types) aggregated rows —
    the second exchange carries group counts, not events. Passing the
    fixed value list skips the distinct-values pre-job Spark otherwise
    runs. Missing combinations coalesce to 0 so the output is
    NULL-free (driver hash contract).
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    piv = (
        ev.withColumn("hour", F.hour("ts"))
        .groupBy("hour")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return piv.select(
        "hour",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    ).orderBy("hour")


Q_EVENTS_PIVOT_SQL = f"""
SELECT EXTRACT(hour FROM ts) AS hour,
       {", ".join(
           f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0)"
           f" AS BIGINT) AS n_{t}"
           for t in EVENT_TYPES
       )}
FROM events GROUP BY 1 ORDER BY hour
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface — mean, sample stddev, and
    Pearson correlation of quantity vs extended price per return flag.

    NOT Spark's built-in stddev/corr: those accumulate doubles in
    partition order and drift across engines/partitionings. Instead
    the five raw power sums are computed exactly (decimal pattern),
    cast to double, and the moments derived per-group with scalar IEEE
    arithmetic — bit-identical on any engine, any partition count.
    One partial-aggregated shuffle on the 3-value group key.

    Degenerate groups are CASE-guarded to sentinels on BOTH engines
    (std −1.0 for a single-row group or zero/cancellation-negative
    variance; corr −2.0, outside [−1, 1]): Spark's ANSI mode throws
    DIVIDE_BY_ZERO and DuckDB errors on sqrt(negative) where the
    other engine would NULL/NaN — the events_anomalies crash class.
    """
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", 2, "sq"),
        dsum("l_quantity * l_quantity", 4, "sqq"),
        dsum("l_extendedprice", 2, "sp"),
        dsum("l_extendedprice * l_extendedprice", 4, "spp"),
        dsum("l_quantity * l_extendedprice", 4, "sqp"),
    )
    return sums.select(
        "l_returnflag",
        "n",
        F.expr("round(sq / n, 6)").alias("mean_qty"),
        F.expr(_STD_QTY_EXPR).alias("std_qty"),
        F.expr("round(sp / n, 6)").alias("mean_price"),
        F.expr(_CORR_EXPR).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


# Shared moment expressions (identical text both engines); see the
# q_stats_moments docstring for the sentinel semantics.
_STD_QTY_EXPR = (
    "CASE WHEN n > 1 AND (sqq - sq * sq / n) > 0"
    " THEN round(sqrt((sqq - sq * sq / n) / (n - 1)), 6)"
    " ELSE CAST(-1 AS DOUBLE) END"
)
_CORR_EXPR = (
    "CASE WHEN (n * sqq - sq * sq) > 0 AND (n * spp - sp * sp) > 0"
    " THEN round((n * sqp - sq * sp) /"
    " (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)"
    " ELSE CAST(-2 AS DOUBLE) END"
)


Q_STATS_MOMENTS_SQL = f"""
WITH sums AS (
  SELECT l_returnflag, COUNT(*) AS n,
         {dsum_sql('l_quantity', 2)} AS sq,
         {dsum_sql('l_quantity * l_quantity', 4)} AS sqq,
         {dsum_sql('l_extendedprice', 2)} AS sp,
         {dsum_sql('l_extendedprice * l_extendedprice', 4)} AS spp,
         {dsum_sql('l_quantity * l_extendedprice', 4)} AS sqp
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       round(sq / n, 6) AS mean_qty,
       {_STD_QTY_EXPR} AS std_qty,
       round(sp / n, 6) AS mean_price,
       {_CORR_EXPR} AS corr_qty_price
FROM sums ORDER BY l_returnflag
"""


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function surface: per-customer order timeline
    with lag/lead navigation, quartile bucketing (ntile), and
    percent_rank — one keyed window, every function sharing it.

    All four functions evaluate in a single Window operator over one
    hash-partition shuffle on o_custkey (plan-guarded): Spark merges
    window expressions with identical (partition, order) specs. Ties
    in the sort are broken by o_orderkey so ranks are deterministic.
    """
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(o_totalprice AS DOUBLE)").alias("price"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.expr("round(percent_rank() OVER (PARTITION BY o_custkey"
               " ORDER BY o_orderdate ASC, o_orderkey ASC), 6)").alias("pct_rank"),
    ).withColumn("prev_price", F.expr("coalesce(prev_price, -1.0D)")).withColumn(
        "next_price", F.expr("coalesce(next_price, -1.0D)")
    )


Q_WINDOW_FUNCS_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS price,
       COALESCE(lag(o_totalprice, 1) OVER w, -1.0) AS prev_price,
       COALESCE(lead(o_totalprice, 1) OVER w, -1.0) AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style double-correlated EXISTS/NOT-EXISTS (adapted:
    the trimmed schema has no receipt/commit dates, so "late" becomes
    "returned"): suppliers who shipped a returned lineitem on a
    multi-supplier order where NO other supplier's items were returned
    — the sole-blame supplier report.

    Shape: both correlated subqueries decorrelate into aggregates +
    left-semi joins — EXISTS(other supplier on the order) becomes a
    per-order distinct-supplier count; NOT EXISTS(other supplier with
    a returned item) becomes "exactly one distinct R-supplier on the
    order". No per-row subquery execution, no nested-loop join
    (plan-guarded); the oracle keeps the textbook NOT EXISTS form, so
    the hash match proves the rewrite.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier"])
    li = t["lineitem"]
    r = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("ns"))
        .where("ns >= 2")
        .select("l_orderkey")
    )
    solo = (
        r.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nr"))
        .where("nr = 1")
        .select("l_orderkey")
    )
    return (
        r.join(multi, "l_orderkey", "left_semi")
        .join(solo, "l_orderkey", "left_semi")
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH multi AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2),
r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R')
SELECT s_name, COUNT(*) AS numwait
FROM r
JOIN multi USING (l_orderkey)
JOIN supplier ON r.l_suppkey = s_suppkey
WHERE NOT EXISTS (
  SELECT 1 FROM r r2
  WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey <> r.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per-region CSV of nation names plus
    collected-list cardinality — the listagg/string_agg surface.

    collect_list is order-nondeterministic under parallelism, so the
    result is sort_array()ed before concat_ws — that (and only that)
    makes the aggregate partition-count-independent and lets it
    hash-match DuckDB's ORDER BY string_agg. One broadcast join +
    one tiny grouped aggregate.
    """
    t = load_tables(spark, sf_dir, ["region", "nation"])
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.expr("concat_ws(',', sort_array(collect_list(n_name)))").alias(
                "nations_csv"
            ),
            F.countDistinct("n_name").alias("n_nations"),
        )
        .orderBy("r_name")
    )


Q_STRING_AGG_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       COUNT(DISTINCT n_name) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


_HIER_NS: "weakref.WeakKeyDictionary" = None  # populated lazily


def _hier_session(spark: SparkSession) -> SparkSession:
    """One MEMOIZED child session per parent for the recursive-CTE
    query (a fresh JVM SessionState per invocation would accumulate
    across bench's warm reps and the 174-query sims). The child is
    created once; per-call state (the temp view, and the runtime confs
    below) is refreshed by the caller/here every time because it can
    change between calls:

    - shuffle partitions are COPIED from the parent at every call —
      newSession merges only builder-time conf, so a runtime
      `--partitions 7` (the merge-order-independence axis) would
      otherwise silently stop covering this query;
    - cteRecursionRowLimit is re-pinned to the Int max (see the
      caller's rationale)."""
    global _HIER_NS
    import weakref

    if _HIER_NS is None:
        _HIER_NS = weakref.WeakKeyDictionary()
    ns = _HIER_NS.get(spark)
    if ns is None:
        ns = spark.newSession()
        _HIER_NS[spark] = ns
    ns.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    ns.conf.set("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
    return ns


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1's WITH RECURSIVE): walk an org-chart
    hierarchy derived from the customer table — parent(k) = k DIV 10,
    roots are custkey < 10 — and report, per chain depth, the customer
    count and the exact-decimal sum of account balances.

    The recursion is acyclic by construction (each step strictly
    shrinks the key), depth ≤ ⌈log10(max custkey)⌉, and the work per
    level is one equi-join — the shape a 100 TB hierarchy walk needs
    (level-synchronous joins, no driver loop). The iterative-DataFrame
    twin of this pattern is the CC loop in operators/dedup.py; this is
    the declarative form for bounded-depth hierarchies.
    """
    # The recursion frame holds |customer| x depth rows — linear in
    # the corpus (depth is log10-bounded), but Spark's default
    # cteRecursionRowLimit of 1e6 is an absolute-row safety valve
    # that a 10x replica already exceeds (150k customers x 9 levels,
    # RECURSION_ROW_LIMIT_EXCEEDED in the at-volume sweep). The
    # query self-provisions the conf's maximum (an Int conf, 2^31-1)
    # on an ISOLATED child session (newSession: own SQL conf + temp
    # views, shared context/cache), so the valve stays at its default
    # for every other query in the caller's session — the conf is
    # read at EXECUTION time, so a set/restore around the lazy
    # spark.sql() build would not cover the actual run.
    # The level limit (the real runaway guard for this acyclic,
    # strictly-shrinking recursion) stays at its default. Pinned by
    # test_recursive_hierarchy_conf_is_session_scoped.
    ns = _hier_session(spark)
    t = load_tables(ns, sf_dir, ["customer"])
    t["customer"].createOrReplaceTempView("_hier_customer")
    return ns.sql(
        f"""
WITH RECURSIVE chain(custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM _hier_customer
  UNION ALL
  SELECT custkey, anc DIV 10, depth + 1 FROM chain WHERE anc >= 10
)
SELECT depth,
       COUNT(*) AS n_customers,
       CAST(MIN(anc) AS BIGINT) AS min_anc,
       CAST(MAX(anc) AS BIGINT) AS max_anc,
       {dsum_sql('b', 2)} AS sum_acctbal
FROM chain JOIN (SELECT c_custkey AS k, c_acctbal AS b FROM _hier_customer)
  ON custkey = k
GROUP BY depth
ORDER BY depth
"""
    )


Q_RECURSIVE_SQL = f"""
WITH RECURSIVE chain(custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT custkey, anc // 10, depth + 1 FROM chain WHERE anc >= 10
)
SELECT depth,
       COUNT(*) AS n_customers,
       CAST(MIN(anc) AS BIGINT) AS min_anc,
       CAST(MAX(anc) AS BIGINT) AS max_anc,
       {dsum_sql('b', 2)} AS sum_acctbal
FROM chain JOIN (SELECT c_custkey AS k, c_acctbal AS b FROM customer)
  ON custkey = k
GROUP BY depth
ORDER BY depth
"""


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join (the per-row-subquery surface):
    top-3 customers by account balance per market segment, written as
    ``outer, LATERAL (ORDER BY … LIMIT k)`` rather than a window rank
    — the form Catalyst decorrelates via DecorrelateInnerQuery.

    Ties break on custkey so the LIMIT is deterministic for the
    oracle. The outer side is O(segments); at scale Catalyst turns the
    correlated limit into a partitioned aggregation, not a per-row
    re-scan — the plan, not the syntax, is what runs.
    """
    t = load_tables(spark, sf_dir, ["customer"])
    t["customer"].createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
WITH seg AS (SELECT DISTINCT c_mktsegment AS seg FROM _lat_customer)
SELECT seg, t.c_custkey AS custkey, t.c_acctbal AS acctbal
FROM seg, LATERAL (
  SELECT c_custkey, c_acctbal FROM _lat_customer c
  WHERE c.c_mktsegment = seg.seg
  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
ORDER BY seg, acctbal DESC, custkey
"""
    )


Q_LATERAL_SQL = """
WITH seg AS (SELECT DISTINCT c_mktsegment AS seg FROM customer)
SELECT seg, t.c_custkey AS custkey, t.c_acctbal AS acctbal
FROM seg, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_mktsegment = seg.seg
  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
ORDER BY seg, acctbal DESC, custkey
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-MIN subquery over a
    region-restricted supply relation (adapted: the trimmed schema has
    no partsupp, so the supply relation is derived from lineitem —
    each (part, supplier)'s unit cost is its cheapest observed
    extendedprice/quantity).

    Expressed decorrelated, the way Catalyst rewrites it and the only
    shape that scales: aggregate the European supply side ONCE to a
    per-part min cost, then equi-join back on (part, cost) instead of
    running a subquery per row. nation⋈region is O(10) rows →
    broadcast; supplier joins by key (it is NOT broadcast — at 100 TB
    supplier is a real table). Unit cost is a single IEEE double
    division, bit-identical in both engines, so the min and the
    equality join are hash-safe without the decimal machinery.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation", "region", "part"])
    eu_nation = (
        t["nation"]
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supply = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.expr("l_extendedprice / l_quantity")).alias("supply_cost"))
    )
    eu_supply = (
        supply.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(eu_nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", "supply_cost", "s_acctbal", "s_name", "n_name")
        # cache: eu_supply feeds both the per-part MIN and the equality
        # join back — uncached, the lineitem aggregate + supplier/
        # nation joins execute twice; cached it is O(EU part×supplier).
        .cache()
    )
    min_cost = eu_supply.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    wanted = t["part"].where((F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
    return (
        eu_supply.join(
            min_cost,
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "supply_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
  SELECT l_partkey, supply_cost, s_acctbal, s_name, n_name
  FROM supply
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supply_cost
FROM eu
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10 AND p_type = 'STANDARD'
  AND supply_cost = (SELECT MIN(supply_cost) FROM eu eu2
                     WHERE eu2.l_partkey = eu.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: orders⋈lineitem with dual conditional counts
    (adapted: no l_shipmode column, so lines group by l_returnflag; the
    high/low split keys on o_orderpriority exactly as in the spec).

    One equi-join shuffled on orderkey, then a tiny grouped aggregate
    over CASE sums — the conditional-aggregation surface. The shipdate
    range predicate is a pushed-down parquet filter on the fact side.
    """
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.expr(f"SUM(CASE WHEN {hi} THEN 1 ELSE 0 END)").alias("high_line_count"),
            F.expr(f"SUM(CASE WHEN {hi} THEN 0 ELSE 1 END)").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    with a NOT-IN excluded-supplier subquery (adapted: the exclusion
    predicate is s_acctbal < 0 — the trimmed supplier has no comment
    column for the spec's '%Customer%Complaints%' match).

    The NOT IN subquery becomes a broadcast left-anti join on the
    O(excluded) key list; COUNT(DISTINCT l_suppkey) is a two-phase
    distinct aggregate Catalyst expands (partials per (group, suppkey)
    first), so the shuffle carries distinct pairs, not raw lineitems.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    excluded = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    wanted = t["part"].where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(
            excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(wanted, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated IN — suppliers whose holding
    of a part exceeds half that part's yearly demand (adapted: with no
    partsupp availqty, "holding" is the supplier's own 1996 shipped
    quantity and the threshold is half the part's total 1996 shipments
    across all suppliers — the same sum-per-part correlated predicate).

    Decorrelated into two aggregates over ONE persisted filtered scan
    (per part+supplier, then per part), an equi-join between them, and
    a final left-semi join into supplier. Quantity sums use the exact
    decimal pattern so the 0.5× threshold compares identically in both
    engines. Part names filter ('%widget%') prunes before any shuffle.
    """
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier", "nation"])
    widget = t["part"].where(F.col("p_name").like("%widget%")).select("p_partkey")
    li = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(widget, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "l_quantity")
        # cache: li feeds BOTH decorrelated aggregates — uncached, the
        # filtered lineitem scan + widget broadcast join run twice
        # (2 fact FileScans measured in the executed plan).
        .cache()
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity", 2, "supp_qty")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        dsum("l_quantity", 2, "part_qty")
    )
    dominant = (
        per_ps.join(per_part, F.col("l_partkey") == F.col("pk"))
        .where(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
per_ps AS (
  SELECT l_partkey, l_suppkey, {dsum_sql('l_quantity', 2)} AS supp_qty
  FROM li GROUP BY l_partkey, l_suppkey),
per_part AS (
  SELECT l_partkey AS pk, {dsum_sql('l_quantity', 2)} AS part_qty
  FROM li GROUP BY l_partkey)
SELECT s_name, n_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT DISTINCT l_suppkey FROM per_ps
  JOIN per_part ON l_partkey = pk
  WHERE supp_qty > 0.5 * part_qty)
ORDER BY s_name
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a big aggregate feeding joins. Orders
    whose total quantity exceeds Q18_MIN_QTY, with customer detail.

    Shape: the l_orderkey aggregate is the only big shuffle; HAVING
    collapses it to a handful of hot orders, and AQE converts both
    downstream joins to broadcasts at runtime (the filtered agg side is
    tiny) — write the joins declaratively and let the optimizer pick
    the physical strategy from the REAL post-filter size, which no
    static plan can know."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    hot = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", 2, "sum_qty"))
        .where(F.col("sum_qty") > Q18_MIN_QTY)
    )
    return (
        hot.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


Q18_MIN_QTY = 300

Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, {dsum_sql('l_quantity', 2)} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {dsum_sql('l_quantity', 2)} > {Q18_MIN_QTY}) hot
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# Q11-style importance threshold: a part is "important" when its shipped
# value exceeds IMPORTANT_MULT / n_parts of the GLOBAL shipped value —
# the TPC-H Q11 fraction generalized to scale with corpus size.
IMPORTANT_MULT = 1.5


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group totals filtered against a threshold
    derived from the GLOBAL total (scalar subquery). Parts whose
    shipped value > IMPORTANT_MULT/n_parts of total shipped value.

    Shape: calibrate-then-apply (CLAUDE.md) — per-part aggregate ONCE
    (cached: it feeds both the global reduce and the filter), the
    global total reduces that small frame to one row, broadcast back
    via cross join, then a map-only filter. Never a window over the
    corpus; the second pass reads the cached per-part frame, not
    lineitem."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    per_part = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice * (1 - l_discount)", 4, "part_value"))
        .cache()
    )
    tot = per_part.agg(
        dsum("part_value", 4, "total_value"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(
            F.col("part_value")
            > F.col("total_value") * F.lit(IMPORTANT_MULT) / F.col("n_parts")
        )
        .select(
            "l_partkey",
            "part_value",
            F.round(F.col("part_value") / F.col("total_value"), 9).alias(
                "value_share"
            ),
        )
    )


Q11_SQL = f"""
WITH pp AS (
  SELECT l_partkey, {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS part_value
  FROM lineitem GROUP BY l_partkey),
tot AS (
  SELECT {dsum_sql('part_value', 4)} AS total_value, COUNT(*) AS n_parts FROM pp)
SELECT l_partkey, part_value,
       round(part_value / total_value, 9) AS value_share
FROM pp, tot
WHERE part_value > total_value * {IMPORTANT_MULT} / n_parts
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id: order counts + revenue
    at four custom granularities ((status, priority), (status),
    (priority), ()) in one pass — the reporting shape between ROLLUP
    (q_order_rollup) and CUBE (q_cube_returns), with grouping_id
    disambiguating NULL-as-group from NULL-as-value.

    Shape: Spark expands grouping sets map-side (one Expand node, rows
    × 4) then ONE hash aggregate — no repeated scans, no union of four
    group-bys."""
    t = load_tables(spark, sf_dir, ["orders"])
    t["orders"].createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               COUNT(*) AS n_orders,
               {dsum_sql('o_totalprice', 2)} AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """
    )


Q_GROUPING_SETS_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice', 2)} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority), ())
"""


def q_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: per order priority, the orders
    not strictly dominated on (o_totalprice, o_orderdate) — no other
    order has BOTH a higher price AND a later date (Börzsönyi 2001
    "The Skyline Operator"). The naive formulation is a NOT EXISTS
    theta-self-join (quadratic, a planner nested-loop); this is the
    sort-based linear form:

    1. collapse to price level (groupBy price → max date) — partial
       map-side agg, output ~|distinct prices|;
    2. ONE window pass ordered price-descending computes the max date
       among STRICTLY higher prices (rows are distinct prices, so
       ROWS UNBOUNDED PRECEDING..1 PRECEDING is exactly "higher");
    3. equi-join orders back on (priority, price) — doubles compared
       bit-for-bit, no arithmetic — and keep rows whose date is not
       beaten. Two keyed shuffles + one window, no theta-join, holds
       at any SF."""
    from pyspark.sql.window import Window

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    plevel = orders.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    ).agg(F.max("o_orderdate").alias("md"))
    w = (
        Window.partitionBy("prio")
        .orderBy(F.col("price").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hmax = plevel.select(
        "prio", "price", F.max("md").over(w).alias("hmax")
    )
    return (
        orders.join(
            hmax,
            (F.col("o_orderpriority") == F.col("prio"))
            & (F.col("o_totalprice") == F.col("price")),
        )
        .where(F.expr("hmax IS NULL OR o_orderdate >= hmax"))
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
        )
    )


Q_PARETO_SQL = """
WITH plevel AS (
  SELECT o_orderpriority AS prio, o_totalprice AS price,
         MAX(o_orderdate) AS md
  FROM orders GROUP BY 1, 2),
hmax AS (
  SELECT prio, price,
         MAX(md) OVER (PARTITION BY prio ORDER BY price DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS hmax
  FROM plevel)
SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate
FROM orders o JOIN hmax h
  ON o.o_orderpriority = h.prio AND o.o_totalprice = h.price
WHERE h.hmax IS NULL OR o.o_orderdate >= h.hmax
"""


QUERIES = {
    "q_pareto_orders": q_pareto_orders,
    "q_grouping_sets": q_grouping_sets,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q11_important_parts": q11_important_parts,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q_top_orders_per_customer": q_top_orders_per_customer,
    "q_order_rollup": q_order_rollup,
    "q_market_share": q_market_share,
    "q_customer_distribution": q_customer_distribution,
    "q_promo_revenue": q_promo_revenue,
    "q_events_hourly": q_events_hourly,
    "q_supplier_agg_having": q_supplier_agg_having,
    "q_explode_lateral": q_explode_lateral,
    "q_semi_join_priority": q_semi_join_priority,
    "q_anti_join_customers": q_anti_join_customers,
    "q_set_ops": q_set_ops,
    "q_cube_returns": q_cube_returns,
    "q_correlated_small_qty": q_correlated_small_qty,
    "q_events_funnel": q_events_funnel,
    "q_date_dims": q_date_dims,
    "q_scalar_funcs": q_scalar_funcs,
    "q7_nation_volume": q7_nation_volume,
    "q9_profit_by_nation": q9_profit_by_nation,
    "q10_returned_items": q10_returned_items,
    "q15_top_supplier": q15_top_supplier,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q_json_props": q_json_props,
    "q_events_pivot": q_events_pivot,
    "q_stats_moments": q_stats_moments,
    "q_window_funcs": q_window_funcs,
    "q21_sole_blame_supplier": q21_sole_blame_supplier,
    "q_string_agg": q_string_agg,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q12_priority_shipping": q12_priority_shipping,
    "q16_supplier_part_count": q16_supplier_part_count,
    "q20_dominant_supplier": q20_dominant_supplier,
    "q_recursive_hierarchy": q_recursive_hierarchy,
    "q_lateral_topk": q_lateral_topk,
}

ORACLES = {
    "q_pareto_orders": Q_PARETO_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q_top_orders_per_customer": Q_TOP_ORDERS_SQL,
    "q_order_rollup": Q_ROLLUP_SQL,
    "q_market_share": Q_MARKET_SHARE_SQL,
    "q_customer_distribution": Q_CUSTDIST_SQL,
    "q_promo_revenue": Q_PROMO_SQL,
    "q_events_hourly": Q_EVENTS_HOURLY_SQL,
    "q_supplier_agg_having": Q_SUPPLIER_HAVING_SQL,
    "q_explode_lateral": Q_EXPLODE_SQL,
    "q_semi_join_priority": Q_SEMI_JOIN_SQL,
    "q_anti_join_customers": Q_ANTI_JOIN_SQL,
    "q_set_ops": Q_SET_OPS_SQL,
    "q_cube_returns": Q_CUBE_SQL,
    "q_correlated_small_qty": Q_CORRELATED_SQL,
    "q_events_funnel": Q_EVENTS_FUNNEL_SQL,
    "q_date_dims": Q_DATE_DIMS_SQL,
    "q_scalar_funcs": Q_SCALAR_FUNCS_SQL,
    "q7_nation_volume": Q7_SQL,
    "q9_profit_by_nation": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q15_top_supplier": Q15_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q_json_props": Q_JSON_PROPS_SQL,
    "q_events_pivot": Q_EVENTS_PIVOT_SQL,
    "q_stats_moments": Q_STATS_MOMENTS_SQL,
    "q_window_funcs": Q_WINDOW_FUNCS_SQL,
    "q21_sole_blame_supplier": Q21_SQL,
    "q18_large_volume_customers": Q18_SQL,
    "q11_important_parts": Q11_SQL,
    "q_grouping_sets": Q_GROUPING_SETS_SQL,
    "q_string_agg": Q_STRING_AGG_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q12_priority_shipping": Q12_SQL,
    "q16_supplier_part_count": Q16_SQL,
    "q20_dominant_supplier": Q20_SQL,
    "q_recursive_hierarchy": Q_RECURSIVE_SQL,
    "q_lateral_topk": Q_LATERAL_SQL,
}
