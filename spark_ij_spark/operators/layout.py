"""Physical-layout graded queries (bucketed co-located join).

Elevates the ``plans/scale.py`` utilities to a driver-graded query:
the recurring-join answer at 100 TB is to pay ONE bucketed write per
table and then run every subsequent join on that key with ZERO
exchange on either side (bucketing pre-partitions and pre-sorts both
sides identically, so the sort-merge join starts from the scan).

The write happens once per session per sf_dir (guarded by
``tableExists``); repeated calls — exactly the recurring-join usage
pattern bucketing exists for — plan the join with no shuffle at all
(guarded in test_plans). The aggregate after the join is the only
exchange in the plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ij_spark.operators.relational import dsum, dsum_sql
from spark_ij_spark.plans.scale import bucketed_join, write_bucketed
from spark_ij_spark.session import load_tables

JOIN_BUCKETS = 8


def _tag(sf_dir: str) -> str:
    return re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority via a bucketed orders ⋈ lineitem
    join: both sides are bucket-written on the order key (amortized,
    once per session), so the join plans with no Exchange on either
    side — the co-located-join shape recurring 100 TB joins should
    take. Revenue uses the decimal-sum pattern (order-independent,
    hash-identical to the oracle's plain join)."""
    to = f"bkt_orders_{_tag(sf_dir)}"
    tl = f"bkt_lineitem_{_tag(sf_dir)}"
    if not spark.catalog.tableExists(to) or not spark.catalog.tableExists(tl):
        t = load_tables(spark, sf_dir, ["orders", "lineitem"])
        # The two writes are independent jobs: submit them from a
        # 2-thread pool so the second back-fills executors freed by
        # the first's tail (guide §2.6) instead of running strictly
        # after it — the write pair dominates the amortized-once
        # session setup (measured: 3.4 s serial -> see
        # OPTIMIZATION_r12.md).
        from concurrent.futures import ThreadPoolExecutor

        def _write_orders() -> None:
            write_bucketed(
                t["orders"].select("o_orderkey", "o_orderpriority"),
                to,
                "o_orderkey",
                JOIN_BUCKETS,
                sort_by="o_orderkey",
            )

        def _write_lineitem() -> None:
            write_bucketed(
                t["lineitem"].select(
                    F.col("l_orderkey").alias("o_orderkey"),
                    "l_extendedprice",
                    "l_discount",
                ),
                tl,
                "o_orderkey",
                JOIN_BUCKETS,
                sort_by="o_orderkey",
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(_write_orders), pool.submit(_write_lineitem)]:
                fut.result()
    return (
        bucketed_join(spark, to, tl, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_items"),
            dsum("l_extendedprice * (1 - l_discount)", 6, "revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q_BUCKETED_JOIN_REVENUE_SQL = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Z-order (Morton) multi-dimensional layout ------------------------

# Bits per dimension of the normalized grid the Morton code
# interleaves. Raw values are first range-normalized to [0, 2^Z_BITS)
# per dimension — interleaving RAW values degenerates to
# larger-range-dimension-major ordering whenever the dimensions span
# different magnitudes (e.g. 150 customers × 2400 days), which is why
# every real z-order implementation normalizes (or rank-codes) first.
Z_BITS = 10
# Range buckets ("files") the layout is split into. At 100 TB this is
# the target file count of a repartitionByRange(zval) write; here it
# sets the granularity of the per-bucket min/max skipping stats.
Z_BUCKETS = 64
_Z_EPOCH = "1995-01-01"  # day-index origin for the date dimension


def _zval_spark(x: str, y: str) -> str:
    terms = []
    for k in range(Z_BITS):
        terms.append(f"shiftleft(shiftright({x}, {k}) & 1, {2 * k})")
        terms.append(f"shiftleft(shiftright({y}, {k}) & 1, {2 * k + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _zval_duck(x: str, y: str) -> str:
    terms = []
    for k in range(Z_BITS):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# Normalize a raw dimension onto the [0, 2^Z_BITS) grid given its
# min/max (identical integer arithmetic in both engines; +1 in the
# divisor keeps the max value inside the grid).
def _grid(v: str, mn: str, mx: str, div: str) -> str:
    return f"((({v}) - ({mn})) * {1 << Z_BITS}) {div} (({mx}) - ({mn}) + 1)"


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout of ``orders`` on (o_custkey, order-day) with
    per-bucket min/max skipping statistics.

    Each row's two dimensions are range-normalized onto a 2^Z_BITS
    grid and bit-interleaved into a Morton z-value; the table is
    range-split into ``Z_BUCKETS`` equal buckets in z order, and the
    output is each bucket's row count and min/max bounds on BOTH
    dimensions — the file-footer statistics a lakehouse scan uses to
    prune. Because z-order is a space-filling curve, buckets stay
    tight on *both* columns at once (a single-column sort is tight on
    one and spans the full range of the other) —
    `tests/test_profile_layout.py` asserts the two-sided pruning.

    Scale shape: the z-value is a map-only integer expression (pure
    codegen); the per-dimension min/max ride along as a broadcast
    1-row aggregate (calibrate-then-apply — a ``MIN(x) OVER ()``
    global window funnels the whole table through ONE reducer just to
    produce 4 scalars; at 100 TB the bounds come from table statistics
    and the cross join disappears entirely). The bucket split here is
    ``ntile`` over an UNPARTITIONED window — a single-reducer global
    sort that is only acceptable as the oracle-exact audit form at
    test SF (exact equal-count buckets, deterministic hash). The
    production write is ``repartitionByRange(zval)`` — sample-based
    range edges, one shuffle, parallel per-range sort — whose buckets
    are approximately, not exactly, equal; its edges can be audited
    with this query by swapping the ntile for calibrated z-range
    edges broadcast back (calibrate-then-apply). The aggregate after
    the split is O(Z_BUCKETS) rows either way."""
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    day = f"datediff(CAST(o_orderdate AS DATE), DATE'{_Z_EPOCH}')"
    sel = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.expr(f"CAST({day} AS BIGINT)").alias("dy"),
    )
    bounds = sel.agg(
        F.expr("MIN(ck)").alias("mn_ck"),
        F.expr("MAX(ck)").alias("mx_ck"),
        F.expr("MIN(dy)").alias("mn_dy"),
        F.expr("MAX(dy)").alias("mx_dy"),
    )
    gck = _grid("ck", "mn_ck", "mx_ck", "div")
    gdy = _grid("dy", "mn_dy", "mx_dy", "div")
    w = Window.orderBy("zval", "o_orderkey")
    return (
        sel.crossJoin(F.broadcast(bounds))
        .withColumn("gck", F.expr(gck))
        .withColumn("gdy", F.expr(gdy))
        .withColumn("zval", F.expr(_zval_spark("gck", "gdy")))
        .withColumn("zbucket", F.ntile(Z_BUCKETS).over(w))
        .groupBy("zbucket")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
            F.expr("CAST(MIN(ck) AS BIGINT)").alias("min_cust"),
            F.expr("CAST(MAX(ck) AS BIGINT)").alias("max_cust"),
            F.expr("CAST(MIN(dy) AS BIGINT)").alias("min_day"),
            F.expr("CAST(MAX(dy) AS BIGINT)").alias("max_day"),
        )
        .orderBy("zbucket")
    )


Q_ZORDER_STATS_SQL = f"""
WITH z AS (
  SELECT o_orderkey, o_custkey AS ck,
         CAST(datediff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE)) AS BIGINT) AS dy
  FROM orders),
g AS (
  SELECT o_orderkey, ck, dy,
         {_grid('ck', 'MIN(ck) OVER ()', 'MAX(ck) OVER ()', '//')} AS gck,
         {_grid('dy', 'MIN(dy) OVER ()', 'MAX(dy) OVER ()', '//')} AS gdy
  FROM z),
zb AS (
  SELECT ck, dy,
         ntile({Z_BUCKETS}) OVER (ORDER BY {_zval_duck('gck', 'gdy')}, o_orderkey) AS zbucket
  FROM g)
SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(ck) AS BIGINT) AS min_cust, CAST(MAX(ck) AS BIGINT) AS max_cust,
       CAST(MIN(dy) AS BIGINT) AS min_day, CAST(MAX(dy) AS BIGINT) AS max_day
FROM zb GROUP BY zbucket ORDER BY zbucket
"""


# --- Bloom-filter pre-join pruning ------------------------------------

# Filter geometry: M_BITS-bit bitmap stored as 32-bit words in BIGINTs
# (32-bit words sidestep cross-engine sign semantics of bit 63), K
# positions per key sliced from disjoint 12-bit ranges of ONE
# md5-derived 60-bit hash (the standard bit-slicing trick — one hash
# per probe, not K; md5 dominates the probe cost otherwise). At the
# test key counts (~80 keys at sf0.01) the false-positive rate is
# ~(3n/m)^3 — tiny but nonzero and exactly reproducible in both
# engines.
BLOOM_M_BITS = 4096  # 2^12 → K disjoint 12-bit slices of the 60-bit hash
BLOOM_K = 3
BLOOM_BRAND = "Brand#13"


def _bloom_hash(key: str, hash60) -> str:
    return hash60(f"concat('bloom:', CAST({key} AS STRING))")


def _bloom_pos_from_h(h: str, shiftr) -> list[str]:
    return [f"({shiftr(h, 12 * j)} % {BLOOM_M_BITS})" for j in range(BLOOM_K)]


def _shiftr_spark(x: str, n: int) -> str:
    return f"shiftright({x}, {n})" if n else f"({x})"


def _shiftr_duck(x: str, n: int) -> str:
    return f"(({x}) >> {n})" if n else f"({x})"


def q_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning: lineitem rows are filtered
    map-side by a bloom filter built over the part keys of one brand,
    BEFORE any join — the classic 100 TB trick for cutting shuffle
    input when the join selectivity is high (Spark's runtime bloom
    join does this adaptively; this is the explicit, auditable form).

    Output per l_returnflag: rows passing the bloom filter
    (n_candidates), rows truly matching the brand (n_true), and the
    deterministic false-positive count (n_false_pos) — both engines
    compute identical md5-derived bit positions, so even the false
    positives hash-match.

    Scale shape: the filter is O(M_BITS) driver/broadcast state built
    from one tiny dimension scan (the same literal-model pattern as
    ``clustering.embed_kmeans``); the fact scan is map-only pure
    codegen — ONE md5 per row projected to a column, then K integer
    bit probes (element_at + bitwise AND) against the literal bitmap —
    followed by one broadcast join for ground truth and an O(flags)
    aggregate."""
    from spark_ij_spark.operators.text import hash60_spark

    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    keys = t["part"].filter(F.col("p_brand") == BLOOM_BRAND).select("p_partkey")
    pos_rows = keys.select(
        F.expr(_bloom_hash("p_partkey", hash60_spark)).alias("h")
    ).select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(_bloom_pos_from_h("h", _shiftr_spark))
                + ")"
            )
        ).alias("p")
    ).distinct()
    words = [0] * (BLOOM_M_BITS // 32)
    for r in pos_rows.collect():  # O(M_BITS) model state, like k-means centroids
        words[r.p // 32] |= 1 << (r.p % 32)
    arr = "array(" + ", ".join(f"CAST({w} AS BIGINT)" for w in words) + ")"
    # Bind the (expensive) md5 hash ONCE per row as a lambda variable:
    # a plain projected column would be inlined into the filter by
    # predicate pushdown and re-evaluated per probe (measured 1.8x).
    checks = " AND ".join(
        f"(element_at({arr}, CAST(({p}) div 32 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 32 AS INT))) <> 0"
        for p in _bloom_pos_from_h("hv", _shiftr_spark)
    )
    hexpr = _bloom_hash("l_partkey", hash60_spark)
    cand = t["lineitem"].select("l_partkey", "l_returnflag").where(
        F.expr(f"forall(array({hexpr}), hv -> {checks})")
    )
    return (
        cand.join(
            F.broadcast(keys), cand.l_partkey == keys.p_partkey, "left"
        )
        .groupBy("l_returnflag")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_candidates"),
            F.expr("CAST(COUNT(p_partkey) AS BIGINT)").alias("n_true"),
            F.expr("CAST(COUNT(*) - COUNT(p_partkey) AS BIGINT)").alias(
                "n_false_pos"
            ),
        )
        .orderBy("l_returnflag")
    )


def _bloom_prejoin_sql() -> str:
    from spark_ij_spark.operators.text import hash60_duck

    part_pos = _bloom_pos_from_h(
        _bloom_hash("p_partkey", hash60_duck), _shiftr_duck
    )
    li_pos = _bloom_pos_from_h("h", _shiftr_duck)
    checks = " AND ".join(
        f"((SELECT w FROM dense WHERE i = ({p}) // 32)"
        f" & ((1::BIGINT) << (CAST(({p}) % 32 AS INT)))) <> 0"
        for p in li_pos
    )
    return f"""
WITH keys AS (SELECT p_partkey FROM part WHERE p_brand = '{BLOOM_BRAND}'),
pos AS (SELECT DISTINCT unnest([{', '.join(part_pos)}]) AS p FROM keys),
wrd AS (SELECT p // 32 AS wi, bit_or((1::BIGINT) << (CAST(p % 32 AS INT))) AS w
        FROM pos GROUP BY 1),
dense AS (SELECT r.i AS i, COALESCE(wrd.w, 0) AS w
          FROM range({BLOOM_M_BITS // 32}) r(i) LEFT JOIN wrd ON wrd.wi = r.i),
li AS (SELECT l_partkey, l_returnflag,
              {_bloom_hash("l_partkey", hash60_duck)} AS h
       FROM lineitem),
cand AS (SELECT l_partkey, l_returnflag FROM li WHERE {checks})
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COUNT(k.p_partkey) AS BIGINT) AS n_true,
       CAST(COUNT(*) - COUNT(k.p_partkey) AS BIGINT) AS n_false_pos
FROM cand LEFT JOIN keys k ON cand.l_partkey = k.p_partkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


Q_BLOOM_PREJOIN_SQL = _bloom_prejoin_sql()


# Compaction planner: files-per-source in the synthetic manifest and
# the output-group count the plan packs them into.
COMPACT_FILE_BUCKETS = 8
COMPACT_GROUPS = 4


def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan — the lakehouse maintenance op that
    keeps a 100 TB table readable. A long-running ingest leaves each
    partition littered with files far below the scan-efficient size;
    the fix is a metadata-only planning pass that bins adjacent small
    files into ~target-sized rewrite groups (what Delta OPTIMIZE /
    Iceberg rewrite_data_files plan before touching any data).

    The file manifest is derived from ``documents`` (file = (source,
    doc_id % COMPACT_FILE_BUCKETS), bytes = SUM(n_chars)); the per-
    source target size is calibrated as total_bytes DIV COMPACT_GROUPS
    (calibrate-then-apply: a COUNT(sources)-row aggregate joined back,
    never a global window). Files are laid out in deterministic bucket
    order and assigned out_group = bytes-before-this-file DIV target —
    the sequential first-fit that guarantees every group except the
    last crosses the target only by its final file.

    Scale shape: the ONLY corpus-sized work is the manifest aggregate
    (one keyed shuffle, partial-aggregating). Everything after runs on
    O(files) metadata rows — the per-source window costs nothing
    because a manifest is ~10^5 rows when the table is 10^11. All
    arithmetic is BIGINT (DIV both engines), so the plan hash-matches
    DuckDB exactly."""
    from spark_ij_spark.operators.text import _docs

    docs = _docs(spark, sf_dir)
    # cache: manifest feeds both the per-source targets aggregate and
    # the planning join — uncached, the corpus scan + manifest shuffle
    # run twice; cached it is O(sources × buckets) metadata rows.
    manifest = (
        docs.groupBy(
            "source",
            F.expr(f"doc_id % {COMPACT_FILE_BUCKETS}").alias("file_bucket"),
        )
        .agg(
            F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("file_bytes"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        )
        .cache()
    )
    targets = manifest.groupBy("source").agg(
        F.expr(
            f"GREATEST(CAST(SUM(file_bytes) DIV {COMPACT_GROUPS} AS BIGINT),"
            " CAST(1 AS BIGINT))"
        ).alias("target_bytes")
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("file_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        manifest.join(F.broadcast(targets), "source")
        .withColumn(
            "bytes_before",
            F.coalesce(F.sum("file_bytes").over(w), F.lit(0).cast("bigint")),
        )
        .withColumn(
            "out_group", F.expr("CAST(bytes_before DIV target_bytes AS BIGINT)")
        )
    )
    return (
        planned.groupBy("source", "out_group")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_files"),
            F.expr("CAST(SUM(n_docs) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(SUM(file_bytes) AS BIGINT)").alias("group_bytes"),
            F.expr("CAST(MIN(file_bucket) AS BIGINT)").alias("first_file"),
            F.expr("CAST(MAX(file_bucket) AS BIGINT)").alias("last_file"),
            F.expr("CAST(MAX(target_bytes) AS BIGINT)").alias("target_bytes"),
        )
        .orderBy("source", "out_group")
    )


Q_LAYOUT_COMPACTION_SQL = f"""
WITH manifest AS (
  SELECT source, doc_id % {COMPACT_FILE_BUCKETS} AS file_bucket,
         CAST(SUM(n_chars) AS BIGINT) AS file_bytes,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, doc_id % {COMPACT_FILE_BUCKETS}),
targets AS (
  SELECT source,
         GREATEST(CAST(SUM(file_bytes) // {COMPACT_GROUPS} AS BIGINT),
                  CAST(1 AS BIGINT)) AS target_bytes
  FROM manifest GROUP BY source),
planned AS (
  SELECT m.source, m.file_bucket, m.file_bytes, m.n_docs, t.target_bytes,
         COALESCE(SUM(m.file_bytes) OVER (
           PARTITION BY m.source ORDER BY m.file_bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS bytes_before
  FROM manifest m JOIN targets t ON m.source = t.source)
SELECT source, CAST(bytes_before // target_bytes AS BIGINT) AS out_group,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(file_bytes) AS BIGINT) AS group_bytes,
       CAST(MIN(file_bucket) AS BIGINT) AS first_file,
       CAST(MAX(file_bucket) AS BIGINT) AS last_file,
       CAST(MAX(target_bytes) AS BIGINT) AS target_bytes
FROM planned
GROUP BY source, CAST(bytes_before // target_bytes AS BIGINT)
ORDER BY source, out_group
"""


QUERIES = {
    "bucketed_join_revenue": q_bucketed_join_revenue,
    "layout_zorder_stats": q_zorder_stats,
    "layout_bloom_prejoin": q_bloom_prejoin,
    "layout_compaction": q_layout_compaction,
}
ORACLES = {
    "bucketed_join_revenue": Q_BUCKETED_JOIN_REVENUE_SQL,
    "layout_zorder_stats": Q_ZORDER_STATS_SQL,
    "layout_bloom_prejoin": Q_BLOOM_PREJOIN_SQL,
    "layout_compaction": Q_LAYOUT_COMPACTION_SQL,
}
