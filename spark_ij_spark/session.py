"""SparkSession factory + table loading for the engine.

Scale-minded defaults: AQE enabled (runtime re-planning, skew-join
handling, partition coalescing), Arrow execution for pandas UDFs, and
shuffle partitions sized for the local test harness (on a real cluster
AQE coalesces; set ``spark.sql.shuffle.partitions`` to ~2-3x total
cores there).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def local_cpus() -> int:
    """$SPARK_GRAFT_CPUS, or all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "spark_ij_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to ``local_cpus()``.
    """
    if cpus is None:
        cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast policy (the 100 TB rule): static auto-broadcast is
        # OFF because Catalyst's plan-time size estimates of derived
        # frames (aggregated signatures, cached postings) are fiction —
        # at sf~10 they underestimated corpus-sized band/postings
        # frames >10x and the "broadcast" OOMed the driver (measured,
        # SCALING.md "sf0.1 → sf~10 SECOND-decade sweep"). Broadcasts
        # happen only when (a) the
        # code marks a PROVABLY bounded side with an explicit
        # F.broadcast() hint, or (b) AQE measures the side's TRUE
        # runtime size under the adaptive threshold — so toy-SF plans
        # keep their broadcast speed and scale plans keep their lives.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that has already imported
        # the engine (found on the workers' path like every engine UDF).
        .config("spark.python.daemon.module", "spark_ij_spark.worker_daemon")
    )
    return builder.getOrCreate()


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Restore map-side parallelism when the upstream scan under-splits.

    The driver testdata ships single-row-group parquet files, so every
    map stage over a base table plans as ONE task regardless of core
    count — tokenize/hash/dot-product passes serialize, and any frame
    CACHED off such a scan keeps the 1-partition layout, serializing
    every downstream consumer of the cache too. This helper hash-
    repartitions on the table's stable primary key ONLY when the
    planned partitioning is narrower than the session's default
    parallelism; at scale (row groups >> cores) it is a no-op — zero
    added shuffle, so it is a layout guard, not a local[32] tuning
    constant. Partition count comes from spark.sql.shuffle.partitions
    (conf-parameterized per deploy); the deterministic key avoids the
    round-robin retry hazard (guide §2.5, SPARK-38388)."""
    try:
        if df.rdd.getNumPartitions() >= df.sparkSession.sparkContext.defaultParallelism:
            return df
    except Exception:
        return df
    return df.repartition(*[F.col(k) for k in keys])


def checkpoint(df: DataFrame, **probes: Column) -> tuple[DataFrame, dict]:
    """Truncate ``df``'s lineage with an eager ``localCheckpoint()`` and
    return it with the named aggregate ``probes`` measured in the same
    job — the one lineage policy of every iterative loop.

    The probes ride the checkpoint's own job through one
    ``Observation``, so a convergence or size check costs no job of its
    own. Retry condition: the observe is the outermost operator, so its
    metric comes from the result stage, whose accumulator updates Spark
    applies once per partition — a retried task cannot count twice.
    Over an empty frame ``F.sum`` observes NULL while ``F.count``
    observes 0, so a probe must be ``count``-based or coalesced."""
    if not probes:
        return df.localCheckpoint(), {}
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in probes.items()]).localCheckpoint()
    return out, obs.get


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables under ``sf_dir``.

    Returns ``{name: DataFrame}`` for every table that exists. Reads are
    plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown and
    column pruning at the scan.
    """
    # The caller may hand us any session (the driver harness builds its
    # own without get_spark()'s builder confs). Timestamp columns hash
    # against naive DuckDB timestamps, so pin UTC at runtime too — a
    # no-op on a UTC host, a correctness guard anywhere else.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                # events.parquet stores ts as INT64 TIMESTAMP(MICROS,
                # isAdjustedToUTC=false), which Spark reads as
                # timestamp_ntz with nothing truncated. Cast to session-tz
                # timestamp (UTC, pinned above) so ts is a plain timestamp.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            out[name] = df
    return out
