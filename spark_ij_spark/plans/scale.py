"""Physical-layout utilities for cluster-scale joins.

The reference left its partitioner disabled (4x "TODO add back
partitionBy(NamedSlicePartitioner)", scOps.scala:82,108,150,286); this
module is that missing piece done the Spark way:

- ``write_bucketed`` / bucketed tables: co-locate both sides of a
  recurring join key at write time so the join plans with zero
  Exchange (the 100 TB answer to repeated joins on the same key).
- ``salted_join``: explicit skew mitigation for power-law keys —
  spread each hot key over ``salt`` sub-keys on the fact side and
  replicate the dim side ``salt`` ways. AQE's skew-join handles
  moderate skew automatically; salting is for the pathological case
  where one key exceeds a single executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    buckets: int,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Joins between two tables bucketed on the same key with the same
    bucket count require no shuffle at all."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a dropped table can leave its warehouse dir behind (e.g. an
    # interrupted write); saveAsTable then fails LOCATION_ALREADY_EXISTS
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{table_name.lower()}", ignore_errors=True)

    # Repartition on the bucket key into `buckets` partitions first:
    # Spark's bucket id IS hashpartitioning(key) pmod buckets, so each
    # task then holds exactly one bucket and writes exactly one file —
    # `buckets` parallel sort+encode tasks and `buckets` output files,
    # instead of a single task serially writing every bucket when the
    # input is one scan partition (toy-SF parquet; measured: the
    # two demo writes 1.41+2.09 s -> see layout.py). At scale the same
    # repartition is the write-side shuffle bucketing always needs.
    w = df.repartition(buckets, key).write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key as a
    sort-merge join — bucketing supplies the partitioning, so the plan
    has no Exchange. The merge hint keeps the planner from choosing
    broadcast at toy sizes (at 100 TB neither side broadcasts anyway,
    which is exactly when bucketing pays)."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), key)
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet layout (``col=value`` dirs).

    The physical-layout move for time/tenant-sliced 100 TB tables: a
    query filtering on a partition column never lists or reads the
    other directories (partition pruning at the scan, visible as
    ``PartitionFilters`` in the plan)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_pruned(
    spark: SparkSession, path: str
) -> DataFrame:
    """Read a partitioned layout; filters on partition columns prune
    directories before any file I/O."""
    return spark.read.parquet(path)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: fact rows get a deterministic salt in
    [0, salt) derived from a row hash, dim rows are replicated once per
    salt value, and the join key becomes (key, salt) — a hot key now
    spreads over ``salt`` reducers. Result equals the plain join
    row-for-row (verified in tests); cost is dim replication x salt,
    so use it fact-side-skewed, dim-side-small.

    Only inner and left joins are salt-safe with fact-side salting:
    an unmatched DIM row exists ``salt`` times after replication, so
    right/full outer joins would emit it ``salt`` times null-extended
    — silently inflated output. Rejected loudly."""
    if how.replace("_", "").lower() not in ("inner", "left", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}):"
            " replicated dim rows would survive a right/full outer"
            " join once per salt value"
        )
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(salt)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    salted_dim = dim.select("*", salts)
    out = salted_fact.join(salted_dim, [key, "__salt"], how)
    return out.drop("__salt")
