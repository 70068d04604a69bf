from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "tools"))

from oracle_sim import driver_rows  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from spark_ij_spark.session import get_spark

    # local[$SPARK_GRAFT_CPUS] (default: every core); the partition
    # count stays 8 so plans and partition-sensitive tests do not move.
    spark = get_spark("spark_ij_spark-tests")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    from spark_ij_spark.session import TABLE_NAMES

    for name in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'"
            )
    yield con
    con.close()


def assert_oracle_match(spark, duck, query_fn, sql, sf_dir=SF_DIR):
    """Local replica of the driver's correctness gate: row count, column
    names, and (order-insensitive) values must match DuckDB, fetched and
    rendered by ``oracle_sim.driver_rows`` — the driver's own fetch and
    normaliser, so e.g. Spark ``1`` vs DuckDB ``1.0`` fails here as it
    does in the driver's hasher.

    The DuckDB side is fetched via pandas ``.df()`` — the driver's
    fetch path — NOT ``fetchall()``: pandas coerces NULL doubles to
    NaN, NULL timestamps to NaT, DATE to midnight datetime, and
    raises OutOfBoundsDatetime past 2262 (the events_scd2 r6 red row
    slipped through a fetchall()-based gate), so those divergences
    must surface locally too.

    A non-default ``sf_dir`` rebinds the DuckDB views too — the duck
    fixture is session-bound to SF_DIR, and comparing Spark@sf_x
    against DuckDB@SF_DIR would be a guaranteed spurious mismatch."""
    own_con = None
    if sf_dir != SF_DIR:
        import duckdb

        from spark_ij_spark.session import TABLE_NAMES

        own_con = duckdb.connect()
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                own_con.execute(
                    f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'"
                )
        duck = own_con

    try:
        spark_cols, spark_rows, duck_cols, duck_rows = driver_rows(
            query_fn(spark, sf_dir), duck, sql
        )
    finally:
        if own_con is not None:
            own_con.close()
    assert spark_cols == duck_cols, f"columns differ: {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"row counts differ: {len(spark_rows)} vs {len(duck_rows)}"
    )
    mism = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b]
    assert not mism, f"{len(mism)} mismatched rows; first: {mism[:3]}"
