from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
    names, and (order-insensitive) values must match DuckDB.

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
        _assert_oracle_match_inner(spark, duck, query_fn, sql, sf_dir)
    finally:
        if own_con is not None:
            own_con.close()


def _assert_oracle_match_inner(spark, duck, query_fn, sql, sf_dir):
    import math

    sdf = query_fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(row[c] for c in spark_cols) for row in sdf.collect()]

    dpdf = duck.execute(sql).df()
    duck_cols = sorted(dpdf.columns)
    assert spark_cols == duck_cols, f"columns differ: {spark_cols} vs {duck_cols}"
    duck_rows = [
        tuple(r) for r in dpdf[duck_cols].itertuples(index=False, name=None)
    ]

    assert len(spark_rows) == len(duck_rows), (
        f"row counts differ: {len(spark_rows)} vs {len(duck_rows)}"
    )

    def norm(v):
        if v is None:
            return None
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        if hasattr(v, "item"):
            return v.item()
        return v

    s_sorted = sorted([tuple(norm(v) for v in r) for r in spark_rows], key=repr)
    d_sorted = sorted([tuple(norm(v) for v in r) for r in duck_rows], key=repr)
    mism = [
        (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
    ]
    assert not mism, f"{len(mism)} mismatched rows; first: {mism[:3]}"
