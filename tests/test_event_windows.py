"""Batch event-window queries against their DuckDB oracles."""

from __future__ import annotations

import pytest

from spark_ij_spark.operators import event_windows

from .conftest import assert_oracle_match


@pytest.mark.parametrize("name", sorted(event_windows.QUERIES))
def test_event_window_query_matches_oracle(spark, duck, name):
    if name not in event_windows.ORACLES:
        pytest.skip(f"{name} is sketch-based (tolerance-tested, no hash oracle)")
    assert_oracle_match(
        spark, duck, event_windows.QUERIES[name], event_windows.ORACLES[name]
    )


def test_events_quantiles_approx_within_rank_error(spark):
    """approx_percentile (GK sketch, accuracy=QUANTILE_ACCURACY) must
    land within the rank-error bound of the exact percentile: for each
    quantile q, approx ∈ [exact(q-eps), exact(q+eps)] with
    eps = 2/accuracy (2× the theoretical bound for merge slack).
    Run at sf0.1 — the bound only bites with enough rows per group."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.1"
    eps = 2.0 / event_windows.QUANTILE_ACCURACY
    approx = {
        r["event_type"]: r
        for r in event_windows.q_events_quantiles_approx(spark, sf).collect()
    }
    qcols = []
    for col, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        qcols += [
            F.expr(f"percentile(value, {max(q - eps, 0.0)})").alias(f"{col}_lo"),
            F.expr(f"percentile(value, {min(q + eps, 1.0)})").alias(f"{col}_hi"),
        ]
    bounds = (
        event_windows._events(spark, sf)
        .groupBy("event_type")
        .agg(*qcols, F.count("*").alias("n_events"))
        .collect()
    )
    assert len(bounds) == len(approx) and len(bounds) > 0
    for b in bounds:
        a = approx[b["event_type"]]
        assert a["n_events"] == b["n_events"]
        for col in ("p50", "p95", "p99"):
            assert b[f"{col}_lo"] <= a[col] <= b[f"{col}_hi"], (
                b["event_type"],
                col,
                a[col],
                b[f"{col}_lo"],
                b[f"{col}_hi"],
            )


def test_events_load_without_builder_conf(spark, sf_dir):
    """The driver hands queries() its own SparkSession, built without
    get_spark()'s builder confs — load_tables must still read the
    TIMESTAMP(MICROS) events.parquet as a session-tz timestamp."""
    from spark_ij_spark.session import load_tables

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    assert ev.limit(1).count() == 1


def test_transitions_matrix_properties(spark, sf_dir, duck):
    """Row-stochastic matrix: per from_type the probabilities sum to
    ~1 (rounding each to 6 dp loses at most 5e-7 per cell), and the
    total pair count equals total events minus the number of distinct
    users (each user's first event has no predecessor)."""
    rows = event_windows.q_events_transitions(spark, sf_dir).collect()
    assert rows
    n_events, n_users = duck.execute(
        "SELECT COUNT(*), COUNT(DISTINCT user_id) FROM events"
    ).fetchone()
    assert sum(r.n for r in rows) == n_events - n_users
    by_from: dict[str, float] = {}
    cells: dict[str, int] = {}
    for r in rows:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
        cells[r.from_type] = cells.get(r.from_type, 0) + 1
    for ft, total in by_from.items():
        assert abs(total - 1.0) <= 5e-7 * cells[ft] + 1e-12, (ft, total)


def test_attribution_credit_conservation(spark):
    """Every valid journey hands out exactly one first-touch and one
    last-touch credit, and its linear credit sums to 1e6 ppm minus at
    most (n_types - 1) of integer-floor loss."""
    from spark_ij_spark.operators.event_windows import (
        ATTR_TOUCH_TYPES,
        q_events_attribution,
    )

    from .conftest import SF_DIR

    rows = q_events_attribution(spark, SF_DIR).collect()
    assert rows, "journeys must exist at test SF"
    n_journeys = sum(r.first_touch for r in rows)
    assert n_journeys == sum(r.last_touch for r in rows)
    total_linear = sum(r.linear_credit_ppm for r in rows)
    loss = n_journeys * 1_000_000 - total_linear
    assert 0 <= loss < n_journeys * len(ATTR_TOUCH_TYPES)
    for r in rows:
        assert 0 <= r.first_touch <= n_journeys
        assert r.touches >= max(r.first_touch, r.last_touch)


def test_session_paths_prefix_and_conversion_semantics(spark):
    """Paths are capped at PATH_MAX_STEPS; a purchase in the kept
    prefix forces n_converted == n_sessions (conversion is computed
    over the FULL visit, so the reverse implication need not hold)."""
    from spark_ij_spark.operators.event_windows import (
        PATH_MAX_STEPS,
        q_events_session_paths,
    )

    from .conftest import SF_DIR

    rows = q_events_session_paths(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= PATH_MAX_STEPS
        assert 0 <= r.n_converted <= r.n_sessions
        if "purchase" in steps:
            assert r.n_converted == r.n_sessions


def test_session_boundary_event_at_exactly_gap_merges(spark, tmp_path):
    """Spark session_window treats an event at EXACTLY last_ts + gap as
    part of the same session (inclusive boundary, empirically probed);
    the oracle's gaps-and-islands split must therefore use strict '>'.
    Before the round-7 fix the oracle used '>=' and split this case
    into two sessions — a hash divergence waiting for the first
    exact-1800s gap in the data."""
    import datetime as dt

    import duckdb as ddb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=event_windows.SESSION_GAP_MIN)
    rows = {
        "event_id": pa.array([1, 2, 3], type=pa.int64()),
        "ts": pa.array([t0, t0 + gap, t0 + 3 * gap], type=pa.timestamp("us")),
        "user_id": pa.array([42, 42, 42], type=pa.int64()),
        "event_type": ["click"] * 3,
        "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
        "props": ["{}"] * 3,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    got = sorted(
        event_windows.q_events_session(spark, str(tmp_path)).collect(),
        key=lambda r: r["session_start"],
    )
    # events 1+2 (exactly gap apart) merge; event 3 (2 gaps later) splits
    assert [r["n_events"] for r in got] == [2, 1]
    con = ddb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    d = con.execute(event_windows.Q_EVENTS_SESSION_SQL).fetchall()
    assert sorted(r[3] for r in d) == [1, 2]  # n_events per session
