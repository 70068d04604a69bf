"""Structured Streaming ops: stream(availableNow) == batch equivalence.

The streaming module's correctness oracle is the batch twin — the
identical transformation applied via the batch loader must produce the
same rows once the stream drains (this mirrors the reference's
distributed-equals-local test strategy, SpijiTests.scala:312-343).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_ij_spark.session import load_tables
from spark_ij_spark.streaming import events as se

from .conftest import SF_DIR


def _batch_events(spark):
    return load_tables(spark, SF_DIR, ["events"])["events"]


def _drain(spark, stream_df, name, mode="complete"):
    se.run_to_memory(stream_df, name, output_mode=mode)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _approx_rows(a, b, tol=1e-9):
    """Row-set equality with tolerance on float fields: the streaming
    state store and the batch hash aggregate may accumulate float sums
    in different orders, so exact == on sum_value is flaky."""
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb)
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert va == pytest.approx(vb, rel=tol, abs=tol)
            else:
                assert va == vb


@pytest.mark.parametrize(
    "op,cols",
    [
        (
            se.tumbling_counts,
            ["window_start", "window_end", "event_type", "n_events", "sum_value"],
        ),
        (
            se.sliding_counts,
            ["window_start", "window_end", "event_type", "n_events", "sum_value"],
        ),
    ],
)
def test_windowed_stream_equals_batch(spark, op, cols):
    name = f"mem_{op.__name__}"
    got = _drain(spark, op(se.read_events_stream(spark, SF_DIR)), name)
    want = op(_batch_events(spark))
    _approx_rows(_rows(got, cols), _rows(want, cols))


def test_session_stream_equals_batch(spark):
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    got = _drain(
        spark,
        se.session_stats(se.read_events_stream(spark, SF_DIR)),
        "mem_sessions",
    )
    want = se.session_stats(_batch_events(spark))
    _approx_rows(_rows(got, cols), _rows(want, cols))


def test_stateful_running_totals_equal_batch_aggregate(spark):
    got = _drain(
        spark,
        se.user_running_totals(se.read_events_stream(spark, SF_DIR)),
        "mem_totals",
        mode="update",
    )
    want = (
        _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    g = {r.user_id: (r.n_events, r.sum_value) for r in got.collect()}
    w = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert set(g) == set(w)
    for uid in w:
        assert g[uid][0] == w[uid][0]
        assert abs(g[uid][1] - w[uid][1]) < 1e-6


def test_streaming_dedup_drops_redeliveries(spark):
    """A stream unioned with itself (every event delivered twice)
    dedupes back to the original cardinality."""
    s = se.read_events_stream(spark, SF_DIR)
    doubled = s.union(se.read_events_stream(spark, SF_DIR))
    got = _drain(
        spark,
        se.dedup_events_stream(doubled),
        "mem_dedup",
        mode="append",
    )
    want = _batch_events(spark).count()
    assert got.count() == want
    assert got.select("event_id").distinct().count() == want


def test_high_watermarks_equal_batch(spark):
    """applyInPandasWithState running-max detector == the batch window
    formulation (prev-max over (ts, event_id) order)."""
    from pyspark.sql.window import Window

    got = _drain(
        spark,
        se.user_high_watermarks(se.read_events_stream(spark, SF_DIR)),
        "mem_hwm",
        mode="append",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = (
        _batch_events(spark)
        .withColumn("prev_max", F.max("value").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max")))
        .select("user_id", "event_id", "value", "prev_max")
    )
    cols = ["user_id", "event_id", "value", "prev_max"]
    assert _rows(got, cols) == _rows(want, cols)


def test_interval_join_stream_equals_batch(spark):
    """Stream-stream interval join (purchase ← trailing clicks) drains
    to the same row set as the identical transformation on the batch
    frame."""
    cols = ["p_event_id", "p_user_id", "p_ts", "p_value", "c_ts", "c_value"]
    got = _drain(
        spark,
        se.interval_join_purchase_click(se.read_events_stream(spark, SF_DIR)),
        "mem_interval_join",
        mode="append",
    )
    want = se.interval_join_purchase_click(_batch_events(spark))
    assert _rows(got, cols) == _rows(want, cols)


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Watermark semantics end-to-end: a second file whose events are
    far behind the advanced watermark is dropped from the windowed
    aggregate, while the equivalent batch computation counts it."""
    import pyspark.sql.functions as SF

    import shutil
    import time

    base_us = 1_700_000_000_000_000  # an arbitrary fixed epoch
    hour_ns = 3_600_000_000_000

    def mk_file(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))

    # file A: events in hours 0 and 5 → post-batch watermark = hour 3
    mk_file(
        "a",
        [
            (1, base_us * 1000, 1, "click", 1.0, "{}"),
            (2, base_us * 1000 + 5 * hour_ns, 1, "click", 1.0, "{}"),
        ],
    )
    # file B: hour-1 event (the watermark takes effect one batch after
    # the update, so this one is still accepted — Spark semantics)
    mk_file("b", [(3, base_us * 1000 + 1 * hour_ns, 1, "click", 1.0, "{}")])
    # file C: another hour-0 event, now firmly behind the watermark
    mk_file("c", [(4, base_us * 1000, 1, "click", 1.0, "{}")])

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for sub, out in (("a", "f_a.parquet"), ("b", "f_b.parquet"), ("c", "f_c.parquet")):
        src = next((tmp_path / sub).glob("part-*.parquet"))
        shutil.copy(src, stream_dir / out)
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    stream = se.read_events_stream(
        spark, str(stream_dir), glob="*.parquet", max_files_per_trigger=1
    )
    agg = se.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    se.run_to_memory(agg, "mem_late", output_mode="append")
    got = sorted(
        (r.window_start, r.n_events) for r in spark.table("mem_late").collect()
    )
    # Emitted: hour-0 (n=1, event 1 only) and hour-1 (n=1) once the
    # watermark closes them; event 4 is dropped by the watermark — if
    # it were accepted, the already-finalized hour-0 window would
    # re-emit as a duplicate row. Hour-5 stays in state (never closes).
    assert [n for _, n in got] == [1, 1], f"unexpected emission: {got}"
    assert len({w for w, _ in got}) == 2  # two distinct closed windows

    batch_total = spark.read.parquet(str(stream_dir)).count()
    assert batch_total == 4  # batch (no watermark) sees all four


def test_watermark_present_in_plan(spark):
    stream = se.tumbling_counts(se.read_events_stream(spark, SF_DIR))
    assert "EventTimeWatermark" in stream._jdf.queryExecution().analyzed().toString()


# --- streaming documents ingest (filter-on-ingest) ---------------------


def test_streaming_quality_filter_equals_batch(spark):
    """The map-only Gopher+C4 filter must produce the identical keep
    set on a file stream and on the batch frame (trigger-agnostic)."""
    from spark_ij_spark.streaming import documents as sd

    stream = sd.clean_stream(sd.read_documents_stream(spark, SF_DIR))
    got = _drain(spark, stream, "docs_clean_stream", mode="append")
    batch = sd.clean_stream(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    cols = ["doc_id", "lang", "source", "n_chars"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert got.count() > 0  # non-vacuous at the test SF


def test_streaming_source_audit_consistent(spark):
    """Complete-mode per-source audit: totals equal the batch filter's
    accounting, and kept <= each individual rule's pass count."""
    from spark_ij_spark.streaming import documents as sd

    stream = sd.source_audit(sd.read_documents_stream(spark, SF_DIR))
    got = _drain(spark, stream, "docs_audit_stream", mode="complete")
    batch = sd.source_audit(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    cols = ["source", "n_seen", "n_pass_gopher", "n_pass_c4", "n_kept"]
    assert _rows(got, cols) == _rows(batch, cols)
    for r in got.collect():
        assert r.n_kept <= min(r.n_pass_gopher, r.n_pass_c4)


def test_streaming_filter_agrees_with_batch_ops(spark):
    """Drift guard: the stream-side expressions must agree with the
    batch operators' accounting (q_pipeline_c4_filter n_kept per
    source; q_pipeline_gopher_quality n_kept overall)."""
    from spark_ij_spark.operators import pipeline as bp
    from spark_ij_spark.streaming import documents as sd

    audit = {
        r.source: r
        for r in sd.source_audit(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ).collect()
    }
    c4 = {r.source: r for r in bp.q_pipeline_c4_filter(spark, SF_DIR).collect()}
    assert set(audit) == set(c4)
    for src, r in c4.items():
        assert audit[src].n_pass_c4 == r.n_kept
    gopher_total = sum(
        r.n_kept for r in bp.q_pipeline_gopher_quality(spark, SF_DIR).collect()
    )
    assert sum(r.n_pass_gopher for r in audit.values()) == gopher_total


def test_transitions_stream_equals_batch(spark):
    """Summing the stateful operator's per-batch deltas over users
    reproduces the batch transition matrix exactly (single
    availableNow batch: all pairs are intra-batch)."""
    from spark_ij_spark.operators import event_windows

    stream = se.read_events_stream(spark, SF_DIR)
    _drain(spark, se.user_transitions(stream), "mem_trans", mode="update")
    got: dict[tuple[str, str], int] = {}
    for r in spark.table("mem_trans").collect():
        k = (r.from_type, r.to_type)
        got[k] = got.get(k, 0) + r.n
    want = {
        (r.from_type, r.to_type): r.n
        for r in event_windows.q_events_transitions(spark, SF_DIR).collect()
    }
    assert got == want and want


def test_latest_state_stream_equals_batch(spark):
    """The LAST emitted state row per user (update mode appends one
    row per user per batch) must equal the batch CDC compaction."""
    from spark_ij_spark.operators import event_windows

    stream = se.read_events_stream(spark, SF_DIR)
    _drain(spark, se.user_latest_state(stream), "mem_cdc", mode="update")
    # update-mode memory sink appends; keep each user's last emission
    got = {}
    for r in spark.table("mem_cdc").collect():
        got[r.user_id] = (
            r.last_event_id,
            r.last_type,
            r.last_ts,
            r.n_changes,
            r.first_ts,
        )
    want = {
        r.user_id: (r.last_event_id, r.last_type, r.last_ts, r.n_changes, r.first_ts)
        for r in event_windows.q_events_cdc_state(spark, SF_DIR).collect()
    }
    assert got == want and want


def test_latest_state_out_of_order_converges(spark, tmp_path):
    """CDC state is order-insensitive: delivering the NEWEST event in
    the FIRST micro-batch and an older one later still converges to
    the true latest state (contrast with the in-order transitions
    contract)."""
    import shutil
    import time

    base_us = 1_700_000_000_000_000

    def mk_file(name, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))

    # newest event arrives first; stale event arrives in batch 2
    mk_file("a", [(9, (base_us + 5_000_000) * 1000, 1, "purchase", 1.0, "{}")])
    mk_file("b", [(1, base_us * 1000, 1, "click", 1.0, "{}")])
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for sub, out in (("a", "f_a.parquet"), ("b", "f_b.parquet")):
        src = next((tmp_path / sub).glob("part-*.parquet"))
        shutil.copy(src, stream_dir / out)
        time.sleep(1.1)

    stream = se.read_events_stream(
        spark, str(stream_dir), glob="*.parquet", max_files_per_trigger=1
    )
    _drain(spark, se.user_latest_state(stream), "mem_cdc2", mode="update")
    rows = spark.table("mem_cdc2").collect()
    final = max(rows, key=lambda r: r.n_changes)
    assert final.last_event_id == 9 and final.last_type == "purchase"
    assert final.n_changes == 2
    assert final.first_ts < final.last_ts


def test_idempotent_sink_survives_batch_replay(spark, tmp_path):
    """foreachBatch exactly-once recipe: after a normal run, replaying
    a batch body with the same batch_id (the at-least-once failure
    window) leaves the sink byte-identical — no duplicates; and the
    sink content equals the source."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = se.read_events_stream(spark, SF_DIR)
    se.write_idempotent_parquet(stream, out, ckpt)
    total = spark.read.parquet(out).count()
    (want,) = [r[0] for r in _batch_events(spark).agg(F.count("*")).collect()]
    assert total == want
    # simulate redelivery: re-run the batch body with the same id
    replay = load_tables(spark, SF_DIR, ["events"])["events"]
    se.write_batch_idempotent(replay, 0, out)
    assert spark.read.parquet(out).count() == want
    # a naive append sink would have doubled:
    replay.write.mode("append").parquet(f"{out}/batch_id=0")
    assert spark.read.parquet(out).count() > want  # control: append DOES dup


def test_transitions_state_spans_batches(spark, tmp_path):
    """A user sequence split across two ordered micro-batches still
    counts the boundary pair exactly once (the carried-state path)."""
    import shutil
    import time

    base_us = 1_700_000_000_000_000

    def mk_file(name, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))

    mk_file(
        "a",
        [
            (1, base_us * 1000, 1, "click", 1.0, "{}"),
            (2, (base_us + 1_000_000) * 1000, 1, "view", 1.0, "{}"),
        ],
    )
    mk_file("b", [(3, (base_us + 2_000_000) * 1000, 1, "purchase", 1.0, "{}")])
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for sub, out in (("a", "f_a.parquet"), ("b", "f_b.parquet")):
        src = next((tmp_path / sub).glob("part-*.parquet"))
        shutil.copy(src, stream_dir / out)
        time.sleep(1.1)

    stream = se.read_events_stream(
        spark, str(stream_dir), glob="*.parquet", max_files_per_trigger=1
    )
    _drain(spark, se.user_transitions(stream), "mem_trans2", mode="update")
    got = {
        (r.from_type, r.to_type): r.n for r in spark.table("mem_trans2").collect()
    }
    # batch 1 emits click->view; batch 2 emits view->purchase via the
    # state-carried last event — never a duplicate or a miss
    assert got == {("click", "view"): 1, ("view", "purchase"): 1}


def test_interval_join_left_outer_emits_unmatched_on_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: a purchase with no
    trailing click must emit a NULL-click row once the watermark
    passes its horizon; matched purchases emit with their click. A
    far-future sentinel file advances both watermarks so the no-data
    finalization batch flushes the outer state; the sentinel itself
    stays in state (stream ends before its horizon) and must NOT
    appear. The same expression on the batch frame (watermark no-op →
    plain left join) is the oracle."""
    import shutil
    import time

    base_us = 1_700_000_000_000_000
    sec_ns = 1_000_000_000
    day_ns = 86_400 * sec_ns

    def mk_file(name, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))

    t0 = base_us * 1000
    mk_file(
        "a",
        [
            (1, t0 + 60 * sec_ns, 1, "click", 1.0, "{}"),
            (2, t0 + 120 * sec_ns, 1, "purchase", 5.0, "{}"),   # matched
            (3, t0 + 120 * sec_ns, 2, "purchase", 7.0, "{}"),   # no click
        ],
    )
    # sentinel: advances BOTH sides' watermarks; click precedes nothing
    # and purchase has no trailing click, so neither can inner-match
    mk_file(
        "b",
        [
            (100, t0 + 10 * day_ns, 99, "purchase", 0.0, "{}"),
            (101, t0 + 10 * day_ns + 60 * sec_ns, 99, "click", 0.0, "{}"),
        ],
    )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for sub, out in (("a", "f_a.parquet"), ("b", "f_b.parquet")):
        src = next((tmp_path / sub).glob("part-*.parquet"))
        shutil.copy(src, stream_dir / out)
        time.sleep(1.1)

    stream = se.read_events_stream(
        spark, str(stream_dir), glob="*.parquet", max_files_per_trigger=1
    )
    got = _drain(
        spark, se.interval_join_left_outer(stream), "mem_loj", mode="append"
    )
    cols = ["p_event_id", "p_user_id", "p_ts", "p_value", "c_ts", "c_value"]
    got_rows = _rows(got.where("p_event_id < 100"), cols)

    batch = se.interval_join_left_outer(
        spark.read.parquet(str(stream_dir)).selectExpr(
            "event_id", "timestamp_micros(CAST(ts / 1000 AS BIGINT)) AS ts",
            "user_id", "event_type", "value", "props"
        )
    )
    want_rows = _rows(batch.where("p_event_id < 100"), cols)
    assert got_rows == want_rows
    assert len(got_rows) == 2
    by_id = {r[0]: r for r in got_rows}
    assert by_id[2][4] is not None and by_id[2][5] == 1.0  # matched click
    assert by_id[3][4] is None and by_id[3][5] is None     # outer NULLs
    # sentinel never emits (horizon beyond end-of-stream watermark)
    assert got.where("p_event_id >= 100").count() == 0


def test_documents_ingest_audit_matches_oracle(spark, duck):
    """The batch twin of the streaming ingest audit is driver-graded;
    gate its DuckDB oracle locally too (stream==batch tests never
    execute the SQL side, so a one-sided expression retune would pass
    the suite and fail only at grading time)."""
    from spark_ij_spark.streaming import documents as sd

    from .conftest import assert_oracle_match

    assert_oracle_match(
        spark,
        duck,
        sd.QUERIES["documents_ingest_audit"],
        sd.ORACLES["documents_ingest_audit"],
    )


def test_hwm_scan_skips_invalid_readings():
    """A NULL/NaN/Inf reading is missing data, not a record — and must
    never enter the high-watermark state: a stored NaN max turns every
    later `v > mx` comparison False and permanently suppresses the
    user's genuine records (round-8 streaming review)."""
    import pandas as pd

    from spark_ij_spark.streaming import events as se

    pdf = pd.DataFrame(
        {
            "ts": [1, 2, 3, 4, 5],
            "event_id": [10, 11, 12, 13, 14],
            "value": [float("nan"), 5.0, None, float("inf"), 7.0],
        }
    )
    out = []
    mx = se._hwm_scan((42,), pdf, None, out)
    assert mx == 7.0
    got = [(r["event_id"], r["value"], r["prev_max"]) for r in out]
    assert got == [(11, 5.0, None), (14, 7.0, 5.0)]
    # an all-invalid batch leaves state untouched (None stays None)
    out2 = []
    pdf2 = pdf.iloc[[0, 2, 3]]
    assert se._hwm_scan((42,), pdf2, None, out2) is None
    assert out2 == []
