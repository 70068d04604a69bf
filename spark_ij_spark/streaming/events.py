"""Structured Streaming operators over the ``events`` stream.

The reference is Spark 2.0.1-era RDD code with no streaming surface
(SURVEY.md §2.8); these are the north-star stream ops: watermarked
tumbling / sliding / session windows plus a custom stateful per-user
aggregate via ``applyInPandasWithState``.

Every op is defined on a DataFrame so the identical transformation
composes with either a streaming source (``read_events_stream``) or
the batch loader — the equivalence test drives both and asserts equal
results, which is this module's correctness oracle (streaming results
are not SQL-expressible for the DuckDB gate; the driver records
rows-only checks for the batch twins in event_windows.py instead).

Scale: windowed aggs shuffle once on (window, key) with partial
aggregation; watermarks bound state. Session windows and the stateful
op keep per-key state in the state store — at 100 TB/day you size
state by keys × retention, not data volume, and RocksDB state store +
watermark eviction keep it flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ij_spark.operators.relational import dsum
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Raw parquet schema with ts as read_events_stream's probe found it:
# timestamp_ntz for a TIMESTAMP(MICROS, isAdjustedToUTC=false) column,
# long for a nanos-long column.
def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )

DEFAULT_WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over events parquet (ts comes out as the
    same micros timestamp as the batch loader's, so both sides see
    identical ts).
    ``max_files_per_trigger=1`` replays multi-file directories one
    micro-batch per file — arrival order for watermark tests."""
    # Probe how these files store ts (batch schema read is footer-only,
    # no data scan) and mirror it in the stream schema: events.parquet's
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as timestamp_ntz,
    # other event files carry ts as a nanos long.
    probe = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema["ts"].dataType
    )
    reader = spark.readStream.schema(_events_raw_schema(probe)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if isinstance(probe, LongType):
        # nanos long: truncate to micros exactly like DuckDB (integer
        # DIV, not ts/1000, which is double division in Spark SQL).
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # timestamp_ntz (stored as micros): pin to session-tz timestamp
    # (UTC) so batch and stream schemas agree.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Per-(hour, event_type) count/sum with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # the batch twins' ACTUAL dsum (not a re-implementation):
            # NULL/NaN/Inf readings count as events but contribute no
            # value, all-invalid windows sum to 0.0, and the decimal
            # accumulation is order-exact — a raw SUM(value) would
            # let one NaN reading poison the whole window's sum.
            dsum("value", 2, "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Overlapping 1h windows every 30min; each event lands in
    window/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # batch twins' dsum: see tumbling_counts
            dsum("value", 2, "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Per-user session windows: an event at up to and INCLUDING
    ``last_ts + gap`` extends the session (Spark's session_window
    merges the exact-boundary event — the CLAUDE.md inclusive-boundary
    rule; gaps-and-islands twins must split on strict ``>``); window
    end = last + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # batch twins' dsum: see tumbling_counts
            dsum("value", 2, "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


USER_TOTAL_SCHEMA = "user_id long, n_events long, sum_value double"
_STATE_SCHEMA = "n long, s double"


def _user_totals_fn(key, pdf_iter, state):
    """applyInPandasWithState body: cumulative per-user totals."""
    import pandas as pd

    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + value
    total, state kept across micro-batches (the
    ``applyInPandasWithState`` pattern for operators Spark lacks).

    Projected to (user_id, value) BEFORE the stateful op: Spark cannot
    see which columns the Python body touches, so an unprojected frame
    ships every column through the groupBy shuffle AND the Arrow
    boundary (props alone is ~23% of the row bytes; the guide §4.1
    rule the interval joins already follow)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        USER_TOTAL_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


TRANSITIONS_OUTPUT_SCHEMA = "user_id long, from_type string, to_type string, n long"
_TRANS_STATE_SCHEMA = "ts timestamp, eid long, tp string"


def _transitions_fn(key, pdf_iter, state):
    """applyInPandasWithState body: per-user consecutive-pair DELTA
    counts for this micro-batch, with the user's last event carried in
    state so pairs spanning a batch boundary are counted exactly once."""
    import pandas as pd

    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        return
    rows = pd.concat(pdfs, ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    prev = state.get[2] if state.exists else None
    counts: dict[tuple[str, str], int] = {}
    for tp in rows["event_type"]:
        if prev is not None:
            counts[(prev, tp)] = counts.get((prev, tp), 0) + 1
        prev = tp
    last = rows.iloc[-1]
    state.update(
        (last["ts"].to_pydatetime(), int(last["event_id"]), str(last["event_type"]))
    )
    yield pd.DataFrame(
        [
            {"user_id": key[0], "from_type": a, "to_type": b, "n": n}
            for (a, b), n in counts.items()
        ]
    )


def user_transitions(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch Markov transition matrix
    (``event_windows.q_events_transitions``): custom stateful operator
    emitting per-user (from_type → to_type) pair-count DELTAS each
    micro-batch; state is ONE row per user (the last event seen), so
    state size is O(users), not O(history).

    Ordering contract: within a micro-batch rows sort by the same
    total order as the batch twin (ts, event_id); ACROSS batches the
    operator assumes per-user in-order delivery (file streams replayed
    in arrival order — the usual log-ingest contract). Under
    out-of-order delivery the boundary pair may differ from the batch
    twin; a watermark-buffered reorder would be the fix, at the cost
    of O(buffer) state.

    Projected to the four columns the body reads before the stateful
    op (see user_running_totals for the shuffle/Arrow rationale)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        _transitions_fn,
        TRANSITIONS_OUTPUT_SCHEMA,
        _TRANS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


CDC_OUTPUT_SCHEMA = (
    "user_id long, last_event_id long, last_type string,"
    " last_ts timestamp, n_changes long, first_ts timestamp"
)
_CDC_STATE_SCHEMA = (
    "ts timestamp, eid long, tp string, n long, fts timestamp"
)


def _latest_state_fn(key, pdf_iter, state):
    """applyInPandasWithState body: maintain each user's latest event
    (max (ts, event_id)), change count, and first-seen timestamp;
    emit the updated state row every micro-batch."""
    import pandas as pd

    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        return
    rows = pd.concat(pdfs, ignore_index=True)
    top = rows.sort_values(["ts", "event_id"], kind="mergesort").iloc[-1]
    b_first = rows["ts"].min()
    if state.exists:
        ts, eid, tp, n, fts = state.get
        if (top["ts"].to_pydatetime(), int(top["event_id"])) > (ts, eid):
            ts, eid, tp = (
                top["ts"].to_pydatetime(),
                int(top["event_id"]),
                str(top["event_type"]),
            )
        n += len(rows)
        fts = min(fts, b_first.to_pydatetime())
    else:
        ts, eid, tp = (
            top["ts"].to_pydatetime(),
            int(top["event_id"]),
            str(top["event_type"]),
        )
        n, fts = len(rows), b_first.to_pydatetime()
    state.update((ts, eid, tp, n, fts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_event_id": [eid],
            "last_type": [tp],
            "last_ts": [ts],
            "n_changes": [n],
            "first_ts": [fts],
        }
    )


def user_latest_state(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch CDC compaction
    (``event_windows.q_events_cdc_state``): a continuously-maintained
    "current state per user" table from the append-only change log.
    State is ONE fixed-width row per user (O(users), not O(history)).

    Unlike the transitions operator this one is ORDER-INSENSITIVE
    across batches: the latest event is selected by comparing
    (ts, event_id) against the carried state, so late or out-of-order
    delivery converges to the same final state as the batch twin.

    Projected to the four columns the body reads before the stateful
    op (see user_running_totals for the shuffle/Arrow rationale)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        _latest_state_fn,
        CDC_OUTPUT_SCHEMA,
        _CDC_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event
    within the watermark horizon (`dropDuplicatesWithinWatermark` —
    state is bounded by the watermark, the streaming twin of the batch
    hash-groupBy dedup in operators/dedup.py)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


HWM_OUTPUT_SCHEMA = "user_id long, event_id long, value double, prev_max double"


def _hwm_scan(key, pdf, mx, out):
    """Record scan of one user's batch for :func:`user_high_watermarks`:
    appends each new record to ``out`` and returns the updated max. A
    NULL/NaN/±Inf reading is missing data, not a record (CLAUDE.md
    NaN-is-missing rule) — and must never enter state:
    a stored NaN max would turn every subsequent `v > mx` comparison
    False and permanently suppress the user's genuine new records."""
    import math

    pdf = pdf.sort_values(["ts", "event_id"])
    for eid, v in zip(pdf["event_id"], pdf["value"]):
        fv = None if v is None else float(v)
        if fv is None or not math.isfinite(fv):
            continue
        if mx is None or fv > mx:
            out.append(
                {
                    "user_id": key[0],
                    "event_id": eid,
                    "value": fv,
                    "prev_max": mx,
                }
            )
            mx = fv
    return mx


def _hwm_fn(key, pdf_iter, state):
    """applyInPandasWithState body of :func:`user_high_watermarks`."""
    import pandas as pd

    (mx,) = state.get if state.exists else (None,)
    out = []
    for pdf in pdf_iter:
        mx = _hwm_scan(key, pdf, mx, out)
    if mx is not None:  # all-invalid batch: no state to create
        state.update((mx,))
    yield pd.DataFrame(
        out, columns=["user_id", "event_id", "value", "prev_max"]
    )


def user_high_watermarks(events: DataFrame) -> DataFrame:
    """New-record detector via ``applyInPandasWithState`` (works with
    the default state store): emits (user, event, value, prev_max)
    whenever a user's event value sets a new personal record. Not
    expressible as a windowed aggregate — the emitted rows depend on
    running state. State is one double per user: flat at any event
    volume. Projected to the four columns _hwm_scan reads (see
    user_running_totals for the shuffle/Arrow rationale)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select(
        "user_id", "ts", "event_id", "value"
    ).groupBy("user_id").applyInPandasWithState(
        _hwm_fn,
        HWM_OUTPUT_SCHEMA,
        "mx double",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _interval_join(
    events: DataFrame, lookback: str, watermark: str, how: str
) -> DataFrame:
    """Shared body of the inner/left-outer interval joins: purchase and
    click projections, per-side watermarks, and the state-evicting
    [p_ts - lookback, p_ts) condition live HERE once — a lookback or
    watermark fix edited in one variant can no longer leave the other
    stale."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return p.join(
        c,
        F.expr(
            f"p_user_id = c_user_id"
            f" AND c_ts >= p_ts - interval {lookback}"
            f" AND c_ts < p_ts"
        ),
        how,
    ).select("p_event_id", "p_user_id", "p_ts", "p_value", "c_ts", "c_value")


def interval_join_purchase_click(
    events: DataFrame,
    lookback: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the trailing ``lookback`` window (attribution
    candidates — the streaming sibling of the batch as-of / range joins
    in ``operators/event_windows.py``).

    Both sides carry watermarks, and the join condition bounds c_ts to
    [p_ts - lookback, p_ts), so Spark can size and evict join state:
    a click is droppable once the watermark passes its ts + lookback.
    Unbounded-state stream joins (no time bound) do not survive a real
    workload; the interval bound is what makes this a 100 TB/day op."""
    return _interval_join(events, lookback, watermark, "inner")


def interval_join_left_outer(
    events: DataFrame,
    lookback: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    with its trailing-window click when one exists, with NULL click
    columns otherwise. The outer row is emitted only when the
    watermark passes the purchase's matchable horizon (no future click
    can still land in [p_ts - lookback, p_ts)), which is exactly the
    state-eviction point — the unmatched-row semantics inner joins
    silently drop, and what an attribution pipeline needs to count
    "organic" purchases correctly.

    Same state-size story as the inner variant: the interval bound
    makes join state evictable; outer emission rides the same
    watermark, costing nothing extra. In batch the same expression
    degrades to a plain left join (watermark is a no-op), which the
    stream==batch pytest exploits."""
    return _interval_join(events, lookback, watermark, "leftOuter")


def write_batch_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """The foreachBatch body: write micro-batch ``batch_id`` into its
    own ``batch_id=N`` partition directory with OVERWRITE semantics.
    A replay of the same batch (failure between sink write and offset
    commit — the classic at-least-once window) rewrites the same
    directory instead of appending duplicates, upgrading any
    non-transactional sink to effectively-once."""
    df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def write_idempotent_parquet(
    stream: DataFrame, path: str, checkpoint: str
) -> None:
    """Exactly-once file egress for sinks without transactions: the
    checkpointed source offsets give replay, and the batch-id-keyed
    overwrite in ``write_batch_idempotent`` gives idempotence — the
    two halves of the standard foreachBatch exactly-once recipe. Runs
    to completion with availableNow (tests replay the batch body
    directly to prove duplicate-freedom)."""
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: write_batch_idempotent(df, bid, path)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(
    df: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Execute a streaming DataFrame to completion (availableNow) into
    an in-memory table for inspection/tests."""
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
