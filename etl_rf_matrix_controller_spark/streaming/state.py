"""Stateful streaming: last-write-wins keyed state, sharded per key.

Reference semantics: the background poller replaces the route map wholesale
every 5 s (etl_controller.py:2793-2807, 3040-3084); a point write
overwrites one key (:2444).

Spark re-expression (T2): a keyed state store updated per micro-batch --
the sharded keyed-state adapter (streaming/keyed_state.py) keeps, per
key, the (ts, event_id)-max record; each batch emits the key's current
best in update mode.  With the ``availableNow`` trigger over the same
parquet, the final emission per key must equal the batch
``route_latest_state`` -- asserted in tests/test_streaming.py (the
batch==stream contract for state ops, which have no SQL oracle).

Scale: state is hash-partitioned by key into a bounded number of shards
(one state row and one pandas group per shard, not per key) across
executors -- memory per executor is O(keys/executors), the same layout
the batch window-dedup shuffle uses.  Every op here runs through that
adapter except stream_state_ttl_expiry, whose event-time timeout is per
key.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.sources.tables import (
    normalize_events_ts,
    parquet_schema,
)
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
    per_entity,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    _events_stream,
    run_stream_to_memory,
)

STATE_SCHEMA = StructType(
    [
        StructField("ts_micros", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)


def _last_emission(tbl: DataFrame, key: str, *order: str) -> DataFrame:
    """Update mode appends one row per key per micro-batch; the row that
    sorts first on ``order`` (each column descending) is the key's final
    state."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])
    return tbl.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )


def _update_latest(user, best, rows):
    """Keep the (ts, event_id)-max record per key; emit current best."""
    import pandas as pd

    top = rows.iloc[-1]
    cand = (
        top["ts"].value // 1000,
        int(top["event_id"]),
        str(top["event_type"]),
        float(top["value"]),
    )
    if best is None or (cand[0], cand[1]) > (best[0], best[1]):
        best = cand
    # value emitted RAW: Python round() is half-to-even on binary
    # doubles and diverges from Spark's F.round on .xx5 boundaries;
    # the batch-parity caller applies Spark-side rounding itself.
    ts = pd.Timestamp(best[0], unit="us")
    return best, [(user, best[1], best[2], best[3], ts)]


def stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 under real Structured Streaming: keyed state, update mode,
    availableNow; returns the final per-key state as a batch DataFrame."""
    updates = apply_keyed_state(
        _events_stream(spark, sf_dir), "user_id", ("ts", "event_id"),
        per_entity(_update_latest), OUTPUT_SCHEMA, STATE_SCHEMA,
    )
    tbl = run_stream_to_memory(updates, spark, "update")
    # (last_ts, last_event_id) is the same total order the state update
    # used, so the newest emission per key wins even under ts ties.
    return (
        _last_emission(tbl, "user_id", "last_ts", "last_event_id")
        .select(
            "user_id",
            "last_event_type",
            F.round("last_value", 2).alias("last_value"),
            "last_ts",
        )
    )


EMA_STATE_SCHEMA = StructType(
    [StructField("ema", DoubleType()), StructField("n", LongType())]
)
EMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ema_value", DoubleType()),
    ]
)


def _update_ema(user, prev, rows):
    """Fold alpha=0.3 EMA over (ts, event_id)-ordered values; state holds
    one (ema, count) scalar pair per key -- O(1) state per key, the shape
    that scales where the batch collect_list cannot."""
    ema, n = prev or (None, 0)
    for v in rows["value"].astype("float64").tolist():
        # Identical double recurrence to the batch/oracle fold
        # (0.3e0 * x + (1e0 - 0.3e0) * acc): same literals, same
        # order, bit-identical result.
        ema = v if ema is None else 0.3 * v + (1 - 0.3) * ema
        n += 1
    return (ema, n), [(user, n, ema)]


def stream_ema_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op: per-user EMA as sharded keyed state
    (update mode, availableNow); returns the final per-key emission as a
    batch DataFrame, comparable to operators.behavior.ema_user_value."""
    events = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    updates = apply_keyed_state(
        events, "user_id", ("ts", "event_id"), per_entity(_update_ema),
        EMA_OUTPUT_SCHEMA, EMA_STATE_SCHEMA,
    )
    tbl = run_stream_to_memory(updates, spark, "update")
    # n_events is strictly increasing per key across emissions, so the
    # max-n row per key is the final state.
    return _last_emission(tbl, "user_id", "n_events").select(
        "user_id", "n_events", "ema_value"
    )


# ---------------------------------------------------------------------------
# End-to-end: frame-protocol stream -> parse -> keyed route state
# ---------------------------------------------------------------------------

FRAME_STATE_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("in_id", LongType()),
        StructField("weight", LongType()),
        StructField("door_open", StringType()),
    ]
)
FRAME_OUT_SCHEMA = StructType(
    [
        StructField("out_id", LongType()),
        StructField("frame_id", LongType()),
        StructField("in_id", LongType()),
        StructField("weight", LongType()),
        StructField("door_open", StringType()),
    ]
)


def _update_route(out_id, best, rows):
    """Last-writer-wins per out_id, ordered by frame_id -- the
    reference's route map update loop (etl_controller.py:615-623) as
    keyed streaming state."""
    top = rows.iloc[-1]
    cand = (
        int(top["frame_id"]),
        int(top["in_id"]),
        int(top["weight"]),
        str(top["door_open"]),
    )
    if best is None or cand[0] > best[0]:
        best = cand
    return best, [(out_id, *best)]


def parse_frames(df: DataFrame) -> DataFrame:
    """frame string -> (out_id, in_id, weight, door_open); shared by the
    batch and streaming forms so the two can never diverge."""
    from etl_rf_matrix_controller_spark.functions.regex_extract import _FRAME_RE

    g = lambda i: F.regexp_extract("frame", _FRAME_RE, i)  # noqa: E731
    return df.select(
        "frame_id",
        g(1).cast("long").alias("out_id"),
        g(2).cast("long").alias("in_id"),
        g(3).cast("long").alias("weight"),
        g(4).alias("door_open"),
    )


def stream_route_state_from_frames(
    spark: SparkSession, frames: int = 60, batch_size: int = 25
) -> DataFrame:
    """The reference's whole ingest loop, Spark-shaped end to end:
    frame-protocol STREAM (custom SimpleDataSourceStreamReader) ->
    checksummed-frame regex parse -> keyed last-writer-wins state
    (streaming/keyed_state.py) -> final route map.

    Micro-batches of ``batch_size`` frames update per-route state
    incrementally, exactly as the controller applies each polled frame
    to its route matrix; the batch twin (read the same feed, window
    argmax) must agree row-for-row, pinned in tests.

    The one memory-sink drain not on ``run_stream_to_memory``: under an
    ``availableNow`` trigger this Python simple stream reader delivers
    only its first ``read()`` (``batch_size`` frames, one micro-batch, on
    Spark 4.1.2), so the query drains with processAllAvailable instead.
    """
    from etl_rf_matrix_controller_spark.sources.frame_source import register

    register(spark)
    raw = (
        spark.readStream.format("frame_protocol")
        .option("frames", frames)
        .option("batchSize", batch_size)
        .load()
    )
    updates = apply_keyed_state(
        parse_frames(raw), "out_id", ("frame_id",),
        per_entity(_update_route), FRAME_OUT_SCHEMA, FRAME_STATE_SCHEMA,
    )
    name = f"sink_{uuid.uuid4().hex}"
    q = (
        updates.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        tbl = spark.table(name)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    return _last_emission(tbl, "out_id", "frame_id").drop("rn")


TTL_STATE_SCHEMA = StructType(
    [StructField("last_tsm", LongType()), StructField("n", LongType())]
)
TTL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("n_events", LongType()),
        StructField("status", StringType()),
    ]
)


def _make_ttl_updater(ttl_seconds: int):
    def _update_ttl(key, pdf_iter, state: GroupState):
        """Keyed liveness state with an event-time TTL: active keys track
        (last_ts, n_events); a key idle past the TTL once the watermark
        passes expires -- emitted as a tombstone and its state removed."""
        import pandas as pd

        if state.hasTimedOut:
            last_tsm, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "last_ts": [pd.Timestamp(last_tsm, unit="us")],
                    "n_events": [n],
                    "status": ["expired"],
                }
            )
            return
        last_tsm, n = state.get if state.exists else (None, 0)
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            tsm = pdf["ts"].astype("int64") // 1000
            mx = int(tsm.max())
            if last_tsm is None or mx > last_tsm:
                last_tsm = mx
            n += len(pdf)
        if last_tsm is not None:
            state.update((last_tsm, n))
            state.setTimeoutTimestamp(last_tsm // 1000 + ttl_seconds * 1000)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "last_ts": [pd.Timestamp(last_tsm, unit="us")],
                    "n_events": [n],
                    "status": ["active"],
                }
            )

    return _update_ttl


def stream_state_ttl_expiry(
    spark: SparkSession,
    events_dir: str,
    ttl_seconds: int,
) -> DataFrame:
    """Keyed state with event-time TTL expiry (GroupStateTimeout.
    EventTimeTimeout) -- the reference's deferred-verification timeout
    path (etl_controller.py:2446-2448: a route that never confirms is
    surfaced, not silently retained) as a streaming state machine:
    sessions that go quiet past the TTL are CLOSED and emitted as
    tombstones instead of occupying the state store forever.

    The state-store angle is the 100 TB one: without TTL, keyed state
    grows with lifetime distinct keys (unbounded); with event-time TTL
    the store holds only keys active within the TTL horizon, and expiry
    is driven by the watermark (late data cannot resurrect a key it
    would not have kept alive).  maxFilesPerTrigger=1 in the test splits
    the input so the watermark actually advances between micro-batches
    -- with a single batch no timeout can ever fire (watermark moves
    after a batch completes), which is itself documented behavior worth
    pinning.
    """
    stream = (
        spark.readStream.schema(parquet_schema(spark, events_dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    stream = normalize_events_ts(stream).withWatermark("ts", "0 seconds")
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _make_ttl_updater(ttl_seconds),
        outputStructType=TTL_OUTPUT_SCHEMA,
        stateStructType=TTL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_stream_to_memory(updates, spark, "update")


HOLT_STATE_SCHEMA = StructType(
    [
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("n_closed", LongType()),
        StructField("cur_day", LongType()),
        StructField("cur_total", LongType()),
        StructField("n_events", LongType()),
    ]
)
HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_next", DoubleType()),
        StructField("n_events", LongType()),
    ]
)


def _holt_step(l: float, b: float, n_closed: int, total: int):
    """One day closes: identical double recurrence (and literals) to the
    batch fold in operators.behavior.holt_linear_daily_value."""
    y = float(total)
    if n_closed == 0:
        return y, 0.0
    lp = 0.5 * y + 0.5 * (l + b)
    bn = 0.3 * (lp - l) + 0.7 * b
    return lp, bn


def _update_holt(event_type, prev, rows):
    """Two-component Holt state per event_type: (level, trend) over the
    CLOSED days plus the open day's running integer total -- O(1) state
    per key regardless of history length (the property the batch
    collect-the-series form gives up).  Day totals accumulate as exact
    scaled ints (the rounding already happened JVM-side), so only the
    per-day fold is float -- same order, same literals as batch."""
    l, b, n_closed, cur_day, cur_total, n_events = (
        prev or (0.0, 0.0, 0, -1, 0, 0)
    )
    for day, v in zip(rows["day_idx"].tolist(), rows["v_s"].tolist()):
        if cur_day == -1:
            cur_day = day
        elif day != cur_day:
            l, b = _holt_step(l, b, n_closed, cur_total)
            n_closed += 1
            cur_day, cur_total = day, 0
        cur_total += v
        n_events += 1
    # Emission closes the open day tentatively (not committed to
    # state): the final emission therefore equals the batch fold over
    # ALL days.
    lt, bt = _holt_step(l, b, n_closed, cur_total)
    state = (float(l), float(b), n_closed, cur_day, cur_total, n_events)
    out = (lt / 10000.0, bt / 10000.0, (lt + bt) / 10000.0)
    return state, [(event_type, n_closed + 1, *out, n_events)]


def stream_holt_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op: per-event-type Holt linear smoothing
    as sharded keyed state (update mode, availableNow); returns the
    final per-key emission as a batch DataFrame, comparable to
    operators.behavior.holt_linear_daily_value.  Day index and the
    scaled integer value are computed JVM-SIDE before the stream enters
    Python, so day bucketing and rounding are bit-identical to batch."""
    events = _events_stream(spark, sf_dir).select(
        "event_type",
        "ts",
        "event_id",
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_idx"),
        F.round(F.col("value") * 10000).cast("long").alias("v_s"),
    )
    updates = apply_keyed_state(
        events, "event_type", ("day_idx", "ts", "event_id"),
        per_entity(_update_holt), HOLT_OUTPUT_SCHEMA, HOLT_STATE_SCHEMA,
    )
    tbl = run_stream_to_memory(updates, spark, "update")
    return _last_emission(tbl, "event_type", "n_events").select(
        "event_type", "n_days", "level", "trend", "forecast_next"
    )
