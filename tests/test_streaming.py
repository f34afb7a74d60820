"""Batch == stream assertions: the same window aggregations must produce
identical results via Structured Streaming (availableNow) and batch SQL."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.sources.tables import load_table
from etl_rf_matrix_controller_spark.streaming.windows import (
    session_windows,
    session_windows_stream,
    tumbling_hour_counts,
    tumbling_hour_counts_stream,
)
from tests.conftest import SF_DIR, spark_rows, state_row_counts


def _assert_same(batch_df, stream_df, name):
    b_cols, b_rows = spark_rows(batch_df)
    s_cols, s_rows = spark_rows(stream_df)
    assert b_cols == s_cols, f"{name}: schema {b_cols} != {s_cols}"
    assert b_rows == s_rows, f"{name}: batch/stream rows differ"


def test_tumbling_batch_eq_stream(spark):
    _assert_same(
        tumbling_hour_counts(spark, SF_DIR),
        tumbling_hour_counts_stream(spark, SF_DIR),
        "tumbling_hour_counts",
    )


def test_session_batch_eq_stream(spark):
    _assert_same(
        session_windows(spark, SF_DIR),
        session_windows_stream(spark, SF_DIR),
        "session_windows",
    )


def test_foreach_batch_merge_state(spark, tmp_path):
    """foreachBatch MERGE sink: final parquet state == batch latest-state."""
    from etl_rf_matrix_controller_spark.operators.state import route_latest_state
    from etl_rf_matrix_controller_spark.streaming.sinks import run_merge_stream
    from pyspark.sql import functions as F

    state = run_merge_stream(spark, SF_DIR, str(tmp_path / "state"))
    got = state.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )
    _assert_same(route_latest_state(spark, SF_DIR), got, "merge_state")


def test_watermark_drops_too_late_rows(spark):
    """Late data within the watermark lands in its event-time window; data
    later than the watermark is dropped from append-mode output."""
    import pandas as pd
    from pyspark.sql import functions as F

    import shutil
    import time as _time

    src = str(spark.sparkContext.applicationId)
    mk = lambda data: spark.createDataFrame(  # noqa: E731
        [(pd.Timestamp(t).to_pydatetime(), k) for t, k in data],
        "ts timestamp, k string",
    )
    path = f"/tmp/wmtest_{src}"
    shutil.rmtree(path, ignore_errors=True)
    # Three files with distinct mtimes = three micro-batches, in order.
    # Batch 1 advances the watermark past the 10:00 window; batch 2's
    # eviction emits that window; batch 3's straggler arrives after
    # finalization and must be dropped (a row late-but-before-finalization
    # would still be merged -- Spark finalizes at batch boundaries).
    mk(
        [
            ("2024-01-01 10:05:00", "a"),
            ("2024-01-01 10:20:00", "a"),
            ("2024-01-01 13:00:00", "a"),  # watermark -> 12:50
        ]
    ).coalesce(1).write.mode("overwrite").parquet(path + "/b1")
    _time.sleep(1.2)
    mk([("2024-01-01 13:10:00", "a")]).coalesce(1).write.mode("append").parquet(
        path + "/b1"
    )
    _time.sleep(1.2)
    mk([("2024-01-01 10:30:00", "a")]).coalesce(1).write.mode("append").parquet(
        path + "/b1"
    )
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b1")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "k", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    got = {(str(r.ws), r.n) for r in spark.table("wm_test").collect()}
    # The 10:00 window closed with 2 rows; the straggler was watermark-dropped.
    assert ("2024-01-01 10:00:00", 2) in got, got
    assert dropped == 1, f"expected 1 watermark-dropped row, saw {dropped}"


def test_dedup_ids_batch_eq_stream(spark):
    """Streaming dropDuplicatesWithinWatermark == batch id-dedup (on the
    raw events stream, which has unique ids -- the redelivery case is
    batch-only synthesized; here we assert the streaming dedup keeps all
    unique rows and drops nothing)."""
    from etl_rf_matrix_controller_spark.streaming.windows import (
        _events_stream,
        run_stream_to_memory,
    )
    from pyspark.sql import functions as F

    stream = (
        _events_stream(spark, SF_DIR)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    batch = (
        load_table(spark, SF_DIR, "events")
        .select("event_id")
        .distinct()
    )
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_interval_join_batch_eq_stream(spark):
    """Stream-stream watermarked interval join == batch interval join on
    the matched (error, click) pairs.  The batch declared query is the
    left-outer + count form; the stream twin produces the matched pairs,
    so the batch side is re-derived as the inner pair set here."""
    from etl_rf_matrix_controller_spark.streaming.windows import (
        interval_join_clicks_stream,
    )
    from pyspark.sql import functions as F

    got = interval_join_clicks_stream(spark, SF_DIR).select("error_id", "c_id")

    events = load_table(spark, SF_DIR, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    want = errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("error_ts"))
        & (F.col("c_ts") > F.col("error_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("error_id", "c_id")
    _assert_same(want, got, "interval_join_clicks")


def test_interval_join_outer_late_data_batch_eq_stream(spark, tmp_path):
    """LEFT OUTER stream-stream interval join with real watermark
    semantics, driven as two micro-batches via a shared checkpoint:

    - matched pairs emit at match time;
    - an unmatched error emits its NULL row only after the global
      watermark certifies no qualifying click can still arrive
      (the reference's write-verification timeout path);
    - a late click (below the watermark when its batch arrives) is
      DROPPED, even though it would have matched on time;
    - state not yet expired at shutdown is NOT emitted (no premature
      timeout).

    The batch reference is the same join over the on-time rows,
    restricted to watermark-expired errors -- exactly what the stream
    must have produced.
    """
    import pandas as pd

    from etl_rf_matrix_controller_spark.streaming.windows import (
        interval_join_outer,
    )

    datadir = tmp_path / "ev"
    datadir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def t(h, m=0):
        return pd.Timestamp(2024, 1, 1, h, m)

    batch1 = pd.DataFrame(
        [
            # error 1 (u1) has an on-time click 3; error 2 (u2) has none.
            dict(event_id=1, user_id=1, event_type="error", ts=t(10)),
            dict(event_id=2, user_id=2, event_type="error", ts=t(10)),
            dict(event_id=3, user_id=1, event_type="click", ts=t(9, 30)),
            # pushes the click-side watermark past 9:45 for batch 2
            dict(event_id=4, user_id=98, event_type="click", ts=t(11, 50)),
        ]
    )
    batch2 = pd.DataFrame(
        [
            # LATE: would match error 1 ((9:00, 10:00]) but arrives below
            # the watermark (9:50 after batch 1) -> must be dropped.
            dict(event_id=5, user_id=1, event_type="click", ts=t(9, 45)),
            # advance both sides so errors at 10:00 expire (global
            # watermark 21:00), while error 6 itself stays unexpired.
            dict(event_id=6, user_id=3, event_type="error", ts=t(23)),
            dict(event_id=7, user_id=99, event_type="click", ts=t(23)),
        ]
    )
    schema = (
        "event_id bigint, user_id bigint, event_type string, ts timestamp"
    )

    outdir = str(tmp_path / "out")

    def run_available_now():
        # File sink, not memory: the two-run watermark handoff needs a
        # checkpoint-recoverable sink (memory sink cannot recover).
        src = spark.readStream.schema(schema).parquet(str(datadir))
        errors = (
            src.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_id"),
                "user_id",
                F.col("ts").alias("error_ts"),
            )
            .withWatermark("error_ts", "10 minutes")
        )
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"),
            )
            .withWatermark("c_ts", "2 hours")
        )
        q = (
            interval_join_outer(errors, clicks)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Write micros, not pandas' default nanos: the session reads
    # TIMESTAMP(NANOS) as long (nanosAsLong, the events.parquet trap),
    # which would clash with the declared timestamp schema here.
    batch1.astype({"ts": "datetime64[us]"}).to_parquet(datadir / "f1.parquet")
    run_available_now()
    batch2.astype({"ts": "datetime64[us]"}).to_parquet(datadir / "f2.parquet")
    run_available_now()
    got = {
        (r.error_id, r.c_id) for r in spark.read.parquet(outdir).collect()
    }

    # Batch reference: on-time rows only, errors expired by the final
    # global watermark (min(23:00-10m, 23:00-2h) = 21:00).
    ontime = pd.concat([batch1, batch2[batch2.event_id != 5]])
    sdf = spark.createDataFrame(ontime)
    errors_b = sdf.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    clicks_b = sdf.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    want = {
        (r.error_id, r.c_id)
        for r in interval_join_outer(errors_b, clicks_b)
        .filter(F.col("error_ts") < F.lit(t(21)))
        .collect()
    }
    assert want == {(1, 3), (2, None)}, want
    assert got == want, (got, want)
    # The late click must NOT have produced (1, 5), and the unexpired
    # error 6 must NOT have emitted a premature NULL.
    assert (1, 5) not in got and not any(e == 6 for e, _ in got)


def test_latest_state_batch_eq_stream(spark):
    from etl_rf_matrix_controller_spark.operators.state import route_latest_state
    from etl_rf_matrix_controller_spark.streaming.state import stream_latest_state

    _assert_same(
        route_latest_state(spark, SF_DIR),
        stream_latest_state(spark, SF_DIR),
        "route_latest_state",
    )


def test_ema_batch_eq_stream(spark):
    """Custom stateful op (applyInPandasWithState EMA) == batch ordered
    fold, bit-exact: both sides run the identical double recurrence in
    the identical order."""
    from etl_rf_matrix_controller_spark.operators.behavior import ema_user_value
    from etl_rf_matrix_controller_spark.streaming.state import (
        stream_ema_user_value,
    )

    _assert_same(
        ema_user_value(spark, SF_DIR),
        stream_ema_user_value(spark, SF_DIR),
        "ema_user_value",
    )


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Watermarked streaming dedup: in-horizon duplicates are dropped
    across micro-batches; a replay arriving after its key's state was
    evicted is re-admitted (bounded state is the contract, not a bug)."""
    from datetime import datetime

    import pandas as pd

    from etl_rf_matrix_controller_spark.streaming.dedup import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "feed"
    src.mkdir()

    def write_batch(fname, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
        # micros, not pandas-default nanos: the session reads TIMESTAMP(NANOS)
        # as BIGINT (the events.parquet trap), which would break withWatermark
        # UTC-instant micros (not pandas-default tz-naive nanos): naive
        # stamps read back TIMESTAMP_NTZ (watermark rejects) and NANOS
        # reads as BIGINT under the session's events-parquet conf
        pdf["ts"] = (
            pd.to_datetime(pdf["ts"])
            .dt.tz_localize("UTC")
            .astype("datetime64[us, UTC]")
        )
        pdf.to_parquet(src / fname, index=False)

    t = datetime(2026, 1, 1, 12, 0, 0)

    def at(minutes):
        return t.replace(hour=12 + minutes // 60, minute=minutes % 60)

    # Batch 1: three events.  Batch 2 (same event-time neighborhood):
    # replays id 1 and 2, adds id 4 -- the replays are inside the 1 h
    # watermark horizon and must be dropped.  Batch 3: event time jumps
    # +3 h, advancing the watermark past batch-1 state.  The watermark a
    # batch RUNS under comes from the previous batch's max event time,
    # and expired state is swept at batch END, so eviction completes one
    # batch later (batch 4).  Batch 5: replays id 1 -- the replay lands
    # AFTER eviction and is re-admitted.
    write_batch("b1.parquet", [(1, at(0), 10.0), (2, at(1), 20.0), (3, at(2), 30.0)])
    write_batch("b2.parquet", [(1, at(5), 10.0), (2, at(6), 20.0), (4, at(7), 40.0)])
    write_batch("b3.parquet", [(5, at(185), 50.0)])
    write_batch("b4.parquet", [(6, at(191), 60.0)])
    write_batch("b5.parquet", [(1, at(195), 10.0)])

    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    got = dedup_stream_within_watermark(
        spark, str(src), schema, delay="1 hour"
    )
    rows = sorted((r.event_id, r.ts) for r in got.collect())

    # File order == lexical name order under availableNow+maxFilesPerTrigger.
    assert rows == sorted(
        [
            (1, at(0)),    # first sight
            (2, at(1)),
            (3, at(2)),
            (4, at(7)),    # new key in batch 2; replays of 1/2 dropped
            (5, at(185)),  # advances the watermark past batch-1 state
            (6, at(191)),  # state eviction runs under that watermark here
            (1, at(195)),  # re-admitted after state eviction
        ]
    )


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """Checkpointed dedup recovers across a stop/start: the second run
    reads only NEW files (offsets restored) and still drops an
    in-watermark replay of a key seen before the restart (keyed state
    restored), while admitting genuinely new keys."""
    from datetime import datetime

    import pandas as pd

    src = tmp_path / "feed"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(fname, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
        pdf["ts"] = (
            pd.to_datetime(pdf["ts"])
            .dt.tz_localize("UTC")
            .astype("datetime64[us, UTC]")
        )
        pdf.to_parquet(src / fname, index=False)

    t = datetime(2026, 1, 1, 12, 0, 0)

    def at(minutes):
        return t.replace(hour=12 + minutes // 60, minute=minutes % 60)

    out = str(tmp_path / "out")

    def run_once():
        # Parquet sink: the durable, checkpoint-recoverable sink (the
        # memory sink refuses recovery).  Returns the completed query.
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    write_batch("b1.parquet", [(1, at(0), 10.0), (2, at(1), 20.0)])
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    q1 = run_once()
    assert {r.event_id for r in spark.read.parquet(out).collect()} == {1, 2}
    in1 = sum(p["numInputRows"] for p in q1.recentProgress)
    assert in1 == 2

    # After the query stopped: a replay of id 1 (within watermark) and a
    # new id 3 arrive.  The restarted query must process ONLY this file.
    write_batch("b2.parquet", [(1, at(5), 10.0), (3, at(6), 30.0)])
    q2 = run_once()
    # Restored source offsets: the restart reads exactly b2's 2 rows.
    in2 = sum(p["numInputRows"] for p in q2.recentProgress)
    assert in2 == 2
    rows = [(r.event_id, r.ts) for r in spark.read.parquet(out).collect()]
    # Restored keyed state: id 1's replay is dropped across the restart;
    # id 3 is admitted; nothing re-emitted.
    assert sorted(rows) == [(1, at(0)), (2, at(1)), (3, at(6))]


def test_stream_static_join_batch_eq_stream(spark):
    """Stream-static broadcast join (dimension enrichment) must produce
    the identical hourly severity rollup as the batch join."""
    from etl_rf_matrix_controller_spark.streaming.windows import (
        stream_static_enriched_counts,
        stream_static_enriched_counts_stream,
    )

    _assert_same(
        stream_static_enriched_counts(spark, SF_DIR),
        stream_static_enriched_counts_stream(spark, SF_DIR),
        "stream_static_enriched_counts",
    )


def test_state_ttl_expiry_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout: keys idle past the TTL when the watermark
    advances are emitted as tombstones and removed; keys with data in
    the later batch never time out."""
    import os

    from etl_rf_matrix_controller_spark.streaming.state import (
        stream_state_ttl_expiry,
    )

    events = load_table(spark, SF_DIR, "events")
    rows = events.select("user_id", "ts", "event_id").collect()
    final = max(rows, key=lambda r: (r.ts, r.event_id))
    max_a = max(r.ts for r in rows if r.event_id != final.event_id)
    last_a = {}
    n_a = {}
    for r in rows:
        if r.event_id == final.event_id:
            continue
        n_a[r.user_id] = n_a.get(r.user_id, 0) + 1
        if r.user_id not in last_a or r.ts > last_a[r.user_id]:
            last_a[r.user_id] = r.ts
    # Timeouts fire against the FINAL watermark (= the global max ts):
    # after the last data batch, availableNow runs a state-cleanup batch
    # whose watermark has advanced past batch B, so every key idle
    # longer than the TTL at end-of-stream expires -- not just those
    # already stale at the intermediate watermark.  TTL at the median
    # end-of-stream idle gap guarantees both expirers and survivors.
    gaps = sorted(
        (final.ts - last_a[u]).total_seconds()
        for u in last_a
        if u != final.user_id
    )
    ttl = int(gaps[len(gaps) // 2]) + 1
    expected_expired = {
        u
        for u in last_a
        if u != final.user_id
        and last_a[u].timestamp() + ttl < final.ts.timestamp()
    }
    assert expected_expired and len(expected_expired) < len(last_a)

    src = str(tmp_path / "ttl_events")
    a = events.filter(F.col("event_id") != final.event_id)
    b = events.filter(F.col("event_id") == final.event_id)
    a.repartition(1).write.parquet(src)
    b.repartition(1).write.mode("append").parquet(src)
    parts = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    # FileStreamSource batches by modification time: pin A strictly older.
    now = 1700000000
    sizes = {f: os.path.getsize(os.path.join(src, f)) for f in parts}
    big_first = max(sizes, key=lambda f: sizes[f])  # A holds all but 1 row
    for f in parts:
        age = 100 if f == big_first else 0
        os.utime(os.path.join(src, f), (now - age, now - age))

    out = stream_state_ttl_expiry(spark, src, ttl).collect()
    expired = {r.user_id: r for r in out if r.status == "expired"}
    assert set(expired) == expected_expired
    for u, r in expired.items():
        assert r.n_events == n_a[u]
        assert r.last_ts == last_a[u]
    # every user appeared as active at least once
    assert {r.user_id for r in out if r.status == "active"} == set(last_a) | {
        final.user_id
    }

def test_watermark_drop_metrics_and_result(spark, tmp_path):
    """Late rows below the watermark are dropped AND the drop is
    observable: numRowsDroppedByWatermark accounts for exactly the
    engineered late batch (append mode -- update mode does not filter
    late rows against still-live window state), and every finalized
    window in the sink matches the on-time-only batch aggregation."""
    import os

    from etl_rf_matrix_controller_spark.sources.tables import (
        load_table,
        normalize_events_ts,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import _tumbling_agg

    events = load_table(spark, SF_DIR, "events")
    ordered = events.orderBy("ts", "event_id").collect()
    late_ids = {r.event_id for r in ordered[:50]}
    final_id = ordered[-1].event_id
    src = str(tmp_path / "wm_events")
    on_time = events.filter(
        ~F.col("event_id").isin(*late_ids) & (F.col("event_id") != final_id)
    )
    mid = events.filter(F.col("event_id") == final_id)
    late = events.filter(F.col("event_id").isin(*late_ids))
    # Three micro-batches with strictly increasing mtimes: the watermark
    # used to FILTER batch N is the one computed from batch N-2's data
    # (one-batch propagation lag), so the late file must arrive in batch
    # 3 to meet a watermark advanced by batch 1.
    on_time.repartition(1).write.parquet(src)
    mid.repartition(1).write.mode("append").parquet(src)
    late.repartition(1).write.mode("append").parquet(src)
    parts = [f for f in os.listdir(src) if f.endswith(".parquet")]
    sizes = {f: os.path.getsize(os.path.join(src, f)) for f in parts}
    order = sorted(parts, key=lambda f: -sizes[f])  # on_time(950) > late(50) > mid(1)
    order = [order[0], order[2], order[1]]
    now = 1700000000
    for age, f in zip((200, 100, 0), order):
        os.utime(os.path.join(src, f), (now - age, now - age))

    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream = normalize_events_ts(stream).withWatermark("ts", "0 seconds")
    q = (
        _tumbling_agg(stream)
        .writeStream.format("memory")
        .queryName("wm_drop_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    # The watermark filter sits AFTER map-side partial aggregation, so it
    # counts dropped PARTIAL rows: with the late file read as a single
    # split, that is exactly its distinct (window, type) group count.
    expected_drop = (
        late.select(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .distinct()
        .count()
    )
    assert dropped == expected_drop > 0
    # every finalized window the sink emitted matches the batch agg over
    # the rows that were admitted (on-time + the single mid event)
    admitted = events.filter(~F.col("event_id").isin(*late_ids))
    got = {tuple(r) for r in spark.table("wm_drop_stream").collect()}
    want = {tuple(r) for r in _tumbling_agg(admitted).collect()}
    assert got and got <= want


def test_interval_join_full_outer_both_null_sides(spark, tmp_path):
    """FULL OUTER stream-stream interval join: matched pairs, a
    watermark-certified unmatched error (left null), AND a
    watermark-certified orphan click (right null) -- while unexpired
    state on both sides stays unemitted at shutdown."""
    import pandas as pd

    from etl_rf_matrix_controller_spark.streaming.windows import (
        interval_join_full,
    )

    datadir = tmp_path / "ev"
    datadir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    outdir = str(tmp_path / "out")

    def t(h, m=0):
        return pd.Timestamp(2024, 1, 1, h, m)

    batch1 = pd.DataFrame(
        [
            dict(event_id=1, user_id=1, event_type="error", ts=t(10)),
            dict(event_id=2, user_id=2, event_type="error", ts=t(10)),
            dict(event_id=3, user_id=1, event_type="click", ts=t(9, 30)),
            # orphan click: matches no error, ever
            dict(event_id=4, user_id=98, event_type="click", ts=t(11, 50)),
        ]
    )
    batch2 = pd.DataFrame(
        [
            # advance both watermarks far enough to expire everything in
            # batch 1 (global watermark min(23:50-10m, 23:50-2h)=21:50)
            dict(event_id=6, user_id=3, event_type="error", ts=t(23, 50)),
            dict(event_id=7, user_id=99, event_type="click", ts=t(23, 50)),
        ]
    )
    schema = (
        "event_id bigint, user_id bigint, event_type string, ts timestamp"
    )

    def run_available_now():
        src = spark.readStream.schema(schema).parquet(str(datadir))
        errors = (
            src.filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_id"),
                "user_id",
                F.col("ts").alias("error_ts"),
            )
            .withWatermark("error_ts", "10 minutes")
        )
        clicks = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"),
            )
            .withWatermark("c_ts", "2 hours")
        )
        q = (
            interval_join_full(errors, clicks)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1.astype({"ts": "datetime64[us]"}).to_parquet(datadir / "f1.parquet")
    run_available_now()
    batch2.astype({"ts": "datetime64[us]"}).to_parquet(datadir / "f2.parquet")
    run_available_now()
    got = {
        (r.error_id, r.c_id) for r in spark.read.parquet(outdir).collect()
    }
    # matched pair, expired unmatched error, expired orphan click --
    # and nothing premature from the unexpired batch-2 rows.
    assert got == {(1, 3), (2, None), (None, 4)}, got


def test_holt_batch_eq_stream(spark):
    """Custom 2-component stateful op (applyInPandasWithState Holt) ==
    batch fold, bit-exact: day bucketing and rounding happen JVM-side
    before the stream enters Python, and the per-day double recurrence
    uses identical literals and order on both sides."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        holt_linear_daily_value,
    )
    from etl_rf_matrix_controller_spark.streaming.state import (
        stream_holt_daily_value,
    )

    _assert_same(
        holt_linear_daily_value(spark, SF_DIR),
        stream_holt_daily_value(spark, SF_DIR),
        "holt_linear_daily_value",
    )


def test_transition_counts_batch_eq_stream(spark):
    """Per-key last-value carry (applyInPandasWithState) == the batch
    lag() window: partial pair counts chain across micro-batches through
    the remembered last event, summing to the batch transition matrix."""
    from etl_rf_matrix_controller_spark.operators.behavior import (
        event_transition_counts,
    )
    from etl_rf_matrix_controller_spark.streaming.transitions import (
        stream_event_transitions,
    )

    _assert_same(
        event_transition_counts(spark, SF_DIR),
        stream_event_transitions(spark, SF_DIR),
        "event_transition_counts",
    )


def test_transition_partials_bounded_by_pairs_not_events(spark):
    """The state function counts transitions itself: the sink holds at
    most one (prev, cur, n) row per shard and type pair, far fewer than
    the events it folded -- never one row per event."""
    from etl_rf_matrix_controller_spark.streaming.keyed_state import state_shards
    from etl_rf_matrix_controller_spark.streaming.transitions import (
        stream_transitions,
    )
    from etl_rf_matrix_controller_spark.streaming.windows import _events_stream

    events = load_table(spark, SF_DIR, "events")
    n_events = events.count()
    n_types = events.select("event_type").distinct().count()
    partials = stream_transitions(_events_stream(spark, SF_DIR), spark)
    n_partials = partials.count()
    assert n_partials <= state_shards(spark) * n_types**2
    assert 2 * n_partials < n_events, (n_partials, n_events)
    assert partials.agg(F.sum("n")).first()[0] == (
        n_events - events.select("user_id").distinct().count()
    )


def test_stream_hdr_clamp_folds_nonpositive_into_v1(spark, tmp_path):
    """stream_hdr_value_quantiles clamps every value rounding to <= 0
    into the v=1 bucket (hdr_bucket_expr is defined for positive v only;
    bin() of a negative bigint differs cross-engine).  Planted corpus:
    4 non-positive/near-zero values + 4 large ones -- the clamped rows
    must COUNT toward the quantiles (p50 lands on the v=1 bucket), not
    be dropped (n_total covers all 8 rows), and the upper tail is
    untouched (p99 lands in the 10000-centi bucket)."""
    import shutil
    from datetime import datetime, timezone

    from etl_rf_matrix_controller_spark.streaming.windows import (
        stream_hdr_value_quantiles,
    )

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    vals = [-5.0, 0.0, 0.004, -0.2, 100.0, 100.0, 100.0, 100.0]
    rows = [
        (i, "click", ts, v, f"e{i}") for i, v in enumerate(vals, start=1)
    ]
    staging = str(tmp_path / "staging")
    spark.createDataFrame(
        rows,
        "user_id bigint, event_type string, ts timestamp,"
        " value double, event_id string",
    ).coalesce(1).write.parquet(staging)
    part = next(
        f for f in __import__("os").listdir(staging) if f.endswith(".parquet")
    )
    sf = str(tmp_path)
    shutil.copy(f"{staging}/{part}", f"{sf}/events.parquet")

    out = {r.q_ppm: r for r in stream_hdr_value_quantiles(spark, sf).collect()}
    assert set(out) == {500000, 900000, 990000}
    assert all(r.n_total == 8 for r in out.values()), out
    assert out[500000].est_c == 1, out  # clamped rows fill the v=1 bucket
    assert out[990000].est_c >= 8192, out  # 100.0 -> 10000 centi-units


def test_near_dup_admission_stream_eq_batch_multibatch(spark, tmp_path):
    """Streaming near-dup admission == batch twin across THREE real
    micro-batches, with planted dups in every placement the state op
    must handle: within one batch, across batches, and past a hot
    bucket's df-cap.  Also pins the state bound: total state rows ==
    number of distinct (band, bkey) bucket keys (each holding <= cap
    retained ids)."""
    import os

    from etl_rf_matrix_controller_spark.streaming.neardup import (
        batch_band_candidates,
        per_row_band_rows,
        stream_band_candidates,
    )

    cap = 3
    hot = "the same viral boilerplate text repeated everywhere " * 3
    tail = "quick brown fox jumps over the lazy dog again and again " * 2
    batches = [
        # batch 1: within-batch near-dup pair (1, 2) + hot docs 3, 4
        [(1, "alpha " + tail), (2, "alpha " + tail + " zz"), (3, hot), (4, hot)],
        # batch 2: cross-batch near-dup of doc 1 + hot docs 5, 6 (cap=3
        # fills here: retained {3,4,5}; 6 probes but is not retained)
        [(5, hot), (6, hot), (7, "alpha " + tail + " yy")],
        # batch 3: hot doc 8 past the cap (must still flag vs {3,4,5})
        # and an unrelated singleton
        [(8, hot), (9, "completely different content about spark plans")],
    ]
    src = str(tmp_path / "docs_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            rows, "doc_id bigint, text string"
        ).coalesce(1).write.parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))  # arrival order

    docs_batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(docs_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    progress: list = []
    got = {
        (r.doc_a, r.doc_b)
        for r in stream_band_candidates(
            stream, spark, cap, progress_holder=progress
        ).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in batch_band_candidates(docs_batch, cap).collect()
    }
    assert got == want and got, (got, want)
    # planted placements all present
    assert (1, 2) in got  # within-batch
    assert (1, 7) in got and (2, 7) in got  # cross-batch
    # hot bucket: 8 arrives past the cap -> flagged vs the first 3 only
    hot_b = {(a, b) for (a, b) in got if b == 8}
    assert hot_b == {(3, 8), (4, 8), (5, 8)}, hot_b
    # 6 probed the capped bucket but was NOT retained: nobody pairs a=6
    assert not [(a, b) for (a, b) in got if a == 6]
    assert not [(a, b) for (a, b) in got if 9 in (a, b)]
    # state bound: one state row per distinct bucket key (each array
    # holds <= cap retained ids), read from the query's own metrics
    n_keys = per_row_band_rows(docs_batch).select("band", "bkey").distinct().count()
    state_rows = state_row_counts(progress)
    assert state_rows, progress
    assert max(state_rows) <= n_keys, (max(state_rows), n_keys)


def test_curation_admission_stream_eq_batch_multibatch(spark, tmp_path):
    """The COMPOSED streaming curation pipeline (quality gate -> exact
    index -> banded near-dup index, one stateful operator) == its batch
    twin across THREE real micro-batches, with every reject class
    planted in every placement: a low-quality doc per batch, an exact
    dup across batches, near-dups within AND across batches, and
    precedence (an exact dup is NOT double-counted as near).  Also pins
    the state bound: quality rows must not grow the index."""
    import os

    from etl_rf_matrix_controller_spark.streaming.curation import (
        batch_admission_counts,
        batch_admission_records,
        resolve_admission_counts,
        stream_admission_records,
    )

    cap = 3
    t1 = (
        "the quick brown fox jumps over a lazy dog and then runs to the "
        "old mill where it rests for a while today"
    )
    t2 = (
        "spark plans the shuffle and a broadcast join to keep all of the "
        "partitions warm while codegen runs for every stage in this "
        "query today"
    )
    lq = "tiny doc"  # < 20 words -> quality-rejected
    batches = [
        # batch 1: near pair (1, 2) within-batch + a low-quality doc
        [(1, t1), (2, t1 + " zz"), (10, lq + " one")],
        # batch 2: exact dup of doc 1 ACROSS batches + new content + LQ
        [(3, t1), (4, t2), (11, lq + " two")],
        # batch 3: cross-batch near-dup of 1, exact dup of 4, LQ
        [(5, t1 + " yy"), (6, t2), (12, lq + " three")],
    ]
    src = str(tmp_path / "docs_stream")
    os.makedirs(src)
    now = 1700000000
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"b{i}")
        spark.createDataFrame(
            rows, "doc_id bigint, text string"
        ).coalesce(1).write.parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (now + i * 100, now + i * 100))

    docs_batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(docs_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    progress: list = []
    srec = stream_admission_records(
        stream, spark, cap, progress_holder=progress
    )
    got = {tuple(r) for r in srec.collect()}
    want = {
        tuple(r) for r in batch_admission_records(docs_batch, cap).collect()
    }
    assert got == want and got, (got, want)
    # planted placements
    assert ("q", None, 10) in got and ("q", None, 11) in got
    assert ("q", None, 12) in got
    assert ("x", 1, 3) in got, got  # cross-batch exact dup
    assert ("x", 4, 6) in got, got  # within/cross exact dup of t2
    m_pairs = {(a, b) for (k, a, b) in got if k == "m"}
    assert (1, 2) in m_pairs  # within-batch near candidate
    assert (1, 5) in m_pairs  # cross-batch near candidate
    # resolved per-stage accounting: stream == batch twin, precedence
    # exact > near (docs 3 and 6 count as exact only)
    scounts = resolve_admission_counts(srec, docs_batch).collect()[0]
    bcounts = batch_admission_counts(docs_batch, cap).collect()[0]
    assert tuple(scounts) == tuple(bcounts), (scounts, bcounts)
    assert scounts.n_ingested == 9
    assert scounts.n_quality_rejected == 3
    assert scounts.n_exact_rejected == 2  # docs 3, 6
    assert scounts.n_near_rejected == 2  # docs 2, 5 (not 3/6: precedence)
    assert scounts.n_admitted == 2  # docs 1, 4
    # state bound: index rows <= minhash bucket keys + content hashes of
    # QUALITY-PASSING docs -- the three q rows must not grow the index
    from etl_rf_matrix_controller_spark.streaming.curation import (
        quality_keep_col,
    )
    from etl_rf_matrix_controller_spark.streaming.neardup import (
        per_row_band_rows,
    )

    passing = docs_batch.filter(quality_keep_col())
    n_mkeys = (
        per_row_band_rows(passing).select("band", "bkey").distinct().count()
    )
    n_xkeys = (
        passing.select(F.md5(F.trim("text"))).distinct().count()
    )
    state_rows = state_row_counts(progress)
    assert state_rows, progress
    assert max(state_rows) <= n_mkeys + n_xkeys, (
        max(state_rows),
        n_mkeys,
        n_xkeys,
    )


CONCURRENT_RUNS_LIMIT_S = 240


def test_concurrent_runs_of_one_stream_query(spark):
    """Four threads run one memory-sink streaming query on the shared
    session at once.  Each run must hash to the manifest entry, and no run
    may leave its sink's temp view in the catalog.

    The runs take a few seconds; they get CONCURRENT_RUNS_LIMIT_S.  Past
    that the test stops every active stream and fails with the streams'
    status and the Python stacks of the runs still going, instead of
    holding up the rest of the suite (the runs are daemon threads)."""
    import json
    import sys
    import threading
    import time
    import traceback

    import pytest

    from etl_rf_matrix_controller_spark.streaming.windows import (
        stream_cms_heavy_hitters,
    )
    from tests.conftest import MANIFEST, result_hash

    with open(MANIFEST) as f:
        want = json.load(f)["stream_cms_heavy_hitters"]

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    hashes, errors = [None] * 4, []

    def run(i):
        try:
            hashes[i] = result_hash(stream_cms_heavy_hitters(spark, SF_DIR))
        except Exception as exc:  # re-raised below
            errors.append(exc)

    runs = [threading.Thread(target=run, args=(i,), daemon=True) for i in range(4)]
    for t in runs:
        t.start()
    deadline = time.monotonic() + CONCURRENT_RUNS_LIMIT_S
    for t in runs:
        t.join(max(0.0, deadline - time.monotonic()))
    stuck = [t for t in runs if t.is_alive()]
    if stuck:
        frames = sys._current_frames()
        report = [
            "".join(traceback.format_stack(frames[t.ident]))
            for t in stuck
            if t.ident in frames
        ]

        def stop_streams():
            for q in spark.streams.active:
                report.append(f"{q.name}: {q.status}")
                q.stop()

        stopper = threading.Thread(target=stop_streams, daemon=True)
        stopper.start()
        stopper.join(30)
        pytest.fail(
            f"{len(stuck)} of 4 runs still going after "
            f"{CONCURRENT_RUNS_LIMIT_S} s:\n" + "\n".join(report)
        )
    if errors:
        raise errors[0]
    assert hashes == [want] * 4
    assert temp_views() <= before
