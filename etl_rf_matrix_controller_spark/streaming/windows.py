"""Event-time windowing: tumbling counts, session windows, streaming runners.

Reference semantics: the telemetry poller emits frames every N seconds
(micro-batch loop, ``etl_controller.py:576-613``), a 500 ms debounce
collapses keystroke bursts (:1495-1506), and a 10 s heartbeat drives the
availability indicator (:2787-2790, 3119-3136).

Spark re-expression (T1/T3): ``window(ts, '1 hour')`` tumbling aggregation
and ``session_window(ts, '30 minutes')`` gap-collapse -- the same
DataFrame code runs in batch (oracle-checked) and under Structured
Streaming with an ``availableNow`` trigger (asserted batch==stream in
tests/test_streaming.py).  With a watermark, late data inside the
tolerance still lands in its event-time window; the reference has no such
notion (it overwrites state wholesale each poll).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rf_matrix_controller_spark.operators.aggregates import (
    HLL_ALPHA_PPM as _HLL_ALPHA_PPM,
    HLL_M as _HLL_M,
    HLL_RANK_W as _HLL_RANK_W,
    _hll_rank_sql,
)
from etl_rf_matrix_controller_spark.plans.conventions import int_round_scaled
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import (
    load_table,
    normalize_events_ts,
    parquet_schema,
)


def _tumbling_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            int_round_scaled(
                F.sum(F.round(F.col("value") * 10000).cast("bigint")), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@declared(
    "tumbling_hour_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*) AS n_events,
           (((((sum(CAST(round(value * 10000) AS BIGINT))) + 50) - ((sum(CAST(round(value * 10000) AS BIGINT))) + 50) % 100) / 100) / 100.0)
             AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tumbling_hour_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/F9: tumbling 1-hour event-time windows per type.

    Uses the streaming-native ``window()`` expression in batch mode; its
    epoch-aligned window start equals ``date_trunc('hour', ts)``.  One
    shuffle on (window, type); partial aggregation collapses map-side.
    """
    return _tumbling_agg(load_table(spark, sf_dir, "events"))


def _session_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_ts", "n_events")
    )


@declared(
    "session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS brk
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_ts,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, sess
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: gap-based session collapse (the debounce pattern,
    etl_controller.py:1495-1506, generalized to 30-min gaps).

    ``session_window`` merges events strictly less than the gap apart; the
    oracle is the equivalent gaps-and-islands SQL (DuckDB has no session
    built-in).  Session end is reported as ``max(ts)`` (last event), not
    Spark's ``window.end`` (last event + gap), to keep both sides in the
    same vocabulary.
    """
    return _session_agg(load_table(spark, sf_dir, "events"))


@declared(
    "sliding_window_counts",
    oracle="""
    WITH hours AS (
      SELECT event_type, value, date_trunc('hour', ts) AS h FROM events
    ),
    expanded AS (
      SELECT event_type, value, u.ws
      FROM hours, unnest([h, h - INTERVAL 1 HOUR]) AS u(ws)
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           (((((sum(CAST(round(value * 10000) AS BIGINT))) + 50) - ((sum(CAST(round(value * 10000) AS BIGINT))) + 50) % 100) / 100) / 100.0)
             AS sum_value
    FROM expanded
    GROUP BY ws, event_type
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 sliding variant: 2-hour windows advancing hourly -- each event
    lands in two windows.  Spark's ``window(ts, '2 hours', '1 hour')``
    does the 2x expansion map-side; the oracle unnests the two window
    starts explicitly.  Shuffle volume is 2x the tumbling case -- the cost
    of overlap, identical at any scale.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            int_round_scaled(
                F.sum(F.round(F.col("value") * 10000).cast("bigint")), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@declared(
    "interval_join_clicks",
    oracle="""
    SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
           count(c.event_id) AS clicks_before
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id
     AND c.event_type = 'click'
     AND c.ts <= e.ts
     AND c.ts > e.ts - INTERVAL 1 HOUR
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-adjacent interval join: for each error, clicks by the same user
    in the preceding hour (the stream-stream join shape with event-time
    bounds).  Equi-key on user_id keeps it a hash/SMJ join; the time-range
    predicate filters within each key block, so cost is O(events per user
    per hour), not a cross join.  In streaming this is exactly a
    watermarked stream-stream join with a 1-hour state retention.
    """
    events = load_table(spark, sf_dir, "events")
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
    joined = errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("error_ts"))
        & (F.col("c_ts") > F.col("error_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("error_id", "user_id", "error_ts").agg(
        F.count("c_id").alias("clicks_before")
    )


# ---------------------------------------------------------------------------
# Structured Streaming runners (availableNow): same aggregations, streaming
# execution.  Used by tests to assert batch == stream.
# ---------------------------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, routed through the SAME ts
    normalizer as the batch reader (sources.tables.normalize_events_ts) so
    the two can never diverge on a Spark parquet-timestamp quirk again."""
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}", pathGlobFilter="events.parquet"
    )
    return normalize_events_ts(stream)


def run_stream_to_memory(
    df: DataFrame,
    spark: SparkSession,
    mode: str = "complete",
    progress_holder: list | None = None,
) -> DataFrame:
    """Run a streaming query to completion (availableNow) into an
    in-memory sink and return the result as a batch DataFrame.

    The sink name is unique per call, so concurrent runs of one query on
    a shared session never collide.  The sink's temp view is dropped on
    return: the returned frame keeps the sink's rows alive, the catalog
    does not.  Pass ``progress_holder`` to receive the per-batch
    StreamingQueryProgress dicts."""
    name = f"sink_{uuid.uuid4().hex}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        if progress_holder is not None:
            progress_holder.extend(q.recentProgress)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def tumbling_hour_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 under real Structured Streaming with a 1-day watermark."""
    events = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    return run_stream_to_memory(_tumbling_agg(events), spark)


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 under real Structured Streaming with a 1-day watermark."""
    events = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    return run_stream_to_memory(_session_agg(events), spark)


def interval_join_clicks_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join: the streaming twin of
    `interval_join_clicks`, mirroring the reference's deferred
    write-verification (etl_controller.py:2446-2448) where a write is
    checked against reads that arrive within a bounded window after it.

    Both sides carry watermarks and the join condition bounds event time
    on both sides (c_ts in (error_ts - 1h, error_ts]), so Spark can evict
    click state older than error-watermark - 1h -- state is O(events per
    user per hour), never unbounded.  Inner form: outer-row emission
    timing depends on the final watermark commit, so batch==stream is
    asserted on the matched pairs (the part the stream-stream state
    machinery actually produces); the zero-click errors are batch-side
    coalesce sugar on top.
    """
    errors = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("error_ts"))
        & (F.col("c_ts") > F.col("error_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("error_id", "user_id", "error_ts", "c_id")
    return run_stream_to_memory(joined, spark, "append")


def interval_join_outer(errors: DataFrame, clicks: DataFrame) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join: the
    no-response case of the reference's deferred write-verification
    (etl_controller.py:2446-2448 -- a write with no read-back within the
    window times out).  A null click id is a WATERMARK-CERTIFIED
    no-response: the row is emitted only once the global watermark proves
    no qualifying click can still arrive, and clicks older than the
    watermark are dropped as late data on arrival -- both semantics the
    inner form never has to exercise.  State stays bounded exactly as in
    the inner form (eviction from the same time-bound condition).

    Callers attach watermarks to both inputs; errors carry
    (error_id, user_id, error_ts), clicks (c_user, c_ts, c_id).
    """
    return errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("error_ts"))
        & (F.col("c_ts") > F.col("error_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("error_id", "user_id", "error_ts", "c_id")


def _severity_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static severity dimension: distinct event types classified by a
    deterministic rule.  Stands in for the operational lookup table
    (device registry, alert severity map) a streaming enrichment joins
    against; derived from the batch table so every SF has full coverage."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_type").distinct().select(
        "event_type",
        F.when(F.col("event_type") == "error", "fault")
        .otherwise("activity")
        .alias("severity"),
    )


def _enriched_agg(events: DataFrame, dim: DataFrame) -> DataFrame:
    return (
        events.join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 hour").alias("w"), "severity")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            int_round_scaled(
                F.sum(F.round(F.col("value") * 10000).cast("bigint")), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "severity",
            "n_events",
            "sum_value",
        )
    )


@declared(
    "stream_static_enriched_counts",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             CASE WHEN event_type = 'error' THEN 'fault'
                  ELSE 'activity' END AS severity
      FROM events
    )
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS hour_start,
           d.severity,
           CAST(count(*) AS BIGINT) AS n_events,
           (((((sum(CAST(round(e.value * 10000) AS BIGINT))) + 50) - ((sum(CAST(round(e.value * 10000) AS BIGINT))) + 50) % 100) / 100) / 100.0)
             AS sum_value
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY date_trunc('hour', e.ts), d.severity
    """,
)
def stream_static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-series enrichment: hourly severity rollup after joining the
    event stream with a STATIC dimension (the alert-severity map).  The
    batch form here is the declared oracle-checked query; the streaming
    twin (stream_static_enriched_counts_stream) runs the identical plan
    as a Structured Streaming stream-static join -- Spark broadcasts the
    static side into every micro-batch, the standard pattern for
    enriching a 100 TB/day stream with dimension tables without a
    stateful join (no watermark needed on the static side, state store
    untouched).  Batch == stream pinned in tests/test_streaming.py.
    """
    events = load_table(spark, sf_dir, "events")
    return _enriched_agg(events, _severity_dim(spark, sf_dir))


def stream_static_enriched_counts_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of stream_static_enriched_counts: readStream ->
    broadcast stream-static join -> windowed agg, availableNow."""
    events = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = _enriched_agg(events, _severity_dim(spark, sf_dir))
    return run_stream_to_memory(agg, spark)


def interval_join_full(errors: DataFrame, clicks: DataFrame) -> DataFrame:
    """FULL OUTER watermarked stream-stream interval join: both
    no-response directions of the verification pattern -- an error with
    no click times out (left null), and a click matching no error is
    surfaced as an orphan effect (right null) once the watermark proves
    no qualifying error can still arrive.  Same bounded state as the
    inner/left forms: each side evicts when the global watermark passes
    its join-range reach.  (This is a stream-STREAM full outer --
    Spark's no-broadcast-full-outer limitation applies to batch joins
    with a small side, not here.)

    Callers attach watermarks to both inputs; errors carry
    (error_id, user_id, error_ts), clicks (c_user, c_ts, c_id).
    """
    return errors.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("error_ts"))
        & (F.col("c_ts") > F.col("error_ts") - F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select("error_id", "user_id", "error_ts", "c_user", "c_ts", "c_id")


@declared(
    "stream_hdr_value_quantiles",
    oracle="""
    WITH vals AS (
      SELECT greatest(CAST(round(value * 100) AS BIGINT), 1) AS v
      FROM events
    ),
    hist AS (
      SELECT (length(bin(v)) - 1) * 16
             + ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1)))
                * 16) // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
               AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM vals GROUP BY 1
    ),
    cum AS (
      SELECT bucket, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM hist
    ),
    qs AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS q_ppm)
    SELECT q_ppm, n AS n_total, target AS target_rank, bucket AS bucket_id,
           (CAST(1 AS BIGINT) << (bucket // 16))
           + ((bucket % 16) * (CAST(1 AS BIGINT) << (bucket // 16))) // 16
             AS est_c
    FROM (
      SELECT c.bucket, c.n, q.q_ppm,
             (q.q_ppm * c.n + 999999) // 1000000 AS target,
             row_number() OVER (PARTITION BY q.q_ppm ORDER BY c.bucket) AS rk
      FROM cum c CROSS JOIN qs q
      WHERE c.cum >= (q.q_ppm * c.n + 999999) // 1000000
    ) WHERE rk = 1
    """,
)
def stream_hdr_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of hdr_quantile_sketch over the event value stream:
    the log-linear bucket histogram maintained BY Structured Streaming
    (a streaming groupBy(bucket).count -- legal in complete mode
    precisely because bucket counts are additive, the sketch's
    mergeability doing the work), then the p50/p90/p99 read-off on the
    final counts.  batch == stream by construction: incremental count
    merge is the same operation as the batch partial->final agg, so the
    oracle is simply the batch spelling (the stream_holt_daily_value
    discipline).  At 100 TB-scale streams the state store holds <= ~1.5k
    bucket rows regardless of throughput -- THE argument for fixed-grid
    sketches in continuous pipelines (a sorted-sample quantile state
    would grow with the stream).
    """
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        HDR_SUBS,
        hdr_bucket_expr,
    )

    # hdr_bucket_expr is defined for POSITIVE v only (bin() of a negative
    # bigint differs cross-engine: Spark two's-complement vs DuckDB
    # sign-prefixed); clamp to >= 1 identically on both sides so the
    # precondition holds by construction.
    ev = _events_stream(spark, sf_dir).select(
        F.greatest(
            F.round(F.col("value") * 100).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("v")
    )
    hist = ev.select(F.expr(hdr_bucket_expr("v")).alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    histb = run_stream_to_memory(hist, spark)

    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = histb.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(
                *[F.lit(q).cast("bigint") for q in (500000, 900000, 990000)]
            )
        ).alias("q_ppm")
    )
    wp = Window.partitionBy("q_ppm").orderBy("bucket")
    return (
        cum.crossJoin(F.broadcast(qs))
        .withColumn("target", F.expr("(q_ppm * n + 999999) DIV 1000000"))
        .filter(F.col("cum") >= F.col("target"))
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select(
            "q_ppm",
            F.col("n").alias("n_total"),
            F.col("target").alias("target_rank"),
            F.col("bucket").alias("bucket_id"),
            F.expr(
                f"(CAST(1 AS BIGINT) << (bucket DIV {HDR_SUBS}))"
                f" + ((bucket % {HDR_SUBS})"
                f" * (CAST(1 AS BIGINT) << (bucket DIV {HDR_SUBS})))"
                f" DIV {HDR_SUBS}"
            ).alias("est_c"),
        )
    )


@declared(
    "stream_hll_distinct_daily",
    # f-string over the SAME HLL constants the batch twin derives from
    # (aggregates.HLL_M/HLL_RANK_W/HLL_ALPHA_PPM) -- a constant change
    # re-derives the streaming query AND its oracle together instead of
    # silently desyncing them (ADVICE round 6).
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
               AS h
      FROM events
    ),
    regs AS (
      SELECT day, h % {_HLL_M} AS bucket,
             CAST(max({_hll_rank_sql(f'(h // {_HLL_M})')})
                  AS BIGINT) AS mx
      FROM hashed GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_buckets_used,
           CAST(floor({_HLL_ALPHA_PPM}e0
                 * ((CAST(1 AS BIGINT) << {12 + _HLL_RANK_W + 1})
                    // (CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RANK_W + 1} - mx))
                             AS BIGINT)
                        + ({_HLL_M} - count(*))
                          * (CAST(1 AS BIGINT) << {_HLL_RANK_W + 1})))
                 / 1000000e0) AS BIGINT) AS est_dau
    FROM regs GROUP BY day
    """,
)
def stream_hll_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of hll_custom_distinct_daily: the per-(day, bucket)
    HLL register state maintained BY Structured Streaming -- a streaming
    groupBy(day, bucket).max(rank), legal in complete mode precisely
    because per-bucket MAX is associative AND idempotent, so the stream
    needs NO distinct-user state at all (a duplicate user re-inserts the
    same rank and MAX absorbs it; the batch side's DISTINCT pre-pass is
    an optimization, not a semantic requirement).  The estimator
    read-off (integer-scaled harmonic sum, alpha in ppm under floor)
    runs batch-side on the final <= 64-rows-per-day register table.

    THE 100 TB streaming property: state is bounded at m = 64 rows per
    day regardless of throughput -- an exact streaming count-distinct
    would hold every user id in the state store (unbounded), which is
    why production pipelines stream sketches and merge them (same
    argument as stream_hdr_value_quantiles, with idempotent-MAX in
    place of additive counts).  batch == stream by construction:
    incremental MAX merge is the batch partial->final agg, so the
    oracle is the batch spelling minus the exact-audit column (which
    would need the unbounded state this sketch exists to avoid).
    """
    ev = _events_stream(spark, sf_dir)
    regs = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 12),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
        .select(
            "day",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.expr(_hll_rank_sql(f"(h DIV {_HLL_M})")).alias("rank"),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rank").cast("bigint").alias("mx"))
    )
    regsb = run_stream_to_memory(regs, spark)
    return regsb.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
        F.expr(
            f"CAST(floor({_HLL_ALPHA_PPM}e0 * "
            f"((CAST(1 AS BIGINT) << {12 + _HLL_RANK_W + 1}) DIV "
            f"(CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RANK_W + 1} - mx)) "
            f"AS BIGINT) + ({_HLL_M} - count(*)) "
            f"* (CAST(1 AS BIGINT) << {_HLL_RANK_W + 1}))) "
            f"/ 1000000e0) AS BIGINT)"
        ).alias("est_dau"),
    )


from etl_rf_matrix_controller_spark.operators.aggregates import (  # noqa: E402
    CMS_HH_ORACLE_SQL,
)


@declared("stream_cms_heavy_hitters", oracle=CMS_HH_ORACLE_SQL)
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cms_heavy_hitters, completing the streamable
    sketch trio (HDR quantiles = additive bucket counts, HLL distinct =
    idempotent register MAX, CMS frequency = additive cell counts): the
    CMS_ROWS x CMS_CELLS cell table maintained BY Structured Streaming
    as a groupBy(row_id, cell).count -- legal in complete mode because
    cell counts are additive, which is also exactly the CMS merge
    operation, so incremental micro-batch accumulation IS sketch merge.
    The heavy-hitter read-off (probe, min-over-rows estimate, 1.2x-mean
    threshold) runs batch-side over the final <= CMS_ROWS * CMS_CELLS =
    8192-row state via the SAME cms_hh_readoff the batch query uses.

    State is bounded at 8192 rows at ANY throughput -- an exact
    streaming per-key count holds every key in the state store.  batch
    == stream by construction (count merge == partial->final agg), and
    the oracle is the identical CMS_HH_ORACLE_SQL contract the batch
    query is certified against.
    """
    from etl_rf_matrix_controller_spark.operators.aggregates import (
        cms_cell_col,
        cms_hh_readoff,
        cms_rows_col,
    )

    ev = _events_stream(spark, sf_dir).select("user_id")
    cells_stream = (
        ev.select("user_id", cms_rows_col())
        .select("row_id", cms_cell_col().alias("cell"))
        .groupBy("row_id", "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = run_stream_to_memory(cells_stream, spark)
    ev_batch = load_table(spark, sf_dir, "events").select("user_id")
    return cms_hh_readoff(cells, ev_batch)
