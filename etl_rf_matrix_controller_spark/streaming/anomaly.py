"""Streaming per-user z-score anomaly detection with running-moment state.

Each event is scored against the statistics of the user's PRIOR events
only (the online / prequential discipline -- scoring against a window
that includes the point itself both dilutes the outlier and leaks the
future).  The per-user state is the classic Welford triple (n, sum,
sum-of-squares); the anomaly test is held ENTIRELY in integer space:

    z^2 > 9   <=>   (x*n - S)^2 > 9 * (n*Q - S^2)

over 4-decimal scaled bigints, so stream and DuckDB oracle agree
bit-for-bit with no sqrt or division anywhere.  The batch twin is the
running-window spelling (ROWS BETWEEN UNBOUNDED PRECEDING AND 1
PRECEDING), which is exactly the declared oracle -- stream == batch
across any time-ordered micro-batch split, the streaming/transitions.py
contract.  The state is sharded by streaming/keyed_state.py: one state
row per shard, holding its users' triples.

Complements the batch drift family (`value_zscore_outliers` scores
against the GLOBAL mean; `ewma_control_chart` / `page_hinkley_drift` /
`value_changepoint_cusum` detect LEVEL shifts): this is the per-entity
online outlier tier a streaming ingest actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
    per_entity,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    _events_stream,
    run_stream_to_memory,
)

# Scored only once >= ZSCORE_MIN_PRIOR prior events exist (variance of a
# single point is meaningless); anomaly threshold is |z| > 3.
ZSCORE_MIN_PRIOR = 2

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("d_scored", LongType()),
        StructField("d_anomalies", LongType()),
    ]
)
_MOMENT_STATE_SCHEMA = StructType(
    [
        StructField("ns", LongType()),
        StructField("sums", LongType()),
        StructField("sumsqs", LongType()),
    ]
)


def _moment_scorer(user, prev, rows):
    """One user's running moments: score each event against the prior
    (n, S, Q), then fold it in."""
    n, s, q = prev or (0, 0, 0)
    scored = anomalies = 0
    for x in rows["x"].tolist():
        if n >= ZSCORE_MIN_PRIOR:
            scored += 1
            if (x * n - s) ** 2 > 9 * (n * q - s * s):
                anomalies += 1
        n, s, q = n + 1, s + x, q + x * x
    return (n, s, q), [(user, scored, anomalies)]


def stream_zscore_rows(
    events_stream: DataFrame,
    spark: SparkSession,
    progress_holder: list | None = None,
) -> DataFrame:
    """Run the sharded running-moment scorer to completion (availableNow);
    returns per-(user, micro-batch) scored/anomaly deltas."""
    keyed = events_stream.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.round(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    out = apply_keyed_state(
        keyed, "user_id", ("ts_us", "event_id"), per_entity(_moment_scorer),
        _OUT_SCHEMA, _MOMENT_STATE_SCHEMA,
    )
    return run_stream_to_memory(out, spark, "update", progress_holder)


@declared(
    "stream_zscore_anomalies",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             CAST(round(value * 10000) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS np,
             coalesce(sum(CAST(round(value * 10000) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS sp,
             coalesce(sum(CAST(round(value * 10000) AS BIGINT)
                          * CAST(round(value * 10000) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS qp
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN np >= {ZSCORE_MIN_PRIOR} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN np >= {ZSCORE_MIN_PRIOR}
                          AND CAST(x * np - sp AS HUGEINT)
                              * CAST(x * np - sp AS HUGEINT)
                              > 9 * (CAST(np AS HUGEINT) * qp
                                     - CAST(sp AS HUGEINT) * sp)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM s
    GROUP BY user_id
    HAVING sum(CASE WHEN np >= {ZSCORE_MIN_PRIOR} THEN 1 ELSE 0 END) > 0
    """,
)
def stream_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user online |z| > 3 anomaly counts as a STREAM: each event is
    scored against the user's PRIOR running moments (Welford state --
    one (n, S, Q) triple per user, sharded), entirely in scaled-integer
    space so the test (x*n - S)^2 > 9*(n*Q - S^2) is bit-identical to
    the batch running-window oracle.  Users enter the output after
    their {ZSCORE_MIN_PRIOR + 1}th event (prior variance needs
    {ZSCORE_MIN_PRIOR} points).

    100 TB posture: state is 3 bigints per user (entity-bounded); the
    pre-state shuffle is the shard hash alone; sink volume is one delta
    row per (user, micro-batch), collapsed by the batch-side rollup.
    Stream == batch pinned across 3 real micro-batches in
    tests/test_round7b_ops.py, including anomalies whose prior
    window STRADDLES a batch boundary."""
    rows = stream_zscore_rows(_events_stream(spark, sf_dir), spark)
    return (
        rows.groupBy("user_id")
        .agg(
            F.sum("d_scored").cast("bigint").alias("n_scored"),
            F.sum("d_anomalies").cast("bigint").alias("n_anomalies"),
        )
        .filter(F.col("n_scored") > 0)
    )
