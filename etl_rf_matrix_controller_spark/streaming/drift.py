"""Streaming online Page-Hinkley drift detection.

The batch `page_hinkley_drift` computes the OFFLINE statistic (deviation
from the global mean, known only after the fact).  The streaming-honest
form is the ONLINE recursion against the running mean:

    PH_t = PH_{t-1} + (x_t - mean(x_1..x_t)),   drift_t = PH_t - min_{s<=t} PH_s

which needs only (count, sum, PH, min-PH) carried forward -- the form
Page-Hinkley was designed for (Page 1954, Hinkley 1971; the drift test
every streaming-ML library ships).

Streaming decomposition: the per-(event_type, day) value sums are an
ADDITIVE streaming aggregation -- micro-batch accumulation IS the merge,
any time-split of the input yields the same daily table (the
stream_hll/stream_cms argument) -- and the order-sensitive PH fold runs
batch-side over the bounded |types| x |days| result.  State is bounded by
the calendar, never by throughput.  The fold itself is an identical
sequential IEEE recursion on both engines: Spark aggregate() over the
day-sorted array vs a recursive CTE in the oracle (multi-component state
=> recursive CTE, NOT list_reduce -- the documented struct-accumulator
trap), so every double is bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.plans.registry import declared

# Online PH step, shared textually by every field of the fold state.
_PH_NEW = (
    "acc.ph + (CAST(x.v AS DOUBLE)"
    " - CAST(acc.cum + x.v AS DOUBLE) / CAST(acc.i + 1 AS DOUBLE))"
)
_DRIFT_NEW = f"(({_PH_NEW}) - least(acc.minph, {_PH_NEW}))"

_PH_FOLD_EXPR = f"""
aggregate(
  slice(arr, 2, size(arr) - 1),
  named_struct(
    'i', CAST(1 AS BIGINT),
    'cum', element_at(arr, 1).v,
    'ph', CAST(0.0e0 AS DOUBLE),
    'minph', CAST(0.0e0 AS DOUBLE),
    'maxd', CAST(0.0e0 AS DOUBLE),
    'dday', element_at(arr, 1).day),
  (acc, x) -> named_struct(
    'i', acc.i + CAST(1 AS BIGINT),
    'cum', acc.cum + x.v,
    'ph', {_PH_NEW},
    'minph', least(acc.minph, {_PH_NEW}),
    'maxd', CASE WHEN {_DRIFT_NEW} > acc.maxd
                 THEN {_DRIFT_NEW} ELSE acc.maxd END,
    'dday', CASE WHEN {_DRIFT_NEW} > acc.maxd
                 THEN x.day ELSE acc.dday END))
"""


def ph_daily_sums(events: DataFrame) -> DataFrame:
    """Per-(event_type, day) scaled value sums -- valid on a batch OR
    streaming frame (additive agg: complete-mode accumulation across any
    micro-batch split merges to the batch answer)."""
    return events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )


def ph_fold(daily: DataFrame) -> DataFrame:
    """Online PH fold per event_type over the day-ordered daily sums."""
    series = daily.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(struct(day, v)))").alias("arr")
    )
    return series.select(
        "event_type",
        F.expr("CAST(size(arr) AS BIGINT)").alias("n_days"),
        F.expr(f"({_PH_FOLD_EXPR}).ph").alias("final_ph"),
        F.expr(f"({_PH_FOLD_EXPR}).maxd").alias("max_drift"),
        F.expr(f"({_PH_FOLD_EXPR}).dday").alias("drift_day"),
    )


@declared(
    "stream_page_hinkley_drift",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             list(v ORDER BY day) AS vs,
             list(day ORDER BY day) AS ds
      FROM daily GROUP BY event_type
    ),
    fold(event_type, j, cum, ph, minph, maxd, dday) AS (
      SELECT event_type, CAST(1 AS BIGINT), vs[1],
             CAST(0.0e0 AS DOUBLE), CAST(0.0e0 AS DOUBLE),
             CAST(0.0e0 AS DOUBLE), ds[1]
      FROM series
      UNION ALL
      SELECT f.event_type, f.j + 1, f.cum + s.vs[f.j + 1],
             f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                     - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                       / CAST(f.j + 1 AS DOUBLE)),
             least(f.minph,
                   f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                           - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                             / CAST(f.j + 1 AS DOUBLE))),
             CASE WHEN ((f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                 - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                   / CAST(f.j + 1 AS DOUBLE)))
                        - least(f.minph,
                                f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                        - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                          / CAST(f.j + 1 AS DOUBLE))))
                       > f.maxd
                  THEN ((f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                 - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                   / CAST(f.j + 1 AS DOUBLE)))
                        - least(f.minph,
                                f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                        - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                          / CAST(f.j + 1 AS DOUBLE))))
                  ELSE f.maxd END,
             CASE WHEN ((f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                 - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                   / CAST(f.j + 1 AS DOUBLE)))
                        - least(f.minph,
                                f.ph + (CAST(s.vs[f.j + 1] AS DOUBLE)
                                        - CAST(f.cum + s.vs[f.j + 1] AS DOUBLE)
                                          / CAST(f.j + 1 AS DOUBLE))))
                       > f.maxd
                  THEN s.ds[f.j + 1] ELSE f.dday END
      FROM fold f JOIN series s ON s.event_type = f.event_type
      WHERE f.j < s.m
    )
    SELECT f.event_type, s.m AS n_days, f.ph AS final_ph,
           f.maxd AS max_drift, f.dday AS drift_day
    FROM fold f JOIN series s
      ON s.event_type = f.event_type AND f.j = s.m
    """,
)
def stream_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Page-Hinkley drift per event type, as a STREAM: the daily
    value sums accumulate under Structured Streaming (additive agg --
    bounded |types| x |days| state, any micro-batch split merges to the
    same table), and the order-sensitive online recursion PH_t =
    PH_{t-1} + (x_t - running mean) with running-min drift runs on the
    bounded result.  Reports the maximum drift excursion and the day it
    peaked -- the alarm a sequential drift detector would have raised.

    Distinct semantics from the batch `page_hinkley_drift` (offline,
    global-mean): the online form never sees the future, so the two
    disagree by design and both are kept.  The fold is one sequential
    IEEE recursion, bit-equal between Spark aggregate() and the
    oracle's recursive CTE (multi-component state, so the CTE pattern
    -- never list_reduce).  Stream == batch across micro-batches is
    pinned in tests/test_round7c_ops.py with a planted drift series.
    """
    from etl_rf_matrix_controller_spark.streaming.windows import (
        _events_stream,
        run_stream_to_memory,
    )

    ev = _events_stream(spark, sf_dir)
    daily = run_stream_to_memory(ph_daily_sums(ev), spark)
    return ph_fold(daily)
