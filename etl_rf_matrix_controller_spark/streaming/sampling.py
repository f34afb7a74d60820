"""Streaming stratified admission sampling: first-K-per-stratum as keyed
streaming state.

A production ingest tier keeps a bounded per-stratum audit sample (first K
events of every type, deterministic and replayable) without ever holding
the stream: the per-stratum admitted count is the ONLY state.  The batch
twin is a row_number window (first K by (ts, event_id) per stratum), so
stream == batch holds across any time-ordered micro-batch split -- the
same arrival-order contract as streaming/transitions.py.

Complements the batch sampling family (`hash_mod_sample` -- hash
membership, `stratified_sample_docs` -- per-stratum hash quotas,
`weighted_systematic_sample`) with the STREAMING admission shape: state
bounded at one counter per stratum, admission decisions made on arrival,
each admitted row emitted exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
    per_entity,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    _events_stream,
    run_stream_to_memory,
)

# Admission cap per stratum (event_type).
STRAT_SAMPLE_K = 100

_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
    ]
)
_COUNT_STATE_SCHEMA = StructType([StructField("n_admitted", LongType())])


def _make_admitter(k: int):
    def _admit(stratum, prev, rows):
        """One stratum: admit rows in (ts_us, event_id) order until the
        cross-batch counter reaches ``k``; emit ONLY admitted rows."""
        n = prev[0] if prev else 0
        take = rows.head(max(k - n, 0))[_OUT_SCHEMA.fieldNames()]
        return (n + len(take),), take.itertuples(index=False, name=None)

    return per_entity(_admit)


def stream_stratified_rows(
    events_stream: DataFrame,
    spark: SparkSession,
    k: int,
    progress_holder: list | None = None,
) -> DataFrame:
    """Run the admission sampler over a streaming events frame to
    completion (availableNow); returns the admitted rows as a batch
    frame from the memory sink."""
    keyed = events_stream.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
    )
    out = apply_keyed_state(
        keyed, "event_type", ("ts_us", "event_id"), _make_admitter(k),
        _OUT_SCHEMA, _COUNT_STATE_SCHEMA,
    )
    return run_stream_to_memory(out, spark, "update", progress_holder)


@declared(
    "stream_stratified_sample",
    oracle=f"""
    WITH ordered AS (
      SELECT event_type, epoch_us(ts) AS ts_us, event_id, user_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(ts_us) AS BIGINT) AS min_ts_us,
           CAST(max(ts_us) AS BIGINT) AS max_ts_us,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(user_id) AS BIGINT) AS user_sum
    FROM ordered WHERE rn <= {STRAT_SAMPLE_K}
    GROUP BY event_type
    """,
)
def stream_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-{STRAT_SAMPLE_K}-per-stratum admission sample as a STREAM:
    each event type keeps its first {STRAT_SAMPLE_K} events by
    (ts, event_id), decided on arrival with ONE counter of state per
    stratum -- the bounded audit-sample tier of a streaming ingest.  The
    summary row per stratum carries count, time span, and two exact
    membership fingerprints (id/user sums) so the oracle certifies the
    SAMPLED SET, not just its size.

    100 TB posture: state is stratum-cardinality-bounded (a counter per
    type -- nothing grows with throughput); the only pre-state shuffle
    is the shard hash of the stratum key; admitted rows (<= K per
    stratum, ever) are the entire sink volume.  Stream == batch across
    time-ordered micro-batches pinned in tests/test_round7b_ops.py,
    including a stratum that FILLS mid-stream and admits nothing after."""
    rows = stream_stratified_rows(
        _events_stream(spark, sf_dir), spark, STRAT_SAMPLE_K
    )
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.min("ts_us").cast("bigint").alias("min_ts_us"),
        F.max("ts_us").cast("bigint").alias("max_ts_us"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum("user_id").cast("bigint").alias("user_sum"),
    )
