"""Streaming event-transition counting with cross-batch keyed state.

The batch query `event_transition_counts` (operators/behavior.py) computes
the (prev_type, cur_type) Markov transition counts with one lag window.
This module is its STREAMING twin: the per-user "last event" is keyed
streaming state, so a transition whose two events arrive in DIFFERENT
micro-batches is still counted -- the piece a naive per-batch lag window
silently drops (the first event of every batch would lose its
predecessor).  Reference basis: the reference recomputes its full state
table per poll (etl_controller.py:1668-1698); here arrival order is
carried as bounded state instead.

Design (scale story first):
  * State is ONE logical row per user -- (ts_us, event_id, event_type) of
    the latest event -- the minimum any cross-batch sequence operator can
    hold; bounded by user cardinality at any event throughput.
  * Users are SHARDED by streaming/keyed_state.py (the adapter every
    keyed-state op runs through): per-user keying made one pandas group
    per user (1,500 groups per micro-batch at sf0.1, ~0.2 ms each);
    sharding bounds the group count while the per-user semantics are
    untouched (users are processed independently inside a shard).
  * Transitions leave the state function as PARTIAL COUNTS: each shard
    emits (prev_type, cur_type, n) for its micro-batch, at most |types|^2
    rows, never one row per event (100,000 per sf0.1 drain would cross
    Arrow, result serialization and the memory sink only to be counted).
    Update mode emits each partial exactly once; the final count is
    sum(n) over the sink -- the same sink-side-aggregate split as
    stream_cms_heavy_hitters.

batch == stream by construction: within a micro-batch rows are processed
in (ts, event_id) order -- the batch twin's window ORDER BY -- and the
cross-batch boundary transition uses the stored last event, so ANY
time-ordered file split yields identical counts (pinned across >= 3 real
micro-batches in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.streaming.keyed_state import (
    apply_keyed_state,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    _events_stream,
    run_stream_to_memory,
)

_OUT_SCHEMA = StructType(
    [
        StructField("prev_type", StringType()),
        StructField("cur_type", StringType()),
        StructField("n", LongType()),
    ]
)
# Per user: the latest (ts_us, event_id, event_type).
_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("eids", LongType()),
        StructField("types", StringType()),
    ]
)


def _transition_tracker(index: dict, rows, key: str):
    """One SHARD of the last-event index: count this micro-batch's
    (prev, cur) transitions per consecutive event pair of each user,
    seeding each user's chain from the stored cross-batch last event, and
    return the shard's partial counts -- at most |types|^2 rows."""
    import pandas as pd

    user = rows[key]
    first = user.ne(user.shift())
    prev = rows["event_type"].shift()
    prev.loc[first] = user[first].map({u: v[2] for u, v in index.items()})
    tail = rows[user.ne(user.shift(-1))]
    index.update(
        zip(
            tail[key].tolist(),
            zip(
                tail["ts_us"].tolist(),
                tail["event_id"].tolist(),
                tail["event_type"].tolist(),
            ),
        )
    )
    pairs = pd.DataFrame({"prev_type": prev, "cur_type": rows["event_type"]})
    counts = (
        pairs[prev.notna()]
        .groupby(["prev_type", "cur_type"], dropna=False)
        .size()
    )
    return list(counts.reset_index().itertuples(index=False, name=None))


def stream_transitions(
    events_stream: DataFrame,
    spark: SparkSession,
    progress_holder: list | None = None,
) -> DataFrame:
    """Run the sharded last-event state op over a streaming events frame
    to completion (availableNow); returns the per-shard, per-batch
    partial counts (prev_type, cur_type, n) as a batch frame from the
    memory sink.  Summing ``n`` per pair gives the transition counts."""
    keyed = events_stream.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
    )
    out = apply_keyed_state(
        keyed, "user_id", ("ts_us", "event_id"), _transition_tracker,
        _OUT_SCHEMA, _STATE_SCHEMA,
    )
    return run_stream_to_memory(out, spark, "update", progress_holder)


def _batch_oracle() -> str:
    """The streaming twin is certified against the REGISTERED batch
    oracle verbatim (the stream_cms_heavy_hitters discipline): the two
    declared queries can never drift."""
    from etl_rf_matrix_controller_spark.operators import behavior  # noqa: F401
    from etl_rf_matrix_controller_spark.plans import registry as _reg

    return _reg.ORACLES["event_transition_counts"]


@declared("stream_event_transitions", oracle=_batch_oracle())
def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-transition counts as a STREAM: the (prev -> cur)
    Markov transition matrix accumulated continuously, with the per-user
    last event held as keyed streaming state so batch-boundary
    transitions are never lost.  Same oracle as the batch twin
    `event_transition_counts` -- stream == batch is the contract, across
    any time-ordered micro-batch split.

    100 TB posture: state is exactly one (ts, event_id, type) per user
    (entity-bounded, not throughput-bounded); the only shuffle ahead of
    the state op is the shard hash; transition rows collapse in the
    state function: each shard emits its batch's partial counts, at most
    |types|^2 rows.  The update-mode sink emits each partial once, so
    the sum is additive across batches -- the same
    accumulate-then-read-off split as the streaming sketch trio."""
    partials = stream_transitions(_events_stream(spark, sf_dir), spark)
    return partials.groupBy("prev_type", "cur_type").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )
