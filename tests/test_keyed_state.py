"""The sharded keyed-state adapter (streaming/keyed_state.py): results do
not depend on the shard count, and state is one row per shard, not one
per entity.

Runs at sf0.01, where the 150 users outnumber the default shard count.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.sources.tables import load_table
from etl_rf_matrix_controller_spark.streaming import keyed_state
from etl_rf_matrix_controller_spark.streaming.state import (
    EMA_OUTPUT_SCHEMA,
    EMA_STATE_SCHEMA,
    _update_ema,
    stream_ema_user_value,
)
from etl_rf_matrix_controller_spark.streaming.transitions import (
    stream_transitions,
)
from etl_rf_matrix_controller_spark.streaming.windows import (
    _events_stream,
    run_stream_to_memory,
)
from tests.conftest import SF_DIR, spark_rows, state_row_counts

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def test_results_are_shard_count_invariant(spark, monkeypatch):
    """Summed transition partials (a shard-level fold) and the per-user
    EMA (a per-entity fold) are identical with 1 shard, 7 shards and the
    session's default count; the state rows show each count took
    effect."""
    results = {}
    for n in (1, 7, keyed_state.state_shards(spark)):
        monkeypatch.setattr(keyed_state, "state_shards", lambda _, n=n: n)
        progress: list = []
        partials = stream_transitions(
            _events_stream(spark, SF), spark, progress
        )
        results[n] = (
            spark_rows(
                partials.groupBy("prev_type", "cur_type").agg(
                    F.sum("n").alias("n")
                )
            ),
            spark_rows(stream_ema_user_value(spark, SF)),
        )
        state_rows = state_row_counts(progress)
        assert state_rows and max(state_rows) <= n, (state_rows, n)
        if n == 1:
            assert max(state_rows) == 1
    first, *rest = results.values()
    assert first[0][1] and first[1][1]
    assert all(r == first for r in rest)


def test_shard_count_follows_the_state_store_count(spark, monkeypatch):
    """The default shard count is twice the stateful operator's
    partition count, spark.sql.shuffle.partitions, whatever the core
    count."""
    stores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert keyed_state.state_shards(spark) == 2 * stores
    monkeypatch.setattr(
        type(spark.sparkContext),
        "defaultParallelism",
        property(lambda _: 8 * stores),
    )
    assert spark.sparkContext.defaultParallelism == 8 * stores
    assert keyed_state.state_shards(spark) == 2 * stores


def test_per_entity_fold_keeps_one_state_row_per_shard(spark):
    """The per-user EMA fold, run through the adapter on more users than
    shards, holds at most one state row per shard."""
    shards = keyed_state.state_shards(spark)
    events = _events_stream(spark, SF).select(
        "user_id", "ts", "event_id", "value"
    )
    n_users = (
        load_table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert n_users > shards, (n_users, shards)
    progress: list = []
    updates = keyed_state.apply_keyed_state(
        events,
        "user_id",
        ("ts", "event_id"),
        keyed_state.per_entity(_update_ema),
        EMA_OUTPUT_SCHEMA,
        EMA_STATE_SCHEMA,
    )
    out = run_stream_to_memory(updates, spark, "update", progress)
    assert out.select("user_id").distinct().count() == n_users
    state_rows = state_row_counts(progress)
    assert state_rows and max(state_rows) <= shards, (state_rows, shards)
