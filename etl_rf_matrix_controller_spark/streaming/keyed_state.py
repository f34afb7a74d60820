"""Sharded keyed state: the one adapter every keyed-state stream op uses.

An op keys its state per ENTITY (a user, an event type, a band bucket),
but ``applyInPandasWithState`` runs one pandas group per group key, and
its per-group overhead dominates when entities are many and rows per
entity few: keying the near-dup band index by raw bucket key made ~140k
singleton groups at sf0.1 and cost 30.8 s, against 2 s sharded.  So
entities are hashed into a bounded number of shards
(:func:`state_shards`) and the SHARD is the group key; each shard's
state row holds its entities' states as parallel arrays -- one array of
entity keys plus one array per per-entity state field (parallel
primitive arrays are the cheapest Arrow round-trip).

The adapter owns everything but the fold:
  * the ``pmod(xxhash64(key), shards)`` column and the
    ``groupBy("shard").applyInPandasWithState(..., "update", NoTimeout)``
    call;
  * the shard's state schema, derived from the per-entity one;
  * unpacking the shard row to ``{entity: state tuple}`` and repacking
    it -- with no state row for an empty index, so entities an op
    declines to store (curation's quality rejects) cost zero state;
  * one concatenate-and-sort of the micro-batch by ``(key, *order)``.

An op supplies ``fold(index, rows, key)``: it folds the sorted rows into
``index`` in place and returns its output rows as tuples in the output
schema's column order.  :func:`per_entity`
lifts a fold over ONE entity's rows into such a fold.  Results are
shard-count-invariant: every entity is folded alone, over its rows in
``order``, whatever shard it lands in (tests/test_keyed_state.py).

Restart stability: the shard count follows the session's
``spark.sql.shuffle.partitions`` (:func:`state_shards`), so state
checkpointed under one count would be misrouted under another.  No op
here takes a durable ``checkpointLocation`` -- every drain runs through
windows.py::run_stream_to_memory's temporary checkpoint, created and
read in one session -- so the count never outlives its session.
Persist the count beside the checkpoint when an op first gets a
durable one.

The one direct ``applyInPandasWithState`` call left is
state.py::stream_state_ttl_expiry: its ``EventTimeTimeout`` is per
group, and sharding would change when it fires.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, StructField, StructType


def state_shards(spark) -> int:
    """Shard count: twice the number of state stores the stateful
    operator gets (``spark.sql.shuffle.partitions``), not a multiple of
    the core count.  Groups inside one store partition run one after
    another in one Python worker, so shards far beyond the store count
    add per-group pandas cost and no parallelism.  Twice, not once:
    the store of a shard id is Murmur3 of the id modulo the store
    count, so with one shard per store two ids often share a store and
    another store sits idle.  Measured at sf0.1 on 4 cores (4 stores;
    the five keyed-state drains, in-process, median of 5 after a
    warm-up, interleaved): 4 shards 11.82 s, 8 shards 10.86 s, 32
    shards 11.74 s summed, and 8 was the fastest on each drain."""
    return 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))


def per_entity(step: Callable) -> Callable:
    """Lift ``step(entity, prev, rows) -> (state, out_rows)`` to a shard
    fold.  ``rows`` are one entity's rows of the micro-batch, in order;
    ``prev`` is its stored state tuple, or None for a new entity.  A None
    ``state`` stores nothing for the entity."""

    def fold(index: dict, rows, key: str) -> list:
        out: list = []
        for entity, grp in rows.groupby(key, sort=False):
            state, emit = step(entity, index.get(entity), grp)
            if state is not None:
                index[entity] = state
            out.extend(emit)
        return out

    return fold


def apply_keyed_state(
    rows: DataFrame,
    key: str,
    order: Sequence[str],
    fold: Callable,
    out_schema: StructType,
    state_schema: StructType,
) -> DataFrame:
    """Run ``fold`` over a streaming frame as sharded keyed state and
    return the update-mode output stream (drain it with
    run_stream_to_memory).  ``state_schema`` is the PER-ENTITY state;
    ``key`` must be a column of ``rows``."""
    by = [key, *order]
    names = out_schema.fieldNames()
    # one state row per shard: the entity keys plus one index-aligned
    # array per per-entity state field
    shard_state = StructType(
        [StructField("keys", ArrayType(rows.schema[key].dataType))]
        + [StructField(f.name, ArrayType(f.dataType)) for f in state_schema]
    )

    def _shard(_, pdf_iter, state: GroupState):
        import pandas as pd

        batch = [pdf for pdf in pdf_iter if not pdf.empty]
        if not batch:
            return
        index = {}
        if state.exists:
            keys, *fields = state.get
            index = dict(zip(keys, zip(*fields)))
        out = fold(index, pd.concat(batch).sort_values(by), key)
        if index:
            state.update((list(index), *map(list, zip(*index.values()))))
        if out:
            yield pd.DataFrame.from_records(out, columns=names)

    shards = state_shards(rows.sparkSession)
    return (
        rows.withColumn("shard", F.pmod(F.xxhash64(key), F.lit(shards)))
        .groupBy("shard")
        .applyInPandasWithState(
            _shard,
            outputStructType=out_schema,
            stateStructType=shard_state,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
