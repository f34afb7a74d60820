"""Streaming exact deduplication with bounded state.

The streaming twin of the batch ``dedup_event_ids`` operator
(operators/dedup.py family): an at-least-once ingest feed (retried
uploads, replayed partitions) deduplicated on the fly with
``dropDuplicatesWithinWatermark`` -- Spark keeps one state entry per key
only until the event-time watermark passes it, so state is bounded by
the watermark horizon, not by the stream's lifetime key cardinality.

That bound is the 100 TB design point: a global streaming
``dropDuplicates`` would accrete state forever (every event_id ever
seen); the watermarked form holds only the last `delay` worth of keys,
which is what a real ingest pipeline wants -- duplicates arrive close to
their originals (retries, replays), not days later.  The cost is honest:
a duplicate arriving AFTER its key's state was evicted is re-admitted.
The pytest in tests/test_streaming.py asserts both sides of the
contract: in-watermark duplicates are dropped across micro-batches, and
a post-eviction replay is re-admitted (bounded state, not amnesia-free
dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_rf_matrix_controller_spark.streaming.windows import (
    run_stream_to_memory,
)


def dedup_stream_within_watermark(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    delay: str = "1 hour",
) -> DataFrame:
    """Run a file-fed stream through watermarked exact dedup to completion.

    The memory sink here is for assertions only and cannot recover from a
    checkpoint; the production (and crash-recovery-tested) form writes a
    parquet sink with a checkpointLocation -- source offsets and dedup
    key state restore across a restart, pinned by
    tests/test_streaming.py::test_stream_dedup_state_survives_restart.

    ``maxFilesPerTrigger=1`` forces one micro-batch per file so the test
    exercises real cross-batch state (a single batch would dedup trivially);
    ``availableNow`` drains the directory then stops.  Append mode: rows
    are emitted on first sight, duplicates within the watermark horizon
    are suppressed by keyed state.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return run_stream_to_memory(stream, spark, "append")
