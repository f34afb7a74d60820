"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime coalesce +
skew-join splitting), a UTC session timezone (oracle parity), and Arrow
for the few pandas-UDF extension operators.

Two defaults cut fixed costs that no query needs:

* ``spark.python.daemon.module`` starts Python workers from
  ``worker_daemon.py``: a task no longer re-reads the ``pyspark.zip``
  directory once per zipimporter (0.15-0.55 s per task on Python 3.11,
  4-core host).
* ``spark.sql.streaming.checkpointFileManagerClass`` renames checkpoint
  files through ``FileSystem.rename``.  The default FileContext manager
  goes through Hadoop's local filesystem, which without the native
  library forks ``readlink`` twice per rename (112 forks per
  ``stream_event_transitions`` drain).  Hadoop ``.crc`` files and
  Spark's checkpoint file checksums stay on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The session confs every query depends on, defined once: a UTC session
# timezone (timestamp truncation and epoch math must agree with DuckDB
# whatever the caller's timezone) and long-nanos reads of events.parquet's
# TIMESTAMP(NANOS) ``ts`` (normalized in sources/tables.py).  get_spark
# builds every session with them; __spark_entry__ pins them on a foreign
# session before a query runs; no query writes them.
ENGINE_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "etl-rf-matrix-controller-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count locally; on a real
    cluster you would size it to ~2-3x total executor cores (or leave AQE's
    coalescing to shrink from a generous initial number).
    """
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONFS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Bucketed+sorted index tables (plans/gram_index.py) are written
        # one-file-per-bucket so their scans can expose the sortBy order;
        # Spark disables that by default since 3.0 (SPARK-28595).  With
        # this on, the winnow selection windows read distribution AND
        # ordering straight off the scan: zero Exchange, zero Sort.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.python.daemon.module",
            "etl_rf_matrix_controller_spark.worker_daemon",
        )
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # tooling overrides (round-10 ADVICE: profile_query must not
    # hand-copy this conf list -- it passes {"spark.ui.enabled": "true",
    # ...} here so any future conf change above flows to profiles)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
