"""Parquet source readers for the driver's testdata star schema.

Mirrors the reference's source surface (SURVEY.md SS2.1): full-state scans
(S2), parameterized point reads (S3), JSON config load (S4).  At scale these
are plain ``spark.read.parquet`` scans -- Catalyst pushes predicates and
prunes columns into the parquet footer reader, which is the whole
optimization story for 100 TB: never read what the query doesn't need.

Each table's schema is inferred once per file version (``read_parquet``)
and supplied to every later scan: an unsupplied schema costs a one-task
inference job per read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_rf_matrix_controller_spark.session import ENGINE_CONFS

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor
# (region/nation are fixed-size; supplier/customer/part grow ~linearly but
# stay far below a 100 TB fact table -- still, only region/nation/supplier
# are unconditionally broadcast-safe; customer/part we leave to AQE).
BROADCAST_SAFE = ("region", "nation", "supplier")

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the `ts` column of an events scan (batch OR stream) to the
    session-TZ ``timestamp`` type, whatever shape this Spark read it as:

    - ``bigint``: TIMESTAMP(NANOS) surfaced as long-nanos under
      spark.sql.legacy.parquet.nanosAsLong; truncate ns -> us exactly like
      DuckDB's fetch.
    - ``timestamp_ntz``: newer Spark reads TIMESTAMP(NANOS) as
      micros-truncated NTZ (ignoring nanosAsLong).  NTZ forbids
      cast-to-long (epoch-seconds operators rely on it) and streaming
      watermarks reject it (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); with the
      session pinned to UTC the cast is exact.

    One shared path for both readers so the next Spark quirk can't diverge
    them again (round-1 lesson: the batch fix missed the streaming reader).
    It reads the session's confs and never writes them: a session that
    lacks session.ENGINE_CONFS raises here.
    """
    from pyspark.sql import functions as F

    have = {k: df.sparkSession.conf.get(k, None) for k in ENGINE_CONFS}
    if have != ENGINE_CONFS:
        raise RuntimeError(
            f"events reads need the session confs {ENGINE_CONFS}, this "
            f"session has {have}: build it with session.get_spark, or run "
            "the query through __spark_entry__.queries()"
        )
    ts_type = dict(df.dtypes).get("ts")

    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SCHEMAS: dict[tuple, StructType] = {}


def _file_version(path: str) -> tuple:
    """``(size, mtime_ns)`` of a file, or the sorted ``(name, size,
    mtime_ns)`` of a directory's entries: the staleness key
    plans/gram_index.py::corpus_fingerprint trusts.  Raises OSError for a
    path that cannot be stat-ed (a URI)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    with os.scandir(path) as it:
        return tuple(
            sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
        )


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Path, file version and the session's ``nanosAsLong`` setting (it
    changes how ``events.ts`` is inferred); None for a path that cannot be
    stat-ed (a URI), which is never kept."""
    try:
        version = _file_version(path)
    except OSError:
        return None
    return (os.path.abspath(path), version, spark.conf.get(_NANOS_CONF, "false"))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs the schema-inference job only
    on the first read of a file version: its schema is kept in a
    module-level dict and supplied to every later read.  A rewritten file
    gets a new key and so a fresh inference.  Threads racing on a new key
    may each infer, but they store equal values, so no lock."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file version (``read_parquet``)."""
    schema = _SCHEMAS.get(_schema_key(spark, path))
    return schema if schema is not None else read_parquet(spark, path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Column pruning + predicate pushdown are
    applied by Catalyst on top of this (verify with .explain: PushedFilters,
    ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df
