"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All declared queries live in ``etl_rf_matrix_controller_spark`` (one module
per operator family, SURVEY.md SS2); this file is a thin view over the
package registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_rf_matrix_controller_spark.plans import registry
from etl_rf_matrix_controller_spark.session import ENGINE_CONFS

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    ``routes_csv_denorm`` exercises the full slice: parquet scan ->
    broadcast join -> broadcast join -> projection with coalesce defaults
    (the reference's denormalizing CSV export, etl_controller.py:3283-3301).
    """
    registry.load_all()
    return _with_session_defense(registry.QUERIES["routes_csv_denorm"])(
        spark, SMOKE_SF_DIR
    )


def _with_session_defense(
    fn: Callable[["SparkSession", str], "DataFrame"],
) -> Callable[["SparkSession", str], "DataFrame"]:
    """Wrap a declared query so the driver's session carries
    session.ENGINE_CONFS (UTC, long-nanos events reads) before the query
    runs: the driver boundary is the one place that writes a conf of a
    session it is given.  Both are runtime-settable and idempotent; a
    caller session that already carries them is unchanged."""

    def wrapped(spark: "SparkSession", sf_dir: str) -> "DataFrame":
        for key, value in ENGINE_CONFS.items():
            spark.conf.set(key, value)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md SS2."""
    registry.load_all()
    return {name: _with_session_defense(fn) for name, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each declared query.

    Keys missing relative to ``queries()`` are intentionally rows-only
    checked (non-SQL-expressible ops, e.g. streaming state).
    """
    registry.load_all()
    return dict(registry.ORACLES)
