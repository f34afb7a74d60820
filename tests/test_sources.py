"""Testdata scans: ``load_table`` reads through ``read_parquet``, which
infers a schema once per file version and supplies it to later reads, so
a repeated scan plans without a schema-inference job."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_rf_matrix_controller_spark.sources.tables import (
    TABLES,
    load_table,
    normalize_events_ts,
    parquet_schema,
)
from tests.conftest import SF_DIR


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_load_table_schema_matches_inference(spark):
    for name in TABLES:
        fresh = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        if name == "events":
            fresh = normalize_events_ts(fresh)
        assert load_table(spark, SF_DIR, name).schema == fresh.schema, name
    assert dict(load_table(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp"


def test_events_read_checks_engine_confs(spark):
    """An events read on a session without the engine confs raises,
    naming get_spark, and leaves the session's confs as they were."""
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    with pytest.raises(RuntimeError, match="get_spark"):
        load_table(foreign, SF_DIR, "events")
    assert foreign.conf.get("spark.sql.session.timeZone") == "America/New_York"


@pytest.mark.parametrize("name", ["orders", "events"])
def test_repeated_load_table_runs_no_job(spark, name):
    load_table(spark, SF_DIR, name).schema  # first read of a version infers
    before = _next_job_id(spark)
    df = load_table(spark, SF_DIR, name)
    df.schema
    assert _next_job_id(spark) == before


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_parquet_gets_fresh_schema(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")

    def write(table: pa.Table) -> None:
        if layout == "file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).write.mode("overwrite").parquet(
                path
            )

    write(pa.table({"a": pa.array([1], pa.int64())}))
    assert parquet_schema(spark, path).fieldNames() == ["a"]
    write(pa.table({"b": ["x"], "c": [1.5]}))
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    assert parquet_schema(spark, path).fieldNames() == ["b", "c"]


def test_concurrent_first_reads_agree(spark, tmp_path):
    """Threads racing on a new file version may each infer, but all get
    the same schema (the dict only ever stores equal values per key)."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            schemas = list(pool.map(lambda _: parquet_schema(spark, path), range(16)))
    finally:
        sys.setswitchinterval(interval)
    assert all(s == schemas[0] for s in schemas)
    assert schemas[0].fieldNames() == ["a", "b"]
