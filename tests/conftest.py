"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
comparator that mirrors the driver's gate (row count + schema + order-
insensitive value compare)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pytest

from etl_rf_matrix_controller_spark.session import get_spark
from etl_rf_matrix_controller_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="etl-rf-matrix-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canon_value(v):
    """Canonicalize one cell so Spark and DuckDB results compare equal."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # collapse -0.0 (sorts/hashes differently from 0.0)
        # Queries handle rounding explicitly; this guards only repr noise.
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    try:
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return canon_value(float(v))
    except ImportError:
        pass
    return v


def spark_rows(df):
    cols = sorted(df.columns)
    return cols, sorted(
        (tuple(canon_value(row[c]) for c in cols) for row in df.collect()),
        key=repr,
    )


def duck_rows(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = res.fetchall()
    return sorted(cols), sorted(
        (tuple(canon_value(r[i]) for i in order) for r in rows), key=repr
    )


def state_row_counts(progress: list) -> list:
    """``numRowsTotal`` of every state operator in every
    StreamingQueryProgress dict of ``progress``."""
    return [
        op["numRowsTotal"]
        for pr in progress
        for op in pr.get("stateOperators", [])
        if "numRowsTotal" in op
    ]


def result_hash(df) -> str:
    """Stable digest of (sorted columns, canonicalized sorted rows) --
    the same canonical form the oracle gate compares, so manifest
    stability == driver-gate stability (tests/test_result_manifest.py)."""
    import hashlib

    cols, rows = spark_rows(df)
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def assert_oracle_match(spark_df, duck_con, oracle_sql, name="", duck_ctx=None):
    """Mirror of the driver's correctness gate.  ``duck_ctx`` (optional
    context-manager factory) wraps ONLY the DuckDB execution -- tools/
    gate.py passes its wall-clock watchdog here so a slow SPARK query can
    never be misattributed as a DuckDB oracle timeout."""
    s_cols, s_rows = spark_rows(spark_df)
    if duck_ctx is None:
        d_cols, d_rows = duck_rows(duck_con, oracle_sql)
    else:
        with duck_ctx():
            d_cols, d_rows = duck_rows(duck_con, oracle_sql)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} != {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
