"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
comparator that mirrors the driver's gate (row count + schema + order-
insensitive value compare), plus the plan facts and the checkpoint-plan
recorder that tests/test_parity.py and tools/plan_audit.py read, and the
conf-write recorder that tests/test_parity.py reads."""

from __future__ import annotations

import functools
import hashlib
import math
import os
import re
import threading
from contextlib import contextmanager, nullcontext
from datetime import date, datetime

import duckdb
import pytest

from etl_rf_matrix_controller_spark.session import get_spark
from etl_rf_matrix_controller_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"
MANIFEST = os.path.join(os.path.dirname(__file__), "result_manifest.json")


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
    """(sorted column names, canonicalized sorted rows) of one collect."""
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


def rows_hash(cols, rows) -> str:
    """Stable digest of (sorted columns, canonicalized sorted rows) --
    the same canonical form the oracle gate compares, so manifest
    stability == oracle-gate stability (tests/test_parity.py)."""
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def result_hash(df) -> str:
    return rows_hash(*spark_rows(df))


def assert_oracle_match(spark_df, duck_con, oracle_sql, name="", duck_ctx=None):
    """Mirror of the driver's correctness gate.  ``duck_ctx`` (optional
    context-manager factory) wraps ONLY the DuckDB execution -- tools/
    gate.py passes its wall-clock watchdog here so a slow SPARK query can
    never be misattributed as a DuckDB oracle timeout."""
    spark_result = spark_rows(spark_df)
    with duck_ctx() if duck_ctx is not None else nullcontext():
        oracle_result = duck_rows(duck_con, oracle_sql)
    assert_rows_match(spark_result, oracle_result, name)


def assert_rows_match(spark_result, oracle_result, name=""):
    """Compare the (cols, rows) pairs of spark_rows and duck_rows."""
    s_cols, s_rows = spark_result
    d_cols, d_rows = oracle_result
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


# -- plan facts -------------------------------------------------------------

# One base table scanned more than this many times in one plan is a
# repeated scan: at 100 TB each extra pass is a full corpus read.
SCAN_CEILING = 2
_SCAN_RE = re.compile(r"Location:.*?/(\w+)\.parquet")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def scanned_tables(fmt: str) -> list[str]:
    """Base table of every parquet scan in a ``formatted`` explain."""
    return _SCAN_RE.findall(fmt)


def join_offences(plan: str) -> tuple[int, int]:
    """(SortMergeJoin, CartesianProduct) node counts of a plan string:
    every join must broadcast, bucket or hash, and no join may be a true
    cartesian (broadcast nested loops over tiny probe frames are fine)."""
    return plan.count("SortMergeJoin"), plan.count("CartesianProduct")


_LAMBDA_RE = re.compile(r"lambdafunction\(")
_SPLIT_RE = re.compile(r"(?<!\w)(?:split|regexp_\w+)\(")


def _call_args(s: str, start: int) -> str:
    """The text from ``start`` (just past an open paren) to its match."""
    depth = 1
    for i in range(start, len(s)):
        depth += {"(": 1, ")": -1}.get(s[i], 0)
        if not depth:
            return s[start:i]
    return s[start:]


def invariant_lambda_calls(plan: str) -> set[str]:
    """``split``/``regexp_*`` calls inside a higher-order-function lambda
    whose arguments name no lambda variable.  Spark does not hoist them:
    such a call re-runs once per array element; project its value into
    a column before the lambda reads it."""
    calls = set()
    for lam in _LAMBDA_RE.finditer(plan):
        body = _call_args(plan, lam.end())
        for call in _SPLIT_RE.finditer(body):
            args = _call_args(body, call.end())
            if "lambda " not in args:
                calls.add(f"{call.group()}{args})")
    return calls


# -- checkpoint-plan recorder -----------------------------------------------
# An eager localCheckpoint runs its subtree at call time and leaves only a
# scan of the materialized rows in the final plan, so a join planned inside
# a checkpointed frame is invisible there.  The recorder keeps the executed
# plan of every checkpoint input, per thread, so a pass that builds queries
# on a thread pool attributes each plan to the query that ran it.

_recording = threading.local()


def _install_checkpoint_recorder() -> None:
    # Queries hold the classic DataFrame subclass; a patch of
    # pyspark.sql.DataFrame would never be called.
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.localCheckpoint

    @functools.wraps(original)
    def localCheckpoint(self, *args, **kwargs):
        plans = getattr(_recording, "plans", None)
        if plans is not None:
            plans.append(plan_of(self))
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = localCheckpoint


_install_checkpoint_recorder()


@contextmanager
def checkpoint_plans():
    """Yield a list that receives the executed-plan string of every
    localCheckpoint the calling thread runs inside the block."""
    _recording.plans = plans = []
    try:
        yield plans
    finally:
        _recording.plans = None


# -- conf-write recorder ----------------------------------------------------
# No query writes a conf of the session it is given: the suite runs queries
# on 8 threads of one session, so a write would reach every query planned
# meanwhile.  The recorder keeps, per thread, every RuntimeConfig write the
# thread makes on one watched session.


def _install_conf_recorder() -> None:
    from pyspark.sql.conf import RuntimeConfig

    def recorded(original):
        @functools.wraps(original)
        def write(self, *args):
            watch = getattr(_recording, "conf_watch", None)
            if watch is not None and self._jconf.equals(watch[0]):
                watch[1].append((original.__name__, *args))
            return original(self, *args)

        return write

    RuntimeConfig.set = recorded(RuntimeConfig.set)
    RuntimeConfig.unset = recorded(RuntimeConfig.unset)


_install_conf_recorder()


@contextmanager
def conf_writes(session):
    """Yield a list that receives ``("set", key, value)`` or ``("unset",
    key)`` for every write the calling thread makes on ``session``'s conf
    inside the block."""
    writes = []
    _recording.conf_watch = (session._jsparkSession.conf(), writes)
    try:
        yield writes
    finally:
        _recording.conf_watch = None
