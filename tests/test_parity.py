"""THE gate mirror, in one registry pass: every declared query at sf0.001.

A module fixture builds each selected query once on 8 threads and
collects it once, keeping its rows, its final plan and the input plan of
every localCheckpoint it ran; the same thread runs the query's DuckDB
oracle on its own cursor.  Each query's own test then checks:

1. its DuckDB oracle -- the comparison tools/gate.py runs at sf0.01 (row
   count + schema + order-insensitive values);
2. its hash in tests/result_manifest.json (regenerated only deliberately
   via tools/gen_result_manifest.py), which pins the exact bytes the
   oracle comparison canonicalizes;
3. no SortMergeJoin and no CartesianProduct, in the final plan AND in
   every checkpointed intermediate (a stat-less checkpointed frame is
   where Catalyst falls back to SMJ);
4. no base table scanned more than SCAN_CEILING times in the final plan
   (SCAN_ALLOWLIST below for deliberate multi-pass ops).  A checkpoint's
   subtree runs exactly once, which is the point of checkpointing;
5. no write to a conf of the session the query was given (the other
   queries of the pass plan under that session's confs meanwhile);
6. no loop-invariant ``split``/``regexp_*`` call inside a
   higher-order-function lambda, in the final plan or a checkpointed
   intermediate (Spark re-runs it once per array element).

Queries are independent, index publishes are atomic with thread-unique
staging (plans/gram_index.py) and registration races re-resolve, so the
8 threads back-fill each other's job tails, py4j waits and DuckDB runs.
"""

from __future__ import annotations

import json
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pytest

from etl_rf_matrix_controller_spark.plans import registry
from tests.conftest import (
    MANIFEST,
    SCAN_CEILING,
    SF_DIR,
    assert_rows_match,
    checkpoint_plans,
    conf_writes,
    duck_rows,
    formatted,
    invariant_lambda_calls,
    join_offences,
    plan_of,
    rows_hash,
    scanned_tables,
    spark_rows,
)

registry.load_all()

# Deliberate multi-pass ops exempt from the scan-count ceiling:
#   pagerank_nations -- the declared 2-iteration unroll re-reads the
#                      25-row fixed nation dim per iteration by design
#                      (the production loop is pagerank_loop, which
#                      checkpoints per round).
SCAN_ALLOWLIST = {"pagerank_nations"}


@dataclass
class Built:
    """One query's pass: its collected result, its oracle's result and
    the plans it ran, or the exception that any of them raised."""

    result: tuple = ()
    oracle: tuple | None = None
    plan: str = ""
    fmt: str = ""
    checkpoint_plans: list = field(default_factory=list)
    conf_writes: list = field(default_factory=list)
    error: Exception | None = None


def _build(spark, duck, name: str) -> Built:
    with checkpoint_plans() as ckpts, conf_writes(spark) as writes:
        try:
            df = registry.QUERIES[name](spark, SF_DIR)
            plan = plan_of(df)
            fmt = "" if name in SCAN_ALLOWLIST else formatted(df)
            result = spark_rows(df)
            oracle = None
            if name in registry.ORACLES:
                with duck.cursor() as cur:
                    oracle = duck_rows(cur, registry.ORACLES[name])
        except Exception as exc:  # re-raised by the query's own test
            return Built(error=exc)
    return Built(result, oracle, plan, fmt, ckpts, writes)


@pytest.fixture(scope="module")
def built(spark, duck, request) -> dict[str, Built]:
    """Build only the queries this session selected (``-k`` on one query
    builds one)."""
    names = sorted(
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "originalname", None) == "test_oracle_parity"
    )
    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(
            zip(names, pool.map(lambda n: _build(spark, duck, n), names))
        )


@pytest.fixture(scope="module")
def manifest() -> dict[str, str]:
    with open(MANIFEST) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_oracle_parity(built, manifest, name):
    b = built[name]
    if b.error is not None:
        raise b.error
    assert not b.conf_writes, (
        f"{name}: wrote confs of the session it was given: {b.conf_writes}"
    )
    offences = {
        label: join_offences(plan)
        for label, plan in [("final plan", b.plan)]
        + [(f"checkpoint {i}", p) for i, p in enumerate(b.checkpoint_plans)]
        if any(join_offences(plan))
    }
    assert not offences, f"{name}: (SMJ, cartesian) counts: {offences}"
    invariant = set().union(
        *map(invariant_lambda_calls, [b.plan, *b.checkpoint_plans])
    )
    assert not invariant, (
        f"{name}: loop-invariant calls inside a lambda (project them into "
        f"a column first): {sorted(invariant)}"
    )
    over = {
        t: c for t, c in Counter(scanned_tables(b.fmt)).items()
        if c > SCAN_CEILING
    }
    assert not over, f"{name}: repeated scans: {over}"
    if b.oracle is None:
        assert b.result[0], f"{name}: empty schema"
        return
    assert rows_hash(*b.result) == manifest[name], (
        f"{name}: result changed vs tests/result_manifest.json "
        "(intentional? regenerate via tools/gen_result_manifest.py)"
    )
    assert_rows_match(b.result, b.oracle, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
