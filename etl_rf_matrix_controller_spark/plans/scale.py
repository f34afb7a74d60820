"""Scale guard for driver-side iteration: a collect bounded by its
dimension argument.

Bucketed co-location lives in plans/gram_index.py (write-once bucketed
tables, asserted Exchange-free in tests/test_gram_index.py); skew is
AQE's skew-join split (tests/test_plans.py::test_aqe_splits_skewed_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def collect_bounded(df: DataFrame, bound: int, what: str) -> list:
    """Driver-side collect with a hard cardinality guard (guide §5: the
    driver does no data work).  The driver-side iteration rewrites
    (pagerank/kcore/bfs/hits/sssp/lpa/harmonic/ktruss/markov/eigvec)
    collect frames argued DIMENSION-bounded (<=|nations|^2 edges,
    <=|types|^2 cells, GRAM_DIMS^2 cells); this enforces the argument:
    exceeding ``bound`` fails loudly, naming the distributed fallback.
    The check runs post-collect so it costs ZERO extra jobs (a limit()
    would plan CollectLimit's incremental result-stage waves on queries
    that are already overhead-bound); the transfer itself is backstopped
    by spark.driver.maxResultSize (1g default), which errors -- not
    OOMs -- long before a pathological input hurts the driver."""
    rows = df.collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what}: driver-side collect exceeds its dimension bound "
            f"({bound} rows) -- the input is not dimension-bounded here; "
            "run the documented distributed form instead"
        )
    return rows
