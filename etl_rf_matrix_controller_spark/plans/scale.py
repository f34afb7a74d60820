"""Scale utilities: bucketed co-located joins and salted skew aggregation.

These are the two physical-design levers the engine owns beyond Catalyst
(SURVEY.md SS4): (a) bucketing fact tables on their join key so repeated
joins skip the exchange entirely, (b) salting hot keys so a skewed
aggregation spreads across executors.  Both are demonstrated and
plan-asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8
) -> None:
    """Persist ``df`` bucketed+sorted by ``key``.

    Two tables bucketed identically on their join key co-locate: Spark
    plans a SortMergeJoin with NO Exchange on either side.  At 100 TB this
    converts every repeated fact-fact join (orders x lineitem) from two
    full-data shuffles into zero -- the single biggest recurring saving in
    a star-schema pipeline.  (Parquet+bucket metadata lives in the session
    catalog / metastore.)
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


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


def salted_agg(
    df: DataFrame,
    group_col: str,
    agg_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (key, salt) -- the hot key's rows spread over
    ``n_salts`` partial groups computed in parallel; phase 2 combines the
    tiny partials.  Identical results to a direct groupBy (sum is
    associative); the win is wall-clock under skew, where one reducer
    would otherwise process the entire hot key alone.  AQE's skew-join
    split does this automatically for joins; aggregation salting is ours.
    """
    # Row-unique salt source: salting on a VALUE column would collapse a
    # hot key with constant values into one salt bucket and spread nothing.
    salted = df.withColumn(
        "_salt", F.monotonically_increasing_id() % n_salts
    )
    partial = salted.groupBy(group_col, "_salt").agg(
        F.sum(agg_col).alias("_psum"), F.count(F.lit(1)).alias("_pcnt")
    )
    return partial.groupBy(group_col).agg(
        F.sum("_psum").alias(f"sum_{agg_col}"),
        F.sum("_pcnt").alias("n_rows"),
    )
