"""Physical-layout operators: Bloom-filter join pruning and Z-order keys.

The two data-layout techniques that matter most at 100 TB and exist
below the logical plan in production engines (Spark runtime filters,
Delta/Iceberg OPTIMIZE ZORDER), expressed here as declared queries so
their arithmetic is oracle-checkable:

- A Bloom prefilter turns "join 100 TB of facts against 1M selected
  keys" into "scan-side drop of ~99% of rows before the shuffle" --
  the manual form of Spark's runtime row-level filtering.
- A Z-order key interleaves the bits of two dimension columns so rows
  close in (a, b) space land close in sort order -- the clustering key
  that makes min/max row-group pruning work for BOTH dimensions at once.

Determinism: Bloom hash positions are md5-prefix derived (the repo's
engine-portable fingerprint), Z-values are pure integer bit arithmetic --
everything hash-matches cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.operators.pipeline import _bucket_sql, hash_bucket
from etl_rf_matrix_controller_spark.plans.conventions import ratio4, ratio4_sql
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table

BLOOM_BITS = 65536  # m: sized so k=2, n~1.4k keys (sf0.1) gives fp ~0.2%
# Two independent md5-derived hash functions (k=2): salt the key string.


@declared(
    "bloom_prefilter_join",
    oracle=f"""
    WITH sel AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ),
    bloom AS (
      SELECT DISTINCT {_bucket_sql("'h1_' || CAST(c_custkey AS VARCHAR)", BLOOM_BITS)} AS pos
      FROM sel
      UNION
      SELECT DISTINCT {_bucket_sql("'h2_' || CAST(c_custkey AS VARCHAR)", BLOOM_BITS)} AS pos
      FROM sel
    ),
    passed AS (
      SELECT o.o_orderkey, o.o_custkey
      FROM orders o
      WHERE {_bucket_sql("'h1_' || CAST(o.o_custkey AS VARCHAR)", BLOOM_BITS)}
              IN (SELECT pos FROM bloom)
        AND {_bucket_sql("'h2_' || CAST(o.o_custkey AS VARCHAR)", BLOOM_BITS)}
              IN (SELECT pos FROM bloom)
    ),
    stats AS (
      SELECT
        CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
        CAST((SELECT count(*) FROM passed) AS BIGINT) AS n_pass_bloom,
        CAST((SELECT count(*) FROM passed p
              JOIN sel s ON s.c_custkey = p.o_custkey) AS BIGINT) AS n_exact
    )
    SELECT n_orders, n_pass_bloom, n_exact,
           n_pass_bloom - n_exact AS n_false_pos,
           {ratio4_sql('n_pass_bloom - n_exact', 'n_orders')} AS fp_rate
    FROM stats
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join: high-balance customers build a k=2,
    m=BLOOM_BITS-bit Bloom filter (the constant above is the single
    source of truth); the orders scan drops rows failing either hash
    BEFORE the exact join, and the output certifies the numbers (rows
    passed, exact matches, false positives, fp rate).

    This is the manual form of Spark's runtime filter / Delta bloom
    index: at 100 TB the filter (a few KB of bit positions) broadcasts to
    the scan, the fact table never shuffles its non-matching 99%, and
    false positives -- the price of the compressed filter -- are bounded
    by (1-e^(-kn/m))^k, visible here as an exact count.  Membership
    tests are broadcast LEFT SEMI joins on the position set; the exact
    refine is the same semi join on the true key set.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sel = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    h = lambda salt, col: hash_bucket(  # noqa: E731
        F.concat(F.lit(salt), col.cast("string")), BLOOM_BITS
    )
    bloom = (
        sel.select(h("h1_", F.col("c_custkey")).alias("pos"))
        .unionByName(sel.select(h("h2_", F.col("c_custkey")).alias("pos")))
        .distinct()
    )
    passed = (
        orders.withColumn("p1", h("h1_", F.col("o_custkey")))
        .withColumn("p2", h("h2_", F.col("o_custkey")))
        .join(F.broadcast(bloom.withColumnRenamed("pos", "p1")), "p1", "semi")
        .join(F.broadcast(bloom.withColumnRenamed("pos", "p2")), "p2", "semi")
        .select("o_orderkey", "o_custkey")
    )
    # The stats certification consumes `passed` twice (count + refine);
    # checkpoint so the double-hash scan runs once.
    passed = passed.localCheckpoint(eager=False)
    n_orders = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass_bloom"))
    n_exact = (
        passed.join(F.broadcast(sel), passed.o_custkey == sel.c_custkey, "semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return (
        n_orders.crossJoin(n_pass)
        .crossJoin(n_exact)
        .select(
            "n_orders",
            "n_pass_bloom",
            "n_exact",
            (F.col("n_pass_bloom") - F.col("n_exact")).alias("n_false_pos"),
            ratio4(
                F.col("n_pass_bloom") - F.col("n_exact"), F.col("n_orders")
            ).alias("fp_rate"),
        )
    )


Z_BITS = 8  # interleave 8 bits of each dimension -> 16-bit z-value


def _z_sql(a: str, b: str) -> str:
    """Pure-arithmetic bit interleave (portable: no shift operators):
    z = sum_i bit_i(a)*4^i + bit_i(b)*2*4^i."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({a}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def _z_spark(a: str, b: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({a}) DIV {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b}) DIV {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@declared(
    "zorder_key_events",
    oracle=f"""
    WITH d AS (
      SELECT event_id,
             CAST(user_id % 256 AS BIGINT) AS ua,
             CAST(CAST(extract(hour FROM ts) AS BIGINT) * 8
                  + CAST(extract(dow FROM ts) AS BIGINT) % 8 AS BIGINT) AS tb
      FROM events
    ),
    z AS (
      SELECT event_id, ua, tb,
             CAST({_z_sql('ua', 'tb')} AS BIGINT) AS z_key
      FROM d
    )
    SELECT CAST(z_key // 4096 AS BIGINT) AS z_block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(ua) AS BIGINT) AS min_user_bucket,
           CAST(max(ua) AS BIGINT) AS max_user_bucket,
           CAST(min(tb) AS BIGINT) AS min_time_bucket,
           CAST(max(tb) AS BIGINT) AS max_time_bucket
    FROM z
    GROUP BY z_key // 4096
    """,
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (user bucket, time-of-week bucket) with
    per-block min/max ranges -- the layout op behind OPTIMIZE ZORDER.

    Interleaving the bits of both dimensions means sorting by z_key
    co-locates rows close in EITHER dimension, so a 4096-wide z_block
    (a stand-in for a parquet row group) carries tight min/max ranges on
    BOTH columns at once -- exactly what makes data-skipping work for
    two-predicate queries where a single-column sort can only serve one.
    The emitted per-block ranges ARE the skipping index a reader would
    consult.  Pure integer bit arithmetic; one shuffle on the block id.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    z = zorder_projection(ev)
    return z.groupBy(
        F.expr("z_key DIV 4096").cast("bigint").alias("z_block")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ua").cast("bigint").alias("min_user_bucket"),
        F.max("ua").cast("bigint").alias("max_user_bucket"),
        F.min("tb").cast("bigint").alias("min_time_bucket"),
        F.max("tb").cast("bigint").alias("max_time_bucket"),
    )


def zorder_projection(ev: DataFrame) -> DataFrame:
    """(event_id, ua, tb, z_key) over an events frame: user bucket, time-
    of-week bucket, and their bit-interleaved z-value.  Shared by the
    declared range query (zorder_key_events) and the physical writer
    (write_zordered)."""
    d = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("bigint").alias("ua"),
        (
            F.hour("ts").cast("bigint") * 8
            + (F.dayofweek("ts").cast("bigint") - 1) % 8
        ).alias("tb"),
    )
    return d.select(
        "event_id",
        "ua",
        "tb",
        F.expr(_z_spark("ua", "tb")).cast("bigint").alias("z_key"),
    )


def write_zordered(ev: DataFrame, path: str, n_files: int = 8) -> None:
    """OPTIMIZE ZORDER, the write side: range-partition the frame by
    z_key and sort within each file, so every parquet row group carries
    tight min/max footer stats on BOTH ua and tb at once -- the physical
    layout zorder_key_events' per-block ranges model.  A reader with a
    (user-bucket, time-bucket) predicate then skips the row groups whose
    stats miss the box (asserted against an unclustered layout in
    tests/test_zorder_skipping.py).  At 100 TB this is a one-off
    re-cluster pass: one range shuffle on z_key, then append-only reads."""
    (
        zorder_projection(ev)
        .repartitionByRange(n_files, "z_key")
        .sortWithinPartitions("z_key")
        .write.mode("overwrite")
        .parquet(path)
    )


# Broadcast advisor sizing: per-row payload estimate = string bytes +
# 8 bytes per numeric column; threshold mirrors Spark's default
# spark.sql.autoBroadcastJoinThreshold (10 MB).
BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024


@declared(
    "broadcast_threshold_advisor",
    oracle=f"""
    WITH per_table AS (
      SELECT 'region' AS table_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(length(r_name) + 8) AS BIGINT)
               AS est_bytes
      FROM region
      UNION ALL
      SELECT 'nation', CAST(count(*) AS BIGINT),
             CAST(sum(length(n_name) + 16) AS BIGINT)
      FROM nation
      UNION ALL
      SELECT 'supplier', CAST(count(*) AS BIGINT),
             CAST(sum(length(s_name) + 24) AS BIGINT)
      FROM supplier
      UNION ALL
      SELECT 'customer', CAST(count(*) AS BIGINT),
             CAST(sum(length(c_name) + length(c_mktsegment) + 24) AS BIGINT)
      FROM customer
    )
    SELECT table_name, n_rows, est_bytes,
           est_bytes <= {BROADCAST_THRESHOLD_BYTES} AS broadcastable
    FROM per_table
    """,
)
def broadcast_threshold_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor: per-dimension in-memory size estimate vs
    the 10 MB autoBroadcastJoinThreshold -- the decision every join in
    this suite already encodes by hand (F.broadcast on dim sides), made
    data-driven.  At 100 TB this is the table-stats pass an ANALYZE
    would persist: a dim that outgrows the threshold silently converts
    broadcast joins into shuffles, so the advisor is the regression
    alarm for dimension growth.

    Four dimension scans (each dim read once, column-pruned to the
    sized fields); the estimate is exact integer byte accounting over
    string lengths + fixed numeric widths, so both engines agree.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")

    def sized(df: DataFrame, name: str, byte_expr) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(byte_expr).cast("bigint").alias("est_bytes"),
        )

    per_table = (
        sized(region, "region", F.length("r_name") + 8)
        .unionByName(
            sized(nation, "nation", F.length("n_name") + 16)
        )
        .unionByName(sized(supplier, "supplier", F.length("s_name") + 24))
        .unionByName(
            sized(
                customer,
                "customer",
                F.length("c_name") + F.length("c_mktsegment") + 24,
            )
        )
    )
    return per_table.select(
        "table_name",
        "n_rows",
        "est_bytes",
        (F.col("est_bytes") <= BROADCAST_THRESHOLD_BYTES).alias("broadcastable"),
    )


@declared(
    "delta_encoding_gain",
    oracle="""
    WITH deltas AS (
      SELECT event_id - lag(event_id) OVER (ORDER BY event_id) AS d
      FROM events
    ),
    widths AS (
      SELECT CASE WHEN d <= 255 THEN 1
                  WHEN d <= 65535 THEN 2
                  WHEN d <= 16777215 THEN 3
                  ELSE 8 END AS delta_bytes
      FROM deltas WHERE d IS NOT NULL
    )
    SELECT delta_bytes,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
           CAST(count(*) * delta_bytes AS BIGINT) AS encoded_bytes
    FROM widths
    GROUP BY delta_bytes
    """,
)
def delta_encoding_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding payoff analysis for a sorted key column: the
    byte-width histogram of successive event_id deltas versus the raw
    8-byte representation -- the arithmetic behind parquet's
    DELTA_BINARY_PACKED choice, and the column_encoding_advisor's
    numeric-key counterpart.  A dense surrogate key encodes in ~1
    byte/value (8x scan IO reduction on a 100 TB fact table's key
    column); a sparse or shuffled key shows up here as wide deltas,
    i.e. "do not bother".

    The lag runs over the globally-ordered key -- at scale, per
    row-group (parquet already encodes per-page), so the production
    form partitions the window by file/row-group id; the single global
    window here keeps the declared form total-order deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    d = F.col("event_id") - F.lag("event_id").over(Window.orderBy("event_id"))
    widths = (
        ev.select(d.alias("d"))
        .filter(F.col("d").isNotNull())
        .select(
            F.when(F.col("d") <= 255, 1)
            .when(F.col("d") <= 65535, 2)
            .when(F.col("d") <= 16777215, 3)
            .otherwise(8)
            .alias("delta_bytes")
        )
    )
    return widths.groupBy("delta_bytes").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
        (F.count(F.lit(1)) * F.col("delta_bytes")).cast("bigint").alias(
            "encoded_bytes"
        ),
    )


_PLA_CANDS = [
    # (candidate_name, SQL grouping expr over the narrow events projection)
    ("event_type", "event_type"),
    ("event_day", "CAST(floor(epoch(ts)) AS BIGINT) // 86400"),
    ("user_bucket_256", "user_id % 256"),
]
# A partition wants enough rows to fill a decent file, and no partition
# should dwarf the mean.  Thresholds are deliberately coarse integers.
PLA_MIN_AVG_ROWS = 1000
PLA_MAX_SKEW_X1000 = 10000  # max/avg > 10x -> skewed


def _pla_cand_sql(name: str, expr: str) -> str:
    return f"""
    SELECT '{name}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(c) AS BIGINT) AS total_rows,
           CAST(sum(c) // count(*) AS BIGINT) AS avg_rows,
           CAST(max(c) AS BIGINT) AS max_rows,
           CAST((1000 * max(c)) // (sum(c) // count(*)) AS BIGINT)
             AS skew_x1000
    FROM (
      SELECT {expr} AS pk, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY {expr}
    ) t
    """


_PLA_SQL = (
    "WITH per_cand AS ("
    + " UNION ALL ".join(_pla_cand_sql(n, e) for n, e in _PLA_CANDS)
    + f""")
    SELECT candidate, n_parts, total_rows, avg_rows, max_rows, skew_x1000,
           CASE WHEN avg_rows < {PLA_MIN_AVG_ROWS} THEN 'too_many_small_files'
                WHEN skew_x1000 > {PLA_MAX_SKEW_X1000} THEN 'skewed'
                ELSE 'ok' END AS verdict
    FROM per_cand
    """
)


@declared("partition_layout_advisor", oracle=_PLA_SQL)
def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column advisor: for each candidate partition key of the
    events fact (low-cardinality type, calendar day, a 256-way key
    bucket), the partition count, size distribution, and a coarse
    verdict -- 'too_many_small_files' when the mean partition falls
    under a file-worth of rows, 'skewed' when the largest partition
    dwarfs the mean by >10x, else 'ok'.  This is the table-layout
    decision every 100 TB ingest makes once and lives with; the advisor
    quantifies it instead of guessing (the write-side sibling of the
    read-side `zorder_key_events` / `column_encoding_advisor` family).

    The fact is scanned ONCE into a checkpointed 3-column projection;
    each candidate is then one map-side-combinable rollup over it, and
    the advisor table is |candidates| rows.  All ratios are integer
    arithmetic (floored x1000 skew), so the verdict thresholds are
    engine-exact; day derives from pure epoch-day integer math (the
    portable-weekday rule).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(ts) DIV 86400").alias("day_idx"),
            F.expr("user_id % 256").alias("user_bucket"),
        )
        .localCheckpoint(eager=True)  # three candidate rollups share it
    )
    spark_exprs = {
        "event_type": "event_type",
        "event_day": "day_idx",
        "user_bucket_256": "user_bucket",
    }
    outs = []
    for name, _ in _PLA_CANDS:
        per = ev.groupBy(F.expr(spark_exprs[name]).alias("pk")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        outs.append(
            per.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                F.sum("c").cast("bigint").alias("total_rows"),
                F.expr("CAST(sum(c) DIV count(*) AS BIGINT)").alias("avg_rows"),
                F.max("c").cast("bigint").alias("max_rows"),
                F.expr(
                    "CAST((1000 * max(c)) DIV (sum(c) DIV count(*)) AS BIGINT)"
                ).alias("skew_x1000"),
            ).select(F.lit(name).alias("candidate"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "verdict",
        F.when(F.col("avg_rows") < PLA_MIN_AVG_ROWS, "too_many_small_files")
        .when(F.col("skew_x1000") > PLA_MAX_SKEW_X1000, "skewed")
        .otherwise("ok"),
    )


def _hilbert_level(s: int, xor_a: str, xor_b_open: str, xor_b_close: str):
    """Per-level (x, y, d) update expressions for the iterative 2-D
    Hilbert index (Warren, Hacker's Delight / Wikipedia d2xy inverse):
    at level s, quadrant bits (rx, ry) append to d, then the quadrant
    frame is flipped/swapped for the next level.  Pure integer CASE
    arithmetic; the XOR spelling differs per engine (Spark `^`, DuckDB
    `xor()`) but the integer VALUES are identical."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    d = f"(d + {s * s} * {xor_b_open}3 * {rx}{xor_a}{ry}{xor_b_close})"
    xf = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {s - 1} - x ELSE x END)"
    yf = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {s - 1} - y ELSE y END)"
    xn = f"(CASE WHEN {ry} = 0 THEN {yf} ELSE {xf} END)"
    yn = f"(CASE WHEN {ry} = 0 THEN {xf} ELSE {yf} END)"
    return xn, yn, d


def _hilbert_sql_spark():
    """List of per-level (x, y, d) select triples for Spark (`a ^ b`)."""
    return [
        _hilbert_level(s, " ^ ", "((", "))") for s in (128, 64, 32, 16, 8, 4, 2, 1)
    ]


def _hilbert_sql_duck() -> str:
    """Nested-subquery DuckDB expression computing hilbert d from (x, y)
    columns of the innermost relation `d0` -- same per-level integer
    updates as the Spark chain, xor() spelled as a function."""
    inner = "SELECT event_id, ua, tb, x, y, 0 AS d FROM d0"
    for s in (128, 64, 32, 16, 8, 4, 2, 1):
        xn, yn, d = _hilbert_level(s, ", ", "xor(", ")")
        inner = (
            f"SELECT event_id, ua, tb, {xn} AS x, {yn} AS y, {d} AS d"
            f" FROM ({inner})"
        )
    return inner


@declared(
    "hilbert_layout_blocks",
    oracle=f"""
    WITH d0 AS (
      SELECT event_id,
             CAST(user_id % 256 AS BIGINT) AS ua,
             CAST(CAST(extract(hour FROM ts) AS BIGINT) * 8
                  + CAST(extract(dow FROM ts) AS BIGINT) % 8 AS BIGINT) AS tb,
             CAST(user_id % 256 AS BIGINT) AS x,
             CAST(CAST(extract(hour FROM ts) AS BIGINT) * 8
                  + CAST(extract(dow FROM ts) AS BIGINT) % 8 AS BIGINT) AS y
      FROM events
    ),
    h AS ({_hilbert_sql_duck()})
    SELECT CAST(d // 4096 AS BIGINT) AS h_block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(ua) AS BIGINT) AS min_user_bucket,
           CAST(max(ua) AS BIGINT) AS max_user_bucket,
           CAST(min(tb) AS BIGINT) AS min_time_bucket,
           CAST(max(tb) AS BIGINT) AS max_time_bucket
    FROM h
    GROUP BY d // 4096
    """,
)
def hilbert_layout_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same (user bucket,
    time-of-week bucket) grid as `zorder_key_events`, with per-block
    min/max skipping ranges -- the layout OPTIMIZE target engines are
    moving to (Delta Lake 3 / Iceberg): unlike the Z-curve, the Hilbert
    curve has no long diagonal jumps, so equal-width blocks cover
    rectangles with strictly tighter max side lengths and skip better
    on both predicates.  Comparing this output's (user-span x
    time-span) areas against the z-order query's IS the layout
    decision.

    The 8-level quadrant walk (append quadrant code, flip+swap the
    frame) runs as a chain of eight integer-CASE projections --
    identical values on both engines (XOR spelled per dialect), no
    floats, no UDF; Catalyst collapses the chain into one codegen'd
    projection stage.  One shuffle on the block id.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    df = hilbert_chain(
        ev.selectExpr(
            "event_id",
            "CAST(user_id % 256 AS BIGINT) AS ua",
            "CAST(CAST(hour(ts) AS BIGINT) * 8"
            " + (CAST(dayofweek(ts) AS BIGINT) - 1) % 8 AS BIGINT) AS tb",
        )
    )
    return df.groupBy(F.expr("d DIV 4096").cast("bigint").alias("h_block")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ua").cast("bigint").alias("min_user_bucket"),
        F.max("ua").cast("bigint").alias("max_user_bucket"),
        F.min("tb").cast("bigint").alias("min_time_bucket"),
        F.max("tb").cast("bigint").alias("max_time_bucket"),
    )


def hilbert_chain(df: DataFrame) -> DataFrame:
    """Append the 8-level Hilbert index d to an (event_id, ua, tb) frame
    (ua, tb in [0, 256)); the per-level integer-CASE chain shared by the
    declared query and the reference test."""
    out = df.selectExpr(
        "event_id", "ua", "tb", "ua AS x", "tb AS y", "CAST(0 AS BIGINT) AS d"
    )
    for xn, yn, d in _hilbert_sql_spark():
        out = out.selectExpr(
            "event_id", "ua", "tb", f"{xn} AS x", f"{yn} AS y", f"{d} AS d"
        )
    return out
