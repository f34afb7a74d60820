"""Data profiling and incremental-processing operators.

The remaining pipeline plumbing: text normalization (the pre-dedup
cleaning projection), numeric column profiling (the first query anyone
runs on a new 100 TB table), fixed-width histograms, and incremental
new-key detection (the anti-join that turns a batch pipeline into an
idempotent incremental one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.plans.conventions import (
    exact_avg,
    exact_avg_sql,
    ratio4,
    ratio4_sql,
)
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table


@declared(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g'))) AS norm_len
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleaning: lowercase, strip non-alphanumerics,
    squeeze whitespace -- the projection that runs before every dedup/
    tokenize pass.  NB: Spark regexp_replace replaces all matches by
    default; DuckDB needs the explicit 'g' flag -- a silent semantic trap
    pinned by this oracle."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id", norm.alias("norm_text"), F.length(norm).alias("norm_len")
    )


@declared(
    "numeric_profile",
    oracle=f"""
    SELECT 'l_quantity' AS col_name,
           count(*) AS n_rows,
           count(l_quantity) AS n_nonnull,
           round(min(l_quantity), 2) AS min_val,
           round(max(l_quantity), 2) AS max_val,
           {exact_avg_sql('l_quantity')} AS mean_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           count(*), count(l_extendedprice),
           round(min(l_extendedprice), 2), round(max(l_extendedprice), 2),
           {exact_avg_sql('l_extendedprice')}
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           count(*), count(l_discount),
           round(min(l_discount), 2), round(max(l_discount), 2),
           {exact_avg_sql('l_discount')}
    FROM lineitem
    """,
)
def numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the df.describe() shape, made oracle-exact):
    count/nulls/min/max/mean per numeric column, one scan per... no --
    ONE scan total: Spark computes all three columns' aggregates in a
    single pass, then unpivots; min/max of clean 2-dec data round
    identically, the mean uses the exact-avg convention."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.round(F.min(c), 2).alias(f"{c}__min"),
            F.round(F.max(c), 2).alias(f"{c}__max"),
            exact_avg(F.col(c)).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__min, {c}__max, {c}__mean" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_rows, n_nonnull, min_val, max_val, mean_val)"
    )


@declared(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 5.0) AS INT) AS bin,
           count(*) AS n,
           round(CAST(floor(value / 5.0) AS INT) * 5.0, 1) AS bin_lo
    FROM events
    GROUP BY floor(value / 5.0)
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 5): integer bin ids from floor
    division -- deterministic, shuffle carries one row per bin.  The
    at-scale profile tool for distribution drift checks."""
    events = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 5.0).cast("int")
    return events.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round((bin_ * 5.0), 1).alias("bin_lo"),
    )


@declared(
    "incremental_new_keys",
    oracle="""
    WITH keyed AS (
      SELECT ts,
             user_id * 100 + CAST(json_extract_string(props, '$.k') AS INT)
               AS entity_key
      FROM events
    ),
    processed AS (
      SELECT DISTINCT entity_key FROM keyed
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ),
    current_batch AS (
      SELECT DISTINCT entity_key FROM keyed
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    )
    SELECT c.entity_key
    FROM current_batch c
    WHERE NOT EXISTS
      (SELECT 1 FROM processed p WHERE p.entity_key = c.entity_key)
    """,
)
def incremental_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental processing: entity keys first seen in the current batch
    (anti-join against the processed watermark).  The idempotency
    primitive for incremental ETL: re-running the batch yields the same
    new-key set.  The entity key is (user, prop-k) -- plain user_id is
    fully covered by the first fortnight and would make the check vacuous.
    Both sides are distinct key sets, so the anti join shuffles only keys."""
    events = load_table(spark, sf_dir, "events")
    key = (
        F.col("user_id") * 100
        + F.get_json_object("props", "$.k").cast("int")
    ).alias("entity_key")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    keyed = events.select("ts", key)
    processed = keyed.filter(F.col("ts") < cutoff).select("entity_key").distinct()
    current = keyed.filter(F.col("ts") >= cutoff).select("entity_key").distinct()
    return current.join(processed, "entity_key", "left_anti")


@declared(
    "corr_value_props",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS x,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    moments AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sx2,
             CAST(sum(y * y) AS BIGINT) AS sy2
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS pearson_r
    FROM moments
    """,
)
def corr_value_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation (value vs props.k) per event type via
    integer-space moments.

    Built-in corr() accumulates doubles in engine-specific order, so its
    last ulps never hash-match across engines.  Instead the five moments
    are summed as exact int64 (value has 2 clean decimals -> x=value*100
    is integral; products stay < 2^63), the numerator/variance terms are
    exact int64 differences, and only the final three-operation double
    expression touches floating point -- identical bit pattern on both
    engines.  One map-side-combinable aggregation, no second pass (the
    textbook shifted-moments formulation), safe to ~1e9 rows per group at
    this value range before needing DECIMAL moments.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    pts = ev.filter(k.isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        k.alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select("event_type", "n", (num / (denx * deny)).alias("pearson_r"))


@declared(
    "referential_orphans",
    oracle="""
    SELECT 'lineitem->orders' AS relationship,
           CAST(count(*) AS BIGINT) AS n_orphans
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem->part',
           CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    """,
)
def referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per FK relationship
    (facts pointing at missing dimension/parent keys) -- the data-quality
    gate run before trusting any join-based metric downstream.

    Each relationship is a LEFT ANTI join + count.  The child side only
    carries its FK column; parent key sets are distinct-projected and
    broadcast where dimension-sized (customer, part) while the
    lineitem->orders check shuffles on the shared orderkey.  A healthy
    warehouse reports zeros -- the VALUE is the guarantee, and at 100 TB
    the cost is one narrow-column pass per relationship.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def orphans(child: DataFrame, fk: str, parent: DataFrame, pk: str, name: str, bcast: bool) -> DataFrame:
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        if bcast:
            keys = F.broadcast(keys)
        return (
            child.select(fk)
            .join(keys, fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("relationship"), "n_orphans")
        )

    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    return (
        orphans(li, "l_orderkey", orders.select(F.col("o_orderkey")), "o_orderkey",
                "lineitem->orders", False)
        .unionByName(
            orphans(li, "l_partkey", part, "p_partkey", "lineitem->part", True)
        )
        .unionByName(
            orphans(orders, "o_custkey", cust, "c_custkey", "orders->customer", True)
        )
    )


@declared(
    "doc_char_length_mad",
    oracle="""
    WITH hist AS (
      SELECT n_chars, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT n_chars, c,
             CAST(sum(c) OVER (ORDER BY n_chars
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM hist
    ),
    med AS (
      SELECT min(n_chars) AS median_chars, max(n) AS n_docs
      FROM cum WHERE cum_c >= (n + 1) // 2
    ),
    dev_hist AS (
      SELECT abs(d.n_chars - m.median_chars) AS dev,
             CAST(count(*) AS BIGINT) AS c
      FROM documents d CROSS JOIN med m
      GROUP BY abs(d.n_chars - m.median_chars)
    ),
    dev_cum AS (
      SELECT dev, CAST(sum(c) OVER (ORDER BY dev
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM dev_hist
    )
    SELECT m.n_docs, m.median_chars,
           (SELECT min(dev) FROM dev_cum WHERE cum_c >= (n + 1) // 2)
             AS mad_chars
    FROM med m
    """,
)
def doc_char_length_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust corpus length profile: exact (type-1) median and median
    absolute deviation of document char lengths -- the outlier-resistant
    spread stats a truncation/filter policy is tuned against.

    Exact global median WITHOUT a global sort: build the value histogram
    (|distinct lengths| rows -- tiny), cumulative-sum it in order, and
    select the first value whose cumulative count reaches (n+1)/2; MAD
    repeats the same trick on |value - median| with the median broadcast
    back.  Two narrow scans of the fact, all windows over histogram-sized
    sets, every quantity an integer -- the distributed-selection pattern
    that replaces "sort 100 TB to find the middle".
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    wall = Window.partitionBy()

    def hist_median(values: DataFrame, col: str):
        hist = values.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        cum = hist.select(
            F.col(col),
            F.sum("c").over(Window.orderBy(col).rowsBetween(
                Window.unboundedPreceding, 0)).alias("cum_c"),
            F.sum("c").over(wall).alias("n"),
        )
        return cum.filter(F.col("cum_c") >= F.expr("(n + 1) DIV 2")).agg(
            F.min(col).alias("median"), F.max("n").alias("n")
        )

    # med is a ONE-ROW frame consumed twice (deviation pass + final
    # select); checkpoint it so the histogram subtree (a documents scan)
    # isn't recomputed per consumer -- 2 scans total, not 3.
    med = (
        hist_median(docs, "n_chars")
        .select(F.col("median").alias("median_chars"), F.col("n").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    devs = docs.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("n_chars") - F.col("median_chars")).alias("dev")
    )
    mad = hist_median(devs, "dev").select(F.col("median").alias("mad_chars"))
    return med.crossJoin(F.broadcast(mad)).select(
        "n_docs", "median_chars", "mad_chars"
    )


@declared(
    "lang_length_quartiles",
    oracle="""
    WITH hist AS (
      SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, n_chars
    ),
    cum AS (
      SELECT lang, n_chars, c,
             CAST(sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
             CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM hist
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           min(CASE WHEN cum_c >= (n + 3) // 4 THEN n_chars END) AS q1_chars,
           min(CASE WHEN cum_c >= (n + 1) // 2 THEN n_chars END)
             AS median_chars,
           min(CASE WHEN cum_c >= (3 * n + 3) // 4 THEN n_chars END)
             AS q3_chars
    FROM cum
    GROUP BY lang
    """,
)
def lang_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length quartiles (type-1 q1/median/q3 of n_chars) --
    the per-slice distribution profile behind language-aware truncation
    and quality thresholds.

    The distributed-selection pattern of doc_char_length_mad,
    generalized per group: per-(lang, value) histogram, cumulative count
    over the lang-partitioned value order (histogram-sized partitions),
    then each quartile is a conditional first-reach min in ONE final
    aggregate -- no per-group sort of raw rows, no row_number over the
    full fact.  Quartile indices are ceil(p*n) in pure integer math.
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    hist = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("lang").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "n_chars",
        F.sum("c").over(wc).alias("cum_c"),
        F.sum("c").over(wn).alias("n"),
    )
    pick = lambda target: F.min(  # noqa: E731
        F.when(F.col("cum_c") >= F.expr(target), F.col("n_chars"))
    )
    return cum.groupBy("lang").agg(
        F.max("n").alias("n_docs"),
        pick("(n + 3) DIV 4").alias("q1_chars"),
        pick("(n + 1) DIV 2").alias("median_chars"),
        pick("(3 * n + 3) DIV 4").alias("q3_chars"),
    )


@declared(
    "value_zscore_outliers",
    oracle="""
    WITH x AS (
      SELECT event_id, event_type, value,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sx2
      FROM x GROUP BY event_type
    )
    SELECT event_id, x.event_type, value,
           (CAST(x.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS z
    FROM x JOIN st USING (event_type)
    WHERE abs((CAST(x.x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) > 3.0
    """,
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group anomaly detection: events whose value is more than 3
    standard deviations from their event_type's mean.

    Moments are EXACT int64 sums of the 2-decimal scaled value (the
    corr_value_props convention), so mu/sigma^2 derive from identical
    integers on both engines; the z expression then uses only IEEE
    correctly-rounded ops (+ - * / sqrt) in an identical tree, so the
    emitted doubles are bit-identical with NO rounding step.  z is
    scale-invariant, so computing in scaled space changes nothing.

    Plan: one scan -> 5-row stats aggregate -> broadcast back onto the
    stream -> codegen'd filter.  At 100 TB this is the canonical
    two-pass outlier scan (stats pass + filter pass share the scan via
    the broadcast agg); the int64 moment envelope holds to ~sf10, past
    which sum(x*x) swaps to DECIMAL(38,0) at the same call sites.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
    )
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    n = F.col("n").cast("double")
    mu = F.col("sx").cast("double") / n
    var = F.col("sx2").cast("double") / n - mu * mu
    z = (F.col("x").cast("double") - mu) / F.sqrt(var)
    return (
        ev.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


@declared(
    "trimmed_mean_brand_price",
    oracle=f"""
    WITH ranked AS (
      SELECT p.p_brand, l.l_extendedprice,
             row_number() OVER (
               PARTITION BY p.p_brand
               ORDER BY l.l_extendedprice, l.l_orderkey, l.l_linenumber
             ) AS rn,
             count(*) OVER (PARTITION BY p.p_brand) AS n
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand, CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_used,
           {exact_avg_sql("l_extendedprice")} AS trimmed_avg
    FROM ranked
    WHERE rn > (n * 5) // 100 AND rn <= n - (n * 5) // 100
    GROUP BY p_brand
    """,
)
def trimmed_mean_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: 5%-trimmed mean of extended price per brand --
    rank within the group under a deterministic total order (price,
    orderkey, linenumber), drop the bottom and top floor(5%) rows, then
    the exact integer-space average of the rest.

    Trimming by row_number (not a value threshold) makes the kept SET
    identical on both engines even with duplicate boundary values.  One
    shuffle+sort on brand for the window, then the aggregation reuses the
    same partitioning (zero extra exchanges).  At 100 TB the full
    per-group sort is the honest cost of exact trimming; the cheap
    variant (approx_percentile bounds + value filter) trades that sort
    for a sketch, losing exactness at the boundaries.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("p_brand").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("p_brand")
    ranked = j.select(
        "p_brand",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("(n * 5) DIV 100"))
        & (F.col("rn") <= F.col("n") - F.expr("(n * 5) DIV 100"))
    )
    return kept.groupBy("p_brand").agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        exact_avg(F.col("l_extendedprice")).alias("trimmed_avg"),
    )


@declared(
    "dq_expectations",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CAST(l_orderkey IS NULL AS INT)) AS BIGINT) AS v_null_key,
             CAST(sum(CAST(l_quantity < 1 OR l_quantity > 50 AS INT)) AS BIGINT)
               AS v_qty_range,
             CAST(sum(CAST(l_discount < 0 OR l_discount > 0.1 AS INT)) AS BIGINT)
               AS v_disc_range,
             CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
               AS BIGINT) AS v_pk_dup,
             CAST(sum(CAST(l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' AS INT))
               AS BIGINT) AS v_future_ship
      FROM lineitem
    )
    SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'l_orderkey_not_null' AS rule, n_checked, v_null_key AS n_violations FROM m
      UNION ALL SELECT 'l_quantity_in_1_50', n_checked, v_qty_range FROM m
      UNION ALL SELECT 'l_discount_in_0_0.1', n_checked, v_disc_range FROM m
      UNION ALL SELECT 'pk_orderkey_linenumber_unique', n_checked, v_pk_dup FROM m
      UNION ALL SELECT 'l_shipdate_not_future', n_checked, v_future_ship FROM m
    ) r
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (Great-Expectations shape):
    null checks, range checks, primary-key uniqueness, and temporal
    sanity, evaluated in ONE conditional-aggregation pass over the fact
    and unpivoted to a row per rule with violation counts and pass flags.

    The single-scan form is the point at 100 TB: N expectations cost one
    table pass (conditional sums fold into the same partial aggregate),
    not N passes; only the exact uniqueness check adds distinct-count
    state, and the sketch variant (approx_count_distinct) drops even
    that when +-2% suffices.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(F.col("l_orderkey").isNull().cast("int"))
        .cast("bigint")
        .alias("v_null_key"),
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("int"))
        .cast("bigint")
        .alias("v_qty_range"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("int")
        )
        .cast("bigint")
        .alias("v_disc_range"),
        (
            F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")
        )
        .cast("bigint")
        .alias("v_pk_dup"),
        F.sum(
            (
                F.col("l_shipdate")
                >= F.lit("1999-01-01 00:00:00").cast("timestamp")
            ).cast("int")
        )
        .cast("bigint")
        .alias("v_future_ship"),
    )
    stacked = m.select(
        "n_checked",
        F.expr(
            "stack(5, "
            "'l_orderkey_not_null', v_null_key, "
            "'l_quantity_in_1_50', v_qty_range, "
            "'l_discount_in_0_0.1', v_disc_range, "
            "'pk_orderkey_linenumber_unique', v_pk_dup, "
            "'l_shipdate_not_future', v_future_ship) AS (rule, n_violations)"
        ),
    )
    return stacked.select(
        "rule",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


@declared(
    "value_drift_histogram",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value) AS BIGINT) // 10 AS bucket,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep
      FROM events
    ),
    mid AS (
      SELECT (min(ep) + max(ep)) // 2 AS m FROM e
    ),
    counts AS (
      SELECT event_type, bucket,
             CAST(sum(CASE WHEN ep <  m THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
             CAST(sum(CASE WHEN ep >= m THEN 1 ELSE 0 END) AS BIGINT) AS n_late
      FROM e, mid GROUP BY event_type, bucket
    ),
    tot AS (
      SELECT event_type, bucket, n_early, n_late,
             sum(n_early) OVER (PARTITION BY event_type) AS t_early,
             sum(n_late)  OVER (PARTITION BY event_type) AS t_late
      FROM counts
    ),
    scaled AS (
      SELECT event_type, bucket,
             ((2 * n_early * 10000 + t_early)
               - (2 * n_early * 10000 + t_early) % (2 * t_early))
               // (2 * t_early) AS p_early,
             ((2 * n_late * 10000 + t_late)
               - (2 * n_late * 10000 + t_late) % (2 * t_late))
               // (2 * t_late) AS p_late
      FROM tot
      WHERE t_early > 0 AND t_late > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(abs(p_early - p_late)) AS BIGINT) AS drift_l1_scaled,
           CAST(sum(abs(p_early - p_late)) AS BIGINT) / 10000.0 AS drift_l1
    FROM scaled
    GROUP BY event_type
    """,
)
def value_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per event type, the L1 distance between
    the value histograms of the early and late halves of the stream --
    the deterministic stand-in for PSI/KL drift scores (whose ln() is not
    bit-stable across libm implementations; L1 needs only integer
    arithmetic and ranks drifting types identically).

    Every proportion stays a SCALED INTEGER until the single final
    division -- summing 4-decimal doubles would re-introduce
    order-dependent float error.  One scan + one groupBy(type, bucket);
    the per-type windows run over histogram-sized frames.  At 100 TB the
    same shape monitors feature drift between training snapshots.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor("value").cast("bigint") / 10)
        .cast("bigint")
        .alias("bucket"),
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
    )
    # Integer bucket: floor(value) DIV 10 (the /10 cast truncates toward
    # zero only for non-negative values, which holds for events.value).
    mid = ev.agg(
        ((F.min("ep") + F.max("ep")) / 2).cast("bigint").alias("m")
    )
    counts = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum((F.col("ep") < F.col("m")).cast("int"))
            .cast("bigint")
            .alias("n_early"),
            F.sum((F.col("ep") >= F.col("m")).cast("int"))
            .cast("bigint")
            .alias("n_late"),
        )
    )
    w = Window.partitionBy("event_type")
    tot = counts.select(
        "event_type",
        "bucket",
        "n_early",
        "n_late",
        F.sum("n_early").over(w).alias("t_early"),
        F.sum("n_late").over(w).alias("t_late"),
    )
    # A type with all its events in one half would make a divisor 0 ->
    # NULL on both engines, silently dropping those buckets from the
    # drift sums; exclude one-sided types explicitly (both sides) so the
    # score is never quietly biased by invisible NULLs.
    scaled = tot.filter((F.col("t_early") > 0) & (F.col("t_late") > 0)).select(
        "event_type",
        F.expr(
            "((2 * n_early * 10000 + t_early)"
            " - (2 * n_early * 10000 + t_early) % (2 * t_early))"
            " DIV (2 * t_early)"
        ).alias("p_early"),
        F.expr(
            "((2 * n_late * 10000 + t_late)"
            " - (2 * n_late * 10000 + t_late) % (2 * t_late))"
            " DIV (2 * t_late)"
        ).alias("p_late"),
    )
    return scaled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.abs(F.col("p_early") - F.col("p_late")))
        .cast("bigint")
        .alias("drift_l1_scaled"),
        (
            F.sum(F.abs(F.col("p_early") - F.col("p_late"))).cast("bigint")
            / 10000.0
        ).alias("drift_l1"),
    )


@declared(
    "weighted_median_price",
    oracle="""
    WITH h AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    cum AS (
      SELECT l_returnflag, price,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM h
    )
    SELECT l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           min(price) AS weighted_median_price
    FROM cum
    WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest price
    whose cumulative quantity weight reaches half the group's total --
    rank selection over a VALUE HISTOGRAM, generalizing the unweighted
    histogram-median (doc_char_length_mad) to weighted data.

    No global sort of the fact: the histogram collapses the 600k-row
    group to its distinct prices first (one shuffle, map-side combined),
    and the cumulative window runs over histogram-sized frames.  Weights
    are integers (rounded quantities), the half-total test is the exact
    integer inequality 2*cw >= tw, and the price passes through raw --
    nothing floats until the untouched original value is emitted.
    """
    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("w")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("l_returnflag")
    cum = h.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            F.min("price").alias("weighted_median_price"),
        )
    )


@declared(
    "user_event_diversity",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_i
      FROM events GROUP BY user_id, event_type
    ),
    s AS (
      SELECT user_id,
             CAST(sum(n_i) AS BIGINT) AS n,
             CAST(sum(n_i * n_i) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    )
    SELECT user_id, n_types, n,
           {ratio4_sql('n * n - sq', 'n * n')} AS simpson_diversity
    FROM s
    """,
)
def user_event_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity as the Gini-Simpson index
    1 - sum(p_i^2): 0 for single-event-type users, approaching
    1 - 1/k for a uniform mix over k types.

    Chosen over Shannon entropy deliberately: entropy needs ln(), which
    is NOT bit-stable across libm implementations, while Gini-Simpson is
    the exact integer rational (n^2 - sum n_i^2) / n^2 -- same ranking
    power for mix-vs-monoculture monitoring, zero cross-engine risk.
    Two map-side-combinable aggregations sharing the user_id
    partitioning; at 100 TB this is a standard two-level rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i")
    )
    s = c.groupBy("user_id").agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("bigint").alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return s.select(
        "user_id",
        "n_types",
        "n",
        ratio4(
            F.col("n") * F.col("n") - F.col("sq"), F.col("n") * F.col("n")
        ).alias("simpson_diversity"),
    )


@declared(
    "join_skew_report",
    oracle="""
    WITH keyed AS (
      SELECT 'orders.o_custkey' AS key_col, o_custkey AS k FROM orders
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
    ),
    counts AS (
      SELECT key_col, k, CAST(count(*) AS BIGINT) AS n
      FROM keyed GROUP BY key_col, k
    ),
    stats AS (
      SELECT key_col, n, k,
             max(n) OVER (PARTITION BY key_col) AS max_n,
             sum(n) OVER (PARTITION BY key_col) AS tot,
             count(*) OVER (PARTITION BY key_col) AS n_keys,
             row_number() OVER (PARTITION BY key_col
                                ORDER BY n DESC, k) AS rnk
      FROM counts
    )
    SELECT key_col,
           CAST(max(n_keys) AS BIGINT) AS n_keys,
           CAST(max(max_n) AS BIGINT) AS heaviest_key_rows,
           CAST(min(k) AS BIGINT) AS heaviest_key,
           CAST((max(max_n) * max(n_keys) * 100) // max(tot) AS BIGINT)
             AS skew_pct_of_avg
    FROM stats
    WHERE rnk = 1
    GROUP BY key_col
    """,
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic over the schema's join keys: per key
    column, the key-space size, the heaviest key and its row count, and
    that weight as an integer percentage of the average key's -- the
    number that predicts whether a shuffle join on this key needs
    salting or AQE skew splitting BEFORE you run it.

    One pass per key column folded into a single union scan; all the
    windows run over per-key count frames (key-space-sized, not
    row-sized).  skew_pct_of_avg = max_n * n_keys * 100 DIV total is
    exact integer arithmetic: 100 means perfectly uniform, 10_000 means
    the hottest key is 100x average.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("orders.o_custkey").alias("key_col"), F.col("o_custkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem")
    keyed = orders.unionByName(
        li.select(
            F.lit("lineitem.l_suppkey").alias("key_col"),
            F.col("l_suppkey").alias("k"),
        )
    ).unionByName(
        li.select(
            F.lit("lineitem.l_partkey").alias("key_col"),
            F.col("l_partkey").alias("k"),
        )
    )
    counts = keyed.groupBy("key_col", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("key_col")
    wr = Window.partitionBy("key_col").orderBy(F.desc("n"), F.asc("k"))
    stats = counts.select(
        "key_col",
        "k",
        "n",
        F.max("n").over(w).alias("max_n"),
        F.sum("n").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("n_keys"),
        F.row_number().over(wr).alias("rnk"),
    )
    return (
        stats.filter(F.col("rnk") == 1)
        .groupBy("key_col")
        .agg(
            F.max("n_keys").cast("bigint").alias("n_keys"),
            F.max("max_n").cast("bigint").alias("heaviest_key_rows"),
            F.min("k").cast("bigint").alias("heaviest_key"),
            F.expr("CAST((max(max_n) * max(n_keys) * 100) DIV max(tot) AS BIGINT)")
            .alias("skew_pct_of_avg"),
        )
    )


@declared(
    "column_encoding_advisor",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(count(DISTINCT event_id) AS BIGINT) AS ndv_event_id,
             CAST(count(DISTINCT event_type) AS BIGINT) AS ndv_event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_user_id,
             CAST(count(DISTINCT props) AS BIGINT) AS ndv_props
      FROM events
    ),
    u AS (
      SELECT 'event_id' AS column_name, ndv_event_id AS n_distinct, total FROM s
      UNION ALL
      SELECT 'event_type', ndv_event_type, total FROM s
      UNION ALL
      SELECT 'props', ndv_props, total FROM s
      UNION ALL
      SELECT 'user_id', ndv_user_id, total FROM s
    )
    SELECT column_name, n_distinct,
           CAST((n_distinct * 1000000) // total AS BIGINT) AS ndv_ppm,
           CASE WHEN (n_distinct * 1000000) // total <= 1000 THEN 'dict-rle'
                WHEN (n_distinct * 1000000) // total <= 200000 THEN 'dict'
                ELSE 'plain' END AS advice
    FROM u
    """,
)
def column_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: per-column NDV ratio -> recommended parquet
    encoding (low-cardinality columns dictionary-encode, near-unique ones
    do not -- the knob that decides whether a 100 TB column occupies 2 TB
    or 40 TB on disk, and whether its scans are CPU- or IO-bound).

    One corpus pass: the four exact count-distincts share a single
    aggregation (Catalyst plans one Expand over the scan, not four
    scans), then the one-row stats frame unpivots via stack -- the same
    shape DuckDB's UNION-of-scalars oracle has.  At 100 TB swap the
    exact NDVs for approx_count_distinct at the same call sites (the
    advice thresholds are orders-of-magnitude cuts; HLL's ~2% error
    cannot flip them).
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.countDistinct("event_id").cast("bigint").alias("ndv_event_id"),
        F.countDistinct("event_type").cast("bigint").alias("ndv_event_type"),
        F.countDistinct("user_id").cast("bigint").alias("ndv_user_id"),
        F.countDistinct("props").cast("bigint").alias("ndv_props"),
    )
    stacked = s.selectExpr(
        "total",
        "stack(4, 'event_id', ndv_event_id, 'event_type', ndv_event_type,"
        " 'props', ndv_props, 'user_id', ndv_user_id)"
        " AS (column_name, n_distinct)",
    )
    ndv_ppm = F.expr("(n_distinct * 1000000) DIV total")
    return stacked.select(
        "column_name",
        "n_distinct",
        ndv_ppm.cast("bigint").alias("ndv_ppm"),
        F.when(ndv_ppm <= 1000, "dict-rle")
        .when(ndv_ppm <= 200000, "dict")
        .otherwise("plain")
        .alias("advice"),
    )


@declared(
    "equidepth_value_bands",
    oracle="""
    WITH staged AS (
      SELECT value,
             CAST(ntile(10) OVER (ORDER BY value, event_id) AS BIGINT) AS band
      FROM events
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS lo,
           max(value) AS hi
    FROM staged
    GROUP BY band
    """,
)
def equidepth_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of the value column: 10 bands
    of equal row count with their [lo, hi] boundaries -- the histogram
    shape cost-based optimizers keep per column, robust to skew where
    the fixed-width value_histogram is not (one hot band absorbs any
    spike instead of emptying the rest).

    ntile over the total order (value, event_id) is deterministic and
    cross-engine identical; boundaries are raw column values (no
    arithmetic, so no float hazard).  The global sort is the honest
    small-scale form; at 100 TB the boundaries come from approx
    quantiles over a sample and assignment is a range comparison --
    same output contract, no total sort (the same swap
    curriculum_quality_bins documents).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy(F.asc("value"), F.asc("event_id"))
    staged = ev.select("value", F.ntile(10).over(w).cast("bigint").alias("band"))
    return staged.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@declared(
    "skew_salt_plan",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT c.user_id, c.cnt,
           CAST((c.cnt * t.n_keys + 2 * t.total - 1) // (2 * t.total)
             AS BIGINT) AS salt_factor
    FROM counts c CROSS JOIN tot t
    """,
)
def skew_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of join_skew_report: a concrete salting plan.  Each
    key's salt factor is how many sub-keys its rows split into --
    ceil(cnt / (2 * fair_share)) with fair_share = total/n_keys, so a
    uniform key stays at factor 1 and a key holding x fair-shares splits
    ~x/2 ways.  Downstream, the big side maps rows to (key, rand % f)
    and the small side replicates f ways -- bounding any single task at
    ~2 fair-shares, which is the property AQE's skew split enforces at
    runtime and this plan enforces statically (the choice at 100 TB when
    the skew is known ahead: no runtime re-plan, stable task sizing).

    Integer-exact: ceil via (a + b - 1) DIV b on bigint counts; one
    aggregation plus a broadcast of the 1-row totals.  The per-key
    counts frame feeds two consumers (the scalar totals and the salted
    projection), so it is localCheckpointed once -- the events scan and
    its shuffle run exactly once (shared-consumer rule); the totals join
    stays an explicit broadcast because checkpointed frames carry no
    stats.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint(eager=True)
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.expr("(cnt * n_keys + 2 * total - 1) DIV (2 * total)")
            .cast("bigint")
            .alias("salt_factor"),
        )
    )


@declared(
    "value_ks_drift",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN CAST(date_part('day', ts) AS BIGINT) <= 15
                  THEN 1 ELSE 2 END AS half
      FROM events
    ),
    per_value AS (
      SELECT event_type, v,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
      FROM tagged GROUP BY event_type, v
    ),
    cum AS (
      SELECT event_type,
             sum(d1) OVER (PARTITION BY event_type ORDER BY v) AS c1,
             sum(d2) OVER (PARTITION BY event_type ORDER BY v) AS c2,
             sum(d1) OVER (PARTITION BY event_type) AS n1,
             sum(d2) OVER (PARTITION BY event_type) AS n2
      FROM per_value
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n_early,
           CAST(max(n2) AS BIGINT) AS n_late,
           ((((2 * (CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT)) * 10000 + (CAST(max(n1) * max(n2) AS BIGINT))) - (2 * (CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT)) * 10000 + (CAST(max(n1) * max(n2) AS BIGINT))) % (2 * (CAST(max(n1) * max(n2) AS BIGINT)))) / (2 * (CAST(max(n1) * max(n2) AS BIGINT)))) / 10000.0)
             AS ks4
    FROM cum
    GROUP BY event_type
    HAVING max(n1) > 0 AND max(n2) > 0
    """,
)
def value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift per event type: max CDF gap
    between the first half-month's value distribution and the second's
    -- the distribution-free drift statistic a monitoring pipeline
    alarms on (the histogram form, value_drift_histogram, bins first;
    KS needs no binning choice).

    Integer-exact throughout: the gap |F1(x) - F2(x)| is compared as
    |c1*n2 - c2*n1| over the common denominator n1*n2, so the max is an
    integer max and only the final reported statistic divides (ratio4).
    One shuffle to (type, value) cells, then per-type windows over the
    distinct-value stream -- cardinality is |values| per type, not rows,
    the same collapse weighted_median_price uses.  One-sided types are
    excluded explicitly (HAVING both halves non-empty) rather than
    silently divided by zero.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(2).alias("half"),
    )
    per_value = tagged.groupBy("event_type", "v").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
    )
    wv = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type")
    cum = per_value.select(
        "event_type",
        F.sum("d1").over(wv).alias("c1"),
        F.sum("d2").over(wv).alias("c2"),
        F.sum("d1").over(wt).alias("n1"),
        F.sum("d2").over(wt).alias("n2"),
    )
    num = F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))).cast(
        "bigint"
    )
    den = (F.max("n1") * F.max("n2")).cast("bigint")
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n1").cast("bigint").alias("n_early"),
            F.max("n2").cast("bigint").alias("n_late"),
            ratio4(num, den).alias("ks4"),
        )
        .filter((F.col("n_early") > 0) & (F.col("n_late") > 0))
    )


@declared(
    "benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE round(value * 100) >= 1
    ),
    lead AS (
      SELECT v // CAST(power(10, length(CAST(v AS VARCHAR)) - 1) AS BIGINT)
               AS first_digit
      FROM digits
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lead)
    SELECT l.first_digit,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST((count(*) * 1000000) // max(t.n) AS BIGINT) AS share_ppm
    FROM lead l CROSS JOIN tot t
    GROUP BY l.first_digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of the value column -- the
    Benford's-law audit fraud and data-quality teams run (organically
    generated magnitudes lean toward small leading digits; synthetic or
    capped data shows up as a flat or spiked profile).

    The leading digit is extracted in integer space: v DIV
    10^(digits(v)-1) over scaled cents, with digits(v) from the decimal
    string length of a positive integer (identical across engines --
    never log10, whose float rounding can misplace a power-of-ten
    boundary).  Single corpus scan + aggregation; the total for the
    share is an unpartitioned window SUM over the aggregated <=9-row
    digit table, so the events subtree has exactly one consumer (no
    scalar crossJoin recomputing the scan -- the CLAUDE.md
    shared-consumer rule satisfied structurally, no checkpoint needed).
    """
    ev = load_table(spark, sf_dir, "events")
    digits = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    ).filter(F.col("v") >= 1)
    lead = digits.select(
        F.expr(
            "v DIV CAST(power(10, length(CAST(v AS STRING)) - 1) AS BIGINT)"
        ).alias("first_digit")
    )
    per_digit = lead.groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values")
    )
    return per_digit.select(
        "first_digit",
        "n_values",
        F.expr(
            "CAST((n_values * 1000000) DIV (sum(n_values) OVER ()) AS BIGINT)"
        ).alias("share_ppm"),
    )


@declared(
    "value_changepoint_cusum",
    oracle="""
    WITH tagged AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    cum AS (
      SELECT event_type, ts,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS BIGINT) AS rn,
             CAST(sum(v) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS BIGINT) AS cumv,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM tagged
    ),
    scored AS (
      SELECT event_type, ts, rn, n,
             abs(n * cumv - rn * s) AS dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * cumv - rn * s) DESC, rn)
               AS pick
      FROM cum
    )
    SELECT event_type, n AS n_events, ts AS cp_ts,
           rn AS cp_index, CAST(dev AS BIGINT) AS max_abs_cusum
    FROM scored WHERE pick = 1
    """,
)
def value_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point localization per event type: the time-ordered
    position maximizing |sum_{i<=k}(n*v_i - S)| -- where the KS drift
    statistic (value_ks_drift) says THAT a distribution moved, CUSUM
    says WHEN, with the same integer-exactness (the deviation-from-mean
    sum is cross-multiplied to n*cumsum_k - k*S, so no mean division
    ever happens; ties break to the earliest index).

    One shuffle on event_type serves all four window passes; row count
    entering the argmax is per-type event count.  At 100 TB the running
    sum is the only sequential dependency -- computed per partition with
    a per-partition offset merge (the classic distributed prefix-sum),
    same output contract.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_all = Window.partitionBy("event_type")
    cum = tagged.select(
        "event_type",
        "ts",
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
        F.sum("v").over(w_ord).cast("bigint").alias("cumv"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum("v").over(w_all).cast("bigint").alias("s"),
    )
    dev = F.abs(F.col("n") * F.col("cumv") - F.col("rn") * F.col("s"))
    w_pick = Window.partitionBy("event_type").orderBy(
        dev.desc(), F.col("rn").asc()
    )
    return (
        cum.withColumn("dev", dev)
        .withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("ts").alias("cp_ts"),
            F.col("rn").alias("cp_index"),
            F.col("dev").cast("bigint").alias("max_abs_cusum"),
        )
    )


@declared(
    "value_mad_outliers",
    oracle="""
    WITH vals AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, event_id, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM vals
    ),
    meds AS (
      SELECT event_type, v AS med FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT r.event_type, r.event_id, r.v, m.med,
             abs(r.v - m.med) AS d
      FROM vals r JOIN meds m ON m.event_type = r.event_type
    ),
    dranked AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mads AS (
      SELECT event_type, d AS mad FROM dranked WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type, dev.event_id, dev.v, dev.med, mads.mad,
           CAST((dev.d * 100000000) // (14826 * greatest(mads.mad, 1))
             AS BIGINT) AS rz4
    FROM dev JOIN mads ON mads.event_type = dev.event_type
    WHERE (dev.d * 100000000) // (14826 * greatest(mads.mad, 1)) > 30000
    """,
)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via median/MAD: |v - median| / (1.4826 * MAD) > 3
    -- the estimator value_zscore_outliers' mean/stddev version lacks
    (one extreme value inflates a stddev and HIDES other outliers; the
    median and MAD have 50% breakdown, so contamination can't mask
    itself -- the reason robust z is the production data-quality
    default).

    Integer-exact throughout: medians are LOWER-median rank selections
    ((n+1) DIV 2 over (value, event_id) total order, the
    percentile_disc_prices machinery), and the robust z is emitted as
    rz4 = d*1e8 DIV (14826 * MAD) -- 1.4826 lives in the denominator as
    the integer 14826, so no float ever appears.  Plan: one events scan
    checkpointed narrow; two rank windows (median, then MAD) each
    partitioned by event_type; the per-type scalars broadcast back.  At
    100 TB swap the rank windows for the two-pass histogram rank
    (doc_char_length_mad's trick) to avoid per-type global sorts.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    ).localCheckpoint(eager=True)  # feeds median rank AND deviation join
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    meds = (
        vals.select(
            "event_type",
            "v",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("v").alias("med"))
    )
    dev = vals.join(F.broadcast(meds), "event_type").select(
        "event_type",
        "event_id",
        "v",
        "med",
        F.abs(F.col("v") - F.col("med")).alias("d"),
    ).localCheckpoint(eager=True)  # feeds MAD rank AND the output filter
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    mads = (
        dev.select(
            "event_type",
            "d",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("d").alias("mad"))
    )
    rz4 = F.expr("(d * 100000000) DIV (14826 * greatest(mad, 1))")
    return (
        dev.join(F.broadcast(mads), "event_type")
        .filter(rz4 > 30000)
        .select(
            "event_type",
            "event_id",
            "v",
            "med",
            "mad",
            rz4.cast("bigint").alias("rz4"),
        )
    )


@declared(
    "daily_seasonal_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_c
      FROM events GROUP BY date_trunc('day', ts)
    ),
    tagged AS (
      SELECT day, total_c,
             (CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) + 4) % 7
               AS weekday
      FROM daily
    ),
    wd_ranked AS (
      SELECT day, total_c, weekday,
             row_number() OVER (PARTITION BY weekday
                                ORDER BY total_c, day) AS rn,
             count(*) OVER (PARTITION BY weekday) AS n
      FROM tagged
    ),
    wd_med AS (
      SELECT weekday, total_c AS wd_med
      FROM wd_ranked WHERE rn = (n + 1) // 2
    ),
    resid AS (
      SELECT t.day, t.total_c, t.weekday, m.wd_med,
             t.total_c - m.wd_med AS resid_c
      FROM tagged t JOIN wd_med m ON m.weekday = t.weekday
    ),
    mad_ranked AS (
      SELECT abs(resid_c) AS a,
             row_number() OVER (ORDER BY abs(resid_c), day) AS rn,
             count(*) OVER () AS n
      FROM resid
    ),
    mad AS (SELECT a AS mad FROM mad_ranked WHERE rn = (n + 1) // 2)
    SELECT r.day, r.total_c, r.weekday, r.wd_med, r.resid_c,
           CAST((abs(r.resid_c) * 100000000)
                // (14826 * greatest(m.mad, 1)) AS BIGINT) AS rz4,
           (abs(r.resid_c) * 100000000)
             // (14826 * greatest(m.mad, 1)) > 30000 AS is_anomaly
    FROM resid r CROSS JOIN mad m
    """,
)
def daily_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted daily anomaly report (STL-lite): the daily
    value series is deseasonalized by subtracting each WEEKDAY's median
    (the dominant retail cycle), and the residuals are scored with the
    robust median/MAD z -- the time-series complement of the point-level
    value_mad_outliers (a quiet Sunday is not an anomaly; a Sunday-sized
    Tuesday is).  Every day is emitted with its rz4 + is_anomaly flag so
    the result is non-vacuous whether or not the window contains a
    genuine incident.

    Integer-exact: scaled-cent totals, portable weekday ((epoch_days+4)%7
    -- engine dayofweek conventions differ), lower-median rank
    selections, and the all-integer rz4.  Plan: one events scan collapses
    to the ~30-row daily table; every window after that is
    day-cardinality-bounded.  At 100 TB only the first aggregation
    touches the corpus.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_c")
        )
    )
    tagged = daily.select(
        "day",
        "total_c",
        ((F.datediff("day", F.lit("1970-01-01").cast("date")) + 4) % 7)
        .cast("bigint")
        .alias("weekday"),
    ).localCheckpoint(eager=True)  # feeds weekday-median rank AND residual join
    w = Window.partitionBy("weekday").orderBy("total_c", "day")
    wn = Window.partitionBy("weekday")
    wd_med = (
        tagged.select(
            "weekday",
            "total_c",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("weekday", F.col("total_c").alias("wd_med"))
    )
    resid = tagged.join(F.broadcast(wd_med), "weekday").select(
        "day",
        "total_c",
        "weekday",
        "wd_med",
        (F.col("total_c") - F.col("wd_med")).alias("resid_c"),
    ).localCheckpoint(eager=True)  # feeds MAD rank AND the final report
    wm = Window.orderBy(F.abs("resid_c"), "day")
    wall = Window.partitionBy()
    mad = (
        resid.select(
            F.abs("resid_c").alias("a"),
            F.row_number().over(wm).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("a").alias("mad"))
    )
    rz4 = F.expr("(abs(resid_c) * 100000000) DIV (14826 * greatest(mad, 1))")
    return resid.crossJoin(F.broadcast(mad)).select(
        "day",
        "total_c",
        "weekday",
        "wd_med",
        "resid_c",
        rz4.cast("bigint").alias("rz4"),
        (rz4 > 30000).alias("is_anomaly"),
    )


@declared(
    "winsorized_brand_price",
    oracle=f"""
    WITH ranked AS (
      SELECT p.p_brand, l.l_extendedprice,
             row_number() OVER (
               PARTITION BY p.p_brand
               ORDER BY l.l_extendedprice, l.l_orderkey, l.l_linenumber
             ) AS rn,
             count(*) OVER (PARTITION BY p.p_brand) AS n
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    bounded AS (
      SELECT p_brand, l_extendedprice, rn, n,
             (n * 5) // 100 + 1 AS lo_rn,
             n - (n * 5) // 100 AS hi_rn,
             max(CASE WHEN rn = (n * 5) // 100 + 1
                      THEN l_extendedprice END)
               OVER (PARTITION BY p_brand) AS lo_val,
             max(CASE WHEN rn = n - (n * 5) // 100
                      THEN l_extendedprice END)
               OVER (PARTITION BY p_brand) AS hi_val
      FROM ranked
    )
    SELECT p_brand,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn < lo_rn OR rn > hi_rn
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           {exact_avg_sql("least(greatest(l_extendedprice, lo_val), hi_val)")}
             AS winsorized_avg
    FROM bounded
    GROUP BY p_brand
    """,
)
def winsorized_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: 5% WINSORIZED mean of extended price per brand
    -- tail values are CLAMPED to the p5/p95 boundary values instead of
    dropped (`trimmed_mean_brand_price`'s sibling: winsorizing keeps the
    sample size, the standard choice when downstream weights must not
    change).

    The boundary VALUES are picked by row_number under the deterministic
    total order (price, orderkey, linenumber), so duplicates at the
    boundary clamp identically on both engines; n_clipped counts by rank
    for the same reason.  The boundary lookup is a conditional window max
    over the SAME brand partitioning as the rank -- one shuffle+sort
    total, aggregation reuses it (zero extra exchanges).  Clamped prices
    stay cents-clean, so the average is exact integer space.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("p_brand").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("p_brand")
    ranked = j.select(
        "p_brand",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo_rn = F.expr("(n * 5) DIV 100 + 1")
    hi_rn = F.col("n") - F.expr("(n * 5) DIV 100")
    bounded = ranked.select(
        "p_brand",
        "l_extendedprice",
        "rn",
        "n",
        lo_rn.alias("lo_rn"),
        hi_rn.alias("hi_rn"),
        F.max(F.when(F.col("rn") == lo_rn, F.col("l_extendedprice")))
        .over(wn)
        .alias("lo_val"),
        F.max(F.when(F.col("rn") == hi_rn, F.col("l_extendedprice")))
        .over(wn)
        .alias("hi_val"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo_val")), F.col("hi_val")
    )
    return bounded.groupBy("p_brand").agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.sum(
            F.when(
                (F.col("rn") < F.col("lo_rn")) | (F.col("rn") > F.col("hi_rn")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
        exact_avg(clamped).alias("winsorized_avg"),
    )


_FD_CANDIDATES = (
    ("p_brand", "p_type"),
    ("p_type", "p_brand"),
    ("p_brand", "p_size"),
    ("p_partkey", "p_brand"),
)
_FD_SQL = " UNION ALL ".join(
    f"""
    SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(n_rhs) AS BIGINT) AS max_rhs_per_lhs
    FROM (
      SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
      FROM part GROUP BY {lhs}
    )"""
    for lhs, rhs in _FD_CANDIDATES
)


@declared("functional_dependency_profile", oracle=_FD_SQL)
def functional_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs of
    `part`: does lhs determine rhs?  Reports, per candidate, how many
    lhs values exist, how many violate (map to >1 distinct rhs), and
    the worst fan-out -- the schema-profiling pass behind key discovery,
    normalization advice, and dq rule synthesis (p_partkey -> p_brand
    holds exactly; brand/type/size mutually violate, which is the
    interesting finding).

    One scan of the dim feeds every candidate (checkpointed narrow
    projection; candidates derive from the cached frame, keeping the
    suite's <=2-scans-per-table ceiling at ANY candidate count).  Each
    candidate is a two-level partial agg (distinct-count per lhs, then
    the violation rollup) -- map-side combinable, group cardinality
    bounded by the lhs domain.  All-integer output.
    """
    cols = sorted({c for pair in _FD_CANDIDATES for c in pair})
    part = (
        load_table(spark, sf_dir, "part")
        .select(*cols)
        .localCheckpoint(eager=True)  # one scan serves all candidates
    )
    outs = []
    for lhs, rhs in _FD_CANDIDATES:
        per_lhs = part.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("n_rhs")
        )
        outs.append(
            per_lhs.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lhs_values"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
                F.max("n_rhs").cast("bigint").alias("max_rhs_per_lhs"),
            ).select(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_lhs_values",
                "n_violating",
                "max_rhs_per_lhs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_IND_PAIRS = [
    # (child_table, child_col, parent_table, parent_col, parent_is_small)
    ("orders", "o_custkey", "customer", "c_custkey", True),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("events", "user_id", "customer", "c_custkey", True),
]


def _ind_pair_sql(ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{ct}' AS child_table, '{cc}' AS child_col,
           '{pt}' AS parent_table, '{pc}' AS parent_col,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contained
    FROM (
      SELECT EXISTS (SELECT 1 FROM {pt} p WHERE p.{pc} = c.v) AS hit
      FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
    ) t
    """


_IND_SQL = (
    "WITH raw AS ("
    + " UNION ALL ".join(_ind_pair_sql(*p[:4]) for p in _IND_PAIRS)
    + """)
    SELECT child_table, child_col, parent_table, parent_col,
           n_child, n_contained,
           CAST((1000000 * n_contained) // n_child AS BIGINT)
             AS containment_ppm,
           n_contained = n_child AS is_inclusion
    FROM raw
    """
)


@declared("inclusion_dependency_profile", oracle=_IND_SQL)
def inclusion_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key candidate) discovery: for each
    candidate (child.col -> parent.col) pair, what fraction of the
    child's DISTINCT values appear in the parent key set.  Full
    containment (ppm = 1e6) certifies a join-safe FK edge; partial
    containment quantifies orphan mass -- the schema-discovery
    complement of `functional_dependency_profile` (intra-table) and
    `referential_orphans` (per-row orphan listing): this one profiles
    the EDGE itself, the way SPIDER/SINDY-style profilers do.

    Tables referenced by several pairs are scanned ONCE as a narrow
    checkpointed projection (suite scan ceiling); per pair: one distinct
    on the child column (map-side combinable) and one existence join
    against the parent's key -- broadcast where the parent is a bounded dim, a
    shuffle-hash equi-join on the large orders key where it is not.
    The output is |pairs| rows; containment is integer-floored ppm, so
    every value is engine-exact.  At 100 TB each pair stays a
    distinct + semi-join, both shuffle-bounded on the child's distinct
    set (<= key cardinality, not row count).
    """
    # One scan per base table: tables referenced by several pairs load a
    # single narrow projection, checkpointed (the suite-wide <=2-scan
    # ceiling; stat-less checkpoints -> joins below hint explicitly).
    uses: dict[str, set[str]] = {}
    for ct, cc, pt, pc, _ in _IND_PAIRS:
        uses.setdefault(ct, set()).add(cc)
        uses.setdefault(pt, set()).add(pc)
    frames: dict[str, DataFrame] = {}
    for tbl, cols in uses.items():
        proj = load_table(spark, sf_dir, tbl).select(*sorted(cols))
        n_refs = sum((ct == tbl) + (pt == tbl) for ct, _, pt, _, _ in _IND_PAIRS)
        frames[tbl] = proj.localCheckpoint(eager=True) if n_refs > 1 else proj
    outs = []
    for ct, cc, pt, pc, small in _IND_PAIRS:
        child = frames[ct].select(F.col(cc).alias("v")).distinct()
        parent = frames[pt].select(F.col(pc).alias("pv")).distinct()
        parent = F.broadcast(parent) if small else parent.hint("shuffle_hash")
        hits = child.join(parent, F.col("v") == F.col("pv"), "left").select(
            F.col("pv").isNotNull().alias("hit")
        )
        outs.append(
            hits.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                F.sum(F.when(F.col("hit"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_contained"),
            ).select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_col"),
                F.lit(pt).alias("parent_table"),
                F.lit(pc).alias("parent_col"),
                "n_child",
                "n_contained",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "child_table",
        "child_col",
        "parent_table",
        "parent_col",
        "n_child",
        "n_contained",
        F.expr("CAST((1000000 * n_contained) DIV n_child AS BIGINT)").alias(
            "containment_ppm"
        ),
        (F.col("n_contained") == F.col("n_child")).alias("is_inclusion"),
    )


HQ_BINS = 1000
HQ_PCTS = [50, 90, 99]


@declared(
    "histogram_quantile_estimate",
    oracle=f"""
    WITH prices AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    mm AS (
      SELECT CAST(min(pc) AS BIGINT) AS lo, CAST(max(pc) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST((max(pc) - min(pc)) // {HQ_BINS} + 1 AS BIGINT) AS wid
      FROM prices
    ),
    hist AS (
      SELECT (p.pc - m.lo) // m.wid AS bin, CAST(count(*) AS BIGINT) AS c
      FROM prices p CROSS JOIN mm m
      GROUP BY (p.pc - m.lo) // m.wid
    ),
    cum AS (
      SELECT bin, CAST(sum(c) OVER (ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cc
      FROM hist
    ),
    targets AS (
      SELECT pct, (m.n - 1) * pct // 100 + 1 AS tgt, m.lo, m.wid
      FROM mm m, unnest([{", ".join(str(p) for p in HQ_PCTS)}]) AS u(pct)
    ),
    est AS (
      SELECT t.pct, t.tgt, CAST(t.lo + min(c.bin) * t.wid AS BIGINT) AS est_c
      FROM targets t JOIN cum c ON c.cc >= t.tgt
      GROUP BY t.pct, t.tgt, t.lo, t.wid
    ),
    ranked AS (
      SELECT pc, row_number() OVER (
               ORDER BY pc, l_orderkey, l_linenumber) AS rn
      FROM prices
    )
    SELECT CAST(e.pct AS BIGINT) AS pct,
           e.est_c / 100.0e0 AS est_price,
           r.pc / 100.0e0 AS exact_price,
           abs(e.est_c - r.pc) AS abs_err_cents
    FROM est e JOIN ranked r ON r.rn = e.tgt
    """,
)
def histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed 1000-bin equi-width histogram
    (p50/p90/p99 of lineitem price, in exact cents) with the true
    type-1 percentile and the absolute error alongside -- the
    sketch-accuracy study behind `approx_percentile_prices`: a
    mergeable histogram answers quantiles in one combinable pass with
    bounded error (<= one bin width), where the exact answer needs a
    TOTAL ORDER over the fact table.

    The price projection is scanned once (checkpointed) and feeds three
    bounded consumers: the min/max/count scalar, the 1000-row histogram
    (+ its tiny cumulative window), and the exact-rank window the
    report compares against (the one global sort -- at 100 TB you ship
    ONLY the histogram and drop this column; here it is the measuring
    stick).  Everything is integer arithmetic on cents -- bin ids,
    ranks, estimates (bin LOWER edge), errors -- so the report is
    engine-exact; the only doubles are final /100 renderings of exact
    integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    prices = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
            "l_orderkey",
            "l_linenumber",
        )
        .localCheckpoint(eager=True)  # scalar + histogram + exact rank
    )
    mm = prices.agg(
        F.min("pc").cast("bigint").alias("lo"),
        F.max("pc").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(f"CAST((max(pc) - min(pc)) DIV {HQ_BINS} + 1 AS BIGINT)").alias(
            "wid"
        ),
    )
    hist = (
        prices.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(pc - lo) DIV wid").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin", F.sum("c").over(wcum).cast("bigint").alias("cc")
    ).localCheckpoint(eager=True)  # joined per percentile target
    targets = (
        mm.select(
            "lo",
            "wid",
            "n",
            F.explode(
                F.array(*[F.lit(p) for p in HQ_PCTS])
            ).alias("pct"),
        )
        .select(
            "lo",
            "wid",
            "pct",
            F.expr("(n - 1) * pct DIV 100 + 1").alias("tgt"),
        )
    )
    est = (
        F.broadcast(targets)
        .join(cum, F.col("cc") >= F.col("tgt"))
        .groupBy("pct", "tgt", "lo", "wid")
        .agg((F.col("lo") + F.min("bin") * F.col("wid")).cast("bigint").alias("est_c"))
    )
    wr = Window.orderBy("pc", "l_orderkey", "l_linenumber")
    ranked = prices.select("pc", F.row_number().over(wr).alias("rn"))
    return (
        F.broadcast(est)
        .join(ranked, F.col("rn") == F.col("tgt"))
        .select(
            F.col("pct").cast("bigint").alias("pct"),
            (F.col("est_c") / F.lit(100.0)).alias("est_price"),
            (F.col("pc") / F.lit(100.0)).alias("exact_price"),
            F.abs(F.col("est_c") - F.col("pc")).alias("abs_err_cents"),
        )
    )


@declared(
    "chi_square_type_weekday",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS wd,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells
           GROUP BY event_type),
    ct AS (SELECT wd, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY wd),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    contrib AS (
      SELECT CAST(
               (1000000 * (CAST(ce.o AS HUGEINT) * nn.n
                           - CAST(rt.r AS HUGEINT) * ct.c)
                        * (CAST(ce.o AS HUGEINT) * nn.n
                           - CAST(rt.r AS HUGEINT) * ct.c))
               // (CAST(nn.n AS HUGEINT) * rt.r * ct.c) AS BIGINT) AS cm
      FROM cells ce
      JOIN rt ON rt.event_type = ce.event_type
      JOIN ct ON ct.wd = ce.wd
      CROSS JOIN nn
    ),
    dims AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(DISTINCT wd) AS BIGINT) AS n_wd
      FROM cells
    )
    SELECT nn.n, d.n_types, d.n_wd,
           CAST((d.n_types - 1) * (d.n_wd - 1) AS BIGINT) AS df,
           CAST(s.chi2_micro AS BIGINT) AS chi2_micro,
           CASE WHEN (d.n_types - 1) * (d.n_wd - 1) = 24
                THEN s.chi2_micro > 36415000 END AS significant
    FROM nn CROSS JOIN dims d
    CROSS JOIN (SELECT CAST(sum(cm) AS BIGINT) AS chi2_micro FROM contrib) s
    """,
)
def chi_square_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and weekday
    (portable (days_since_epoch+4)%7 weekday): is the traffic mix the
    same every day of the week, or does type composition shift?  The
    contingency-table sibling of `value_ks_drift` (which compares
    continuous distributions) and the general form of `srm_check`'s
    collapsed 2-cell statistic.

    Each cell's (O-E)^2/E is the exact rational
    (o*N - r*c)^2 / (N*r*c); the engine floor-divides 1e6x that in
    DECIMAL(38,0) integer space (HUGEINT in the oracle), so every
    contribution -- and their sum, chi2 in micro units -- is an exact
    integer on both engines, no float expected-count intermediates.
    Envelope: (o*N)^2 * 1e6 < 1e38 holds to N ~ 1e8 rows; past that,
    drop the 1e6 scale (or pre-divide by N) for headroom.  The 0.05
    critical value is pinned for the expected df=24 table, NULL for any
    other shape.  Cost: one events scan into a (types x 7)-cell frame
    (checkpointed once for its four tiny consumers); everything after is
    dimension-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            ((F.expr("CAST(ts AS LONG) DIV 86400") + 4) % 7).alias("wd"),
        )
        .groupBy("event_type", "wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=True)  # rt + ct + nn + contrib consumers
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    ct = cells.groupBy("wd").agg(F.sum("o").cast("bigint").alias("c"))
    nn = cells.agg(F.sum("o").cast("bigint").alias("n"))
    dims = cells.agg(
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct("wd").cast("bigint").alias("n_wd"),
    )
    contrib = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "wd")
        .crossJoin(F.broadcast(nn))
        .select(
            F.expr(
                "CAST((1000000 * (CAST(o AS DECIMAL(38,0)) * n"
                "                 - CAST(r AS DECIMAL(38,0)) * c)"
                "              * (CAST(o AS DECIMAL(38,0)) * n"
                "                 - CAST(r AS DECIMAL(38,0)) * c))"
                " DIV (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
            ).alias("cm")
        )
    )
    chi2 = contrib.agg(F.sum("cm").cast("bigint").alias("chi2_micro"))
    df = (F.col("n_types") - 1) * (F.col("n_wd") - 1)
    return (
        F.broadcast(nn)
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(chi2))
        .select(
            "n",
            "n_types",
            "n_wd",
            df.cast("bigint").alias("df"),
            "chi2_micro",
            F.when(df == 24, F.col("chi2_micro") > 36415000).alias(
                "significant"
            ),
        )
    )


# Largest value grid the serial one-partition rank window may sort; a
# bigger grid (distinct prices scale with rows) takes the distributed
# two-phase prefix-sum path instead (identical integers).
_RANK_GRID_SERIAL_MAX = 2_000_000


def _rank_grid(rows_in: DataFrame, col: str, out: str) -> DataFrame:
    """Doubled-midrank value grid (2*cum_less + ct + 1) via ONE global
    running-sum window -- single-partition, right while the grid is
    small (the serial sort beats the parallel path's extra jobs by
    ~0.9 s at sf0.1's 583k-value grid)."""
    per = rows_in.groupBy(col).agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
    return per.select(
        col,
        (
            2 * F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("bigint")
            + F.col("ct")
            + 1
        ).alias(out),
    )


def _rank_grid_parallel(rows_in: DataFrame, col: str, out: str) -> DataFrame:
    """Distributed doubled-midrank grid (round 11, guide §2/§5): when
    the value grid is ROW-scale (prices are ~97% distinct), the
    single-partition running-sum window is a serial sort of the whole
    grid -- a genuine 100 TB wall.  Classic two-phase prefix sum:
    range-partition the grid (equal values co-locate; every smaller
    value lands in an earlier partition), cumulative-sum within
    partitions, add per-partition offsets (a partition-count-bounded
    collect, broadcast back).  Integers identical to the global window
    by construction (pinned by tests/test_new_op_semantics.py)."""
    spark = rows_in.sparkSession
    per = rows_in.groupBy(col).agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    npart = spark.sparkContext.defaultParallelism
    parts = (
        per.repartitionByRange(npart, F.col(col))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin pid; feeds offsets + the cumsum
    )
    from etl_rf_matrix_controller_spark.plans.scale import collect_bounded

    tot = {
        r.pid: r.s
        for r in collect_bounded(
            parts.groupBy("pid").agg(F.sum("ct").alias("s")),
            npart + 1,
            "rank-grid partition totals",
        )
    }
    offs, acc = [], 0
    for pid in sorted(tot):
        offs.append((pid, acc))
        acc += tot[pid]
    off_df = spark.createDataFrame(offs or [(0, 0)], "pid int, off bigint")
    w = (
        Window.partitionBy("pid")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return parts.join(F.broadcast(off_df), "pid").select(
        col,
        (
            2
            * (
                F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("bigint")
                + F.col("off")
            )
            + F.col("ct")
            + 1
        ).alias(out),
    )


@declared(
    "spearman_quantity_price",
    oracle="""
    WITH rows_in AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qx,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS px
      FROM lineitem
    ),
    rxt AS (
      SELECT qx,
             2 * CAST(coalesce(sum(ct) OVER (ORDER BY qx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + ct + 1 AS mrx
      FROM (SELECT qx, CAST(count(*) AS BIGINT) AS ct
            FROM rows_in GROUP BY qx)
    ),
    ryt AS (
      SELECT px,
             2 * CAST(coalesce(sum(ct) OVER (ORDER BY px
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) + ct + 1 AS mry
      FROM (SELECT px, CAST(count(*) AS BIGINT) AS ct
            FROM rows_in GROUP BY px)
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(mrx AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(mry AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(mrx AS HUGEINT) * mrx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(mry AS HUGEINT) * mry) AS HUGEINT) AS syy,
             CAST(sum(CAST(mrx AS HUGEINT) * mry) AS HUGEINT) AS sxy
      FROM rows_in r JOIN rxt USING (qx) JOIN ryt USING (px)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def spearman_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice
    -- the outlier-robust, monotonicity-not-linearity sibling of the
    Pearson `lineitem_corr_matrix` cell (and the correlational cousin of
    `mann_whitney_value_test`, reusing its doubled-midrank machinery):
    does price rise with quantity in RANK terms, immune to the heavy
    right tail that inflates/deflates Pearson?

    Exactness under ties: each distinct value's average rank is a
    half-integer, so the engine carries DOUBLED midranks (2*cum_less +
    ct + 1, an integer) and computes Pearson on those -- the doubling
    cancels in the ratio.  The six moments accumulate as DECIMAL(38,0)
    (operands cast BEFORE multiplying; doubled ranks reach 2n, so
    n*sxx ~ 4n^4 needs decimal headroom past ~50k rows), and rho is the
    `daily_value_autocorr_lag1` fixed float expression of three exact
    integers.  Envelope: 4n^4 < 1e38 holds to n ~ 1e9 rows.

    Cost: ONE lineitem scan into a narrow (qx, px) projection,
    localCheckpointed for its three consumers (two rank grids + the
    join-back).  Rank grids are windows over DISTINCT VALUES (the value
    grid, not the rows -- single-partition but grid-bounded, the
    `mann_whitney_value_test` posture).  Join-back: quantity grid (~50
    rows) broadcast; price grid scales with distinct prices, so its
    join is shuffle-hash pinned (checkpointed frames have no stats --
    the CLAUDE.md rule -- and must never SMJ).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_in = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qx"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("px"),
    ).localCheckpoint(eager=True)  # rank grid x2 + join-back

    rxt = _rank_grid(rows_in, "qx", "mrx")  # ~50 distinct quantities
    # Scale-adaptive (round 11): below the threshold the one-partition
    # window's serial sort is cheaper than the parallel path's extra
    # jobs (measured ~0.9 s slower at sf0.1's 583k-value grid); above
    # it the serial sort is the wall.  rows_in is checkpointed, so the
    # count is a trivial job, and the grid is at most rows_in rows.
    ryt = (
        _rank_grid_parallel(rows_in, "px", "mry")
        if rows_in.count() > _RANK_GRID_SERIAL_MAX
        else _rank_grid(rows_in, "px", "mry")
    )
    dec = "decimal(38,0)"
    joined = rows_in.join(F.broadcast(rxt), "qx").join(
        ryt.hint("shuffle_hash"), "px"
    )
    m = joined.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("mrx").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("mry").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("mrx").cast(dec) * F.col("mrx")).cast(dec).alias("sxx"),
        F.sum(F.col("mry").cast(dec) * F.col("mry")).cast(dec).alias("syy"),
        F.sum(F.col("mrx").cast(dec) * F.col("mry")).cast(dec).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.filter((varx > 0) & (vary > 0)).select(
        F.col("n").cast("bigint").alias("n"),
        (
            cov.cast("double")
            / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double")))
        ).alias("rho"),
    )


@declared(
    "goodman_kruskal_lambda",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS wd,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    colmax AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_colmax
      FROM (SELECT wd, max(o) AS mx FROM cells GROUP BY wd)
    ),
    base AS (
      SELECT CAST(max(tot) AS BIGINT) AS base_max
      FROM (SELECT event_type, sum(o) AS tot FROM cells GROUP BY event_type)
    ),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
    SELECT nn.n, b.base_max, c.sum_colmax,
           CAST((1000000 * (c.sum_colmax - b.base_max))
                // (nn.n - b.base_max) AS BIGINT) AS lambda_ppm
    FROM nn CROSS JOIN base b CROSS JOIN colmax c
    WHERE nn.n > b.base_max
    """,
)
def goodman_kruskal_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal lambda: the proportional-reduction-in-error
    association between weekday and event type -- "how much better do I
    predict the event type knowing the weekday than always guessing the
    modal type?"  The log-free categorical-association measure (mutual
    information needs float ln sums, which are not order-stable
    cross-engine; lambda is PURE INTEGER: counts, maxes, one ppm floor
    division), making it the measure of choice for an oracle-exact
    engine -- and it reads directly as error reduction (0 = weekday
    tells you nothing, matching `chi_square_type_weekday`'s independence
    null from the prediction side).

    sum_colmax - base_max >= 0 always; the guard n > base_max excludes
    only the degenerate single-type table, identically on both engines.

    Cost: one events scan into the (type x 7)-cell frame
    (localCheckpointed; per-weekday max, per-type totals, and n are
    three dimension-bounded consumers of it).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            ((F.expr("CAST(ts AS LONG) DIV 86400") + 4) % 7).alias("wd"),
        )
        .groupBy("event_type", "wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=True)  # colmax + base + n consumers
    )
    colmax = (
        cells.groupBy("wd")
        .agg(F.max("o").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_colmax"))
    )
    base = (
        cells.groupBy("event_type")
        .agg(F.sum("o").alias("tot"))
        .agg(F.max("tot").cast("bigint").alias("base_max"))
    )
    nn = cells.agg(F.sum("o").cast("bigint").alias("n"))
    return (
        F.broadcast(nn)
        .crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(colmax))
        .filter(F.col("n") > F.col("base_max"))
        .select(
            "n",
            "base_max",
            "sum_colmax",
            F.expr(
                "CAST((1000000 * (sum_colmax - base_max))"
                " DIV (n - base_max) AS BIGINT)"
            ).alias("lambda_ppm"),
        )
    )


# Shared Cramer-solve expression for the 2-feature-plus-intercept OLS
# normal equations: identical SQL text evaluated by BOTH engines over
# identical exact-integer moment columns (cast to double), so every
# coefficient is bit-identical cross-engine.  XtX = [[n,s1,s2],
# [s1,s11,s12],[s2,s12,s22]], Xty = [sy,s1y,s2y].
_OLS_DET = (
    "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s12 - s11 * s2))"
)
_OLS_DET0 = (
    "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
    " + s2 * (s1y * s12 - s11 * s2y))"
)
_OLS_DET1 = (
    "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_OLS_DET2 = (
    "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - s11 * s2))"
)


@declared(
    "ols_normal_equations",
    oracle=f"""
    WITH rows_in AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(CAST(count(*) AS HUGEINT) AS DOUBLE) AS n,
             CAST(CAST(sum(CAST(x1 AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS s1,
             CAST(CAST(sum(CAST(x2 AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS s2,
             CAST(CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS DOUBLE)
               AS s11,
             CAST(CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS DOUBLE)
               AS s12,
             CAST(CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS DOUBLE)
               AS s22,
             CAST(CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
               AS s1y,
             CAST(CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
               AS s2y
      FROM rows_in
    )
    SELECT CAST(n AS BIGINT) AS n,
           {_OLS_DET0} / {_OLS_DET} AS beta0,
           {_OLS_DET1} / {_OLS_DET} AS beta1,
           {_OLS_DET2} / {_OLS_DET} AS beta2
    FROM m WHERE {_OLS_DET} <> 0
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression by distributed normal
    equations: extendedprice ~ intercept + quantity + discount, solved
    exactly from ONE aggregation pass -- the canonical scalable OLS
    (collect the 3x3 Gram moments map-side, Cramer-solve the tiny
    system; no gradient iterations, no per-row residual passes).  The
    multi-feature generalization of `value_trend_slope`'s simple slope.

    Exactness: all nine moments accumulate as exact integers on scaled
    inputs (HUGEINT / the operands-cast-first DECIMAL discipline), and
    the Cramer determinants are evaluated over those integers cast to
    double through the SAME expression strings on both engines
    (`_OLS_DET*` literally interpolated into both the Spark F.expr and
    the oracle SQL), so each coefficient is one identical sequence of
    IEEE ops -- bit-equal, no tolerance needed.  Envelope: moment
    magnitudes ~n*x*y <= 1e38 in exact space; the double-space
    determinant products (~1e40s) round identically on both engines
    because the operands and operation order are identical.

    Cost: one lineitem scan -> one partial+final aggregate to a single
    moment row; the solve is driver-free scalar math in the plan.
    Adding features grows the moment vector O(p^2), never the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_in = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    m = rows_in.agg(
        F.count(F.lit(1)).cast(dec).cast("double").alias("n"),
        F.sum(F.col("x1").cast(dec)).cast(dec).cast("double").alias("s1"),
        F.sum(F.col("x2").cast(dec)).cast(dec).cast("double").alias("s2"),
        F.sum(F.col("y").cast(dec)).cast(dec).cast("double").alias("sy"),
        F.sum(F.col("x1").cast(dec) * F.col("x1")).cast(dec).cast("double").alias("s11"),
        F.sum(F.col("x1").cast(dec) * F.col("x2")).cast(dec).cast("double").alias("s12"),
        F.sum(F.col("x2").cast(dec) * F.col("x2")).cast(dec).cast("double").alias("s22"),
        F.sum(F.col("x1").cast(dec) * F.col("y")).cast(dec).cast("double").alias("s1y"),
        F.sum(F.col("x2").cast(dec) * F.col("y")).cast(dec).cast("double").alias("s2y"),
    )
    return m.filter(F.expr(f"{_OLS_DET} <> 0")).select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(f"{_OLS_DET0} / {_OLS_DET}").alias("beta0"),
        F.expr(f"{_OLS_DET1} / {_OLS_DET}").alias("beta1"),
        F.expr(f"{_OLS_DET2} / {_OLS_DET}").alias("beta2"),
    )


@declared(
    "log2_gap_histogram",
    oracle="""
    WITH gaps AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    pos AS (SELECT gap_s FROM gaps WHERE gap_s >= 1)
    SELECT CAST(length(bin(gap_s)) AS INT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM pos
    GROUP BY length(bin(gap_s))
    """,
)
def log2_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style exponential histogram of per-user inter-event gaps:
    power-of-two buckets via the BIT LENGTH of the gap in seconds --
    the constant-relative-error latency histogram (HdrHistogram,
    Prometheus le-buckets) that keeps equal resolution at 1 s and 1
    week where `interevent_gap_bands`' linear bands saturate.  Bucket k
    holds gaps in [2^(k-1), 2^k).

    The bucket comes from length(bin(gap)) -- an integer string-length
    computation identical on both engines (both render binary without
    leading zeros) -- NOT floor(log2(x)), whose float rounding can
    misplace exact powers of two (the `benford_first_digit` digit-count
    discipline applied to base 2).  Zero gaps (same-second events) are
    excluded identically.

    Cost: one events scan, one user-partitioned lag window (the
    interevent shuffle every gap op shares), then a <=40-bucket rollup
    -- map-side combinable, output bounded by the bit width.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.expr("CAST(ts AS LONG)")
            - F.lag(F.expr("CAST(ts AS LONG)")).over(w)
        ).alias("gap_s")
    )
    pos = gaps.filter(F.col("gap_s") >= 1)
    return pos.groupBy(
        F.length(F.expr("bin(gap_s)")).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )


@declared(
    "join_cardinality_check",
    oracle="""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_a,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_a
      FROM orders
    ),
    b AS (
      SELECT CAST(count(*) AS BIGINT) AS n_b,
             CAST(count(DISTINCT c_custkey) AS BIGINT) AS d_b
      FROM customer
    ),
    act AS (
      SELECT CAST(count(*) AS BIGINT) AS actual
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT a.n_a, a.d_a, b.n_b, b.d_b, act.actual,
           CAST((CAST(a.n_a AS HUGEINT) * b.n_b)
                // greatest(a.d_a, b.d_b) AS BIGINT) AS estimated,
           CAST((1000000 * abs(CAST((CAST(a.n_a AS HUGEINT) * b.n_b)
                                    // greatest(a.d_a, b.d_b) AS BIGINT)
                               - act.actual))
                // act.actual AS BIGINT) AS rel_err_ppm
    FROM a CROSS JOIN b CROSS JOIN act
    WHERE act.actual > 0
    """,
)
def join_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textbook join-cardinality estimate vs ground truth: |A join B| ~
    n_a*n_b / max(d_a, d_b) (the uniform-frequency, containment
    assumption every cost-based optimizer starts from -- Selinger 1979)
    for orders-x-customer on custkey, with the actual join count and the
    relative error in ppm.  The CBO-calibration diagnostic that tells
    you how far uniformity is from the truth on YOUR keys -- feeding the
    same decision surface as `broadcast_threshold_advisor` and
    `join_skew_report` (skew is exactly what breaks this estimate).

    All-integer: the estimate is one HUGEINT/DECIMAL floor division of
    exact counts, the error a ppm floor division.  Three scans total
    (two stat passes + the certifying join -- production reads the
    stats from the catalog and pays zero).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.countDistinct("o_custkey").cast("bigint").alias("d_a"),
    )
    b = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.countDistinct("c_custkey").cast("bigint").alias("d_b"),
    )
    act = (
        orders.select("o_custkey")
        .join(
            F.broadcast(cust.select("c_custkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual"))
    )
    est = F.expr(
        "CAST((CAST(n_a AS DECIMAL(38,0)) * n_b)"
        " DIV greatest(d_a, d_b) AS BIGINT)"
    )
    return (
        F.broadcast(a)
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(act))
        .filter(F.col("actual") > 0)
        .select(
            "n_a",
            "d_a",
            "n_b",
            "d_b",
            "actual",
            est.alias("estimated"),
            F.expr(
                "CAST((1000000 * abs(CAST((CAST(n_a AS DECIMAL(38,0)) * n_b)"
                "                         DIV greatest(d_a, d_b) AS BIGINT)"
                "                    - actual))"
                " DIV actual AS BIGINT)"
            ).alias("rel_err_ppm"),
        )
    )


@declared(
    "selectivity_estimate_check",
    oracle="""
    WITH vals AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
    ),
    bounds AS (
      SELECT CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx,
             CAST(count(*) AS BIGINT) AS n
      FROM vals
    ),
    hist AS (
      SELECT CAST(((v - b.mn) * 10) // (b.mx - b.mn + 1) AS BIGINT)
               AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM vals CROSS JOIN bounds b
      GROUP BY ((v - b.mn) * 10) // (b.mx - b.mn + 1)
    ),
    est AS (
      SELECT CAST(sum(
               (h.cnt * greatest(0,
                  least(6000, b.mn + ((h.bucket + 1)
                                      * (b.mx - b.mn + 1)) // 10 - 1)
                  - greatest(2000, b.mn + (h.bucket
                                           * (b.mx - b.mn + 1)) // 10)
                  + 1))
               // (((h.bucket + 1) * (b.mx - b.mn + 1)) // 10
                   - (h.bucket * (b.mx - b.mn + 1)) // 10)
             ) AS BIGINT) AS est_rows
      FROM hist h CROSS JOIN bounds b
    ),
    act AS (
      SELECT CAST(count(*) AS BIGINT) AS actual_rows
      FROM vals WHERE v BETWEEN 2000 AND 6000
    )
    SELECT b.n AS n_rows, e.est_rows, a.actual_rows,
           CAST((1000000 * abs(e.est_rows - a.actual_rows))
                // a.actual_rows AS BIGINT) AS rel_err_ppm
    FROM bounds b CROSS JOIN est e CROSS JOIN act a
    WHERE a.actual_rows > 0
    """,
)
def selectivity_estimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram selectivity estimate vs ground truth for the range
    predicate value BETWEEN 20 AND 60: a 10-bucket equi-width histogram
    with uniform-within-bucket interpolation (exactly what a CBO keeps
    in its column stats) predicts the matching row count; the actual
    count and ppm error certify how far uniformity is from this data --
    the single-table sibling of `join_cardinality_check`, and the
    reason `equidepth_value_bands` exists (equi-DEPTH bounds the error
    where equi-width cannot).

    All-integer: bucket edges are floor divisions of the scaled-cents
    range, per-bucket overlap length is clamped integer arithmetic,
    and the interpolated estimate floor-divides per bucket before
    summing -- identical on both engines.

    Cost: one stats pass (min/max/count), one histogram aggregation,
    one certifying count -- production reads the histogram from the
    catalog and pays zero.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(F.round(F.col("value") * 100).cast("bigint").alias("v"))
    vals = vals.localCheckpoint(eager=True)  # bounds + hist + actual
    bounds = vals.agg(
        F.min("v").cast("bigint").alias("mn"),
        F.max("v").cast("bigint").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    hist = (
        vals.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.expr("((v - mn) * 10) DIV (mx - mn + 1)").cast("bigint").alias(
                "bucket"
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    est = (
        hist.crossJoin(F.broadcast(bounds))
        .agg(
            F.expr(
                "CAST(sum("
                " (cnt * greatest(0,"
                "    least(6000, mn + ((bucket + 1) * (mx - mn + 1)) DIV 10 - 1)"
                "    - greatest(2000, mn + (bucket * (mx - mn + 1)) DIV 10)"
                "    + 1))"
                " DIV (((bucket + 1) * (mx - mn + 1)) DIV 10"
                "      - (bucket * (mx - mn + 1)) DIV 10)"
                ") AS BIGINT)"
            ).alias("est_rows")
        )
    )
    act = vals.filter(F.col("v").between(2000, 6000)).agg(
        F.count(F.lit(1)).cast("bigint").alias("actual_rows")
    )
    return (
        F.broadcast(bounds)
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(act))
        .filter(F.col("actual_rows") > 0)
        .select(
            F.col("n").alias("n_rows"),
            "est_rows",
            "actual_rows",
            F.expr(
                "CAST((1000000 * abs(est_rows - actual_rows))"
                " DIV actual_rows AS BIGINT)"
            ).alias("rel_err_ppm"),
        )
    )


@declared(
    "capture_recapture_users",
    oracle="""
    WITH thr AS (
      SELECT CAST((min(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                   + max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                   + 1) // 2 AS BIGINT) AS mid_day
      FROM events
    ),
    seen AS (
      SELECT user_id,
             max(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400
                           < t.mid_day THEN 1 ELSE 0 END) AS s1,
             max(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400
                           < t.mid_day THEN 0 ELSE 1 END) AS s2
      FROM events CROSS JOIN thr t
      GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(sum(s1) AS BIGINT) AS n1,
             CAST(sum(s2) AS BIGINT) AS n2,
             CAST(sum(s1 * s2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS actual
      FROM seen
    )
    SELECT n1, n2, m, actual,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_est,
           CAST((1000000 * abs((n1 + 1) * (n2 + 1) // (m + 1) - 1 - actual))
                // actual AS BIGINT) AS rel_err_ppm
    FROM agg WHERE actual > 0
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the user population: treat
    the first and second calendar halves as two independent capture
    samples (n1, n2 users seen, m seen in both) and estimate the total
    as (n1+1)(n2+1)/(m+1) - 1 -- the ecology estimator (Chapman 1951)
    that data teams reuse to size populations they can only sample
    (how many TOTAL users exist when each observation window sees a
    subset), certified here against the directly-countable truth.
    Complements the sketch estimators (`kmv_distinct_estimate`
    approximates a countable set; Chapman extrapolates BEYOND what any
    window saw -- the error certifies the independence assumption).

    All-integer: both capture flags come from one conditional pass
    (midpoint scalar broadcast), the estimator is a single floor
    division, error in ppm.

    Cost: one events scan -> per-user flags -> one-row rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    eday = F.expr("CAST(ts AS LONG) DIV 86400")
    thr = ev.agg(
        ((F.min(eday) + F.max(eday) + 1) / 2).cast("bigint").alias("mid_day")
    )
    seen = (
        ev.select("user_id", eday.alias("eday"))
        .crossJoin(F.broadcast(thr))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("eday") < F.col("mid_day"), 1).otherwise(0)).alias(
                "s1"
            ),
            F.max(F.when(F.col("eday") < F.col("mid_day"), 0).otherwise(1)).alias(
                "s2"
            ),
        )
    )
    agg = seen.agg(
        F.sum("s1").cast("bigint").alias("n1"),
        F.sum("s2").cast("bigint").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("actual"),
    )
    est = F.expr("(n1 + 1) * (n2 + 1) DIV (m + 1) - 1")
    return agg.filter(F.col("actual") > 0).select(
        "n1",
        "n2",
        "m",
        "actual",
        est.cast("bigint").alias("chapman_est"),
        F.expr(
            "CAST((1000000 * abs((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 - actual))"
            " DIV actual AS BIGINT)"
        ).alias("rel_err_ppm"),
    )


@declared(
    "event_rate_c_test",
    oracle="""
    WITH thr AS (
      SELECT CAST((min(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                   + max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                   + 1) // 2 AS BIGINT) AS mid_day
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                < t.mid_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS x1,
             CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                < t.mid_day THEN 0 ELSE 1 END)
                  AS BIGINT) AS x2
      FROM events CROSS JOIN thr t
      GROUP BY event_type
    )
    SELECT event_type, x1, x2, z, abs(z) > 1.96e0 AS significant
    FROM (
      SELECT event_type, x1, x2,
             CAST(x1 - x2 AS DOUBLE) / sqrt(CAST(x1 + x2 AS DOUBLE)) AS z
      FROM agg WHERE x1 + x2 > 0
    )
    """,
)
def event_rate_c_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional Poisson rate test (the C-test) per event type: under
    equal first-half/second-half rates, X1 | X1+X2 ~ Binomial(n, 1/2),
    so z = (X1-X2)/sqrt(X1+X2) flags types whose event RATE shifted
    between halves -- the count-data member of the two-sample family
    (`welch_t_value_test` compares means, `mann_whitney_value_test`
    distributions, this compares arrival intensities; Przyborowski &
    Wilenski 1940).  Equal-length halves via the integer calendar
    midpoint make the exposure ratio exactly 1.

    Counts are one conditional pass (midpoint scalar broadcast onto
    rows); z is one fixed float expression of two exact integers.

    Cost: one events scan -> per-type conditional sums -> |types| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    eday = F.expr("CAST(ts AS LONG) DIV 86400")
    thr = ev.agg(
        ((F.min(eday) + F.max(eday) + 1) / 2).cast("bigint").alias("mid_day")
    )
    agg = (
        ev.select("event_type", eday.alias("eday"))
        .crossJoin(F.broadcast(thr))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("eday") < F.col("mid_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("x1"),
            F.sum(F.when(F.col("eday") < F.col("mid_day"), 0).otherwise(1))
            .cast("bigint")
            .alias("x2"),
        )
    )
    z = (F.col("x1") - F.col("x2")).cast("double") / F.sqrt(
        (F.col("x1") + F.col("x2")).cast("double")
    )
    return agg.filter(F.col("x1") + F.col("x2") > 0).select(
        "event_type",
        "x1",
        "x2",
        z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


@declared(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v_s,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM events
      GROUP BY CAST(floor(epoch(ts)) AS BIGINT) // 86400
    ),
    pairs AS (
      SELECT CAST(sum(CASE WHEN (b.v_s - a.v_s) * (b.n_ev - a.n_ev) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(sum(CASE WHEN (b.v_s - a.v_s) * (b.n_ev - a.n_ev) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(sum(CASE WHEN b.v_s = a.v_s AND b.n_ev <> a.n_ev
                           THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(sum(CASE WHEN b.n_ev = a.n_ev AND b.v_s <> a.v_s
                           THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM daily a JOIN daily b ON b.day_idx > a.day_idx
    )
    SELECT conc, disc, tx, ty,
           CAST(conc - disc AS DOUBLE)
           / (sqrt(CAST(conc + disc + tx AS DOUBLE))
              * sqrt(CAST(conc + disc + ty AS DOUBLE))) AS tau_b
    FROM pairs
    WHERE conc + disc + tx > 0 AND conc + disc + ty > 0
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily TOTAL VALUE and daily EVENT COUNT:
    concordant minus discordant day pairs over the tie-corrected
    geometric denominator -- completing the correlation trio
    (`lineitem_corr_matrix` Pearson, `spearman_quantity_price`
    doubled-midrank Spearman, this pairwise-concordance Kendall) on the
    question "do busier days move more money, monotonically?".

    The pair join is quadratic in DISTINCT DAYS -- calendar-bounded,
    never data-bounded (the `mann_kendall_trend` posture; MK is
    exactly this machinery with time as the second variable).  The
    four pair classes are exact integers from one join-aggregate;
    tau_b is one fixed float expression of them.

    Cost: one events scan -> daily frame (localCheckpointed for both
    pair-join sides), one <=|days|^2/2 broadcast pair join.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("CAST(ts AS LONG) DIV 86400").alias("day_idx"),
            F.round(F.col("value") * 10000).cast("bigint").alias("v_si"),
        )
        .groupBy("day_idx")
        .agg(
            F.sum("v_si").cast("bigint").alias("v_s"),
            F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        )
        .localCheckpoint(eager=True)  # both pair-join sides
    )
    a = daily.select(
        F.col("day_idx").alias("da"), F.col("v_s").alias("va"), F.col("n_ev").alias("na")
    )
    b = daily.select(
        F.col("day_idx").alias("db"), F.col("v_s").alias("vb"), F.col("n_ev").alias("nb")
    )
    dv = F.col("vb") - F.col("va")
    dn = F.col("nb") - F.col("na")
    pairs = a.join(F.broadcast(b), F.col("db") > F.col("da")).agg(
        F.sum(F.when(dv * dn > 0, 1).otherwise(0)).cast("bigint").alias("conc"),
        F.sum(F.when(dv * dn < 0, 1).otherwise(0)).cast("bigint").alias("disc"),
        F.sum(F.when((dv == 0) & (dn != 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tx"),
        F.sum(F.when((dn == 0) & (dv != 0), 1).otherwise(0))
        .cast("bigint")
        .alias("ty"),
    )
    tau = (F.col("conc") - F.col("disc")).cast("double") / (
        F.sqrt((F.col("conc") + F.col("disc") + F.col("tx")).cast("double"))
        * F.sqrt((F.col("conc") + F.col("disc") + F.col("ty")).cast("double"))
    )
    return pairs.filter(
        (F.col("conc") + F.col("disc") + F.col("tx") > 0)
        & (F.col("conc") + F.col("disc") + F.col("ty") > 0)
    ).select("conc", "disc", "tx", "ty", tau.alias("tau_b"))


@declared(
    "partial_correlation_lineitem",
    oracle="""
    WITH rows_in AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 10000) AS BIGINT) AS z
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
             CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
      FROM rows_in
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy,
             CAST(n * sxz - sx * sz AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz,
             CAST(n * syz - sy * sz AS DOUBLE)
               / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                  * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz
      FROM m
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        AND n * szz - sz * sz > 0
    )
    SELECT n, rxy, rxz, ryz,
           (rxy - rxz * ryz)
           / (sqrt(1.0e0 - rxz * rxz) * sqrt(1.0e0 - ryz * ryz))
             AS partial_rxy_given_z
    FROM r
    WHERE 1.0e0 - rxz * rxz > 0 AND 1.0e0 - ryz * ryz > 0
    """,
)
def partial_correlation_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation: corr(quantity, extendedprice)
    CONTROLLING for discount -- r_xy.z = (r_xy - r_xz*r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)), the multivariate-statistics step past
    `lineitem_corr_matrix`'s marginal cells: is the quantity-price
    relationship real, or a mutual-discount artifact?  (With
    `ols_normal_equations` this completes the regression toolbox: OLS
    gives the conditional slope, this the conditional correlation.)

    All ten moments accumulate as exact integers in one pass
    (operand-cast-first discipline); the three marginal r's and the
    partial r are fixed float expressions of them, written identically
    in the oracle -- bit-equal, no tolerance.  Degenerate variances
    and |r|=1 controls are excluded identically on both engines.

    Cost: one lineitem scan -> one partial+final moment row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_in = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("z"),
    )
    dec = "decimal(38,0)"
    m = rows_in.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("z").cast(dec)).cast(dec).alias("sz"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("z").cast(dec) * F.col("z")).cast(dec).alias("szz"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("z")).cast(dec).alias("sxz"),
        F.sum(F.col("y").cast(dec) * F.col("z")).cast(dec).alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        return (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast(
            "double"
        ) / (
            F.sqrt(
                (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
            )
            * F.sqrt(
                (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
            )
        )

    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    varz = F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")
    r = (
        m.filter((varx > 0) & (vary > 0) & (varz > 0))
        .select(
            F.col("n").cast("bigint").alias("n"),
            corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
            corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
            corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
        )
    )
    pr = (F.col("rxy") - F.col("rxz") * F.col("ryz")) / (
        F.sqrt(F.lit(1.0) - F.col("rxz") * F.col("rxz"))
        * F.sqrt(F.lit(1.0) - F.col("ryz") * F.col("ryz"))
    )
    return r.filter(
        (F.lit(1.0) - F.col("rxz") * F.col("rxz") > 0)
        & (F.lit(1.0) - F.col("ryz") * F.col("ryz") > 0)
    ).select("n", "rxy", "rxz", "ryz", pr.alias("partial_rxy_given_z"))


@declared(
    "page_hinkley_drift",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(v) OVER (ORDER BY day) AS BIGINT) AS cumv,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(v) OVER () AS BIGINT) AS s
      FROM daily
    ),
    m AS (SELECT day, t, n * cumv - t * s AS mt FROM cum)
    SELECT day, t, CAST(mt AS BIGINT) AS mt_n_c,
           CAST(mt - min(mt) OVER (ORDER BY day) AS BIGINT) AS ph_n_c
    FROM m
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift statistic over the daily value series
    (offline form, delta=0): M_t = sum_{i<=t}(x_i - xbar) and
    PH_t = M_t - min_{s<=t} M_s; a sustained mean INCREASE makes PH_t
    climb while isolated spikes reset.  Completes the drift-detection
    family -- CUSUM (`value_changepoint_cusum`) localizes ONE global
    change-point via an argmax; PH is the sequential-monitoring view
    whose running excursion you would threshold online.  The mean
    division is cleared by multiplying through by n (mt = n*cumsum_t -
    t*S, all-integer cents x day-count), so both engines agree
    bit-for-bit.  Envelope: n_days * total_cents must stay < 2^63 --
    ~4e17 at a 100 TB year, 20x headroom.

    Plan: one events scan -> daily partial agg (map-side combine), then
    every window runs over the <=|days|-row series -- the unpartitioned
    ORDER BY day windows are bounded by calendar length, never by event
    count (at 100 TB the daily rollup IS the reduction; the sequential
    prefix pass costs |days| rows).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("v"))
    w_ord = Window.orderBy("day")
    w_all = Window.partitionBy()
    cum = daily.select(
        "day",
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum("v").over(w_ord).cast("bigint").alias("cumv"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum("v").over(w_all).cast("bigint").alias("s"),
    )
    mt = F.col("n") * F.col("cumv") - F.col("t") * F.col("s")
    return cum.withColumn("mt", mt).select(
        "day",
        "t",
        F.col("mt").cast("bigint").alias("mt_n_c"),
        (F.col("mt") - F.min("mt").over(w_ord)).cast("bigint").alias("ph_n_c"),
    )


@declared(
    "cramers_v_profile",
    oracle="""
    WITH pairs AS (
      SELECT 'returnflag_linestatus' AS pr, l_returnflag AS a,
             l_linestatus AS b
      FROM lineitem
      UNION ALL
      SELECT 'returnflag_shipweekday' AS pr, l_returnflag AS a,
             CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01' + 4) % 7 AS VARCHAR) AS b
      FROM lineitem
      UNION ALL
      SELECT 'linestatus_shipweekday' AS pr, l_linestatus AS a,
             CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01' + 4) % 7 AS VARCHAR) AS b
      FROM lineitem
    ),
    cells AS (
      SELECT pr, a, b, CAST(count(*) AS BIGINT) AS o
      FROM pairs GROUP BY pr, a, b
    ),
    rt AS (SELECT pr, a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY pr, a),
    ct AS (SELECT pr, b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY pr, b),
    nn AS (SELECT pr, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY pr),
    dims AS (
      SELECT pr, CAST(count(DISTINCT a) AS BIGINT) AS ra,
             CAST(count(DISTINCT b) AS BIGINT) AS cb
      FROM cells GROUP BY pr
    ),
    grid AS (
      SELECT rt.pr, rt.a, ct.b, rt.r, ct.c,
             CAST(coalesce(ce.o, 0) AS BIGINT) AS o
      FROM rt JOIN ct ON ct.pr = rt.pr
      LEFT JOIN cells ce ON ce.pr = rt.pr AND ce.a = rt.a AND ce.b = ct.b
    ),
    chi AS (
      SELECT g.pr,
             CAST(sum(
               (1000000 * (CAST(g.o AS HUGEINT) * nn.n
                           - CAST(g.r AS HUGEINT) * g.c)
                        * (CAST(g.o AS HUGEINT) * nn.n
                           - CAST(g.r AS HUGEINT) * g.c))
               // (CAST(nn.n AS HUGEINT) * g.r * g.c)
             ) AS BIGINT) AS chi2_micro
      FROM grid g
      JOIN nn ON nn.pr = g.pr
      GROUP BY g.pr
    )
    SELECT chi.pr AS pair, nn.n,
           CAST((d.ra - 1) * (d.cb - 1) AS BIGINT) AS df,
           chi.chi2_micro,
           CASE WHEN least(d.ra - 1, d.cb - 1) = 0 THEN NULL
                ELSE sqrt(CAST(chi.chi2_micro AS DOUBLE)
                          / (1000000.0 * nn.n * least(d.ra - 1, d.cb - 1)))
           END AS cramers_v
    FROM chi JOIN nn ON nn.pr = chi.pr JOIN dims d ON d.pr = chi.pr
    """,
)
def cramers_v_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association profile across three categorical column
    pairs of lineitem (returnflag x linestatus, each x portable ship
    weekday): the normalized [0,1] effect size that makes chi-square
    comparable ACROSS tables of different shape -- the dependency-
    discovery profiler (which columns co-vary?) complementing
    `functional_dependency_profile` (exact determinism) and
    `chi_square_type_weekday` (one pair, significance).

    chi2 is the exact integer micro-units sum of (o*N - r*c)^2 * 1e6
    DIV (N*r*c) per cell (DECIMAL(38,0) / HUGEINT products, the
    chi_square_type_weekday convention); V = sqrt(chi2 / (n*min(r-1,
    c-1))) -- sqrt is IEEE-correctly-rounded on exact-integer-derived
    doubles, so even the float column is bit-identical cross-engine.
    Weekday is (days_since_epoch+4)%7, the portable derivation.

    Plan: ONE lineitem scan fans out to the three melted pairs in-row
    (explode of a 3-struct array -- row fan-out x3, no re-scan), then
    everything aggregates to cells (<= |levels|^2 per pair) and the
    margin/total joins are dimension-bounded broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wd = F.concat(
        (F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")) + 4) % 7
    ).cast("string")
    melted = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("returnflag_linestatus").alias("pr"),
                    F.col("l_returnflag").alias("a"),
                    F.col("l_linestatus").alias("b"),
                ),
                F.struct(
                    F.lit("returnflag_shipweekday").alias("pr"),
                    F.col("l_returnflag").alias("a"),
                    wd.alias("b"),
                ),
                F.struct(
                    F.lit("linestatus_shipweekday").alias("pr"),
                    F.col("l_linestatus").alias("a"),
                    wd.alias("b"),
                ),
            )
        ).alias("e")
    ).select("e.pr", "e.a", "e.b")
    cells = (
        melted.groupBy("pr", "a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .localCheckpoint(eager=True)  # rt/ct/nn/dims/contrib consumers
    )
    rt = cells.groupBy("pr", "a").agg(F.sum("o").cast("bigint").alias("r"))
    ct = cells.groupBy("pr", "b").agg(F.sum("o").cast("bigint").alias("c"))
    nn = cells.groupBy("pr").agg(F.sum("o").cast("bigint").alias("n"))
    dims = cells.groupBy("pr").agg(
        F.countDistinct("a").cast("bigint").alias("ra"),
        F.countDistinct("b").cast("bigint").alias("cb"),
    )
    dev = (
        "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
    )
    grid = (
        rt.join(ct, "pr")
        .join(F.broadcast(cells.select("pr", "a", "b", "o")), ["pr", "a", "b"], "left")
        .select("pr", "a", "b", "r", "c", F.coalesce("o", F.lit(0)).cast("bigint").alias("o"))
    )
    chi = (
        grid.join(F.broadcast(nn), ["pr"])
        .groupBy("pr")
        .agg(
            F.sum(
                F.expr(
                    f"(1000000 * {dev} * {dev})"
                    " DIV (CAST(n AS DECIMAL(38,0)) * r * c)"
                )
            )
            .cast("bigint")
            .alias("chi2_micro")
        )
    )
    return (
        chi.join(F.broadcast(nn), "pr")
        .join(F.broadcast(dims), "pr")
        .select(
            F.col("pr").alias("pair"),
            "n",
            F.expr("CAST((ra - 1) * (cb - 1) AS BIGINT)").alias("df"),
            "chi2_micro",
            F.when(
                F.least(F.col("ra") - 1, F.col("cb") - 1) > 0,
                F.sqrt(
                    F.col("chi2_micro").cast("double")
                    / (
                        F.lit(1000000.0)
                        * F.col("n")
                        * F.least(F.col("ra") - 1, F.col("cb") - 1)
                    )
                ),
            ).alias("cramers_v"),
        )
    )


@declared(
    "two_pass_exact_median",
    oracle="""
    WITH vals AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM vals
    ),
    binned AS (
      SELECT ((v.v - s.lo) * 256) // (s.hi - s.lo + 1) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM vals v CROSS JOIN stats s
      GROUP BY 1
    ),
    cumb AS (
      SELECT bin, cnt,
             CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum
      FROM binned
    ),
    pick AS (
      SELECT bin, cum - cnt AS below FROM (
        SELECT bin, cnt, cum,
               row_number() OVER (ORDER BY bin) AS rk
        FROM cumb CROSS JOIN stats s
        WHERE cum >= (s.n + 1) // 2
      ) WHERE rk = 1
    )
    SELECT s.n, s.lo AS lo_c, s.hi AS hi_c,
           CAST((s.n + 1) // 2 AS BIGINT) AS target_rank,
           CAST(p.bin AS BIGINT) AS bin_id,
           CAST(r.v AS BIGINT) AS median_c
    FROM stats s CROSS JOIN pick p
    JOIN (
      SELECT v.v, p2.bin,
             row_number() OVER (ORDER BY v.v, v.event_id) AS rn
      FROM vals v CROSS JOIN stats s2 CROSS JOIN pick p2
      WHERE ((v.v - s2.lo) * 256) // (s2.hi - s2.lo + 1) = p2.bin
    ) r ON r.rn = (SELECT (s3.n + 1) // 2 - p3.below
                   FROM stats s3 CROSS JOIN pick p3)
    """,
)
def two_pass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of the event value without a global sort: pass 1
    histograms the cents domain into 256 equi-width bins and locates the
    bin containing rank ceil(n/2); pass 2 ranks only THAT bin's rows
    (expected n/256 of the data) and reads off the value -- the
    distributed selection algorithm `percentile_disc_prices`' docstring
    promises at 100 TB, here as a first-class operator (the two-pass
    histogram-refine of Blum-style selection; iterate the refine for
    pathological skew).  All-integer bin math (floor divisions over the
    cents range), so both passes are bit-identical cross-engine; ties
    rank by (v, event_id) but the selected VALUE is tie-free by
    construction.

    Plan: the narrow (event_id, v) projection checkpoints once -- pass
    1's bounds/histogram and pass 2's bin filter all read the
    materialized frame, so events is scanned ONCE; every other frame is
    <=256 rows.  The in-bin rank window orders ~n/256 rows -- the whole
    point vs the global-sort spelling.
    """
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("v")
    ).localCheckpoint(eager=True)  # stats + histogram + pass-2 consumers
    stats = vals.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    binexpr = "((v - lo) * 256) DIV (hi - lo + 1)"
    binned = (
        vals.crossJoin(F.broadcast(stats))
        .groupBy(F.expr(binexpr).alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cumb = binned.withColumn("cum", F.sum("cnt").over(wc).cast("bigint"))
    pick = (
        cumb.crossJoin(F.broadcast(stats))
        .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .withColumn("rk", F.row_number().over(Window.orderBy("bin")))
        .filter(F.col("rk") == 1)
        .select("bin", (F.col("cum") - F.col("cnt")).alias("below"))
    )
    wr = Window.orderBy("v", "event_id")
    in_bin = (
        vals.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pick))
        .filter(F.expr(binexpr) == F.col("bin"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2 - below"))
    )
    return in_bin.select(
        "n",
        F.col("lo").alias("lo_c"),
        F.col("hi").alias("hi_c"),
        F.expr("CAST((n + 1) DIV 2 AS BIGINT)").alias("target_rank"),
        F.col("bin").cast("bigint").alias("bin_id"),
        F.col("v").cast("bigint").alias("median_c"),
    )


# ---------------------------------------------------------------------------
# Sketch-based join-size estimation (round 7b)
# ---------------------------------------------------------------------------

# KMV sketch size for the join-size estimator (vs k=8 in the sketch-
# algebra demos: estimation error ~ 1/sqrt(k), and a CBO wants < 15%).
JSE_K = 64


@declared(
    "join_size_kmv_estimate",
    oracle=f"""
    WITH ka AS MATERIALIZED (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                       1, 8))::BIGINT AS h
      FROM orders
    ),
    kb AS MATERIALIZED (
      SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                       1, 8))::BIGINT AS h
      FROM events
    ),
    ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                           FROM ka) WHERE rn <= {JSE_K}),
    skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                           FROM kb) WHERE rn <= {JSE_K}),
    kth AS (
      SELECT (SELECT max(h) FROM ska) AS kth_a,
             (SELECT max(h) FROM skb) AS kth_b,
             least((SELECT max(h) FROM ska),
                   (SELECT max(h) FROM skb)) AS theta
    ),
    common AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM ska a JOIN skb b ON b.h = a.h CROSS JOIN kth
      WHERE a.h < kth.theta
    ),
    counts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_b
    ),
    est AS (
      SELECT
        CAST((common.n_common * 4294967296) // kth.theta AS BIGINT)
          AS est_overlap_keys,
        CAST(({JSE_K - 1} * 4294967296) // kth.kth_a AS BIGINT) AS est_d_a,
        CAST(({JSE_K - 1} * 4294967296) // kth.kth_b AS BIGINT) AS est_d_b,
        counts.n_a, counts.n_b
      FROM kth CROSS JOIN common CROSS JOIN counts
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_overlap_keys,
             CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS exact_join_size
      FROM (SELECT o_custkey AS key, count(*) AS ca FROM orders
            GROUP BY o_custkey) a
      JOIN (SELECT user_id AS key, count(*) AS cb FROM events
            GROUP BY user_id) b ON b.key = a.key
    )
    SELECT CAST({JSE_K} AS BIGINT) AS k,
           est.est_overlap_keys, exact.exact_overlap_keys,
           CAST(((est.est_overlap_keys
                  * ((est.n_a * 1000000) // est.est_d_a) // 1000000)
                 * ((est.n_b * 1000000) // est.est_d_b)) // 1000000
             AS BIGINT) AS est_join_size,
           exact.exact_join_size,
           CAST((1000000 * abs(((est.est_overlap_keys
                  * ((est.n_a * 1000000) // est.est_d_a) // 1000000)
                 * ((est.n_b * 1000000) // est.est_d_b)) // 1000000
                 - exact.exact_join_size))
                // exact.exact_join_size AS BIGINT) AS rel_err_ppm
    FROM est CROSS JOIN exact
    WHERE exact.exact_join_size > 0
    """,
)
def join_size_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation: estimate |orders JOIN events ON
    o_custkey = user_id| (a PARTIAL-overlap join -- only low custkeys
    have event traffic, exactly where `join_cardinality_check`'s
    containment assumption breaks) from two k={JSE_K} KMV sketches and
    the two row counts ALONE: overlap keys via the theta-intersection
    estimator, per-side distinct counts via the k-th-minimum estimator,
    multiplicities as rows/distinct, est = overlap * mult_a * mult_b.
    The sketch tier of the CBO family: `join_cardinality_check` needs
    exact NDVs; this needs only two {JSE_K}-row sketches an ingest job
    maintains incrementally -- with the exact overlap/join-size audit
    columns and the ppm error a calibration dashboard tracks.

    All-integer (staged DIVs at ppm scale); the only corpus-scale work
    is the two distinct-key passes and the exact-audit count join (a
    production estimator reads the sketches from the catalog and pays
    ZERO scans).  Sketches/scalars all broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")

    def kmv(df: DataFrame, key: str):
        hashed = (
            df.select(
                F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
                .cast("bigint")
                .alias("h")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        sk = (
            hashed.withColumn("rn", F.row_number().over(Window.orderBy("h")))
            .filter(F.col("rn") <= JSE_K)
            .select("h")
            .localCheckpoint(eager=True)
        )
        return sk

    ska = kmv(orders, "o_custkey")
    skb = kmv(events, "user_id")
    kth = (
        ska.agg(F.max("h").alias("kth_a"))
        .crossJoin(F.broadcast(skb.agg(F.max("h").alias("kth_b"))))
        .select("kth_a", "kth_b", F.least("kth_a", "kth_b").alias("theta"))
    )
    common = (
        ska.join(F.broadcast(skb), "h")
        .crossJoin(F.broadcast(kth.select("theta")))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    counts = (
        orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        .crossJoin(
            F.broadcast(
                events.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
            )
        )
    )
    ca = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    exact = (
        ca.join(cb.hint("shuffle_hash"), "key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_overlap_keys"),
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("bigint")
            .alias("exact_join_size"),
        )
    )
    est = (
        kth.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(counts))
        .select(
            F.expr("CAST((n_common * 4294967296) DIV theta AS BIGINT)").alias(
                "est_overlap_keys"
            ),
            F.expr(
                f"CAST(({JSE_K - 1} * 4294967296) DIV kth_a AS BIGINT)"
            ).alias("est_d_a"),
            F.expr(
                f"CAST(({JSE_K - 1} * 4294967296) DIV kth_b AS BIGINT)"
            ).alias("est_d_b"),
            "n_a",
            "n_b",
        )
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .filter(F.col("exact_join_size") > 0)
        .select(
            F.lit(JSE_K).cast("bigint").alias("k"),
            "est_overlap_keys",
            "exact_overlap_keys",
            F.expr(
                "CAST(((est_overlap_keys * ((n_a * 1000000) DIV est_d_a)"
                " DIV 1000000) * ((n_b * 1000000) DIV est_d_b)) DIV 1000000"
                " AS BIGINT)"
            ).alias("est_join_size"),
            "exact_join_size",
            F.expr(
                "CAST((1000000 * abs(((est_overlap_keys"
                " * ((n_a * 1000000) DIV est_d_a) DIV 1000000)"
                " * ((n_b * 1000000) DIV est_d_b)) DIV 1000000"
                " - exact_join_size)) DIV exact_join_size AS BIGINT)"
            ).alias("rel_err_ppm"),
        )
    )


@declared(
    "binseg_value_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    ranked AS MATERIALIZED (
      SELECT day, v,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
             CAST(sum(v) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumv,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(v) OVER () AS BIGINT) AS s
      FROM daily
    ),
    gains AS (
      SELECT *,
             CAST(cumv AS DOUBLE) * CAST(cumv AS DOUBLE)
               / CAST(rn AS DOUBLE)
             + CAST(s - cumv AS DOUBLE) * CAST(s - cumv AS DOUBLE)
               / CAST(n - rn AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE) AS gain
      FROM ranked WHERE rn < n
    ),
    root AS MATERIALIZED (
      SELECT rn AS k, day AS split_day, n, s, cumv, gain
      FROM gains
      QUALIFY row_number() OVER (ORDER BY gain DESC, rn) = 1
    ),
    seg AS (
      SELECT r.day, r.v,
             CASE WHEN r.rn <= t.k THEN 'left' ELSE 'right' END AS seg
      FROM ranked r, root t
    ),
    seg_ranked AS (
      SELECT seg, day, v,
             CAST(row_number() OVER (PARTITION BY seg ORDER BY day)
                  AS BIGINT) AS rn,
             CAST(sum(v) OVER (PARTITION BY seg ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumv,
             CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n,
             CAST(sum(v) OVER (PARTITION BY seg) AS BIGINT) AS s
      FROM seg
    ),
    seg_gains AS (
      SELECT *,
             CAST(cumv AS DOUBLE) * CAST(cumv AS DOUBLE)
               / CAST(rn AS DOUBLE)
             + CAST(s - cumv AS DOUBLE) * CAST(s - cumv AS DOUBLE)
               / CAST(n - rn AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE) AS gain
      FROM seg_ranked WHERE rn < n
    ),
    seg_best AS (
      SELECT seg, rn AS k, day AS split_day, n, s, cumv, gain
      FROM seg_gains
      QUALIFY row_number() OVER (PARTITION BY seg
                                 ORDER BY gain DESC, rn) = 1
    ),
    unioned AS (
      SELECT 'all' AS seg, k, split_day, n, s, cumv, gain FROM root
      UNION ALL
      SELECT seg, k, split_day, n, s, cumv, gain FROM seg_best
    )
    SELECT seg, split_day, k AS split_index, n AS n_days, gain,
           CAST(cumv AS DOUBLE) / CAST(k AS DOUBLE) AS left_mean_cents,
           CAST(s - cumv AS DOUBLE) / CAST(n - k AS DOUBLE)
             AS right_mean_cents
    FROM unioned
    """,
)
def binseg_value_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation (Scott & Knott 1974), two levels, over the
    daily value series: find the split maximizing the between-segment
    SSE reduction gain(k) = L_k^2/k + R_k^2/(n-k) - T^2/n, then recurse
    once into each side -- up to three changepoints from two window
    passes.  The third changepoint paradigm: CUSUM
    (`value_changepoint_cusum`) localizes ONE shift, Page-Hinkley
    (`page_hinkley_drift`) detects sequential drift; binary segmentation
    finds a HIERARCHY of mean shifts, the standard multiple-changepoint
    scheme.

    Gains are IEEE ops on exact scaled-integer prefix sums in a fixed
    order (bit-equal cross-engine; argmax ties break to the earliest
    index on identical doubles).  Shape: one events scan -> <= calendar
    rollup, two ordered windows over <= |days| rows, a 1-row broadcast
    for the root split.  At 100 TB the daily rollup is the only
    fact-scale stage; everything after runs on the calendar.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    w_ord = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    ranked = daily.select(
        "day",
        "v",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
        F.sum("v").over(w_ord).cast("bigint").alias("cumv"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum("v").over(w_all).cast("bigint").alias("s"),
    ).localCheckpoint(eager=True)  # root pick + segment pass consumers
    gain = (
        "CAST(cumv AS DOUBLE) * CAST(cumv AS DOUBLE) / CAST(rn AS DOUBLE)"
        " + CAST(s - cumv AS DOUBLE) * CAST(s - cumv AS DOUBLE)"
        " / CAST(n - rn AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    gains = ranked.filter(F.col("rn") < F.col("n")).withColumn(
        "gain", F.expr(gain)
    )
    w_pick = Window.orderBy(F.desc("gain"), F.asc("rn"))
    root = (
        gains.withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select(
            F.col("rn").alias("k"),
            F.col("day").alias("split_day"),
            "n",
            "s",
            "cumv",
            "gain",
        )
    )
    root = root.localCheckpoint(eager=True)  # output row + segment tagger
    seg = ranked.crossJoin(
        F.broadcast(root.select(F.col("k").alias("root_k")))
    ).select(
        "day",
        "v",
        F.when(F.col("rn") <= F.col("root_k"), "left")
        .otherwise("right")
        .alias("seg"),
    )
    w_seg_ord = (
        Window.partitionBy("seg")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seg_all = Window.partitionBy("seg")
    seg_ranked = seg.select(
        "seg",
        "day",
        "v",
        F.row_number()
        .over(Window.partitionBy("seg").orderBy("day"))
        .cast("bigint")
        .alias("rn"),
        F.sum("v").over(w_seg_ord).cast("bigint").alias("cumv"),
        F.count(F.lit(1)).over(w_seg_all).cast("bigint").alias("n"),
        F.sum("v").over(w_seg_all).cast("bigint").alias("s"),
    )
    seg_gains = seg_ranked.filter(F.col("rn") < F.col("n")).withColumn(
        "gain", F.expr(gain)
    )
    w_seg_pick = Window.partitionBy("seg").orderBy(
        F.desc("gain"), F.asc("rn")
    )
    seg_best = (
        seg_gains.withColumn("pick", F.row_number().over(w_seg_pick))
        .filter(F.col("pick") == 1)
        .select(
            "seg",
            F.col("rn").alias("k"),
            F.col("day").alias("split_day"),
            "n",
            "s",
            "cumv",
            "gain",
        )
    )
    unioned = root.select(
        F.lit("all").alias("seg"), "k", "split_day", "n", "s", "cumv", "gain"
    ).unionByName(seg_best)
    return unioned.select(
        "seg",
        "split_day",
        F.col("k").alias("split_index"),
        F.col("n").alias("n_days"),
        "gain",
        F.expr("CAST(cumv AS DOUBLE) / CAST(k AS DOUBLE)").alias(
            "left_mean_cents"
        ),
        F.expr(
            "CAST(s - cumv AS DOUBLE) / CAST(n - k AS DOUBLE)"
        ).alias("right_mean_cents"),
    )


HBOS_TOPK = 20
HBOS_VALUE_BINS = 10


@declared(
    "hbos_outlier_scores",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             CAST(hour(ts) AS BIGINT) AS hr,
             ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS dow
      FROM events
    ),
    lim AS (
      SELECT CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax,
             CAST(count(*) AS BIGINT) AS n
      FROM base
    ),
    binned AS MATERIALIZED (
      SELECT b.event_id, b.v, b.hr, b.dow, l.n,
             ((b.v - l.vmin) * {HBOS_VALUE_BINS})
               // (l.vmax - l.vmin + 1) AS b_val
      FROM base b, lim l
    ),
    cv AS (SELECT b_val, CAST(count(*) AS BIGINT) AS c_val
           FROM binned GROUP BY b_val),
    ch AS (SELECT hr, CAST(count(*) AS BIGINT) AS c_hour
           FROM binned GROUP BY hr),
    cd AS (SELECT dow, CAST(count(*) AS BIGINT) AS c_dow
           FROM binned GROUP BY dow),
    scored AS (
      SELECT b.event_id, b.v, b.b_val, b.hr, b.dow,
             (CAST(b.n AS DOUBLE) / CAST(cv.c_val AS DOUBLE))
             * (CAST(b.n AS DOUBLE) / CAST(ch.c_hour AS DOUBLE))
             * (CAST(b.n AS DOUBLE) / CAST(cd.c_dow AS DOUBLE)) AS score
      FROM binned b
      JOIN cv ON cv.b_val = b.b_val
      JOIN ch ON ch.hr = b.hr
      JOIN cd ON cd.dow = b.dow
    )
    SELECT event_id, v, b_val, hr, dow, score,
           CAST(row_number() OVER (ORDER BY score DESC, event_id)
                AS BIGINT) AS rnk
    FROM scored
    ORDER BY score DESC, event_id
    LIMIT {HBOS_TOPK}
    """,
)
def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) over
    three event dimensions -- equi-width value bin ({HBOS_VALUE_BINS}
    bins on the global range), hour of day, day of week -- scoring each
    event by the product of inverse marginal densities (N/c_val) *
    (N/c_hour) * (N/c_dow): events sitting in jointly thin histogram
    cells float to the top.  The MULTIVARIATE outlier tier: z-score /
    MAD flag extreme VALUES only; HBOS flags ordinary values at odd
    times (independence-assumption density, the standard linear-time
    unsupervised baseline).  Canonical HBOS sums log-densities; the
    product form is the same ranking without the cross-engine ln()
    trap (three IEEE divisions and two multiplications on exact
    integer counts, bit-equal).

    Shape: one events scan -> three bounded histogram dims ({HBOS_VALUE_BINS}
    / 24 / 7 rows, broadcast back) -> global top-{HBOS_TOPK} via
    order-limit (TakeOrdered, never a single-partition global sort).
    Weekday via the portable (days_since_epoch + 4) %% 7 rule.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.hour("ts").cast("bigint").alias("hr"),
        F.expr("((unix_timestamp(ts) DIV 86400) + 4) % 7").alias("dow"),
    ).localCheckpoint(eager=True)  # lim + binned consumers
    lim = base.agg(
        F.min("v").cast("bigint").alias("vmin"),
        F.max("v").cast("bigint").alias("vmax"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    binned = base.crossJoin(F.broadcast(lim)).select(
        "event_id",
        "v",
        "hr",
        "dow",
        "n",
        F.expr(
            f"((v - vmin) * {HBOS_VALUE_BINS}) DIV (vmax - vmin + 1)"
        ).alias("b_val"),
    ).localCheckpoint(eager=True)  # three histogram dims + the scoring join
    cv = binned.groupBy("b_val").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_val")
    )
    ch = binned.groupBy("hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_hour")
    )
    cd = binned.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_dow")
    )
    scored = (
        binned.join(F.broadcast(cv), "b_val")
        .join(F.broadcast(ch), "hr")
        .join(F.broadcast(cd), "dow")
        .select(
            "event_id",
            "v",
            "b_val",
            "hr",
            "dow",
            F.expr(
                "(CAST(n AS DOUBLE) / CAST(c_val AS DOUBLE))"
                " * (CAST(n AS DOUBLE) / CAST(c_hour AS DOUBLE))"
                " * (CAST(n AS DOUBLE) / CAST(c_dow AS DOUBLE))"
            ).alias("score"),
        )
    )
    top = scored.orderBy(F.desc("score"), F.asc("event_id")).limit(HBOS_TOPK)
    w = Window.orderBy(F.desc("score"), F.asc("event_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
