"""Multi-join analytic suite, batch 3 (TPC-H Q2/Q6/Q7/Q8/Q9/Q11/Q17/Q19/Q20
shapes) over the star schema.

Continues analytics_suite.py's engine-parity program (SURVEY.md SS2.12):
the reference's data surface is dict probes over a sparse route map
(``etl_controller.py:1709, 1984-1996``); these are the classic warehouse
plans those probes generalize to.  The driver's testdata has no
``partsupp`` table, so the part<->supplier link for the Q2/Q11/Q20 shapes
is derived from ``lineitem`` (the observed shipping relation) -- the plan
shapes (correlated-min equality join, fraction-of-total HAVING, nested
semi-join chain) are preserved exactly.

Scale posture (verify with tools/plan_audit.py):
- part/supplier/nation/region are broadcast decorators everywhere; the
  lineitem/orders fact spine shuffles only on its own join keys.
- Correlated scalars (Q2 per-part min, Q11 global total, Q17 per-part avg)
  are computed as partial->final aggregates and joined back -- never a
  single-partition window over the fact table.
- All float aggregates use the integer-space conventions
  (plans/conventions.py); equality/threshold comparisons happen on stored
  doubles or scaled integers only, so both engines see identical bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_rf_matrix_controller_spark.plans.conventions import (
    SCALE,
    exact_sum,
    exact_sum_sql,
    int_round_scaled,
    int_round_scaled_sql,
    ratio4,
    ratio4_sql,
)
from etl_rf_matrix_controller_spark.operators.analytics_suite import _REVENUE, _ts
from etl_rf_matrix_controller_spark.plans.registry import declared
from etl_rf_matrix_controller_spark.sources.tables import load_table


@declared(
    "min_cost_supplier_parts",
    oracle="""
    WITH parts AS (
      SELECT p_partkey FROM part WHERE p_size <= 10 AND p_type = 'LARGE'
    ),
    offers AS (
      SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice,
             min(l.l_extendedprice) OVER (PARTITION BY l.l_partkey)
               AS min_price
      FROM lineitem l JOIN parts p ON p.p_partkey = l.l_partkey
    )
    SELECT DISTINCT o.l_partkey AS part_key,
           s.s_suppkey AS supp_key,
           s.s_name AS supp_name,
           n.n_name AS nation_name,
           s.s_acctbal AS acct_bal,
           o.min_price AS min_price
    FROM offers o
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.l_extendedprice = o.min_price
    ORDER BY acct_bal DESC, part_key ASC, supp_key ASC
    LIMIT 10
    """,
)
def min_cost_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) offering
    the minimum observed price -- a correlated-min subquery decorrelated to
    a per-key window min + equality filter.

    Formulated as min() OVER (PARTITION BY partkey) rather than an
    aggregate + join-back: ONE scan of the fact and ONE shuffle on the
    correlation key (the join-back form scans lineitem twice -- measured
    via plan audit; no ReusedExchange because column pruning diverges the
    subtrees).  Price equality is on STORED doubles (no arithmetic), so it
    is bit-exact cross-engine.  supplier/nation are broadcast decorators
    (supplier's 4/4-column scan is justified: every column lands in the
    output or a join key); DISTINCT collapses multiple lineitems at the
    same min price.  Total-ordered top-10 (acct_bal DESC with unique
    (part, supp) tiebreak).
    """
    parts = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "LARGE"))
        .select("p_partkey")
    )
    offers = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
        .withColumn(
            "min_price",
            F.min("l_extendedprice").over(Window.partitionBy("l_partkey")),
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        offers.filter(F.col("l_extendedprice") == F.col("min_price"))
        .select(F.col("l_partkey").alias("part_key"), "l_suppkey", "min_price")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "part_key",
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation_name"),
            F.col("s_acctbal").alias("acct_bal"),
            "min_price",
        )
        .orderBy(F.desc("acct_bal"), F.asc("part_key"), F.asc("supp_key"))
        .limit(10)
    )


@declared(
    "discount_band_revenue",
    oracle=f"""
    SELECT {exact_sum_sql("l_extendedprice * l_discount")} AS promo_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate revenue forecast.

    No joins at all -- the year/discount/quantity predicates all push to
    the parquet scan, and the single global sum is a partial->final
    aggregate over scaled integers (1-row result).  The BETWEEN bounds
    compare stored doubles against literal doubles that parse identically
    in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "promo_revenue"
        )
    )


@declared(
    "nation_pair_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           {exact_sum_sql(_REVENUE)} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per ship
    year -- the same nation dim joined twice under different roles with a
    disjunctive cross-role predicate.

    Both nation legs and supplier broadcast; the disjunction evaluates as
    a post-join filter on broadcast columns (no extra shuffle).  The fact
    spine shuffles once on orderkey and once for the 3-key groupBy.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(exact_sum(F.expr(_REVENUE)).alias("revenue"))
    )


@declared(
    "nation_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           {ratio4_sql(
               "sum(CASE WHEN n1.n_name = 'NATION_3' THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) ELSE 0 END)",
               "sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))",
           )} AS market_share
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'AMERICA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY year(o.o_orderdate)
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a market (customer
    region x part type) per order year -- conditional-sum ratio with the
    nation dim in two roles.

    The share numerator and denominator are computed in ONE pass as
    conditional scaled-integer sums (no self-join, no second scan), then
    combined with the integer-exact ratio4 convention.  part/region/
    nation/supplier broadcast; customer joins the spine on its key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    rev_scaled = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * SCALE
    ).cast("bigint")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev_scaled).otherwise(0)
            ).alias("nation_s"),
            F.sum(rev_scaled).alias("total_s"),
        )
    )
    return m.select(
        "order_year",
        ratio4(F.col("nation_s"), F.col("total_s")).alias("market_share"),
    )


@declared(
    "part_type_profit_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation_name,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           {exact_sum_sql(_REVENUE)} AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def part_type_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line (name-pattern parts) per
    supplier nation per order year.

    The LIKE filter prunes part before broadcast; supplier/nation are
    broadcast decorators.  The only wide operations are the orderkey join
    and the final 2-key groupBy -- both partial->final over scaled ints.
    (The testdata has no partsupp.ps_supplycost, so profit reduces to
    discounted revenue; the plan shape is unchanged.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(exact_sum(F.expr(_REVENUE)).alias("profit"))
    )


@declared(
    "important_part_values",
    oracle=f"""
    WITH nation_lines AS (
      SELECT l.l_partkey,
             CAST(round(l.l_extendedprice * 10000) AS BIGINT) AS price_s
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_5'
    ),
    per_part AS (
      SELECT l_partkey AS part_key, sum(price_s) AS value_s
      FROM nation_lines GROUP BY l_partkey
    ),
    m AS (
      SELECT part_key, value_s,
             CAST(sum(value_s) OVER () AS BIGINT) AS total_s,
             CAST(count(*) OVER () AS BIGINT) AS n_parts
      FROM per_part
    )
    SELECT part_key, {int_round_scaled_sql("value_s")} AS part_value
    FROM m
    WHERE value_s * n_parts > 3 * total_s
    """,
)
def important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing an outsized share of one
    nation's shipped value -- fraction-of-total HAVING.

    Per-part values are scaled-integer sums (one fact scan, one shuffle
    on partkey); the global total is an unpartitioned window sum over the
    ALREADY-AGGREGATED per-part set -- |distinct parts| narrow rows
    through one task, vs. the scalar-subquery form's SECOND full fact
    scan (no ReusedExchange: column pruning diverges the subtrees).  The
    threshold is SCALE-INVARIANT -- "above 3x the mean part share",
    value_s * n_parts > 3 * total_s in pure BIGINT arithmetic (a fixed
    fraction like 0.002 goes vacuous as |parts| grows: at sf0.1 every
    share dips below it; classic Q11's 0.0001 has the same flaw).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_5"
    )
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * SCALE).cast("bigint")).alias(
                "value_s"
            )
        )
    )
    return (
        per_part.withColumn(
            "total_s", F.sum("value_s").over(Window.partitionBy())
        )
        .withColumn("n_parts", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.col("value_s") * F.col("n_parts") > 3 * F.col("total_s"))
        .select("part_key", int_round_scaled(F.col("value_s")).alias("part_value"))
    )


@declared(
    "small_quantity_order_revenue",
    oracle=f"""
    WITH brand_lines AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    ),
    m AS (
      SELECT l_quantity, l_extendedprice,
             CAST(sum(CAST(round(l_quantity * {SCALE}) AS BIGINT))
                    OVER (PARTITION BY l_partkey) AS BIGINT)
               / (count(*) OVER (PARTITION BY l_partkey) * {SCALE}.0)
               AS avg_qty
      FROM brand_lines
    )
    SELECT {exact_sum_sql("l_extendedprice")} AS total_price,
           CAST(count(*) AS BIGINT) AS line_count
    FROM m
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-average-quantity lineitems of
    one brand -- a correlated per-part average decorrelated to a per-key
    window average + threshold filter.

    Window form = ONE scan of lineitem and ONE shuffle on the correlation
    key; the aggregate-plus-join-back form scans the fact twice (no
    ReusedExchange: column pruning diverges the subtrees).  The per-part
    average divides an exact scaled-integer window sum by (count * SCALE)
    -- one double division with identical operands in both engines, then
    one double multiply by 0.5: bit-deterministic.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(F.round(F.col("l_quantity") * SCALE).cast("bigint")).over(w) / (
        F.count(F.lit(1)).over(w) * float(SCALE)
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
        .withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            exact_sum(F.col("l_extendedprice")).alias("total_price"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@declared(
    "disjunctive_brand_revenue",
    oracle=f"""
    SELECT {exact_sum_sql(_REVENUE)} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of composite (brand, size, quantity)
    clauses across the join boundary -- the classic OR-of-ANDs predicate
    that defeats naive pushdown.

    Catalyst pushes the derivable part-side bounds (brand IN, size
    BETWEEN union) below the join via constraint propagation and
    evaluates the full disjunction post-join; part broadcasts so the
    residual costs no shuffle.  Single-row scaled-integer sum.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(exact_sum(F.expr(_REVENUE)).alias("revenue"))
    )


@declared(
    "excess_qty_suppliers",
    oracle=f"""
    WITH small_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ),
    shipped AS (
      SELECT l.l_suppkey, l.l_partkey,
             sum(CAST(round(l.l_quantity * {SCALE}) AS BIGINT)) AS qty_s
      FROM lineitem l
      JOIN small_parts p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING sum(CAST(round(l.l_quantity * {SCALE}) AS BIGINT)) > {60 * SCALE}
    )
    SELECT DISTINCT s.s_suppkey AS supp_key, s.s_name AS supp_name
    FROM shipped sh
    JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
    ORDER BY supp_key
    """,
)
def excess_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an excess quantity of a
    name-filtered part family in a window -- a nested semi-join chain
    (parts -> per-(supplier,part) shipped volume -> supplier identity).

    The HAVING threshold compares scaled-integer sums against an integer
    constant (exact).  small_parts broadcasts into the fact scan; the
    per-(supp, part) aggregate is the only shuffle; the surviving set is
    tiny so supplier/nation decoration broadcasts.  DISTINCT collapses a
    supplier qualifying via multiple parts.  Ordered by unique key.
    """
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    shipped = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round(F.col("l_quantity") * SCALE).cast("bigint")).alias("qty_s"))
        .filter(F.col("qty_s") > 60 * SCALE)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_8", "NATION_9")
    )
    return (
        shipped.join(F.broadcast(supp), shipped.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_suppkey").alias("supp_key"), F.col("s_name").alias("supp_name")
        )
        .orderBy("supp_key")
    )


@declared(
    "yoy_revenue_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT n.n_name AS nation_name,
             CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
             sum(CAST(round((l_extendedprice * (1 - l_discount)) * {SCALE})
                      AS BIGINT)) AS rev_s
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name, year(l.l_shipdate)
    ),
    lagged AS (
      SELECT nation_name, ship_year, rev_s,
             lag(rev_s) OVER (PARTITION BY nation_name ORDER BY ship_year)
               AS prev_s
      FROM yearly
    ),
    centsd AS (
      SELECT nation_name, ship_year, rev_s,
             CAST((rev_s + 50 - (rev_s + 50) % 100) / 100 AS BIGINT) AS rev_c,
             CAST((prev_s + 50 - (prev_s + 50) % 100) / 100 AS BIGINT)
               AS prev_c
      FROM lagged
    )
    SELECT nation_name, ship_year,
           {int_round_scaled_sql("rev_s")} AS revenue,
           {ratio4_sql("rev_c", "prev_c")} AS yoy_ratio
    FROM centsd
    """,
)
def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per supplier nation: lag() over the yearly
    per-nation aggregate, growth as an integer-exact current/previous
    ratio (NULL for each nation's first year).

    The window runs over the ALREADY-AGGREGATED series (|nations| x
    |years| rows), partitioned by nation -- never over the fact table.
    One fact scan, one shuffle for the 2-key aggregate; supplier/nation
    broadcast.  The growth ratio runs on integer CENTS -- the raw scaled
    yearly sums (~1e12) would push ratio4's 2*num*SCALE+den intermediate
    past the 2^53 envelope; cents keep it ~2e14 -- so both engines agree
    bit-for-bit; NULL lag propagates identically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    yearly = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * SCALE
                ).cast("bigint")
            ).alias("rev_s")
        )
    )
    w = Window.partitionBy("nation_name").orderBy("ship_year")
    return (
        yearly.withColumn("prev_s", F.lag("rev_s").over(w))
        .withColumn(
            "rev_c",
            F.expr("CAST((rev_s + 50 - (rev_s + 50) % 100) / 100 AS BIGINT)"),
        )
        .withColumn(
            "prev_c",
            F.expr("CAST((prev_s + 50 - (prev_s + 50) % 100) / 100 AS BIGINT)"),
        )
        .select(
            "nation_name",
            "ship_year",
            int_round_scaled(F.col("rev_s")).alias("revenue"),
            ratio4(F.col("rev_c"), F.col("prev_c")).alias("yoy_ratio"),
        )
    )


# In-row unordered-pair fan-out over a sorted `brands` array: for each
# element x at index i, pair it with every later element.  Shared by both
# market-basket queries so the slice-index arithmetic lives in ONE place.
_BRAND_PAIR_EXPR = (
    "flatten(transform(brands, (x, i) ->"
    " transform(slice(brands, i + 2, size(brands)),"
    " y -> struct(x AS brand_a, y AS brand_b))))"
)


@declared(
    "brand_cooccurrence_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM ob a
    JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY a.p_brand, b.p_brand
    """,
)
def brand_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every unordered brand pair, the
    number of orders containing both brands.

    Single-scan formulation: distinct brands per order via in-row
    collect_set (bounded by |brands| = 25), then the pair fan-out is a
    JVM-side higher-order double-transform over the sorted in-row array
    -- no self-join, so the fact shuffles ONCE on orderkey instead of
    twice plus a quadratic join (the oracle keeps the classic self-join
    formulation).  Pair counts shuffle at most |brands|^2 rows.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_order = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .filter(F.size("brands") >= 2)
    )
    pairs = per_order.select(F.explode(F.expr(_BRAND_PAIR_EXPR)).alias("p"))
    return pairs.groupBy(
        F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b")
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@declared(
    "brand_affinity_lift",
    oracle=f"""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pair AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                         AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    ),
    marg AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY p_brand
    ),
    tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           {ratio4_sql("p.n_ab * t.n_orders", "ma.n * mb.n")} AS lift
    FROM pair p
    JOIN marg ma ON ma.p_brand = p.brand_a
    JOIN marg mb ON mb.p_brand = p.brand_b
    CROSS JOIN tot t
    WHERE p.n_ab >= 5
    """,
)
def brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift per brand pair: observed co-occurrence over the
    independence expectation, lift = n_ab * N / (n_a * n_b) -- the score
    that separates real affinity from popularity.

    The distinct (order, brand) projection is localCheckpointed and
    feeds all three derivations (pairs via in-row fan-out, per-brand
    marginals, total basket count) from ONE materialization -- without
    it each consumer re-runs the lineitem join (the diamond-reuse rule).
    Pair counts use the same sorted-collect_set fan-out as
    brand_cooccurrence_pairs; marginals and the 1-row total broadcast.
    Lift is integer-exact ratio4 on products of counts: ratio4's
    intermediate is 2*num*SCALE + den, so num must stay <= ~4.5e11 for
    the 2^53 envelope -- here num = n_ab*N is ~7.5e7 at sf0.1, five
    orders of margin.  A support floor keeps noise pairs out.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint(eager=False)
    )
    per_order = (
        ob.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("p_brand")).alias("brands"))
        .filter(F.size("brands") >= 2)
    )
    pair = (
        per_order.select(F.explode(F.expr(_BRAND_PAIR_EXPR)).alias("p"))
        .groupBy(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    marg = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    tot = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ma = marg.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            ratio4(
                F.col("n_ab") * F.col("n_orders"), F.col("n_a") * F.col("n_b")
            ).alias("lift"),
        )
    )


@declared(
    "monthly_revenue_ma3",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
             sum(CAST(round((l_extendedprice * (1 - l_discount)) * {SCALE})
                      AS BIGINT)) AS rev_s
      FROM lineitem
      GROUP BY date_trunc('month', l_shipdate)
    ),
    framed AS (
      SELECT ship_month, rev_s,
             CAST(sum(rev_s) OVER (ORDER BY ship_month
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sum3_s,
             CAST(count(*) OVER (ORDER BY ship_month
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n3
      FROM monthly
    ),
    avgd AS (
      SELECT ship_month, rev_s,
             (((2 * sum3_s + n3) - (2 * sum3_s + n3) % (2 * n3)) / (2 * n3))
               AS ma3_s
      FROM framed
    ),
    centsd AS (
      SELECT ship_month, rev_s, ma3_s,
             CAST((rev_s + 50 - (rev_s + 50) % 100) / 100 AS BIGINT) AS rev_c,
             CAST((ma3_s + 50 - (ma3_s + 50) % 100) / 100 AS BIGINT) AS ma3_c
      FROM avgd
    )
    SELECT ship_month,
           {int_round_scaled_sql("rev_s")} AS revenue,
           {int_round_scaled_sql("ma3_s")} AS ma3,
           {ratio4_sql("rev_c", "ma3_c")} AS dev_ratio
    FROM centsd
    """,
)
def monthly_revenue_ma3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with a trailing 3-month moving average and the
    deviation ratio against it -- the smoothing/anomaly readout of any
    time-series dashboard, on an explicit ROWS frame.

    The frame runs over the ALREADY-AGGREGATED month series (|months|
    rows); partial months at the series head divide by the actual frame
    count (n3), not a hardcoded 3.  Numeric-envelope discipline (the
    conventions.py 2^53 bound): the average is reduced FIRST in
    small-integer space -- ma3_s = half-up (2*sum3 + n)/(2n), intermediates
    ~2.4e13 -- and the deviation ratio runs on integer CENTS (rev_c/ma3_c
    ~4e10 at sf0.1), so ratio4's 2*num*SCALE+den stays ~8e14.  Feeding
    the raw scaled sums to ratio4 directly blows the envelope (~2.4e16:
    mod-division goes inexact and the emitted doubles are off-ulp --
    caught by review, verified empirically).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev_s = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * SCALE
    ).cast("bigint")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
    ).agg(F.sum(rev_s).alias("rev_s"))
    w3 = Window.orderBy("ship_month").rowsBetween(-2, 0)
    framed = monthly.select(
        "ship_month",
        "rev_s",
        F.sum("rev_s").over(w3).alias("sum3_s"),
        F.count(F.lit(1)).over(w3).alias("n3"),
    )
    avgd = framed.withColumn(
        "ma3_s", F.expr("(2 * sum3_s + n3) DIV (2 * n3)")
    )
    centsd = avgd.select(
        "ship_month",
        "rev_s",
        "ma3_s",
        F.expr("CAST((rev_s + 50 - (rev_s + 50) % 100) / 100 AS BIGINT)").alias(
            "rev_c"
        ),
        F.expr("CAST((ma3_s + 50 - (ma3_s + 50) % 100) / 100 AS BIGINT)").alias(
            "ma3_c"
        ),
    )
    return centsd.select(
        "ship_month",
        int_round_scaled(F.col("rev_s")).alias("revenue"),
        int_round_scaled(F.col("ma3_s")).alias("ma3"),
        ratio4(F.col("rev_c"), F.col("ma3_c")).alias("dev_ratio"),
    )


@declared(
    "qty_discount_histogram2d",
    oracle="""
    SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY floor(l_quantity / 10), round(l_discount * 100)
    """,
)
def qty_discount_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram over (quantity decile-bucket x discount percent):
    the joint-distribution profile behind pricing heatmaps and data-
    drift monitors.

    Pure scan -> two integer bucketings -> partial->final count; the
    shuffle carries |buckets| rows (~6 x 11).  Bucket edges are integer
    floor/round on stored values -- the discount percents are exact
    (0.00-0.10 step 0.01 stored doubles round to integers identically
    in both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_discount")
    return li.groupBy(
        F.floor(F.col("l_quantity") / 10).cast("bigint").alias("qty_bucket"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
    ).agg(F.count(F.lit(1)).alias("n_lines"))


@declared(
    "order_fully_shipped_sla",
    oracle=f"""
    WITH per_order AS (
      SELECT o.o_orderkey,
             CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN l.l_shipdate <= o.o_orderdate
                                + INTERVAL 90 DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, date_trunc('month', o.o_orderdate)
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN n_items = n_on_time THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fully_on_time,
           {ratio4_sql(
               "sum(CASE WHEN n_items = n_on_time THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS full_ship_rate
    FROM per_order
    GROUP BY month
    """,
)
def order_fully_shipped_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: orders where ALL line items shipped within
    the 90-day SLA, rolled to a monthly fill rate -- the universally-
    quantified dual of the suite's EXISTS-shaped queries (a semi join
    answers "any item late?"; division answers "every item on time?"),
    expressed as the standard count(items) == count(qualifying items)
    collapse rather than a double-negated anti join (one shuffle
    join + two aggregations; the NOT EXISTS form costs an extra anti
    join pass).

    Both aggregations are partial-aggregable and the fact-fact join
    hashes on the order key -- at 100 TB orders and lineitem co-bucket
    on that key and the join is co-located.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    on_time = F.when(
        F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        1,
    ).otherwise(0)
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey", F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(on_time).cast("bigint").alias("n_on_time"),
        )
    )
    fully = F.when(F.col("n_items") == F.col("n_on_time"), 1).otherwise(0)
    return per_order.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(fully).cast("bigint").alias("n_fully_on_time"),
        ratio4(F.sum(fully), F.count(F.lit(1))).alias("full_ship_rate"),
    )


# Pearson correlation from exact integer moments: every sum is over
# per-row BIGINT products of scaled (x100) values, accumulated in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) -- exact, order-independent.
# The final (num, var_x, var_y) convert to DOUBLE once (round-to-nearest
# of an exact integer is identical across engines), then sqrt/divide.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_sql(a: str, b: str) -> str:
    sa, sb = f"s_{a}", f"s_{b}"
    sab = f"s_{a}_{b}"
    return (
        f"CAST(n * {sab} - {sa} * {sb} AS DOUBLE)"
        f" / (sqrt(CAST(n * s_{a}_{a} - {sa} * {sa} AS DOUBLE))"
        f" * sqrt(CAST(n * s_{b}_{b} - {sb} * {sb} AS DOUBLE)))"
    )


def _corr_pairs():
    cols = [c.replace("l_", "") for c in _CORR_COLS]
    out = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            out.append((a, b))
    return out


def _corr_moments_sql() -> str:
    cols = [c.replace("l_", "") for c in _CORR_COLS]
    sums = ", ".join(
        f"sum(CAST(round(l_{c} * 100) AS BIGINT)) AS s_{c}" for c in cols
    )
    prods = ", ".join(
        f"sum(CAST(round(l_{a} * 100) AS BIGINT)"
        f" * CAST(round(l_{b} * 100) AS BIGINT)) AS s_{a}_{b}"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    return f"SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {prods} FROM lineitem"


@declared(
    "lineitem_corr_matrix",
    oracle=f"""
    WITH m AS ({_corr_moments_sql()})
    {" UNION ALL ".join(
        f"SELECT '{a}_{b}' AS pair, {_corr_sql(a, b)} AS corr FROM m"
        for a, b in [("quantity", "extendedprice"), ("quantity", "discount"),
                     ("quantity", "tax"), ("extendedprice", "discount"),
                     ("extendedprice", "tax"), ("discount", "tax")]
    )}
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the lineitem measures from
    EXACT integer moments -- the multi-column generalization of
    corr_value_props, and the statistics-collection pass a feature-
    selection or CBO layer keeps per table.

    One corpus pass computes every moment (n, 4 sums, 10 product sums)
    in a single aggregation; the 6 pair correlations are scalar
    arithmetic over that one row (stack -- no second scan, no
    per-pair shuffle).  Accumulation is DECIMAL(38,0) because sums of
    squared cents exceed both int64 and double-exact range at sf0.1
    already (price^2 ~ 1e14/row); the decimal->double conversion of the
    three final exact integers is correctly rounded in both engines, so
    the float sqrt/divide sees bit-identical inputs.  F.corr itself is
    avoided: its streaming-covariance accumulation is order-dependent
    in float.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = [c.replace("l_", "") for c in _CORR_COLS]
    scaled = {
        c: F.round(F.col(f"l_{c}") * 100).cast("bigint") for c in cols
    }
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c in cols:
        aggs.append(
            F.sum(scaled[c].cast("decimal(38,0)")).alias(f"s_{c}")
        )
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(
                F.sum((scaled[a] * scaled[b]).cast("decimal(38,0)")).alias(
                    f"s_{a}_{b}"
                )
            )
    m = li.agg(*aggs)
    pair_exprs = ", ".join(
        f"'{a}_{b}', {_corr_sql(a, b)}" for a, b in _corr_pairs()
    )
    return m.selectExpr(
        f"stack({len(_corr_pairs())}, {pair_exprs}) AS (pair, corr)"
    )


@declared(
    "pareto_front_parts",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    per_price AS (
      SELECT price_c, min(size) AS min_size
      FROM pts GROUP BY price_c
    ),
    fronts AS (
      SELECT price_c, min_size,
             min(min_size) OVER (ORDER BY price_c
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS strict_min
      FROM per_price
    )
    SELECT p.p_partkey, p.price_c, p.size
    FROM pts p
    JOIN fronts f ON f.price_c = p.price_c
    WHERE (f.strict_min IS NULL OR f.strict_min > p.size)
      AND p.size = f.min_size
    """,
)
def pareto_front_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts Pareto-optimal on (cheap price, small size) --
    the dominance query class (BNL/SFS skyline literature) that a
    multi-objective part picker runs; a part is dominated if another is
    <= on both dimensions and strictly better on one.

    NOT the naive O(n^2) dominance self-join: the 2-D skyline reduces to
    a sort-free two-level form -- per-price min size (one partial-agg
    groupBy, output = |distinct prices|), then a running strict-prefix
    min over the PER-PRICE table ordered by price (a window over the
    aggregated table, corpus-independent), broadcast back.  A row
    survives iff no strictly-cheaper price offers <= its size
    (strict_min > size) and it ties the min within its own price (exact
    (price, size) duplicates survive together -- neither dominates, no
    strict dimension).  At 100 TB the only corpus-sized ops are the
    groupBy and the final broadcast-join filter; the windowed frame is
    price-cardinality-bounded.  Integer-exact: price in scaled cents.
    """
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    per_price = pts.groupBy("price_c").agg(F.min("size").alias("min_size"))
    w = (
        Window.orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fronts = per_price.select(
        "price_c",
        "min_size",
        F.min("min_size").over(w).alias("strict_min"),
    )
    return (
        pts.join(F.broadcast(fronts), "price_c")
        .filter(
            (F.col("strict_min").isNull() | (F.col("strict_min") > F.col("size")))
            & (F.col("size") == F.col("min_size"))
        )
        .select("p_partkey", "price_c", "size")
    )


@declared(
    "nation_share_within_region",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT region, nation, rev_c,
           CAST((1000000 * rev_c)
                // sum(rev_c) OVER (PARTITION BY region) AS BIGINT)
             AS share_of_region_ppm,
           CAST((1000000 * rev_c) // sum(rev_c) OVER () AS BIGINT)
             AS share_of_total_ppm
    FROM rev
    """,
)
def nation_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup: each nation's order revenue as a share
    of its REGION and of the GRAND TOTAL, in one pass -- the
    hierarchical BI staple (drill-down reports live on it) expressed
    as two stacked window totals over the aggregated dim instead of
    two extra aggregation queries; the windowed complement of
    `grouping_sets_rollup` (which emits parent rows, not parent
    shares).

    Revenue in exact cents; both shares are integer ppm floor
    divisions.  Plan: one orders scan + three broadcast dims, then the
    windows run over the <=|nations|-row aggregate -- free.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("r_c"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum("r_c").cast("bigint").alias("rev_c"))
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "rev_c",
        F.expr(
            "CAST((1000000 * rev_c)"
            " DIV sum(rev_c) OVER (PARTITION BY region) AS BIGINT)"
        ).alias("share_of_region_ppm"),
        F.expr(
            "CAST((1000000 * rev_c) DIV sum(rev_c) OVER () AS BIGINT)"
        ).alias("share_of_total_ppm"),
    )
