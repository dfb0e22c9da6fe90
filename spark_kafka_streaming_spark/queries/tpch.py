"""TPC-H-style relational queries over the driver star schema (Q1–Q22).

These exercise the batch-relational capability surface of SURVEY.md
§2b (scan/filter/project, equi-joins incl. broadcast, hash
aggregation, sort/limit, correlated and uncorrelated subqueries) — the
analytics the reference delegates to Spark after ingesting Kafka (its
example query is the word count at
``examples/.../KafkaWordCount.scala:70-73``; everything richer is new
engine surface).  The schema has no partsupp / commitdate / shipmode
columns, so some queries keep the *plan shape* of their TPC-H namesake
and substitute available columns; the adaptation is noted per query.

Exactness follows the registry rules: money math in DECIMAL(18,2)
(:data:`REV` is the one lineitem revenue expression, shared with
:mod:`.relational`), final cast to DOUBLE, explicit unique tiebreakers
before LIMIT.

Scale notes (100 TB posture):

* ``lineitem``/``orders`` are the fact tables — every query keeps them
  on the probe side; dimensions (`region nation supplier part
  customer`) are broadcast (`F.broadcast`) so fact rows never shuffle
  for a join.
* Aggregations use decimal map-side-combinable sums (see
  :mod:`..functions.exact`), so the shuffle carries one row per group
  per partition, not raw rows.
* Filters are plain column predicates → Catalyst pushes them into the
  Parquet scan (`PushedFilters` in explain output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec, dsum
from ..sources.batch import load_table
from .registry import register


# Shared decimal expressions (Spark SQL fragment and the identical
# DuckDB fragment) for lineitem revenue math.
REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_CHARGE = REV + " * (1 + CAST(l_tax AS DECIMAL(18,2)))"


_PROFIT = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    " - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))"
)


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM({REV}) AS DOUBLE) AS sum_disc_price,
      CAST(SUM({_CHARGE}) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Flagship: TPC-H Q1 pricing summary — scan+filter+hash-agg+sort. "
    "One shuffle (by group key), partial aggregation map-side.",
    tags=("relational", "agg", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.expr(REV)).cast("double").alias("sum_disc_price"),
            F.sum(F.expr(_CHARGE)).cast("double").alias("sum_charge"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           CAST(min_price AS DOUBLE) AS supply_cost
    FROM part
    JOIN cost     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size < 16 AND p_type = 'ECONOMY'
      AND min_price = (SELECT MIN(c2.min_price) FROM cost c2
                       WHERE c2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (no partsupp: per-(part,supplier) min observed "
    "lineitem price stands in for ps_supplycost): correlated per-part MIN "
    "subquery selecting the cheapest supplier(s). Exact DECIMAL min makes "
    "the equality join engine-safe; (s_name, p_partkey) uniquifies the "
    "ORDER BY before LIMIT.",
    tags=("relational", "subquery", "join"),
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") < 16) & (F.col("p_type") == "ECONOMY")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(dec("l_extendedprice")).alias("min_price")
    )
    # Same l_partkey grouping key → the per-part MIN reuses cost's shuffle
    # partitioning (no extra exchange at scale).
    best = cost.groupBy("l_partkey").agg(F.min("min_price").alias("best_price"))
    return (
        cost.join(best, ["l_partkey"])
        .filter(F.col("min_price") == F.col("best_price"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("min_price").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q03_shipping_priority",
    oracle=f"""
    SELECT
      l_orderkey,
      CAST(SUM({REV}) AS DOUBLE) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: 3-way join + agg + top-10. Customer dim broadcast; "
    "orders⋈lineitem shuffles on orderkey only.",
    tags=("relational", "join", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner"
            ),
            li.l_orderkey == orders.o_orderkey,
            "inner",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.expr(REV)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q04_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS → left-semi join, count by priority.",
    tags=("relational", "join", "semi"),
)
def q04_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(SUM({REV}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5: 6-way join with region filter. All dims broadcast — "
    "the only shuffle is lineitem⋈orders on orderkey + final agg.",
    tags=("relational", "join", "broadcast"),
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(F.expr(REV)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure scan+filter+global agg — every predicate pushes "
    "into the Parquet scan; no shuffle beyond the final reduce.",
    tags=("relational", "filter", "pushdown"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q07_nation_trade_flow",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
           CAST(SUM({REV}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name <> sn.n_name
    GROUP BY cust_nation, supp_nation, ship_year
    ORDER BY cust_nation, supp_nation, ship_year
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by "
    "year — the same dim table (nation) joined twice under different "
    "roles, all broadcast.",
    tags=("relational", "join", "selfdim"),
)
def q07_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    pair = ["NATION_1", "NATION_2"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn.n_nationkey"))
        .filter(
            F.col("cn.n_name").isin(pair)
            & F.col("sn.n_name").isin(pair)
            & (F.col("cn.n_name") != F.col("sn.n_name"))
        )
        .groupBy(
            F.col("cn.n_name").alias("cust_nation"),
            F.col("sn.n_name").alias("supp_nation"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(F.expr(REV)).cast("double").alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@register(
    "q08_nation_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {REV}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({REV}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8: national market share — 6-way star join, conditional "
    "revenue share per year. Numerator and denominator are each exact "
    "decimal sums cast to DOUBLE, so the division is bit-identical across "
    "engines.",
    tags=("relational", "join", "conditional-agg"),
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.expr(REV)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q09_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS o_year,
           CAST(SUM({_PROFIT}) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (no ps_supplycost: p_retailprice * quantity stands "
    "in for the supply cost): profit per supplier nation per ship year for "
    "one product family, all in exact decimal arithmetic.",
    tags=("relational", "join", "agg"),
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.sum(F.expr(_PROFIT)).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, CAST(SUM({REV}) AS DOUBLE) AS revenue, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20.",
    tags=("relational", "join", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.expr(REV)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q11_important_part_values",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(v AS DOUBLE) > (SELECT CAST(SUM(v) AS DOUBLE) / 1000.0 FROM val)
    ORDER BY part_value DESC, partkey
    """,
    doc="TPC-H Q11 shape (no partsupp: traded value per part from lineitem "
    "stands in for availqty*supplycost): per-part value for one nation's "
    "suppliers, kept only above a scalar-subquery fraction of the total. "
    "Both sides of the comparison are exact sums cast to DOUBLE.",
    tags=("relational", "subquery", "having"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("v"))
    )
    total = val.agg((F.sum("v").cast("double") / F.lit(1000.0)).alias("threshold"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("v").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


@register(
    "q12_priority_ship_delay",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="TPC-H Q12 shape (no shipmode/commitdate: ship-vs-order delay over "
    "30 days stands in for the late-receipt predicate, ship year for "
    "shipmode): split conditional counts of high- vs low-priority lines. "
    "COUNT(CASE...) keeps both engines in BIGINT.",
    tags=("relational", "join", "conditional-agg"),
)
def q12_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: customer distribution by order count — left join with "
    "an extra join predicate, then a histogram over the grouped result.",
    tags=("relational", "join", "histogram"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REV} END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM({REV}) AS DOUBLE) AS total_revenue,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REV} END) AS DOUBLE)
             / CAST(SUM({REV}) AS DOUBLE) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc="TPC-H Q14 shape: conditional-aggregate ratio (promo revenue "
    "share) per year; part dim broadcast.",
    tags=("relational", "join", "ratio"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", F.expr(REV))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(F.expr(REV)).cast("double").alias("total_revenue"),
            (
                F.sum(promo).cast("double")
                / F.sum(F.expr(REV)).cast("double")
            ).alias("promo_share"),
        )
        .orderBy("ship_year")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({REV}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: top supplier by quarterly revenue — derived view "
    "consumed twice (join + scalar MAX subquery); exact decimal revenue "
    "makes the equality comparison engine-safe.",
    tags=("relational", "subquery", "view"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.expr(REV)).cast("double").alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("m"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25, 28)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (no comment column: negative account balance "
    "stands in for the customer-complaint exclusion): distinct supplier "
    "count per (brand, type, size) with a NOT-IN anti join.",
    tags=("relational", "distinct", "anti"),
)
def q16_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25, 28)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq   ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
    """,
    doc="TPC-H Q17: small-quantity-order revenue — correlated per-part "
    "average-quantity subquery, written as an explicit exact-decimal "
    "sum/count division so the 0.2*avg comparison is engine-identical.",
    tags=("relational", "subquery", "agg"),
)
def q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pq, F.col("pk") == li.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18: large-volume orders — IN over a grouped HAVING "
    "subquery (semi join on an aggregate), exact decimal quantities.",
    tags=("relational", "subquery", "having"),
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big_orders.withColumnRenamed("l_orderkey", "bo_key"),
                li.l_orderkey == F.col("bo_key"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({REV}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
    doc="TPC-H Q19: disjunctive (OR-of-ANDs) mixed part/lineitem "
    "predicates over a broadcast join — the classic pushdown-splitting "
    "shape; Catalyst pushes the common p_partkey join key and evaluates "
    "the residual disjunction post-join.",
    tags=("relational", "join", "filter"),
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#4") & sz.between(1, 50) & q.between(20, 50))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(F.expr(REV)).cast("double").alias("revenue"))
    )


@register(
    "q20_part_share_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY l_partkey, l_suppkey
    ), totals AS (
      SELECT l_partkey, SUM(sq) AS tq FROM shipped GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped JOIN totals USING (l_partkey)
      WHERE sq * 8 > tq
    )
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape (no partsupp availqty: a supplier 'dominates' a "
    "part when it shipped >12.5% of that part's total quantity): nested "
    "grouped subqueries feeding an IN semi join. sq*8 > tq keeps the "
    "share test in exact integer-scaled decimals (division-free).",
    tags=("relational", "subquery", "semi"),
)
def q20_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("sq"))
    )
    # Same-key regroup: totals reuses shipped's l_partkey partitioning.
    totals = shipped.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominant = (
        shipped.join(totals, ["l_partkey"])
        .filter(F.col("sq") * 8 > F.col("tq"))
        .select("l_suppkey")
    )
    # dominant is a handful of supplier ids — broadcast it so the
    # supplier side of the semi join never shuffles.
    return (
        supp.join(
            F.broadcast(dominant), supp.s_suppkey == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    doc="TPC-H Q21 shape (l_shipdate stands in for receipt-vs-commit "
    "lateness): suppliers whose line shipped strictly last among "
    "multi-supplier finished orders — an EXISTS semi join plus a "
    "NOT-EXISTS anti join, both correlated with inequality conditions.",
    tags=("relational", "semi", "anti"),
)
def q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waiting = (
        l1.join(orders, l1.l_orderkey == orders.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & (F.col("d3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register(
    "q22_dormant_accounts",
    oracle="""
    WITH avg_bal AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="TPC-H Q22 shape: customers with above-average balances and no "
    "recent orders (none since 2000) — anti join on a filtered fact + "
    "global-average comparison written division-free over exact "
    "decimals.",
    tags=("relational", "subquery", "anti"),
)
def q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(dec("c_acctbal")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(dec("c_acctbal") * F.col("n") > F.col("s"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
