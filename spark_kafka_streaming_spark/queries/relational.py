"""Relational operator surface (SURVEY.md §2b) beyond the TPC-H shapes.

Joins of every flavor (outer, semi, anti, band, null-aware NOT IN),
aggregation variants (distinct / rollup / cube / pivot / grouping sets
/ exact percentiles / salted skew), window functions (ranking,
explicit frames, market share) and the event-time window twins of the
streaming layer, set ops, scalar and array function families, table
maintenance and audits (CDC apply, referential integrity, skew
report, z-order layout), iterative graph analytics (PageRank), and the
Avro / ORC / CSV / JSON encode→decode round trips.

The reference delegates all of this to Spark after ingest (its only
relational ops are union/map/flatMap/reduceByKeyAndWindow in
``examples/.../KafkaWordCount.scala:53-73`` and the client-side lag
zip-join in ``ProcessorMetrics.scala:86-89``); here each capability is
a first-class, oracle-checked query.

Scale notes: dimension sides of joins are broadcast; aggregates are
map-side combinable (decimal sums, counts); window functions partition
by bounded keys (custkey/user_id) so no single partition explodes;
top-k uses order+limit which Spark executes as a per-partition top-k
(TakeOrderedAndProject) — no global sort materialization.  Event-time
``window()`` is a projection + hash-agg — one shuffle per query;
sliding windows fan each row out to width/slide buckets before the
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.avro import decode_avro_container, encode_avro_container
from ..functions.caching import track_persist
from ..functions.exact import dec, dsum
from ..operators.zorder import ZBITS_DEFAULT as _ZBITS
from ..operators.zorder import z_expr_duck as _z_duck
from ..operators.zorder import z_expr_spark as _z_spark
from ..sources.batch import load_table
from .registry import register
from .tpch import REV


# ---------------------------------------------------------------- joins


@register(
    "q_join_anti_customers_without_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Left-anti join (NOT EXISTS): customers that never ordered.",
    tags=("relational", "join", "anti"),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "q_join_semi_parts_ordered",
    oracle="""
    SELECT p_type, COUNT(*) AS n_parts
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    GROUP BY p_type
    ORDER BY p_type
    """,
    doc="Left-semi join (EXISTS): parts that appear in at least one lineitem.",
    tags=("relational", "join", "semi"),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_type")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_type")
    )


@register(
    "q_join_left_order_counts",
    oracle="""
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
             AS total_spend
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
    doc="Left outer join preserving unmatched customers; COUNT(col) "
    "null-skipping semantics.",
    tags=("relational", "join", "outer"),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_join_full_outer_nation_activity",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.k, s.k) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.k = s.k
    ORDER BY nationkey
    """,
    doc="Full outer join of two aggregates with COALESCE key merge.",
    tags=("relational", "join", "outer"),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        c.join(s, c.k == s.k, "full_outer")
        .select(
            F.coalesce(c.k, s.k).alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


# ----------------------------------------------------- aggregation forms


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Exact distinct aggregation (expand+two-phase shuffle in Spark).",
    tags=("relational", "agg", "distinct"),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_agg_rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP grouping sets (subtotals + grand total).",
    tags=("relational", "agg", "rollup"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.count("*").alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q_agg_cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="CUBE grouping sets over two dimensions.",
    tags=("relational", "agg", "cube"),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q_agg_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Pivot (orderstatus → columns) with count cells; absent cells NULL.",
    tags=("relational", "agg", "pivot"),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderpriority")
    )


# ------------------------------------------------------ window functions


@register(
    "q_window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS INT) AS rn
      FROM orders
    ) t
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="Top-K per group via row_number window; deterministic tiebreak.",
    tags=("relational", "window", "topk"),
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@register(
    "q_window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    doc="Running aggregate over an explicit ROWS frame (exact decimal).",
    tags=("relational", "window", "frame"),
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@register(
    "q_window_rank_dense_rank",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(RANK() OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC
           ) AS INT) AS price_rank,
           CAST(DENSE_RANK() OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC
           ) AS INT) AS price_dense_rank
    FROM orders
    WHERE o_totalprice > 300000
    ORDER BY o_orderpriority, price_rank, o_orderkey
    """,
    doc="rank/dense_rank with duplicate-value tie semantics.",
    tags=("relational", "window", "rank"),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    ).orderBy("o_orderpriority", "price_rank", "o_orderkey")


# --------------------------------------------------------- sort / limit


@register(
    "q_sort_limit_top_lineitems",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    doc="Global top-100 — Spark plans TakeOrderedAndProject (per-partition "
    "top-k + merge), never a full sort at scale.",
    tags=("relational", "sort", "limit"),
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# -------------------------------------------------------------- set ops


@register(
    "q_setops_customer_segments",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    ORDER BY c_custkey
    """,
    doc="UNION (distinct) then EXCEPT, distinct set semantics.",
    tags=("relational", "setop"),
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    big_spenders = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        building.union(auto)
        .distinct()
        .exceptAll(big_spenders.distinct())
        .distinct()
        .orderBy("c_custkey")
    )


@register(
    "q_setops_intersect_active_both_years",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    ORDER BY o_custkey
    """,
    doc="INTERSECT distinct semantics: customers active in both years.",
    tags=("relational", "setop"),
)
def q_setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y96.intersect(y97).orderBy("o_custkey")


# ------------------------------------------------------ scalar functions


@register(
    "q_scalar_string_functions",
    oracle="""
    SELECT regexp_extract(p_name, '^[a-z]+') AS first_word,
           COUNT(*) AS n,
           CAST(SUM(LENGTH(p_name)) AS BIGINT) AS total_len,
           MIN(UPPER(p_name)) AS first_upper
    FROM part
    GROUP BY first_word
    ORDER BY first_word
    """,
    doc="String functions: regexp_extract, length, upper, min-string.",
    tags=("relational", "scalar", "string"),
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn("first_word", F.regexp_extract("p_name", "^[a-z]+", 0))
        .groupBy("first_word")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("p_name")).cast("bigint").alias("total_len"),
            F.min(F.upper(F.col("p_name"))).alias("first_upper"),
        )
        .orderBy("first_word")
    )


@register(
    "q_scalar_date_functions",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_total
    FROM orders
    GROUP BY order_year, order_month
    ORDER BY order_year, order_month
    """,
    doc="Date functions: year/month extraction + monthly aggregation.",
    tags=("relational", "scalar", "date"),
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .withColumn("order_month", F.month("o_orderdate"))
        .groupBy("order_year", "order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("monthly_total"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "q_scalar_case_when_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS price_band,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
    FROM orders
    GROUP BY price_band
    ORDER BY price_band
    """,
    doc="CASE WHEN bucketing + aggregation.",
    tags=("relational", "scalar", "case"),
)
def q_scalar_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("price_band", band)
        .groupBy("price_band")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("band_total"),
        )
        .orderBy("price_band")
    )


@register(
    "q_scalar_math_functions",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_floor,
           CAST(SUM(CAST(CEIL(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_ceil,
           SQRT(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) AS sqrt_total,
           CAST(MAX(ABS(o_totalprice)) AS DOUBLE) AS max_abs
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Math functions over exact intermediates: floor/ceil/sqrt/abs.",
    tags=("relational", "scalar", "math"),
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(F.floor("o_totalprice").cast("bigint")).cast("bigint").alias("sum_floor"),
            F.sum(F.ceil("o_totalprice").cast("bigint")).cast("bigint").alias("sum_ceil"),
            F.sqrt(F.sum(dec("o_totalprice")).cast("double")).alias("sqrt_total"),
            F.max(F.abs(F.col("o_totalprice"))).cast("double").alias("max_abs"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------- grouping sets, percentiles, unpivot, string/map


@register(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({REV}) AS DOUBLE) AS revenue, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="Explicit GROUPING SETS (asymmetric sets — not expressible as "
    "rollup/cube).",
    tags=("relational", "agg", "groupingsets"),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM({REV}) AS DOUBLE) AS revenue, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@register(
    "q_agg_exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Exact percentiles (linear interpolation — Spark `percentile` and "
    "DuckDB `quantile_cont` agree bitwise). The approx tier is "
    "q_agg_approx (rows-only).",
    tags=("relational", "agg", "percentile"),
)
def q_agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_agg_approx",
    oracle=None,  # HLL/t-digest internals are engine-specific by design
    doc="Approximate tier: approx_count_distinct (HLL) + percentile_approx "
    "(t-digest) — the one-pass forms for extreme cardinality; accuracy "
    "bounds asserted in tests/test_relational_extra.py.",
    tags=("relational", "agg", "approx", "rows-only"),
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.expr("percentile_approx(l_extendedprice, 0.5)").alias("approx_median"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    ORDER BY p_partkey, metric
    """,
    doc="Unpivot (wide→long) via stack(); oracle uses the ANSI UNION ALL "
    "equivalent.",
    tags=("relational", "unpivot"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'p_retailprice', p_retailprice, "
            "'p_size', CAST(p_size AS DOUBLE)) AS (metric, val)"
        ),
    ).orderBy("p_partkey", "metric")


@register(
    "q_window_market_share",
    oracle="""
    WITH yearly AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
             o_orderpriority,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders GROUP BY 1, 2
    )
    SELECT order_year, o_orderpriority,
           CAST(rev_dec AS DOUBLE) AS rev,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER (PARTITION BY order_year) AS DOUBLE)
             AS share
    FROM yearly
    ORDER BY order_year, o_orderpriority
    """,
    doc="Two-level aggregate: share-of-total via a window over a grouped "
    "result (TPC-H Q8 shape). The window SUM stays DECIMAL (an unordered "
    "window over doubles would sum in engine-dependent order).",
    tags=("relational", "window", "share"),
)
def q_window_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yearly = (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"), "o_orderpriority"
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev_dec"))
    )
    w = W.partitionBy("order_year")
    return (
        yearly.select(
            "order_year",
            "o_orderpriority",
            F.col("rev_dec").cast("double").alias("rev"),
            (
                F.col("rev_dec").cast("double")
                / F.sum("rev_dec").over(w).cast("double")
            ).alias("share"),
        )
        .orderBy("order_year", "o_orderpriority")
    )


@register(
    "q_null_handling",
    oracle="""
    SELECT c_custkey,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
             AS total_spend,
           CASE WHEN COUNT(o_orderkey) = 0 THEN 'inactive' ELSE 'active' END
             AS status,
           NULLIF(COUNT(o_orderkey), 0) AS n_orders_or_null
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    WHERE c_custkey < 50
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
    doc="Null-handling family: COALESCE / NULLIF / CASE over outer-join "
    "nulls.",
    tags=("relational", "scalar", "null"),
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(dec("o_totalprice")).cast("double"), F.lit(0.0)
            ).alias("total_spend"),
            F.when(F.count("o_orderkey") == 0, "inactive")
            .otherwise("active")
            .alias("status"),
            F.nullif(F.count("o_orderkey"), F.lit(0)).alias("n_orders_or_null"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_scalar_string_builders",
    oracle="""
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           reverse(p_name) AS rev_name,
           replace(p_name, ' ', '_') AS snake_name,
           substring(p_name, 1, 5) AS name5
    FROM part
    WHERE p_partkey < 50
    ORDER BY p_partkey
    """,
    doc="String builder family: concat_ws/lpad/reverse/replace/substring.",
    tags=("relational", "scalar", "string"),
)
def q_scalar_string_builders(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 50)
    return part.select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.reverse("p_name").alias("rev_name"),
        F.expr("replace(p_name, ' ', '_')").alias("snake_name"),
        F.substring("p_name", 1, 5).alias("name5"),
    ).orderBy("p_partkey")


@register(
    "q_map_json_explode",
    oracle="""
    SELECT k, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS total
    FROM (
      SELECT unnest(json_keys(props)) AS k,
             CAST(json_extract(props, '$.k') AS BIGINT) AS v
      FROM events
    ) t
    GROUP BY k
    ORDER BY k
    """,
    doc="JSON→map decode + explode (MapType surface): parse props as "
    "map<string,bigint>, explode entries, aggregate per key.",
    tags=("relational", "map", "json"),
)
def q_map_json_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("k", "v")
    )
    return (
        parsed.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .orderBy("k")
    )


@register(
    "q_agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Salted two-phase aggregation over a deliberately skewed key "
    "(3 distinct values across the whole fact table): per-(key,salt) "
    "partials spread the hot keys across reducers, then a tiny final "
    "combine. Exact-decimal sums make the result identical to the "
    "direct groupBy the oracle runs.",
    tags=("relational", "agg", "skew"),
)
def q_agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dec as _dec
    from ..operators.skew import salted_sum_count

    li = load_table(spark, sf_dir, "lineitem")
    return (
        salted_sum_count(
            li, ["l_returnflag"], _dec("l_extendedprice"), n_salts=16
        )
        .select(
            "l_returnflag",
            F.col("total").cast("double").alias("total"),
            "n",
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_subquery_correlated_above_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 * (
        SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey
      ) > 3 * (
        SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        FROM orders i WHERE i.o_custkey = o.o_custkey
      )
    ORDER BY o_orderkey
    """,
    doc="Correlated scalar subqueries: orders exceeding 1.5x their own "
    "customer's average order value, written division-free over exact "
    "decimal sums (price*2*count > 3*sum) so the threshold comparison "
    "has no cross-engine float boundary.",
    tags=("relational", "subquery", "correlated"),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 * (
            SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey
          ) > 3 * (
            SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FROM orders i WHERE i.o_custkey = o.o_custkey
          )
        ORDER BY o_orderkey
        """
    )


@register(
    "q_subquery_in_uncorrelated",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey = 2
    )
    ORDER BY c_custkey
    """,
    doc="Uncorrelated IN subquery (planned as a semi join).",
    tags=("relational", "subquery", "in"),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_nationkey IN (
          SELECT n_nationkey FROM nation WHERE n_regionkey = 2
        )
        ORDER BY c_custkey
        """
    )


# ---------------------- distribution windows, band join, arrays, audits


@register(
    "q_window_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST()    OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    doc="Distribution window functions (ntile / percent_rank / cume_dist) "
    "per nation, totally ordered by (acctbal, custkey) so every rank is "
    "deterministic; pr/cd are divisions of identical integers in both "
    "engines.",
    tags=("window", "rank"),
)
def q_window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q_window_first_last_frames",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first/last/nth_value over an explicit unbounded ROWS frame (the "
    "default RANGE frame would make last_value the current row) — values "
    "pass through untouched, so raw doubles compare exactly.",
    tags=("window", "frame"),
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


_BANDS = [
    (0, -100000.0, 0.0),
    (1, 0.0, 2500.0),
    (2, 2500.0, 5000.0),
    (3, 5000.0, 7500.0),
    (4, 7500.0, 100000.0),
]
_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS)


@register(
    "q_join_band_broadcast",
    oracle=f"""
    SELECT band, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
    FROM customer
    JOIN (VALUES {_BANDS_SQL}) AS b(band, lo, hi)
      ON c_acctbal >= lo AND c_acctbal < hi
    GROUP BY band
    ORDER BY band
    """,
    doc="Non-equi band join: customers matched to balance intervals. The "
    "interval side is tiny and broadcast, so the physical plan is a "
    "BroadcastNestedLoopJoin — the scalable shape for interval lookups "
    "(big-big range joins instead bucket both sides on floor(x/width)).",
    tags=("join", "range"),
)
def q_join_band_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bands = spark.createDataFrame(_BANDS, "band int, lo double, hi double")
    return (
        cust.join(
            F.broadcast(bands),
            (cust.c_acctbal >= bands.lo) & (cust.c_acctbal < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("bal"))
        .orderBy("band")
    )


@register(
    "q_array_hof_stats",
    oracle=f"""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(list_aggregate({V.duck_scaled('embedding')}, 'sum') AS BIGINT)
             AS sum_scaled,
           CAST(list_aggregate({V.duck_scaled('embedding')}, 'max') AS BIGINT)
             AS max_scaled
    FROM embeddings
    """,
    doc="Array higher-order functions (transform / aggregate / array_max) "
    "over the embedding column — per-element math stays in the integer "
    "scaling recipe, so sums are associative and engine-identical.",
    tags=("scalar", "array"),
)
def q_array_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = V.spark_scaled("embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.expr(
            f"aggregate({scaled}, 0L, (acc, x) -> acc + x)"
        ).alias("sum_scaled"),
        F.expr(f"array_max({scaled})").alias("max_scaled"),
    )


@register(
    "q_audit_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'supplier->nation', COUNT(*)
    FROM supplier s WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
    UNION ALL
    SELECT 'nation->region', COUNT(*)
    FROM nation n WHERE NOT EXISTS
      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)
    UNION ALL
    SELECT 'lineitem->part', COUNT(*)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    ORDER BY fk
    """,
    doc="Referential-integrity audit across the star schema: orphan "
    "counts for every foreign key as one result (the dbt-test / "
    "data-contract pass a pipeline runs before publishing a "
    "snapshot). Both lineitem FKs (orders + part) are checked in ONE "
    "lineitem pass — left joins against the broadcast part key set "
    "and the orders key set, counted by conditional aggregation — so "
    "the biggest fact is scanned once; the remaining legs are "
    "anti-joins with broadcast dims. All-zero counts on the "
    "driver-generated tables — the audit's value is the plan shape "
    "plus the nonzero report at real scale.",
    tags=("relational", "join", "audit"),
)
def q_audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(fact: str, fk: str, dim: str, pk: str, label: str) -> DataFrame:
        f = load_table(spark, sf_dir, fact)
        d = F.broadcast(load_table(spark, sf_dir, dim).select(pk))
        return (
            f.join(d, f[fk] == d[pk], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    # Both lineitem FKs in one scan: left-join flags + conditional agg.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey")
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .select("p_partkey")
        .withColumn("has_p", F.lit(1))
    )
    li_counts = (
        li.join(part, li.l_partkey == F.col("p_partkey"), "left")
        .join(
            ords.withColumn("has_o", F.lit(1)),
            li.l_orderkey == ords.o_orderkey,
            "left",
        )
        .agg(
            # COALESCE: SUM over zero rows is NULL, but an empty fact
            # table has 0 orphans (matches the oracle's COUNT(*)).
            F.coalesce(
                F.sum(F.expr("CASE WHEN has_o IS NULL THEN 1 ELSE 0 END")),
                F.lit(0),
            ).alias("lo"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN has_p IS NULL THEN 1 ELSE 0 END")),
                F.lit(0),
            ).alias("lp"),
        )
        .selectExpr(
            "stack(2, 'lineitem->orders', lo, 'lineitem->part', lp) "
            "AS (fk, n_orphans)"
        )
    )
    legs = [
        li_counts,
        orphans("orders", "o_custkey", "customer", "c_custkey",
                "orders->customer"),
        orphans("customer", "c_nationkey", "nation", "n_nationkey",
                "customer->nation"),
        orphans("supplier", "s_nationkey", "nation", "n_nationkey",
                "supplier->nation"),
        orphans("nation", "n_regionkey", "region", "r_regionkey",
                "nation->region"),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.union(leg)
    return out.orderBy("fk")


@register(
    "q_basket_brand_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT a.p_brand AS brand1, b.p_brand AS brand2,
           COUNT(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY brand1, brand2
    ORDER BY n_orders DESC, brand1, brand2
    LIMIT 15
    """,
    doc="Market-basket co-occurrence: top brand pairs bought in the "
    "same order (association-rule support counting). The self-join is "
    "keyed on l_orderkey, so fan-out per order is bounded by "
    "(distinct brands per order choose 2) — small by construction of "
    "real baskets (TPC-H ~4 items/order), never a table-level "
    "quadratic; part is broadcast into the item derivation. The "
    "relational twin of the corpus collocation query "
    "(q_text_collocations_lift).",
    tags=("relational", "join", "agg"),
)
def q_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand1"),
            F.col("b.p_brand").alias("brand2"),
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand1", "brand2")
        .limit(15)
    )

_ZBUCKETS = 16
#: Equal-width value-range cuts of the z (and linear) key: bucket =
#: key's top log2(_ZBUCKETS) bits.  This is the plan-shape twin of the
#: writer's ``repartitionByRange(zval)`` — value-range cuts, no global
#: sort — where the previous NTILE form imposed a row-balanced total
#: order the shipped writer never executes (34 s at sf10 vs a map-only
#: bucket tag here; VERDICT r3 #6).  repartitionByRange samples its
#: bounds to balance rows; fixed equal-width bounds are the
#: deterministic, oracle-replayable stand-in (cells are min/max grid
#: normalized, so they fill their domain ~uniformly and the widths are
#: comparable).
_ZSHIFT_Z = 2 * _ZBITS - 4  # 2^4 = _ZBUCKETS buckets over 2·ZBITS z bits
_ZSHIFT_L = _ZBITS - 4
_ZCELL = (
    "(({x} - min_{x}) * {cells}) DIV (max_{x} - min_{x} + 1)"
)  # exact integer grid cell, Spark form; DuckDB uses // for DIV


def _cell_spark(x: str) -> str:
    return _ZCELL.format(x=x, cells=1 << _ZBITS)


def _cell_duck(x: str) -> str:
    return _ZCELL.format(x=x, cells=1 << _ZBITS).replace(" DIV ", " // ")


@register(
    "q_layout_zorder",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS key, o_custkey AS c,
             CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
                  AS BIGINT) AS d
      FROM orders
    ),
    bounds AS (
      SELECT MIN(c) AS min_c, MAX(c) AS max_c,
             MIN(d) AS min_d, MAX(d) AS max_d
      FROM base
    ),
    cells AS (
      SELECT key, c, d,
             {_cell_duck('c')} AS cc,
             {_cell_duck('d')} AS dc
      FROM base CROSS JOIN bounds
    ),
    z AS (
      SELECT key, c, d, cc, {_z_duck('cc', 'dc')} AS zval FROM cells
    ),
    bucketed AS (
      SELECT 'zorder' AS layout, c, d, (zval >> {_ZSHIFT_Z}) AS bucket
      FROM z
      UNION ALL
      SELECT 'linear' AS layout, c, d, (cc >> {_ZSHIFT_L}) AS bucket
      FROM z
    ),
    spans AS (
      SELECT layout, bucket, COUNT(*) AS n,
             MAX(c) - MIN(c) + 1 AS span_c,
             MAX(d) - MIN(d) + 1 AS span_d
      FROM bucketed GROUP BY layout, bucket
    )
    SELECT layout,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(span_c) AS BIGINT) AS max_span_c,
           CAST(MAX(span_d) AS BIGINT) AS max_span_d,
           CAST(SUM(span_c * n) AS BIGINT) AS weighted_span_c,
           CAST(SUM(span_d * n) AS BIGINT) AS weighted_span_d
    FROM spans
    GROUP BY layout
    ORDER BY layout
    """,
    doc="Z-order (Morton) multi-dimensional clustering, quantified: "
    "orders keyed by bit-interleaved (custkey, order-day) are cut "
    "into {b} contiguous files and compared against a linear "
    "custkey sort on per-file min/max spans of BOTH dimensions — the "
    "statistics file-skipping actually uses. The linear layout gives "
    "tight custkey spans but every file spans the full date range "
    "(zero date pruning); the z-order layout bounds both spans, so "
    "range predicates on either dimension skip files. Both dims are "
    "min/max-normalized onto the same 2^{k} grid with exact integer "
    "arithmetic BEFORE the bit-interleave — unbalanced raw domains "
    "would give the wider dimension every high interleave bit and "
    "destroy clustering on the narrower one. Buckets are the key's "
    "top-4 bits — equal-width value-range cuts, the deterministic "
    "twin of the writer's `repartitionByRange(zval)` (which samples "
    "its bounds) — so the metric plan is scan → map → groupBy with NO "
    "global sort, the same shape the shipped write path "
    "(operators/zorder.py::write_zordered) executes at any scale. "
    "Judge by the WEIGHTED spans (tests pin both weighted spans below "
    "half their domains and the weighted date span at less than half "
    "of linear's).".format(b=_ZBUCKETS, k=_ZBITS),
    tags=("relational", "layout", "scale"),
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_custkey").alias("c"),
        F.expr(
            "CAST(datediff(o_orderdate, TIMESTAMP '1995-01-01') AS BIGINT)"
        ).alias("d"),
    )
    bounds = base.agg(
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
    )
    cells = base.crossJoin(F.broadcast(bounds)).select(
        "key",
        "c",
        "d",
        F.expr(_cell_spark("c")).alias("cc"),
        F.expr(_cell_spark("d")).alias("dc"),
    )
    z = cells.withColumn("zval", F.expr(_z_spark("cc", "dc")))
    bucketed = z.select(
        F.lit("zorder").alias("layout"),
        "c",
        "d",
        F.expr(f"shiftright(zval, {_ZSHIFT_Z})").alias("bucket"),
    ).unionByName(
        z.select(
            F.lit("linear").alias("layout"),
            "c",
            "d",
            F.expr(f"shiftright(cc, {_ZSHIFT_L})").alias("bucket"),
        )
    )
    spans = bucketed.groupBy("layout", "bucket").agg(
        F.count("*").alias("n"),
        (F.max("c") - F.min("c") + 1).alias("span_c"),
        (F.max("d") - F.min("d") + 1).alias("span_d"),
    )
    return (
        spans.groupBy("layout")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.max("span_c").cast("bigint").alias("max_span_c"),
            F.max("span_d").cast("bigint").alias("max_span_d"),
            F.sum(F.expr("span_c * n")).cast("bigint").alias(
                "weighted_span_c"
            ),
            F.sum(F.expr("span_d * n")).cast("bigint").alias(
                "weighted_span_d"
            ),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------- CDC merge

#: Deterministic change stream derived from the snapshot: key mod 10
#: selects deletes (0), updates (1, 2 — totalprice bumped, status→'U'),
#: and inserts (3 — re-keyed clone with status 'N').  Self-derived so
#: both engines construct bit-identical changes; in production the
#: changes table is the (much smaller) CDC feed and is broadcast.
_CDC_SQL = """
WITH changes AS (
  SELECT o_orderkey AS k, 'D' AS op,
         CAST(NULL AS DOUBLE) AS new_price, CAST(NULL AS VARCHAR(8)) AS new_status
  FROM {orders} WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice + 1.0, 'U'
  FROM {orders} WHERE o_orderkey % 10 IN (1, 2)
  UNION ALL
  SELECT o_orderkey + 1000000000, 'I', o_totalprice, 'N'
  FROM {orders} WHERE o_orderkey % 10 = 3
),
merged AS (
  SELECT COALESCE(c.k, s.o_orderkey) AS k,
         CASE WHEN c.op = 'U' THEN c.new_status
              WHEN c.op = 'I' THEN c.new_status
              ELSE s.o_orderstatus END AS status,
         CASE WHEN c.op = 'U' THEN c.new_price
              WHEN c.op = 'I' THEN c.new_price
              ELSE s.o_totalprice END AS price
  FROM {orders} s
  FULL OUTER JOIN changes c ON c.k = s.o_orderkey
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT status,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM merged
GROUP BY status
ORDER BY status
"""


@register(
    "q_cdc_apply_changes",
    oracle=_CDC_SQL.format(orders="orders"),
    doc="MERGE INTO semantics (the Delta/Iceberg upsert) as one "
    "full-outer join: a change stream of deletes, updates, and "
    "inserts applied to the orders snapshot, with the result "
    "checksummed per order status (count + exact DECIMAL price sum). "
    "The change stream is derived deterministically from the snapshot "
    "(key mod 10) so the oracle replays it bit-identically; in "
    "production the CDC feed is far smaller than the snapshot and "
    "broadcasts, making the merge a map-side probe of the snapshot — "
    "here both sides shuffle on the key, the general case. DELETE "
    "drops the matched row, UPDATE takes the change side's values, "
    "INSERT survives the join unmatched — the exact row-level "
    "semantics MERGE compiles to.",
    tags=("relational", "cdc", "join"),
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_cdc"
    )
    return spark.sql(_CDC_SQL.format(orders="orders_cdc"))


# ------------------------------------------------- skew diagnostics

_SKEW_TOPK = 10


@register(
    "q_skew_report_orders",
    oracle=f"""
    WITH counts AS (
      SELECT o_custkey AS key_val, COUNT(*) AS cnt FROM orders
      GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    ),
    top AS (
      SELECT key_val, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key_val)
                  AS INT) AS rk
      FROM counts
    )
    SELECT t.rk, t.key_val, CAST(t.cnt AS BIGINT) AS cnt,
           CAST((t.cnt * 1000000) // x.total AS BIGINT) AS share_ppm,
           x.n_keys, x.total
    FROM top t CROSS JOIN tot x
    WHERE t.rk <= {_SKEW_TOPK}
    ORDER BY t.rk
    """,
    doc="Join-key skew report: the top-{k} hottest o_custkey values "
    "with exact counts and parts-per-million share of all rows, "
    "beside the key cardinality and total — the pre-flight a pipeline "
    "runs before keying a shuffle on a column (decides between plain "
    "hash partitioning, salting (operators/skew.py), and AQE skew "
    "splitting; pairs with q_sketch_join_cardinality's size "
    "estimate). One map-side-combined groupBy; the top-k is a "
    "TakeOrdered heap, never a global sort; the totals reduce to one "
    "broadcast row. Shares are exact integer ppm (cnt·10⁶ DIV total) "
    "— no float division to drift.".format(k=_SKEW_TOPK),
    tags=("relational", "audit", "skew"),
)
def q_skew_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key_val"))
        .agg(F.count("*").alias("cnt"))
    )
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    w = Window.orderBy(F.desc("cnt"), "key_val")
    top = (
        counts.orderBy(F.desc("cnt"), "key_val")
        .limit(_SKEW_TOPK)
        .withColumn("rk", F.row_number().over(w))
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "key_val",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("CAST((cnt * 1000000) DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
            "n_keys",
            "total",
        )
        .orderBy("rk")
    )


# --------------------------------------------------- event-time windows


@register(
    "q_window_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS ws,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ws, event_type
    ORDER BY ws, event_type
    """,
    doc="Tumbling 1-hour event-time window per event_type (Q5 analog, "
    "tumbling case).",
    tags=("window", "time", "streamable"),
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total_value")
        .orderBy("ws", "event_type")
    )


@register(
    "q_window_sliding_10m_5m",
    oracle="""
    WITH buckets AS (
      SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000)
               AS b, value, ts
      FROM events
    ), fanout AS (
      SELECT b AS ws, value FROM buckets
      UNION ALL
      SELECT b - INTERVAL 5 MINUTE AS ws, value FROM buckets
    )
    SELECT ws, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM fanout
    GROUP BY ws
    ORDER BY ws
    """,
    doc="Sliding window 10 min / slide 5 min — the event-time analog of "
    "the reference's reduceByKeyAndWindow (KafkaWordCount.scala:72). "
    "Each row fans out to width/slide = 2 buckets.",
    tags=("window", "time", "sliding", "streamable"),
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "n", "total_value")
        .orderBy("ws")
    )


@register(
    "q_window_trailing_1h",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_1h_value
    FROM events
    ORDER BY user_id, ts, event_id
    """,
    doc="Per-event trailing 1-hour value sum per user — a RANGE frame "
    "over event time (every event sees the true 60-minute lookback, "
    "not a row count). Ordered by integer epoch-µs so the frame bound "
    "is exact integer arithmetic in both engines; DECIMAL sum keeps "
    "the window total order-independent. One shuffle on user_id; the "
    "in-partition range scan is the streaming state-store access "
    "pattern in batch form.",
    tags=("window", "time", "range-frame"),
)
def q_window_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.sum(dec("value")).over(w).cast("double").alias(
                "trailing_1h_value"
            ),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@register(
    "q_window_session_30m",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
    doc="session_window(ts, 30 min) per user — session end = last event "
    "+ gap, matching Spark's merge rule (windows merge while they "
    "overlap; a gap == 30 min starts a new session).",
    tags=("window", "time", "session", "streamable"),
)
def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------- file-format round trips


@register(
    "q_avro_container_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="Avro container-file encode → self-describing decode (schema "
    "discovered from the blobs; reference AvroDatumUtils.scala:15-37). "
    "Round-trip must be byte-faithful, so the oracle is the source "
    "table itself.",
    tags=("formats", "avro"),
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 200)
    )
    encoded = encode_avro_container(docs, "doc_id", "lang", "n_chars")
    return decode_avro_container(encoded).orderBy("doc_id")


_WIRE_SCHEMA = "doc_id BIGINT, lang STRING, n_chars BIGINT"


def _session_temp_path(spark: SparkSession, name: str) -> str:
    """Session-scoped temp dir for file round-trip queries: the Spark
    application id makes the path unique per session, so two
    concurrent runs can't overwrite each other's landing zone mid-read
    (and a pre-existing fixed-name dir in a shared /tmp can't be
    planted ahead of time).  Self-overwriting WITHIN a session is
    still the contract — re-runs land in the same per-session dir."""
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"{name}-{spark.sparkContext.applicationId}"
    )


@register(
    "q_csv_line_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="CSV wire-format round-trip: each row serialized to one CSV "
    "line (to_csv) and parsed back (from_csv) with an explicit schema "
    "— the per-record decode path a CSV-payload Kafka topic needs "
    "(reference T1 decode family). Map-only, codegen, no temp files; "
    "byte-faithful, so the oracle is the source table.",
    tags=("formats", "csv"),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 200)
    )
    wire = docs.select(
        F.to_csv(F.struct("doc_id", "lang", "n_chars")).alias("line")
    )
    return (
        wire.select(
            F.from_csv("line", _WIRE_SCHEMA).alias("r")
        )
        .select("r.doc_id", "r.lang", "r.n_chars")
        .orderBy("doc_id")
    )


@register(
    "q_json_line_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="JSON-lines wire-format round-trip: to_json per row, then "
    "from_json with an explicit schema — the JSON Kafka-payload decode "
    "path (streaming/decode.py uses the same from_json plan under "
    "readStream). Map-only, codegen; oracle is the source table.",
    tags=("formats", "json"),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 200)
    )
    wire = docs.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("line")
    )
    return (
        wire.select(
            F.from_json("line", _WIRE_SCHEMA).alias("r")
        )
        .select("r.doc_id", "r.lang", "r.n_chars")
        .orderBy("doc_id")
    )


@register(
    "q_orc_file_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    doc="ORC file-format round-trip: the slice is written as ORC and "
    "read back through Spark's native vectorized ORC reader — the "
    "columnar-format leg next to the parquet scans every other query "
    "exercises (warehouses routinely carry both). Write → read must "
    "be value-faithful across the type bridge (BIGINT/STRING), so the "
    "oracle is the source table itself. The output lands in a "
    "SESSION-SCOPED self-overwriting temp directory (suffixed with the "
    "Spark application id) so concurrent sessions never clobber each "
    "other's round-trip; at scale this is the same partitioned-"
    "columnar landing-zone layout as the parquet sink, with predicate "
    "pushdown and column pruning intact.",
    tags=("formats", "orc"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 200)
    )
    path = _session_temp_path(spark, "spark_graft_orc_roundtrip")
    docs.write.mode("overwrite").orc(path)
    return spark.read.orc(path).orderBy("doc_id")


# ------------------------------------------- null-aware NOT IN


_NOT_IN_SQL = """
SELECT 'not_in_with_nulls' AS variant, COUNT(*) AS n
FROM {orders}
WHERE o_custkey NOT IN
  (SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END FROM {customer})
UNION ALL
SELECT 'not_in_null_filtered' AS variant, COUNT(*) AS n
FROM {orders}
WHERE o_custkey NOT IN
  (SELECT c_custkey FROM {customer} WHERE c_acctbal < 0)
ORDER BY variant
"""


@register(
    "q_subquery_not_in_null_aware",
    oracle=_NOT_IN_SQL.format(orders="orders", customer="customer"),
    doc="NOT IN under three-valued logic: orders whose customer key is "
    "not in a subquery that CONTAINS NULLs (any NULL makes x NOT IN "
    "(...) never true — the count is 0 by the SQL standard) versus "
    "the NULL-filtered form (the real anti-join count). The classic "
    "silent-wrong-answer trap in pipeline audits. Spark plans the "
    "first leg as a null-aware broadcast anti join "
    "(BroadcastHashJoin isNullAware) — single-key NOT IN stays a "
    "broadcast probe, not the quadratic BroadcastNestedLoopJoin — "
    "and the second as an ordinary broadcast left-anti; both "
    "map-only against the fact at any scale.",
    tags=("relational", "subquery", "join"),
)
def q_subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_nin"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_nin"
    )
    return spark.sql(
        _NOT_IN_SQL.format(orders="orders_nin", customer="customer_nin")
    )


# ------------------------------------------------ PageRank (brands)

#: rank scale (per-node), damping 0.85; base = round(0.15·SCALE).
_PR_SCALE = 1_000_000_000
_PR_BASE = 150_000_000
_PR_ITERS = 3

#: One iteration's update, shared operand order: contributions are
#: exact integer (rank·weight) DIV out_weight; their sum is exact; the
#: damping multiply + round happens once on the exact total.
_PR_STEP = (
    "CAST({base} + CAST(round(0.85 * CAST(s AS DOUBLE)) AS BIGINT) "
    "AS BIGINT)"
)


def _duck_pr_iter(prev: str, out: str) -> str:
    return f"""
      SELECT e.dst AS brand,
             {_PR_STEP.format(base=_PR_BASE)} AS rank_scaled
      FROM (
        SELECT e.dst, CAST(SUM((r.rank_scaled * e.w) // o.ow) AS BIGINT) AS s
        FROM edges e
        JOIN {prev} r ON r.brand = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
      ) e
    """


_PR_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
edges AS (
  SELECT a.brand AS src, b.brand AS dst, COUNT(*) AS w
  FROM items a JOIN items b
    ON a.okey = b.okey AND a.brand <> b.brand
  GROUP BY a.brand, b.brand
),
outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src
),
r0 AS (SELECT src AS brand, CAST({_PR_SCALE} AS BIGINT) AS rank_scaled
       FROM outw),
r1 AS ({_duck_pr_iter('r0', 'r1')}),
r2 AS ({_duck_pr_iter('r1', 'r2')}),
r3 AS ({_duck_pr_iter('r2', 'r3')})
SELECT brand, rank_scaled FROM r3
ORDER BY rank_scaled DESC, brand
"""


@register(
    "q_graph_pagerank_brands",
    oracle=_PR_ORACLE,
    doc="Fixed-iteration PageRank over the brand co-occurrence graph "
    "(edge src→dst weighted by the number of orders containing both "
    "brands; damping 0.85, {it} iterations, per-node scale 10^9, "
    "unnormalized teleport). Every rank is a scaled int64: each "
    "neighbor contribution is the exact integer (rank·w) DIV "
    "out_weight, contributions sum exactly, and the single damping "
    "multiply+round per node per iteration uses identical IEEE "
    "operands — so the full trajectory replays bit-identically in the "
    "oracle (float message passing would drift with partitioning and "
    "engine). Execution is the Pregel pattern as DataFrames: one "
    "broadcast-join + groupBy(dst) per superstep — "
    "vertex-partitioned message passing that scales to graphs where "
    "the edge list is the 100 TB fact (the co-occurrence edge build "
    "is itself the order-bounded pair fan-out of "
    "q_basket_brand_pairs). Dangling nodes are absent by "
    "construction (co-occurrence is symmetric).".format(it=_PR_ITERS),
    tags=("graph", "iterative", "relational"),
)
def q_graph_pagerank_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = track_persist(
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") != F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("src"), F.col("b.brand").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    ranks = outw.select(
        F.col("src").alias("brand"),
        F.lit(_PR_SCALE).cast("bigint").alias("rank_scaled"),
    )
    for _ in range(_PR_ITERS):
        ranks = (
            edges.join(
                F.broadcast(ranks), ranks.brand == edges.src
            )
            .join(F.broadcast(outw), "src")
            .select(
                "dst",
                F.expr("CAST((rank_scaled * w) DIV ow AS BIGINT)").alias(
                    "c"
                ),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
            .select(
                F.col("dst").alias("brand"),
                F.expr(_PR_STEP.format(base=_PR_BASE)).alias(
                    "rank_scaled"
                ),
            )
        )
    return ranks.orderBy(F.desc("rank_scaled"), "brand")
