"""Relational operator surface (SURVEY.md §2.B).

The reference inherits DataFusion 47's full relational operator set via
``SessionStateBuilder::with_default_features()`` (reference:
src/sql/mod.rs:84) and exposes it over scanned tables (reference:
src/sql/postgresql/mod.rs:269,286-348). Spark SQL covers the same
surface natively; each query below exercises one category of that
surface end-to-end (scan → plan → execute) and carries a DuckDB oracle.

Determinism rules for oracle hash-parity (applied on BOTH sides):
- float aggregates rounded to a fixed number of decimals (sum order
  varies with partitioning; rounding removes last-ulp noise),
- integer aggregates cast to BIGINT (DuckDB widens SUM(int) to INT128),
- every LIMIT is preceded by a total order with a unique tiebreak key.

Scale notes are attached per-query where the plan shape matters at
100 TB (broadcast choices, shuffle keys, pushdown expectations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .hashing import md5_prefix_long
from .ranks import ntile_exact
from .registry import register
from .rounding import dround


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Aggregation: GROUP BY + multiple aggregates (TPC-H Q1 shape)
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: single wide scan + partial (map-side) agg on 6 grouping values
    # → tiny shuffle. Filter + 7-column projection push to parquet.
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            dround(F.sum(disc_price), 2).alias("sum_disc_price"),
            dround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            dround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Filter predicates: BETWEEN / IN / LIKE / IS NULL / CASE + projection
# --------------------------------------------------------------------------
@register(
    "q02_filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity,
           CASE WHEN l_discount >= 0.05 THEN 'high' WHEN l_discount > 0 THEN 'low'
                ELSE 'none' END                                   AS disc_band,
           ROUND(l_extendedprice * (1 - l_discount), 2)           AS net_price
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_linestatus LIKE 'F%'
      AND l_shipdate IS NOT NULL
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1998-12-31 00:00:00'
    """,
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: all five predicates are parquet-pushable (min/max + dictionary
    # row-group pruning); no shuffle at all.
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & F.col("l_shipdate").isNotNull()
        & F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1998-12-31").cast("timestamp")
        )
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.when(F.col("l_discount") >= 0.05, "high")
        .when(F.col("l_discount") > 0, "low")
        .otherwise("none")
        .alias("disc_band"),
        dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("net_price"),
    )


# --------------------------------------------------------------------------
# Multi-way equi-join + agg + top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: customer filtered on segment (~1/5) broadcasts into orders;
    # orders⋈lineitem shuffles on orderkey (both huge) — the one necessary
    # shuffle. TopK(10) never materializes the full sort.
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer grows with SF: no forced broadcast — AQE picks BHJ while
        # it fits the threshold and falls back to SMJ beyond it.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# EXISTS correlated subquery → semi join (TPC-H Q4 shape)
# --------------------------------------------------------------------------
@register(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: LEFT SEMI join shuffles on orderkey but emits each order at
    # most once (no row explosion); date filter prunes orders first.
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# 6-table join (TPC-H Q5 shape): broadcast dim chain + one big shuffle
# --------------------------------------------------------------------------
@register(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: region/nation/supplier are classic broadcast dims; the only
    # large-large shuffle is orders⋈lineitem on orderkey. The
    # c_nationkey = s_nationkey residual rides on the supplier join.
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    asia_nations = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    asia_suppliers = supplier.join(
        F.broadcast(asia_nations), supplier.s_nationkey == asia_nations.n_nationkey
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer/supplier grow with SF: leave join strategy to AQE.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            asia_suppliers,
            (li.l_suppkey == asia_suppliers.s_suppkey)
            & (cust.c_nationkey == asia_suppliers.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Single-table global aggregate (TPC-H Q6 shape)
# --------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: pure scan+filter+scalar agg; all predicates pushed, partial
    # aggregation means one double crosses the wire per scan partition.
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        dround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# LEFT OUTER join with null-aware aggregation
# --------------------------------------------------------------------------
@register(
    "q07_left_join_nulls",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT)                                  AS n_customers,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                                     AS n_without_orders,
           ROUND(SUM(COALESCE(o_totalprice, 0)), 2)                  AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q07_left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: customer⋈orders shuffles on custkey; mild skew on hot
    # customers is handled by AQE skew-join splitting.
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_without_orders"
            ),
            dround(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
                "total_spend"
            ),
        )
    )


# --------------------------------------------------------------------------
# FULL OUTER join of two aggregates
# --------------------------------------------------------------------------
@register(
    "q08_full_outer_join",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0)  AS n_cust,
           COALESCE(n_supp, 0)  AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q08_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full_outer").select(
        F.coalesce(c.c_nk, s.s_nk).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


# --------------------------------------------------------------------------
# ANTI join (NOT EXISTS)
# --------------------------------------------------------------------------
@register(
    "q09_anti_join",
    oracle="""
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_idle_customers,
           ROUND(AVG(c_acctbal), 2) AS avg_bal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_idle_customers"),
            dround(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
    )


# --------------------------------------------------------------------------
# SEMI join (IN subquery)
# --------------------------------------------------------------------------
@register(
    "q10_semi_join",
    oracle="""
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    GROUP BY p_brand
    """,
)
def q10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


# --------------------------------------------------------------------------
# Non-equi (theta) join: acctbal band self-join on supplier
# --------------------------------------------------------------------------
@register(
    "q11_theta_band_join",
    oracle="""
    SELECT s2.s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM supplier s1 JOIN supplier s2
      ON s1.s_acctbal > s2.s_acctbal - 10.0
     AND s1.s_acctbal <= s2.s_acctbal
     AND s1.s_suppkey <> s2.s_suppkey
    GROUP BY s2.s_nationkey
    """,
)
def q11_theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale path for a large-large band join: bucketize the band key
    # (floor(acctbal / band_width)) so candidates reduce to a shuffle
    # equi-join on the bucket id + residual filter. b1 ∈ (b2-10, b2]
    # implies floor(b1/10) ∈ {floor(b2/10)-1, floor(b2/10)}, so each s2
    # row probes exactly two buckets. No broadcast, no nested loop.
    s1 = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k1"),
        F.col("s_acctbal").alias("b1"),
        F.floor(F.col("s_acctbal") / 10.0).alias("bk"),
    )
    s2 = (
        _t(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("k2"),
            F.col("s_acctbal").alias("b2"),
            F.col("s_nationkey").alias("nationkey"),
        )
        .withColumn(
            "bk",
            F.explode(
                F.array(
                    F.floor(F.col("b2") / 10.0) - 1,
                    F.floor(F.col("b2") / 10.0),
                )
            ),
        )
    )
    cond = (F.col("b1") > F.col("b2") - 10.0) & (F.col("b1") <= F.col("b2")) & (
        F.col("k1") != F.col("k2")
    )
    return (
        s1.join(s2, on="bk")
        .filter(cond)
        .groupBy("nationkey")
        .agg(F.count("*").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# HAVING + COUNT(DISTINCT)
# --------------------------------------------------------------------------
@register(
    "q12_having_distinct",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           ROUND(SUM(l_quantity), 2)                 AS total_qty,
           CAST(COUNT(*) AS BIGINT)                  AS n_lines
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 400
    """,
)
def q12_having_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: count(distinct) expands to a two-phase agg (partial distinct
    # per partition, then merge) — Catalyst does this automatically.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            dround(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count("*").alias("n_lines"),
        )
        .filter(F.col("n_lines") > 400)
    )


# --------------------------------------------------------------------------
# Statistical aggregates: stddev / variance / corr / covar
# --------------------------------------------------------------------------
@register(
    "q13_stats_aggregates",
    oracle="""
    SELECT c_mktsegment,
           ROUND(STDDEV_SAMP(o_totalprice), 2) AS sd_price,
           ROUND(VAR_POP(o_totalprice), 2)     AS var_price,
           ROUND(CORR(c_acctbal, o_totalprice), 4)      AS bal_price_corr,
           ROUND(COVAR_SAMP(c_acctbal, o_totalprice), 2) AS bal_price_covar
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q13_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            dround(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
            dround(F.var_pop("o_totalprice"), 2).alias("var_price"),
            dround(F.corr("c_acctbal", "o_totalprice"), 4).alias("bal_price_corr"),
            dround(F.covar_samp("c_acctbal", "o_totalprice"), 2).alias("bal_price_covar"),
        )
    )


# --------------------------------------------------------------------------
# ROLLUP with GROUPING()
# --------------------------------------------------------------------------
@register(
    "q14_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


# --------------------------------------------------------------------------
# CUBE
# --------------------------------------------------------------------------
@register(
    "q15_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q15_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total"),
    )


# --------------------------------------------------------------------------
# GROUPING SETS (SQL path)
# --------------------------------------------------------------------------
@register(
    "q16_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               -- binary-double rounding (matches DuckDB ROUND; Spark's
               -- ROUND is decimal-string-based — see rounding.py)
               CAST(SIGN(SUM(l_extendedprice))
                    * FLOOR(ABS(SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0
                    AS DOUBLE) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --------------------------------------------------------------------------
# Window: ranking family (row_number/rank/dense_rank/ntile/lag/lead)
# --------------------------------------------------------------------------
@register(
    "q17_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER()  OVER w AS rn,
             RANK()        OVER w AS rnk,
             DENSE_RANK()  OVER w AS drnk,
             NTILE(4)      OVER w AS quartile,
             ROUND(COALESCE(LAG(c_acctbal)  OVER w, -1), 2) AS prev_bal,
             ROUND(COALESCE(LEAD(c_acctbal) OVER w, -1), 2) AS next_bal
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    ) t WHERE rn <= 5
    """,
)
def q17_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: one shuffle on the partition key; top-5-per-group via
    # row_number is the standard top-k-per-group pattern.
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            dround(F.coalesce(F.lag("c_acctbal").over(w), F.lit(-1.0)), 2).alias("prev_bal"),
            dround(F.coalesce(F.lead("c_acctbal").over(w), F.lit(-1.0)), 2).alias("next_bal"),
        )
        .filter(F.col("rn") <= 5)
    )


# --------------------------------------------------------------------------
# Window: running aggregates with ROWS frame + first/last value
# --------------------------------------------------------------------------
@register(
    "q18_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)         AS avg3,
           ROUND(FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey), 2)                 AS first_price,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)      AS n_orders
    FROM orders
    """,
)
def q18_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wo = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        dround(F.sum("o_totalprice").over(wo.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_spend"
        ),
        dround(F.avg("o_totalprice").over(wo.rowsBetween(-2, 0)), 2).alias("avg3"),
        dround(F.first("o_totalprice").over(wo), 2).alias("first_price"),
        F.count("*").over(W.partitionBy("o_custkey")).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Window: RANGE frame over a numeric ordering
# --------------------------------------------------------------------------
@register(
    "q19_window_range_frame",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           CAST(COUNT(*) OVER (ORDER BY s_acctbal
                RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS peers_within_100
    FROM supplier
    """,
)
def q19_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PySpark's rangeBetween only accepts integer offsets; a fractional
    # RANGE frame needs the SQL form. Scale: a global ORDER BY window is
    # single-partition — fine for a dimension table; for fact-scale data
    # partition it by a bucket key.
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT s_suppkey, s_acctbal,
               CAST(COUNT(*) OVER (ORDER BY s_acctbal
                    RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS peers_within_100
        FROM supplier
        """
    )


# --------------------------------------------------------------------------
# Set operations: UNION / UNION ALL / INTERSECT / EXCEPT
# --------------------------------------------------------------------------
@register(
    "q20_set_operations",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'),
         y97 AS (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                   AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
         neg AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0)
    SELECT 'both_years' AS tag, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM y96 INTERSECT SELECT k FROM y97)
    UNION ALL
    SELECT '96_only' AS tag, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM y96 EXCEPT SELECT k FROM y97)
    UNION ALL
    SELECT 'either_or_neg' AS tag, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM y96 UNION SELECT k FROM y97 UNION SELECT k FROM neg)
    """,
)
def q20_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select(F.col("o_custkey").alias("k"))
            .distinct()
        )

    y96, y97 = year_keys(1996), year_keys(1997)
    neg = cust.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("k"))
    both = y96.intersect(y97).agg(F.count("*").alias("n")).select(
        F.lit("both_years").alias("tag"), "n"
    )
    only96 = y96.exceptAll(y97.distinct()).distinct().agg(F.count("*").alias("n")).select(
        F.lit("96_only").alias("tag"), "n"
    )
    either = (
        y96.union(y97).union(neg).distinct().agg(F.count("*").alias("n")).select(
            F.lit("either_or_neg").alias("tag"), "n"
        )
    )
    return both.unionAll(only96).unionAll(either)


# --------------------------------------------------------------------------
# Scalar subqueries (uncorrelated + correlated)
# --------------------------------------------------------------------------
@register(
    "q21_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_retailprice,
           ROUND(p_retailprice - (SELECT AVG(p_retailprice) FROM part), 2) AS above_avg
    FROM part
    WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part) + 40
    """,
)
def q21_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark-first: the uncorrelated scalar subquery is a broadcast of a
    # 1-row aggregate — expressed via crossJoin(agg), which Catalyst plans
    # as a broadcast nested loop with a single-row build side.
    part = _t(spark, sf_dir, "part")
    avg_price = part.agg(F.avg("p_retailprice").alias("avg_price"))
    return (
        part.crossJoin(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > F.col("avg_price") + 40)
        .select(
            "p_partkey",
            "p_retailprice",
            dround(F.col("p_retailprice") - F.col("avg_price"), 2).alias("above_avg"),
        )
    )


@register(
    "q22_correlated_subquery",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) * 1.5 FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def q22_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark-first decorrelation: the correlated aggregate is a group-by on
    # the correlation key joined back — exactly what DataFusion's
    # decorrelation rules produce internally.
    cust = _t(spark, sf_dir, "customer")
    per_nation = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        (F.avg("c_acctbal") * 1.5).alias("bar")
    )
    return (
        cust.join(F.broadcast(per_nation), cust.c_nationkey == per_nation.nk)
        .filter(F.col("c_acctbal") > F.col("bar"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


# --------------------------------------------------------------------------
# CTEs (WITH) — TPC-H Q15 shape: supplier(s) with max revenue
# --------------------------------------------------------------------------
@register(
    "q23_cte_max_revenue",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q23_cte_max_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "supplier"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 -- binary-double rounding (matches DuckDB ROUND)
                 CAST(SIGN(SUM(l_extendedprice * (1 - l_discount)))
                      * FLOOR(ABS(SUM(l_extendedprice * (1 - l_discount)))
                              * 100.0 + 0.5) / 100.0 AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


# --------------------------------------------------------------------------
# Scalar string functions
# --------------------------------------------------------------------------
@register(
    "q24_string_functions",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name)                                  AS lname,
           UPPER(p_brand)                                 AS ubrand,
           TRIM(CONCAT('  ', p_type, '  '))               AS trimmed,
           SUBSTR(p_name, 1, 5)                           AS prefix5,
           REPLACE(p_type, 'ECONOMY', 'ECO')              AS replaced,
           CAST(LENGTH(p_name) AS BIGINT)                 AS name_len,
           CAST(STRPOS(p_brand, '#') AS BIGINT)           AS hash_pos,
           SPLIT_PART(p_brand, '#', 2)                    AS brand_num,
           REGEXP_EXTRACT(p_brand, '#([0-9]+)', 1)        AS brand_num_re,
           CONCAT(p_brand, '/', p_type)                   AS brand_type,
           LPAD(CAST(p_size AS VARCHAR), 4, '0')          AS padded_size
    FROM part
    """,
)
def q24_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("trimmed"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("replaced"),
        F.length("p_name").cast("long").alias("name_len"),
        F.instr(F.col("p_brand"), "#").cast("long").alias("hash_pos"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
        F.regexp_extract(F.col("p_brand"), "#([0-9]+)", 1).alias("brand_num_re"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
    )


# --------------------------------------------------------------------------
# Scalar math functions
# --------------------------------------------------------------------------
@register(
    "q25_math_functions",
    oracle="""
    SELECT o_orderkey,
           ROUND(ABS(o_totalprice - 100000), 2)      AS abs_diff,
           CAST(CEIL(o_totalprice)  AS BIGINT)       AS ceil_price,
           CAST(FLOOR(o_totalprice) AS BIGINT)       AS floor_price,
           ROUND(o_totalprice, 1)                    AS round1,
           ROUND(POWER(o_totalprice / 100000.0, 2), 6) AS pw,
           ROUND(SQRT(o_totalprice), 6)              AS sq,
           ROUND(EXP(o_totalprice / 1000000.0), 6)   AS ex,
           ROUND(LN(o_totalprice), 6)                AS lnp,
           ROUND(LOG10(o_totalprice), 6)             AS lg10,
           CAST(o_orderkey % 7 AS BIGINT)            AS mod7,
           CAST(SIGN(o_totalprice - 100000.0) AS BIGINT) AS sgn
    FROM orders
    """,
)
def q25_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        dround(F.abs(p - 100000), 2).alias("abs_diff"),
        F.ceil(p).alias("ceil_price"),
        F.floor(p).alias("floor_price"),
        dround(p, 1).alias("round1"),
        dround(F.pow(p / 100000.0, 2), 6).alias("pw"),
        dround(F.sqrt(p), 6).alias("sq"),
        dround(F.exp(p / 1000000.0), 6).alias("ex"),
        dround(F.log(p), 6).alias("lnp"),
        dround(F.log10(p), 6).alias("lg10"),
        (F.col("o_orderkey") % 7).cast("long").alias("mod7"),
        F.signum(p - 100000.0).cast("long").alias("sgn"),
    )


# --------------------------------------------------------------------------
# Date/time functions (superset of reference: real timestamp columns)
# --------------------------------------------------------------------------
@register(
    "q26_datetime_functions",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(EXTRACT(YEAR  FROM o_orderdate) AS BIGINT) AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT)                   AS n_orders,
           ROUND(SUM(o_totalprice), 2)                AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q26_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    return orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(
        F.count("*").alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q27_date_diff_interval",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(DATE_DIFF('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def q27_date_diff_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias(
                "ship_delay_days"
            ),
        )
    )


# --------------------------------------------------------------------------
# CASE / CAST / coercion
# --------------------------------------------------------------------------
@register(
    "q28_case_cast",
    oracle="""
    SELECT c_custkey,
           CAST(c_custkey AS VARCHAR)                       AS key_str,
           CAST(CAST(c_custkey AS VARCHAR) AS BIGINT)       AS key_roundtrip,
           CAST(FLOOR(c_acctbal) AS BIGINT)                 AS bal_floor,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'regular'
                ELSE 'premium' END                          AS tier,
           (c_acctbal > 0)                                  AS is_positive,
           CAST('123.5' AS DOUBLE) + c_acctbal * 0          AS parsed_const
    FROM customer
    """,
)
def q28_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_custkey").cast("string").cast("long").alias("key_roundtrip"),
        F.floor(F.col("c_acctbal")).cast("long").alias("bal_floor"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "regular")
        .otherwise("premium")
        .alias("tier"),
        (F.col("c_acctbal") > 0).alias("is_positive"),
        (F.lit("123.5").cast("double") + F.col("c_acctbal") * 0).alias("parsed_const"),
    )


# --------------------------------------------------------------------------
# DISTINCT projection
# --------------------------------------------------------------------------
@register(
    "q29_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem WHERE l_quantity <= 5
    """,
)
def q29_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 5)
    return li.select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("long").alias("qty")
    ).distinct()


# --------------------------------------------------------------------------
# Top-K per group (window pattern)
# --------------------------------------------------------------------------
@register(
    "q30_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) t WHERE rk <= 3
    """,
)
def q30_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------------
# PIVOT
# --------------------------------------------------------------------------
@register(
    "q31_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_final
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q31_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dround(F.sum("l_quantity"), 2))
    )
    return pivoted.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_open"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_final"),
    )


# --------------------------------------------------------------------------
# ORDER BY with NULLS placement + LIMIT/OFFSET
# --------------------------------------------------------------------------
@register(
    "q32_sort_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_orderpriority ASC NULLS LAST, o_totalprice DESC NULLS FIRST, o_orderkey
    LIMIT 25 OFFSET 10
    """,
)
def q32_sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Postgres-default null ordering made explicit (reference default:
    # NULLS LAST on ASC, NULLS FIRST on DESC — SURVEY §2.B sort row).
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(
            F.col("o_orderpriority").asc_nulls_last(),
            F.col("o_totalprice").desc_nulls_first(),
            F.col("o_orderkey"),
        )
        .offset(10)
        .limit(25)
    )


# --------------------------------------------------------------------------
# IN / NOT IN subqueries
# --------------------------------------------------------------------------
@register(
    "q33_in_subquery",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
    GROUP BY o_orderstatus
    """,
)
def q33_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    debtors = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    bigqty = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        orders.join(debtors, orders.o_custkey == debtors.c_custkey, "left_semi")
        .join(bigqty, orders.o_orderkey == bigqty.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# UNION ALL with type coercion + dedup count (market share shape)
# --------------------------------------------------------------------------
@register(
    "q34_union_all_agg",
    oracle="""
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(val), 2) AS total
    FROM (
      SELECT 'order' AS src, o_totalprice AS val FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT 'item' AS src, l_extendedprice AS val FROM lineitem WHERE l_returnflag = 'R'
    )
    GROUP BY src
    """,
)
def q34_union_all_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.lit("order").alias("src"), F.col("o_totalprice").alias("val"))
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.lit("item").alias("src"), F.col("l_extendedprice").alias("val"))
    )
    return o.unionAll(l).groupBy("src").agg(
        F.count("*").alias("n"), dround(F.sum("val"), 2).alias("total")
    )


# --------------------------------------------------------------------------
# Market share (TPC-H Q8 shape): deep join tree + conditional aggregation
# --------------------------------------------------------------------------
@register(
    "q35_market_share",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN n2.n_name = 'CHINA'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY 1
    """,
)
def q35_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = _t(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer/supplier scale with SF (no hint); nation/region are O(1).
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        dround(
            F.sum(F.when(F.col("n2.n_name") == "CHINA", vol).otherwise(0.0)) / F.sum(vol),
            6,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Returned-item revenue (TPC-H Q10 shape): join + agg + top-20
# --------------------------------------------------------------------------
@register(
    "q36_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q36_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Unpivot via stack()
# --------------------------------------------------------------------------
@register(
    "q37_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
      FROM customer
    ) WHERE val > 9000
    """,
)
def q37_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.selectExpr(
            "c_custkey",
            "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE))"
            " AS (metric, val)",
        )
        .filter(F.col("val") > 9000)
    )


# --------------------------------------------------------------------------
# FILTER-clause conditional aggregation
# --------------------------------------------------------------------------
@register(
    "q38_filtered_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
               AS n_urgent,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)
               AS urgent_total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q38_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(SIGN(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'))
                    * FLOOR(ABS(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'))
                            * 100.0 + 0.5) / 100.0 AS DOUBLE) AS urgent_total
        FROM orders
        GROUP BY o_orderstatus
        """
    )


# --------------------------------------------------------------------------
# Null-safe equality + NULLIF/COALESCE/LEAST/GREATEST
# --------------------------------------------------------------------------
@register(
    "q39_null_functions",
    oracle="""
    WITH t AS (
      SELECT c_custkey,
             NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
             c_acctbal
      FROM customer
    )
    SELECT CAST(COUNT(*) FILTER (WHERE seg_or_null IS NOT DISTINCT FROM NULL)
                AS BIGINT)                                        AS n_building,
           CAST(COUNT(*) FILTER (WHERE seg_or_null IS DISTINCT FROM NULL)
                AS BIGINT)                                        AS n_other,
           ROUND(SUM(COALESCE(c_acctbal, 0)), 2)                  AS total_bal,
           ROUND(MAX(LEAST(c_acctbal, 5000.0)), 2)                AS max_capped,
           ROUND(MIN(GREATEST(c_acctbal, -100.0)), 2)             AS min_floored
    FROM t
    """,
)
def q39_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return cust.select(
        seg.alias("seg_or_null"), "c_acctbal"
    ).agg(
        F.count(F.when(F.col("seg_or_null").eqNullSafe(F.lit(None)), 1)).alias(
            "n_building"
        ),
        F.count(F.when(~F.col("seg_or_null").eqNullSafe(F.lit(None)), 1)).alias(
            "n_other"
        ),
        dround(F.sum(F.coalesce(F.col("c_acctbal"), F.lit(0.0))), 2).alias("total_bal"),
        dround(F.max(F.least(F.col("c_acctbal"), F.lit(5000.0))), 2).alias("max_capped"),
        dround(F.min(F.greatest(F.col("c_acctbal"), F.lit(-100.0))), 2).alias(
            "min_floored"
        ),
    )


# --------------------------------------------------------------------------
# EXISTS with correlated inequality (non-equi correlation)
# --------------------------------------------------------------------------
@register(
    "q40_exists_inequality",
    oracle="""
    SELECT s_suppkey, s_acctbal
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_nationkey = s.s_nationkey
                    AND c.c_acctbal > s.s_acctbal + 1000)
    """,
)
def q40_exists_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    return (
        supp.join(
            cust,
            (cust.c_nationkey == supp.s_nationkey)
            & (cust.c_acctbal > supp.s_acctbal + 1000),
            "left_semi",
        )
        .select("s_suppkey", "s_acctbal")
    )


# --------------------------------------------------------------------------
# Recursive CTE (DataFusion 47 supports; Spark 4 gained WITH RECURSIVE)
# --------------------------------------------------------------------------
@register(
    "q41_recursive_cte",
    oracle="""
    WITH RECURSIVE months (m) AS (
      SELECT 1
      UNION ALL
      SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT CAST(m AS BIGINT) AS month,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM months LEFT JOIN orders
      ON EXTRACT(MONTH FROM o_orderdate) = m
     AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
     AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY m
    """,
)
def q41_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE months (m) AS (
          SELECT 1
          UNION ALL
          SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT CAST(m AS BIGINT) AS month,
               COUNT(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON MONTH(o_orderdate) = m
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY m
        """
    )


# --------------------------------------------------------------------------
# RIGHT OUTER join (explicit; planner may flip to left — semantics checked)
# --------------------------------------------------------------------------
@register(
    "q42_right_join",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
)
def q42_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey, "right")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


# --------------------------------------------------------------------------
# CROSS join (explicit cartesian of two dims)
# --------------------------------------------------------------------------
@register(
    "q43_cross_join",
    oracle="""
    SELECT r.r_name, n.n_name,
           (r.r_regionkey = n.n_regionkey) AS is_home_region
    FROM region r CROSS JOIN nation n
    """,
)
def q43_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    return region.crossJoin(nation).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home_region"),
    )


# --------------------------------------------------------------------------
# Window: distribution family (percent_rank / cume_dist / nth_value)
# --------------------------------------------------------------------------
@register(
    "q44_window_distribution",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST()    OVER w, 6) AS cd,
           ROUND(NTH_VALUE(s_acctbal, 2) OVER (PARTITION BY s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_highest_bal
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def q44_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        dround(F.percent_rank().over(w), 6).alias("pr"),
        dround(F.cume_dist().over(w), 6).alias("cd"),
        dround(F.nth_value("s_acctbal", 2).over(w_full), 2).alias("second_highest_bal"),
    )


# --------------------------------------------------------------------------
# Pattern matching: LIKE / ILIKE / NOT LIKE / regexp
# --------------------------------------------------------------------------
@register(
    "q45_pattern_matching",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%steel%'
       OR p_name ILIKE '%COPPER%'
       OR (p_type NOT LIKE 'SMALL%' AND regexp_matches(p_name, 'g(ree|o)l?d'))
    """,
)
def q45_pattern_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%steel%")
        | F.col("p_name").ilike("%COPPER%")
        | (~F.col("p_type").like("SMALL%") & F.col("p_name").rlike("g(ree|o)l?d"))
    ).select("p_partkey", "p_name", "p_type")


# --------------------------------------------------------------------------
# Correlated aggregate subquery (TPC-H Q17 shape): small-quantity orders
# --------------------------------------------------------------------------
@register(
    "q46_below_avg_quantity",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.3 * AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q46_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decorrelated: per-part average joined back — one shuffle on
    # partkey for the aggregate, then a broadcast-or-shuffle join.
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.3).alias("bar")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < F.col("bar"))
        .agg(
            dround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Global-share HAVING (TPC-H Q11 shape): suppliers above a revenue share
# --------------------------------------------------------------------------
@register(
    "q47_supplier_share",
    oracle="""
    SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(l_extendedprice * (1 - l_discount)) >
           (SELECT SUM(l_extendedprice * (1 - l_discount)) * 0.011 FROM lineitem)
    """,
)
def q47_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_supp = li.groupBy("l_suppkey").agg(rev.alias("raw_revenue"))
    total = li.agg((rev * 0.011).alias("bar"))
    return (
        per_supp.crossJoin(F.broadcast(total))
        .filter(F.col("raw_revenue") > F.col("bar"))
        .select("l_suppkey", dround("raw_revenue", 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Multiset set-ops: EXCEPT ALL / INTERSECT ALL (bag semantics)
# --------------------------------------------------------------------------
@register(
    "q48_multiset_ops",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_linestatus = 'F')
    SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    """,
)
def q48_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("k"))
    ex = a.exceptAll(b).agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    inter = a.intersectAll(b).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    return ex.unionAll(inter)


# --------------------------------------------------------------------------
# LATERAL correlated subquery in FROM (top-n per row)
# --------------------------------------------------------------------------
@register(
    "q49_lateral_join",
    oracle="""
    SELECT n_name, s.s_suppkey, s.s_acctbal
    FROM nation, LATERAL (
      SELECT s_suppkey, s_acctbal FROM supplier
      WHERE s_nationkey = n_nationkey
      ORDER BY s_acctbal DESC, s_suppkey LIMIT 2
    ) s
    """,
)
def q49_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("nation", "supplier"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n_name, s.s_suppkey, s.s_acctbal
        FROM nation, LATERAL (
          SELECT s_suppkey, s_acctbal FROM supplier
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey LIMIT 2
        ) s
        """
    )


# --------------------------------------------------------------------------
# x05: width-bucket histogram of order totals.
#
# Fixed-width binning via row-local arithmetic (floor(x/width), capped at
# the last bucket) followed by one 10-group aggregation — map-side
# partials make this a near-zero-shuffle full-table profile at any
# scale. Bucket boundaries are exact: x/50000.0 and floor are IEEE-754
# operations identical in Spark and DuckDB.
# --------------------------------------------------------------------------
@register(
    "x05_histogram",
    oracle="""
    SELECT bucket,
           CAST(bucket * 50000.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 50000.0 AS DOUBLE) AS hi,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bucket
      FROM orders
    )
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def x05_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long"), F.lit(9).cast("long")
    )
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("lo"),
            ((F.col("bucket") + 1) * 50000.0).alias("hi"),
            "cnt",
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# q51: suppliers who kept orders waiting (TPC-H Q21 shape, adapted: the
# fixture has no commit/receipt dates, so "late" = shipped more than 60
# days after the order date). The oracle keeps the classic doubly-
# correlated EXISTS / NOT EXISTS formulation; the Spark plan re-expresses
# it as two aggregations — per-(order, supplier) late-item counts, then
# per-order qualification (>=2 distinct suppliers, exactly one of them
# late) — which is the decorrelated plan an optimizer would pick anyway.
#
# Scale: both aggregations shuffle on l_orderkey (natural, skew-free
# key); the final count shuffles on s_suppkey (bounded by supplier
# cardinality). No correlated per-row subquery execution anywhere.
# --------------------------------------------------------------------------
@register(
    "q51_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    """,
)
def q51_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    tagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .cast("long")
        .alias("late"),
    )
    per_supp = tagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").alias("late_items")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.count(F.when(F.col("late_items") > 0, 1)).alias("n_late_supp"),
        F.max(
            F.when(
                F.col("late_items") > 0,
                F.struct(F.col("l_suppkey"), F.col("late_items")),
            )
        ).alias("sole_late"),
    )
    waits = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("sole_late.l_suppkey").alias("s_suppkey"))
        .agg(F.sum("sole_late.late_items").alias("numwait"))
    )
    return waits.join(supplier, "s_suppkey").select("s_name", "numwait")


# --------------------------------------------------------------------------
# q52: dormant high-balance customers (TPC-H Q22 shape, adapted: the
# fixture has no phone country codes, so segmentation is c_mktsegment).
# Scalar subquery (global positive-balance average) + NOT EXISTS
# anti-join against orders.
#
# Scale: the scalar average is a 1-row broadcast (O(1) regardless of
# table size — broadcasting it is always safe); the anti-join shuffles
# on custkey; final agg has ~segments groups with map-side partials.
# --------------------------------------------------------------------------
@register(
    "q52_dormant_customers",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT ROUND(AVG(c_acctbal), 6) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
)
def q52_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "Dormant" = no order since the cutoff (every fixture customer has
    # *some* order, so a plain no-orders predicate would be vacuous).
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select("o_custkey")
    )
    # Rounded before the boundary compare (repo convention, cf. e14/q21):
    # Spark's float avg is fold-order dependent and can differ from
    # DuckDB's at the last ulp, flipping customers sitting on the edge.
    pos_avg = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(dround(F.avg("c_acctbal"), 6).alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(pos_avg))  # 1-row scalar: always broadcastable
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("numcust"),
            dround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# q53: conditional / argmax aggregate family — max_by, min_by,
# bool_and, bool_or, count_if, and an ordered string_agg. Ties on the
# argmax value are broken by the name itself (both engines aggregate a
# (value, name) struct and extract the name), so the result is
# deterministic under any partitioning.
#
# Scale: one groupBy over a dimension-bounded key with map-side
# partials; the string_agg output is O(group size) — a profile query
# for dimension tables, not a fact-table reduction.
# --------------------------------------------------------------------------
@register(
    "q53_argmax_aggregates",
    oracle="""
    SELECT s_nationkey,
           (max(struct_pack(a := s_acctbal, n := s_name))).n AS richest,
           (min(struct_pack(a := s_acctbal, n := s_name))).n AS poorest,
           bool_and(s_acctbal > 0) AS all_positive,
           bool_or(s_acctbal > 9000) AS any_rich,
           CAST(count_if(s_acctbal < 0) AS BIGINT) AS n_negative,
           string_agg(s_name, ',' ORDER BY s_name) AS member_names
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q53_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    tie_key = F.struct(F.col("s_acctbal").alias("a"), F.col("s_name").alias("n"))
    return supp.groupBy("s_nationkey").agg(
        F.max_by("s_name", tie_key).alias("richest"),
        F.min_by("s_name", tie_key).alias("poorest"),
        F.bool_and(F.col("s_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("s_acctbal") > 9000).alias("any_rich"),
        F.count_if(F.col("s_acctbal") < 0).alias("n_negative"),
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
            "member_names"
        ),
    )


# --------------------------------------------------------------------------
# q54: bitwise expression + aggregate family — &, |, ^, shifts at the
# row level and bit_and/bit_or/bit_xor as aggregates (flag-mask
# rollups: "which permission bits hold across the whole group").
#
# Scale: pure codegen row expressions into a map-side-partial group agg
# on a bounded key — same near-zero-shuffle profile as q01.
# --------------------------------------------------------------------------
@register(
    "q54_bitwise_aggregates",
    oracle="""
    SELECT s_nationkey,
           CAST(bit_and(s_suppkey) AS BIGINT)        AS keys_and,
           CAST(bit_or(s_suppkey) AS BIGINT)         AS keys_or,
           CAST(bit_xor(s_suppkey) AS BIGINT)        AS keys_xor,
           CAST(bit_or(s_suppkey & 7) AS BIGINT)     AS low_bits_or,
           CAST(SUM((s_suppkey >> 2) & 1) AS BIGINT) AS third_bit_pop
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q54_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return supp.groupBy("s_nationkey").agg(
        F.bit_and(k).alias("keys_and"),
        F.bit_or(k).alias("keys_or"),
        F.bit_xor(k).alias("keys_xor"),
        F.bit_or(k.bitwiseAND(F.lit(7))).alias("low_bits_or"),
        F.sum(F.shiftright(k, 2).bitwiseAND(F.lit(1))).alias("third_bit_pop"),
    )


# --------------------------------------------------------------------------
# q55: NTILE decile profile — bucket all orders into 10 equal-frequency
# tiles by total price (deterministic: the window order carries the
# unique orderkey tiebreak) and profile each tile. Completes the window
# function family (rank/dense_rank/percent_rank/cume_dist/nth_value are
# covered by q17/q44).
#
# Scale: a bare NTILE window (no PARTITION BY) would collapse every
# order row onto ONE task (single-partition WindowExec).  Instead the
# exact tile comes from ranks.ntile_exact: range-partition on the sort
# key (ordered parallel partitions), per-partition offsets (one row per
# partition to the driver — the dml.assign_serials pattern), then the
# exact piecewise NTILE formula on the global rank.  Same hash-exact
# output, fully distributed.  The per-tile profile is a bounded
# 10-group aggregation.
# --------------------------------------------------------------------------
@register(
    "q55_ntile_deciles",
    oracle="""
    WITH tiled AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM tiled
    GROUP BY decile
    """,
)
def q55_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    tiled = ntile_exact(orders, 10, ["o_totalprice", "o_orderkey"], "decile")
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            dround(F.min("o_totalprice"), 2).alias("lo"),
            dround(F.max("o_totalprice"), 2).alias("hi"),
            dround(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# q56: relational division — "suppliers whose RETURNED items cover
# every part size". The classic FOR ALL query shape (DataFusion
# expresses it the same way: a distinct pair projection, a per-group
# count, and a scalar universe count; no direct division operator
# exists in either engine).
#
# Scale: the distinct (suppkey, mfgr) projection is the only fact-sized
# shuffle and it map-side-combines to |suppliers| x |mfgrs| rows before
# exchange; the universe count is a 1-row broadcast. HAVING runs on the
# already-aggregated side — nothing quadratic anywhere.
# --------------------------------------------------------------------------
@register(
    "q56_relational_division",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT l_suppkey, p_size
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_returnflag = 'R'
    ),
    univ AS (SELECT COUNT(DISTINCT p_size) AS n_sizes FROM part)
    SELECT l_suppkey AS s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_covered
    FROM sp, univ
    GROUP BY l_suppkey, univ.n_sizes
    HAVING COUNT(*) = univ.n_sizes
    """,
)
def q56_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    part = _t(spark, sf_dir, "part")
    sp = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .select("l_suppkey", "p_size")
        .distinct()
    )
    univ = part.agg(F.count_distinct("p_size").alias("n_sizes"))
    return (
        sp.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_covered"))
        .join(F.broadcast(univ))  # 1-row scalar universe
        .filter(F.col("n_covered") == F.col("n_sizes"))
        .select(F.col("l_suppkey").alias("s_suppkey"), "n_covered")
    )


# --------------------------------------------------------------------------
# q57: ordered-set aggregates — exact interpolated median /
# percentile_cont and a DETERMINISTIC mode (max count, smallest value
# breaks ties; both engines' native mode() leaves ties unspecified, so
# it is recomputed as an argmax over per-value counts instead).
#
# Scale: the mode path is two hash aggregations (value counts
# map-side-combine before the (group, value) shuffle, then an argmax
# per group); median/percentile_cont need a per-group sort, which Spark
# runs as a single exchange on the 6-row group key — the group count,
# not the fact count, bounds the final state.
# --------------------------------------------------------------------------
@register(
    "q57_ordered_set_aggs",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_linestatus, l_quantity AS v, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2, 3
    ),
    modes AS (
      SELECT l_returnflag, l_linestatus, v AS mode_qty
      FROM (
        SELECT l_returnflag, l_linestatus, v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                                  ORDER BY c DESC, v ASC) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    quant AS (
      SELECT l_returnflag, l_linestatus,
             ROUND(median(l_quantity), 6)                   AS median_qty,
             ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
             ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
      FROM lineitem GROUP BY 1, 2
    )
    SELECT q.l_returnflag, q.l_linestatus,
           m.mode_qty, q.median_qty, q.p25_price, q.p75_price
    FROM quant q
    JOIN modes m USING (l_returnflag, l_linestatus)
    """,
)
def q57_ordered_set_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy("l_returnflag", "l_linestatus", "l_quantity").agg(
        F.count("*").alias("c")
    )
    modes = (
        counts.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.max(
                F.struct(F.col("c"), (-F.col("l_quantity")).alias("neg_v"))
            ).alias("m")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (-F.col("m.neg_v")).alias("mode_qty"),
        )
    )
    # single percentile buffer for both price quartiles (array form)
    quant = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        dround(F.median("l_quantity"), 6).alias("median_qty"),
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.75D))"
        ).alias("qp"),
    ).select(
        "l_returnflag",
        "l_linestatus",
        "median_qty",
        dround(F.col("qp")[0], 6).alias("p25_price"),
        dround(F.col("qp")[1], 6).alias("p75_price"),
    )
    return quant.join(modes, ["l_returnflag", "l_linestatus"]).select(
        "l_returnflag",
        "l_linestatus",
        "mode_qty",
        "median_qty",
        "p25_price",
        "p75_price",
    )


# --------------------------------------------------------------------------
# q58: null-aware NOT IN anti-join — the three-valued-logic semantics
# DataFusion inherits from SQL (ref exposes the full predicate surface
# through its DataFusion session, SURVEY §2.B): a row whose probe key
# is NULL never satisfies NOT IN, so orders in the NULLIF'd bucket 0
# vanish even though bucket 0 is absent from the subquery. Spark plans
# this as a null-aware anti join (not a plain LeftAnti), which is the
# physical operator under test here.
#
# Scale: the subquery side is a sub-|customer| distinct-bucket set —
# broadcastable at any corpus size (≤ 50 rows by construction); the
# probe side streams. The aggregate on top map-side-combines to the
# 5 priority groups.
# --------------------------------------------------------------------------
@register(
    "q58_null_aware_not_in",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE NULLIF(o_custkey % 50, 0) NOT IN (
      SELECT c_custkey % 50 FROM customer
      WHERE c_acctbal < 0 AND c_custkey % 50 <> 0
    )
    GROUP BY o_orderpriority
    """,
)
def q58_null_aware_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    filtered = spark.sql(
        """
        SELECT o_orderpriority, o_totalprice
        FROM orders
        WHERE NULLIF(o_custkey % 50, 0) NOT IN (
          SELECT c_custkey % 50 FROM customer
          WHERE c_acctbal < 0 AND c_custkey % 50 <> 0
        )
        """
    )
    return filtered.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# q59: minimum-cost supplier (TPC-H Q2 shape) — a correlated scalar
# subquery whose inner block is itself a multi-table join, decorrelated
# on the Spark side into a window-min over the supply table. The
# testdata has no partsupp table, so unit supply cost is derived as the
# per-(supplier, part) MIN of round(l_extendedprice / l_quantity, 6)
# (per-row division then round — deterministic in both engines; the MIN
# of already-rounded values is exact, so the equality against the
# per-part minimum is never a float boundary).
#
# Scale: the supply aggregation is the single fact-sized shuffle
# (map-side combine on (suppkey, partkey)); region/nation/supplier and
# the size-filtered part side are broadcast dims; the per-part min is a
# window over the already-aggregated supply rows.
# --------------------------------------------------------------------------
@register(
    "q59_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_suppkey, l_partkey,
             MIN(ROUND(l_extendedprice / l_quantity, 6)) AS cost
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_brand, sp.cost
    FROM part p
    JOIN supply sp ON sp.l_partkey = p.p_partkey
    JOIN eu s ON s.s_suppkey = sp.l_suppkey
    WHERE p.p_size IN (9, 19, 29)
      AND sp.cost = (
        SELECT MIN(sp2.cost)
        FROM supply sp2 JOIN eu s2 ON s2.s_suppkey = sp2.l_suppkey
        WHERE sp2.l_partkey = p.p_partkey
      )
    """,
)
def q59_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    supply = lineitem.groupBy("l_suppkey", "l_partkey").agg(
        F.min(dround(F.col("l_extendedprice") / F.col("l_quantity"), 6)).alias(
            "cost"
        )
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # supplier/part are scale-variant: no forced broadcast — AQE keeps
    # broadcasting them while they fit and falls back to SMJ beyond.
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(9, 19, 29))
    eu_supply = supply.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
    w = W.partitionBy("l_partkey")
    return (
        eu_supply.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
    )


# --------------------------------------------------------------------------
# j01: salted skewed join — the 100 TB skew-mitigation pattern as an
# oracle-checked operator. The probe side is given a deliberately
# pathological key (90% of lineitem collapses onto key 0); a plain
# shuffle join would send that entire key range to ONE reducer. The
# salted plan appends salt = md5(row-id) % S to the probe key and
# replicates the (small) build side S times, so the hot key fans out
# over S reducers; the final aggregate merges the salt shards back.
# The oracle is the UNSALTED join — proving the rewrite is
# result-identical, which is the entire point of the technique.
#
# Scale: replication multiplies only the BUILD side (dim-sized) by S;
# the probe side gains one 8-byte column. S scales with observed key
# skew (AQE's skew-join split is the automatic version; explicit
# salting is the portable one that also works for aggregations, t07).
# sum_qty is exact (whole-number doubles), so no float-order concerns
# on the hot key's giant group.
# --------------------------------------------------------------------------
J01_SALTS = 8


@register(
    "j01_salted_skew_join",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
                  ELSE l_orderkey % 100 END AS key,
             l_quantity
      FROM lineitem
    ),
    build AS (
      SELECT o_orderkey % 100 AS key,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT p.key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(p.l_quantity) AS sum_qty,
           MAX(b.n_orders) AS n_orders
    FROM probe p JOIN build b ON p.key = b.key
    GROUP BY p.key
    """,
)
def j01_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    probe = lineitem.select(
        F.when(F.col("l_orderkey") % 100 < 90, F.lit(0).cast("long"))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("key"),
        "l_quantity",
        # deterministic per-row salt (md5 of the composite row id)
        (
            md5_prefix_long(
                F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
            )
            % J01_SALTS
        ).alias("salt"),
    )
    build = orders.groupBy((F.col("o_orderkey") % 100).alias("key")).agg(
        F.count("*").alias("n_orders")
    )
    salts = spark.range(J01_SALTS).select(F.col("id").alias("salt"))
    build_rep = build.crossJoin(F.broadcast(salts))  # dim × S replication
    joined = probe.join(build_rep, ["key", "salt"])
    return joined.groupBy("key").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.max("n_orders").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# j05: zipf skew-stress salted join — j01 with a REALISTIC skew law.
# j01's two-point key (90% on one key) demonstrates the mechanism; a
# production corpus skews Zipf (domain counts, token frequencies, user
# activity — the #1 scale-killer class), and the driver fixture is
# deliberately uniform (the reason d07's prefix filter degenerates),
# so the zipf key is DERIVED deterministically: h = md5(doc_id)
# uniform in [0, 2^32) is inverse-CDF-mapped onto ranks 1..R with
# P(rank) ∝ 1/rank via PRECOMPUTED integer harmonic boundaries — the
# boundary literals are generated once in Python and pasted into BOTH
# engines' SQL, so the mapping is exact integer comparison with no
# cross-engine float math. Rank 1 carries ~24% of all documents
# (~8× the uniform share at R=32). The salted kernel then runs j01's
# shape over it: probe gains salt = md5(doc_id||'s') % S, the
# dim-sized build side replicates S× under a broadcast, the join key
# is (key, salt) so the hot rank fans out over S reducers, and the
# final per-key aggregate merges the shards. Oracle = the UNSALTED
# join — the rewrite must be result-identical. The salt fan-out is
# plan-asserted in tests/test_bucketing.py (join keys include salt;
# build side replicated R×S).
#
# Scale: replication multiplies only the R-row build dim by S; the
# probe gains one 8-byte column; the hot rank's reducer load drops S×.
# AQE's skew-join split is the automatic alternative; explicit salting
# is the portable one that also covers aggregations (t07).
# --------------------------------------------------------------------------
J05_RANKS = 32
J05_SALTS = 16


def _j05_bounds() -> list[int]:
    """Integer inverse-CDF boundaries for Zipf(s=1) over ranks 1..R:
    bounds[r-1] = round(2^32 · H_r / H_R). Generated once; the same
    literals feed the Spark expression and the DuckDB oracle, so the
    key mapping is exact in both engines by construction."""
    harmonics = []
    acc = 0.0
    for r in range(1, J05_RANKS + 1):
        acc += 1.0 / r
        harmonics.append(acc)
    total = harmonics[-1]
    return [int(round((1 << 32) * h / total)) for h in harmonics]


def _j05_key_case(h_expr: str) -> str:
    whens = " ".join(
        f"WHEN {h_expr} < {b} THEN {r}"
        for r, b in enumerate(_j05_bounds(), start=1)
    )
    return f"CAST(CASE {whens} ELSE {J05_RANKS} END AS BIGINT)"


def _j05_oracle() -> str:
    from .hashing import md5_prefix_long_sql

    key = _j05_key_case(md5_prefix_long_sql("CAST(doc_id AS VARCHAR)"))
    return f"""
    WITH probe AS (
      SELECT {key} AS key, length(text) AS len FROM documents
    ),
    build AS (
      SELECT CAST(r AS BIGINT) AS key,
             CAST(1000000 // r AS BIGINT) AS budget
      FROM range(1, {J05_RANKS + 1}) t(r)
    )
    SELECT p.key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.len) AS BIGINT) AS sum_len,
           MAX(b.budget) AS budget
    FROM probe p JOIN build b ON p.key = b.key
    GROUP BY p.key
    """


@register("j05_zipf_salted_join", oracle=_j05_oracle())
def j05_zipf_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # the md5 hash is bound ONCE via the one-element-array idiom — the
    # 32-branch CASE references it per WHEN, and CollapseProject would
    # otherwise inline the md5+conv chain into every branch (the
    # round-9 re-evaluation trap, SCALING.md)
    h_sql = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    key_sql = f"transform(array({h_sql}), h -> {_j05_key_case('h')})[0]"
    probe = docs.select(
        F.expr(key_sql).alias("key"),
        F.length("text").cast("long").alias("len"),
        (
            md5_prefix_long(F.concat(F.col("doc_id").cast("string"), F.lit("s")))
            % J05_SALTS
        ).alias("salt"),
    )
    build = spark.range(1, J05_RANKS + 1).select(
        F.col("id").alias("key"),
        F.expr("CAST(1000000 div id AS BIGINT)").alias("budget"),
    )
    salts = spark.range(J05_SALTS).select(F.col("id").alias("salt"))
    build_rep = build.crossJoin(F.broadcast(salts))  # dim × S replication
    # shuffle_hash hint: the 512-row build side would otherwise
    # auto-broadcast, and a broadcast join never shuffles the probe —
    # the salt only matters on the SHUFFLE path, where (key, salt)
    # spreads the hot rank over S reducers instead of one
    joined = probe.join(build_rep.hint("shuffle_hash"), ["key", "salt"])
    return joined.groupBy("key").agg(
        F.count("*").alias("n_docs"),
        F.sum("len").alias("sum_len"),
        F.max("budget").alias("budget"),
    )


# --------------------------------------------------------------------------
# q60: column profile — the data-quality summary every warehouse
# ingestion runs first (Deequ/Great-Expectations shape): one pass over
# the table computes count / null-count / distinct / min / max per
# column, emitted long-form (one row per column). All profiled columns
# aggregate in a SINGLE scan (Catalyst fuses the aggregates); the
# long-form reshape is a constant-width stack of the 1-row wide result.
#
# Scale: one hash-aggregate pass, map-side partials; count_distinct
# expands to the standard two-phase plan per column — at 100 TB the
# documented swap is approx_count_distinct (x01) for the wide columns.
# --------------------------------------------------------------------------
@register(
    "q60_column_profile",
    oracle="""
    WITH w AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(o_custkey) AS BIGINT) AS nn_custkey,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_custkey,
        CAST(MIN(o_custkey) AS VARCHAR) AS mn_custkey,
        CAST(MAX(o_custkey) AS VARCHAR) AS mx_custkey,
        CAST(COUNT(o_totalprice) AS BIGINT) AS nn_totalprice,
        CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_totalprice,
        CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR) AS mn_totalprice,
        CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR) AS mx_totalprice,
        CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_priority,
        CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_priority,
        CAST(MIN(o_orderpriority) AS VARCHAR) AS mn_priority,
        CAST(MAX(o_orderpriority) AS VARCHAR) AS mx_priority
      FROM orders
    )
    SELECT col, n_rows, n_nonnull, n_distinct, min_value, max_value FROM (
      SELECT 'o_custkey' AS col, n_rows, nn_custkey AS n_nonnull,
             nd_custkey AS n_distinct, mn_custkey AS min_value,
             mx_custkey AS max_value FROM w
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_totalprice, nd_totalprice,
             mn_totalprice, mx_totalprice FROM w
      UNION ALL
      SELECT 'o_orderpriority', n_rows, nn_priority, nd_priority,
             mn_priority, mx_priority FROM w
    )
    """,
)
def q60_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wide = orders.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.count_distinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("mn_custkey"),
        F.max("o_custkey").cast("string").alias("mx_custkey"),
        F.count("o_totalprice").alias("nn_totalprice"),
        F.count_distinct("o_totalprice").alias("nd_totalprice"),
        dround(F.min("o_totalprice"), 2).cast("string").alias("mn_totalprice"),
        dround(F.max("o_totalprice"), 2).cast("string").alias("mx_totalprice"),
        F.count("o_orderpriority").alias("nn_priority"),
        F.count_distinct("o_orderpriority").alias("nd_priority"),
        F.min("o_orderpriority").alias("mn_priority"),
        F.max("o_orderpriority").alias("mx_priority"),
    )
    return wide.selectExpr(
        """stack(3,
           'o_custkey', n_rows, nn_custkey, nd_custkey, mn_custkey, mx_custkey,
           'o_totalprice', n_rows, nn_totalprice, nd_totalprice, mn_totalprice, mx_totalprice,
           'o_orderpriority', n_rows, nn_priority, nd_priority, mn_priority, mx_priority)
           AS (col, n_rows, n_nonnull, n_distinct, min_value, max_value)"""
    )


# --------------------------------------------------------------------------
# q61: gaps-and-islands — longest streak of consecutive order months
# per customer (the classic sequential-SQL pattern: month_num minus
# ROW_NUMBER is constant within an island). One output row per
# customer with their best streak and its bounds.
#
# Scale: distinct (custkey, month) prunes to at most |customers|×|months|
# rows; both windows partition BY CUSTOMER (bounded partitions, never
# global) and the final argmax is a groupBy on the same key — one
# shuffle, reused by AQE across the window and the aggregation.
# --------------------------------------------------------------------------
@register(
    "q61_order_streaks",
    oracle="""
    WITH months AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS mnum
      FROM orders
    ),
    grp AS (
      SELECT o_custkey, mnum,
             mnum - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY mnum)
               AS g
      FROM months
    ),
    streaks AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS streak_months,
             MIN(mnum) AS start_mnum,
             MAX(mnum) AS end_mnum
      FROM grp GROUP BY o_custkey, g
    ),
    best AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY streak_months DESC, start_mnum)
               AS rn
      FROM streaks
    )
    SELECT o_custkey, streak_months,
           CAST(start_mnum // 12 AS BIGINT) AS start_year,
           CAST(start_mnum % 12 + 1 AS BIGINT) AS start_month,
           CAST(end_mnum // 12 AS BIGINT) AS end_year,
           CAST(end_mnum % 12 + 1 AS BIGINT) AS end_month
    FROM best WHERE rn = 1
    """,
)
def q61_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    months = orders.select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("mnum"),
    ).distinct()
    w = W.partitionBy("o_custkey").orderBy("mnum")
    streaks = (
        months.withColumn("g", F.col("mnum") - F.row_number().over(w))
        .groupBy("o_custkey", "g")
        .agg(
            F.count("*").alias("streak_months"),
            F.min("mnum").alias("start_mnum"),
            F.max("mnum").alias("end_mnum"),
        )
    )
    wb = W.partitionBy("o_custkey").orderBy(
        F.col("streak_months").desc(), F.col("start_mnum")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "streak_months",
            F.expr("start_mnum div 12").alias("start_year"),
            (F.col("start_mnum") % 12 + 1).cast("long").alias("start_month"),
            F.expr("end_mnum div 12").alias("end_year"),
            (F.col("end_mnum") % 12 + 1).cast("long").alias("end_month"),
        )
    )


# --------------------------------------------------------------------------
# q62: monotone order-value streaks — per customer, the longest run of
# consecutive orders (date order, orderkey tie-break) whose total price
# strictly INCREASES, plus how many such runs of length >= 2 exist.
# The value-direction variant of q61's calendar gaps-and-islands: the
# island key comes from a lag comparison, not from row-number
# arithmetic, which is the pattern behind trend detection ("customers
# ramping up spend") on any ordered fact stream. Price values are only
# COMPARED (never aggregated), so doubles stay deterministic.
#
# Scale: both window passes (lag flag + running island sum) share the
# o_custkey partitioning — Spark plans ONE shuffle on o_custkey and
# runs the two windows back to back in the same stage; the island
# aggregation reuses the same clustering.
# --------------------------------------------------------------------------
@register(
    "q62_monotone_value_streaks",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CASE WHEN o_totalprice >
                       LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey)
                  THEN 0 ELSE 1 END AS brk
      FROM orders
    ),
    isl AS (
      SELECT o_custkey,
             SUM(brk) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM seq
    ),
    runs AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY o_custkey, grp
    )
    SELECT o_custkey,
           CAST(SUM(run_len) AS BIGINT) AS n_orders,
           CAST(MAX(run_len) AS BIGINT) AS longest_up_run,
           CAST(COUNT(*) FILTER (WHERE run_len >= 2) AS BIGINT) AS n_up_runs
    FROM runs GROUP BY o_custkey
    """,
)
def q62_monotone_value_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = orders.withColumn(
        "brk",
        F.when(
            F.col("o_totalprice") > F.lag("o_totalprice").over(w), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    isl = flagged.withColumn(
        "grp", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    runs = isl.groupBy("o_custkey", "grp").agg(F.count("*").alias("run_len"))
    return runs.groupBy("o_custkey").agg(
        F.sum("run_len").alias("n_orders"),
        F.max("run_len").alias("longest_up_run"),
        F.count(F.when(F.col("run_len") >= 2, 1)).alias("n_up_runs"),
    )


# --------------------------------------------------------------------------
# q63: robust outlier statistics per group — the resistant-statistics
# toolkit (median absolute deviation, Tukey fences) a data-quality
# pass prefers over mean/stddev because a single corrupt value cannot
# move the thresholds: per return flag, the price median, the MAD
# (median of |x - median| — a TWO-PASS computation: the group median
# joins back onto the rows before the second median), the quartiles,
# and the count of rows beyond the 1.5·IQR fences.
#
# Float discipline (q57 precedent): medians/percentiles are identical
# interpolations on identical inputs in both engines, surfaced through
# dround(6); the fence COMPARISONS run on the raw doubles — fixture
# values sit nowhere near a ulp of the fences (the oracle-hash gate
# would catch it if a future fixture did).
#
# Scale: two grouped sorts (Spark plans percentile/median as a single
# sort-based agg per group) + one broadcast of the |groups|-row fence
# table back onto the scan for the outlier counts.
# --------------------------------------------------------------------------
@register(
    "q63_robust_outliers",
    oracle="""
    WITH stats AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             median(l_extendedprice) AS med,
             quantile_cont(l_extendedprice, 0.25) AS p25,
             quantile_cont(l_extendedprice, 0.75) AS p75
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l.l_returnflag,
             median(abs(l.l_extendedprice - s.med)) AS mad
      FROM lineitem l JOIN stats s USING (l_returnflag)
      GROUP BY l.l_returnflag
    ),
    fences AS (
      SELECT l_returnflag, n, med, p25, p75,
             p25 - 1.5 * (p75 - p25) AS lo,
             p75 + 1.5 * (p75 - p25) AS hi
      FROM stats
    ),
    outliers AS (
      SELECT l.l_returnflag,
             CAST(COUNT(*) FILTER (WHERE l.l_extendedprice < f.lo)
                  AS BIGINT) AS n_low_outliers,
             CAST(COUNT(*) FILTER (WHERE l.l_extendedprice > f.hi)
                  AS BIGINT) AS n_high_outliers
      FROM lineitem l JOIN fences f USING (l_returnflag)
      GROUP BY l.l_returnflag
    )
    SELECT f.l_returnflag, f.n,
           ROUND(f.med, 6) AS med_price,
           ROUND(m.mad, 6) AS mad_price,
           ROUND(f.p25, 6) AS p25_price,
           ROUND(f.p75, 6) AS p75_price,
           o.n_low_outliers, o.n_high_outliers
    FROM fences f
    JOIN mad m USING (l_returnflag)
    JOIN outliers o USING (l_returnflag)
    """,
)
def q63_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # one percentile buffer per group (array form) instead of three
    # independent exact-percentile aggregates each materializing the
    # group's full value set
    stats = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))"
        ).alias("q"),
    ).select(
        "l_returnflag",
        "n",
        F.col("q")[1].alias("med"),
        F.col("q")[0].alias("p25"),
        F.col("q")[2].alias("p75"),
    )
    mad = (
        li.join(F.broadcast(stats.select("l_returnflag", "med")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.median(F.abs(F.col("l_extendedprice") - F.col("med"))).alias("mad")
        )
    )
    fences = stats.select(
        "l_returnflag",
        "n",
        "med",
        "p25",
        "p75",
        (F.col("p25") - 1.5 * (F.col("p75") - F.col("p25"))).alias("lo"),
        (F.col("p75") + 1.5 * (F.col("p75") - F.col("p25"))).alias("hi"),
    )
    outliers = (
        li.join(F.broadcast(fences.select("l_returnflag", "lo", "hi")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_extendedprice") < F.col("lo"), 1)).alias(
                "n_low_outliers"
            ),
            F.count(F.when(F.col("l_extendedprice") > F.col("hi"), 1)).alias(
                "n_high_outliers"
            ),
        )
    )
    return (
        fences.join(mad, "l_returnflag")
        .join(outliers, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            dround("med", 6).alias("med_price"),
            dround("mad", 6).alias("mad_price"),
            dround("p25", 6).alias("p25_price"),
            dround("p75", 6).alias("p75_price"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


# --------------------------------------------------------------------------
# q64: year-over-year price-distribution drift — the data-drift audit
# (the integer-exact stand-in for a PSI check) run when a fact table
# spans refreshes: bucket order totals into fixed price bands, compute
# each year's band distribution in ppm, and report the total-variation
# distance of each year against the PREVIOUS year — a TV spike means
# the generating process changed and downstream models need
# re-calibration. TV = Σ|p_a − p_b| / 2 over exact integer ppm shares
# (the t32 vocabulary-divergence machinery applied to a numeric
# histogram), so the whole audit hash-matches.
#
# Scale: one (year, band) groupBy off the scan (bands are fixed-width
# → bounded table), a |years|-row total broadcast, and a
# consecutive-year self-join on the bounded distribution table.
# --------------------------------------------------------------------------
Q64_BAND = 25_000


@register(
    "q64_yearly_price_drift",
    oracle=f"""
    WITH bands AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(floor(o_totalprice / {Q64_BAND}) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      GROUP BY year(o_orderdate), floor(o_totalprice / {Q64_BAND})
    ),
    totals AS (
      SELECT yr, CAST(SUM(n) AS BIGINT) AS tot FROM bands GROUP BY yr
    ),
    dist AS (
      SELECT b.yr, b.band, (1000000 * b.n) // t.tot AS ppm
      FROM bands b JOIN totals t USING (yr)
    ),
    paired AS (
      SELECT COALESCE(a.yr, b.yr + 1) AS yr,
             COALESCE(a.ppm, 0) AS p_cur, COALESCE(b.ppm, 0) AS p_prev
      FROM dist a FULL JOIN dist b
        ON a.yr = b.yr + 1 AND a.band = b.band
    ),
    bounds AS (
      SELECT CAST(MIN(yr) AS BIGINT) AS y0, CAST(MAX(yr) AS BIGINT) AS y1
      FROM dist
    )
    SELECT p.yr, CAST(COUNT(*) AS BIGINT) AS n_bands,
           CAST(SUM(ABS(p.p_cur - p.p_prev)) // 2 AS BIGINT) AS tv_ppm
    FROM paired p CROSS JOIN bounds
    WHERE p.yr > bounds.y0 AND p.yr <= bounds.y1
    GROUP BY p.yr
    """,
)
def q64_yearly_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    bands = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.floor(F.col("o_totalprice") / Q64_BAND).cast("long").alias("band"),
    ).agg(F.count("*").alias("n"))
    totals = bands.groupBy("yr").agg(F.sum("n").alias("tot"))
    dist = bands.join(F.broadcast(totals), "yr").select(
        "yr", "band", F.expr("(1000000 * n) div tot").alias("ppm")
    ).localCheckpoint()  # bounded (|years| x |bands|); read twice
    cur = dist.select(
        F.col("yr").alias("yr"), "band", F.col("ppm").alias("p_cur")
    )
    prev = dist.select(
        (F.col("yr") + 1).alias("yr"), "band", F.col("ppm").alias("p_prev")
    )
    bounds = dist.agg(F.min("yr").alias("y0"), F.max("yr").alias("y1"))
    paired = (
        cur.join(prev, ["yr", "band"], "full_outer")
        .select(
            "yr",
            "band",
            F.coalesce("p_cur", F.lit(0)).alias("p_cur"),
            F.coalesce("p_prev", F.lit(0)).alias("p_prev"),
        )
        .join(F.broadcast(bounds))
        # the prev-side shift manufactures a phantom year max+1 (all
        # p_cur = 0) — the year bounds cut it and the base year
        .filter((F.col("yr") > F.col("y0")) & (F.col("yr") <= F.col("y1")))
    )
    return paired.groupBy("yr").agg(
        F.count("*").alias("n_bands"),
        F.expr("CAST(sum(abs(p_cur - p_prev)) div 2 AS BIGINT)").alias(
            "tv_ppm"
        ),
    )


# --------------------------------------------------------------------------
# q65: PostgreSQL DISTINCT ON — the pg-dialect idiom the reference's
# users actually type for "first row per key" (the reference speaks
# the Postgres dialect end-to-end; DataFusion executes DISTINCT ON
# since v33). Semantics: one row per DISTINCT ON key, chosen by the
# ORDER BY's remaining columns — deterministic here because the full
# ORDER BY (nation, balance DESC, custkey) totally orders every
# group. Spark has no DISTINCT ON; the engine expresses it as the
# row_number-over-window plan Catalyst already optimizes to a
# WindowGroupLimit (the q30 pattern) — same result set, scale-safe.
#
# Scale: one hash window per nation partition — no global sort; the
# oracle's DISTINCT ON compiles to the same per-group argmax.
# --------------------------------------------------------------------------
@register(
    "q65_distinct_on",
    oracle="""
    SELECT DISTINCT ON (c_nationkey)
           c_nationkey, c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_nationkey, c_acctbal DESC, c_custkey
    """,
)
def q65_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal")
    )


# --------------------------------------------------------------------------
# j02: bucketed co-located join — the single most important 100 TB join
# strategy made concrete: lineitem and orders are written ONCE as
# bucketed+sorted tables on the join key (bucketBy/sortBy saveAsTable,
# Spark's bucketing metadata in the catalog, one file per bucket), and
# the orderkey sort-merge join then plans with ZERO Exchange — both
# sides' bucket files are read pre-partitioned, so neither fact table
# crosses the network. (Two LOCAL Sorts remain: since 3.0 Spark only
# propagates bucket ordering under the legacy
# bucketedTableScan.outputOrdering flag; sorting already-sorted runs
# is cheap and shuffle-free, so the default is kept.) At corpus scale
# this converts every repeated fact-fact join on the bucket key from a
# full-data network pass into a local merge — the write cost is paid
# once and amortized over every subsequent join (the classic warehouse
# layout decision). The shuffle gate pins the plan: the ONLY Exchange
# in j02 is the final small per-priority aggregate, NOT the join.
#
# The bucketed copies are session-memoized external tables under
# /tmp/seamdb_bucketed, app-id-namespaced (so concurrent sessions
# never race on a path) and reclaimed by session_external_dir (atexit
# for this session's dir, 24h-stale prune for crashed sessions'); the
# oracle joins the raw parquet — bucketing is a layout property and
# must not change any result.
# --------------------------------------------------------------------------
J02_BUCKETS = 8


def _j02_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from .materialize import (
        materialized_value,
        session_external_dir,
        session_tag,
    )

    # namespace the catalog names AND the warehouse path by the Spark
    # application id: two concurrent sessions on one machine would
    # otherwise race on the same /tmp path — one session's
    # mode=overwrite deleting bucket files the other's catalog entry
    # still references (the session-level memoization below is keyed
    # per session, so the app id is stable across reuse)
    tag = session_tag(spark, sf_dir)
    li_name, ord_name = f"j02_li_{tag}", f"j02_ord_{tag}"
    # reserve (and reclaim siblings of) the session's warehouse dir
    base = session_external_dir("/tmp/seamdb_bucketed", tag)

    def build() -> tuple[str, str]:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        for name, df, key in (
            (li_name, li, "l_orderkey"),
            (ord_name, od, "o_orderkey"),
        ):
            (
                # one writer task per bucket => one file per bucket, so
                # the reader preserves outputOrdering too (with >1 file
                # per bucket Spark keeps only outputPartitioning and
                # re-inserts local Sorts under the merge join)
                df.repartition(J02_BUCKETS, F.col(key))
                .write.mode("overwrite")
                .format("parquet")
                .option("path", f"{base}/{name}")
                .bucketBy(J02_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        return li_name, ord_name

    return materialized_value(spark, sf_dir, "j02_bucketed", build)


@register(
    "j02_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def j02_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_name, ord_name = _j02_bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    od = spark.table(ord_name)
    # MERGE hint: at target scale both sides are fact tables (no
    # broadcast exists); the hint makes the fixture plan the same
    # SortMergeJoin — which the bucketed+sorted layout satisfies with
    # zero Exchange and zero Sort on either side.
    joined = li.join(od.hint("merge"), li.l_orderkey == od.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count_distinct("o_orderkey").alias("n_orders"),
        F.count("*").alias("n_lineitems"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# --------------------------------------------------------------------------
# j03: dynamic-partition-pruned join — j02's sibling 100 TB primitive:
# where j02 kills the JOIN shuffle (bucketing), j03 kills the SCAN
# (hive-style partitioning + runtime pruning). A lineitem projection is
# written once per session PARTITIONED BY ship month (84 calendar
# months at any SF — at 100 TB this is the date-partitioned fact table
# every warehouse already has), then joined on the partition column
# against a runtime-derived dim: the TOP-k busiest order months. The
# months are not literals anywhere in the fact-side plan, so static
# pruning is impossible — Spark's DynamicPartitionPruning inserts a
# runtime subquery filter into the scan's PartitionFilters (asserted by
# tests/test_operators.py::test_j03_plan_has_dynamic_pruning) and reads
# k/84 of the partitions instead of the full table.
#
# Scale: one partitioned write per session (a real deployment reads the
# already-partitioned table); the dim side is a |months|-row aggregate
# broadcast; the pruned scan reads only the k matching partitions.
# --------------------------------------------------------------------------
J03_TOP_MONTHS = 3


def _j03_partitioned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    from .materialize import (
        materialized_value,
        session_external_dir,
        session_tag,
    )

    # same concurrency discipline as j02: namespace by applicationId
    tag = session_tag(spark, sf_dir)
    path = session_external_dir("/tmp/seamdb_partitioned", tag) + "/lineitem"

    def build() -> str:
        (
            _t(spark, sf_dir, "lineitem")
            .select(
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
                "l_extendedprice",
                "l_discount",
            )
            # one writer task per month => one file per partition dir
            # (without this every input task writes every month dir —
            # |tasks|×|months| small files, the classic partitioned-
            # write mistake at any scale)
            .repartition(F.col("ship_month"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(path)
        )
        return path

    return materialized_value(spark, sf_dir, "j03_partitioned", build)


@register(
    "j03_partition_pruned_join",
    oracle="""
    WITH om AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    top AS (
      SELECT ship_month, n_orders FROM om
      ORDER BY n_orders DESC, ship_month LIMIT 3
    )
    SELECT t.ship_month, t.n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN top t ON strftime(l.l_shipdate, '%Y-%m') = t.ship_month
    GROUP BY t.ship_month, t.n_orders
    """,
)
def j03_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = spark.read.parquet(_j03_partitioned_lineitem(spark, sf_dir))
    om = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .agg(F.count("*").alias("n_orders"))
        # the selective predicate DPP's benefit heuristic looks for on
        # the build side (always true here: months with zero orders
        # produce no om row at all)
        .filter(F.col("n_orders") > 0)
    )
    top = om.orderBy(F.desc("n_orders"), "ship_month").limit(J03_TOP_MONTHS)
    return (
        fact.join(F.broadcast(top), "ship_month")
        .groupBy("ship_month", "n_orders")
        .agg(
            F.count("*").alias("n_lineitems"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .select("ship_month", "n_orders", "n_lineitems", "revenue")
    )


# --------------------------------------------------------------------------
# q66: ordered string aggregation — LISTAGG/string_agg WITHIN GROUP
# (ORDER BY ...), the report-formatting idiom. Spark has no ordered
# string_agg aggregate; the plan-stable equivalent is
# collect_list(struct(sortkeys..., value)) → array_sort → transform →
# concat_ws, which sorts INSIDE each group's aggregation buffer (never
# a global sort). Tie-break includes the unique orderkey so both
# engines produce byte-identical strings.
#
# Scale: one groupBy with map-side combine; per-group buffers hold that
# customer's orders only (bounded by per-customer order counts). The
# LIMIT demonstrates the idiom without materializing megabyte strings.
# --------------------------------------------------------------------------
@register(
    "q66_ordered_string_agg",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderdate, o_orderkey) AS order_history
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    LIMIT 50
    """,
)
def q66_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(o_orderdate, o_orderkey))),"
                    " s -> CAST(s.o_orderkey AS STRING))"
                ),
            ).alias("order_history"),
        )
        .orderBy("o_custkey")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q67: LOCF forward fill via IGNORE NULLS — the last-observation-
# carried-forward idiom (sensor/gauge repair): sparse observations
# (here: each user's 'purchase' values; other events are gaps) are
# carried forward across subsequent rows with
# last_value(...) IGNORE NULLS over the running frame. Complements
# e06's join-based gap fill with the window-based form — the two
# canonical shapes of the same repair.
#
# Scale: one window partitioned by user (bounded per-user event
# counts), running frame — single shuffle on the partition key.
# --------------------------------------------------------------------------
@register(
    "q67_locf_forward_fill",
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type = 'purchase'
                           THEN ROUND(value, 2) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS last_purchase_value
    FROM events
    """,
)
def q67_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    obs = F.when(F.col("event_type") == "purchase", dround(F.col("value"), 2))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(obs, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# --------------------------------------------------------------------------
# q68: GROUPS window frame — the third SQL frame mode (SQL:2011;
# DataFusion/DuckDB/PG support it, Spark only has ROWS and RANGE). A
# GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING frame covers the previous
# PEER GROUP, the current one, and the next one — "this ship date,
# the ship date before, the ship date after", regardless of how many
# rows share each date. Emulated exactly by the collapse-frame-join
# identity: frame aggregates are constant within a peer group, so
# (1) pre-aggregate rows to one row per (partition, order) peer group
# — a map-side-combinable groupBy — then (2) a plain ROWS frame over
# the collapsed table IS the GROUPS frame. The result is one row per
# peer group (joining it back to rows is a broadcast-free co-keyed
# join if row granularity is needed). The bundled DuckDB's parser
# rejects GROUPS mode too ("not implemented yet"), so the oracle
# replays the 1-PRECEDING/1-FOLLOWING frame as lag+current+lead over
# the peer-group table — a different formulation (3-term addition vs
# a sliding ROWS SUM) computing the same SQL:2011 semantics.
#
# Scale: one shuffle for the peer-group aggregate (map-side partials
# over (priority, date) — high cardinality, skew-free), then the ROWS
# window over the COLLAPSED table (|dates|x|priorities| rows, ~5/day —
# 3+ orders smaller than orders). Never a per-row window.
# --------------------------------------------------------------------------
@register(
    "q68_groups_frame",
    oracle="""
    WITH peer AS (
      SELECT o_orderpriority, o_orderdate,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS grp_cents
      FROM orders
      GROUP BY o_orderpriority, o_orderdate
    )
    SELECT o_orderpriority, o_orderdate, n_orders,
           CAST(COALESCE(LAG(grp_cents) OVER w, 0) + grp_cents
                + COALESCE(LEAD(grp_cents) OVER w, 0) AS BIGINT)
             AS frame_cents
    FROM peer
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate)
    """,
)
def q68_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    peer = orders.groupBy("o_orderpriority", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("grp_cents"),
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderdate")
        .rowsBetween(-1, 1)
    )
    return peer.select(
        "o_orderpriority",
        "o_orderdate",
        "n_orders",
        F.sum("grp_cents").over(w).alias("frame_cents"),
    )


# --------------------------------------------------------------------------
# q69: window frame EXCLUDE clause (SQL:2011's other frame modifier,
# also absent from Spark; DuckDB executes it natively, so the oracle
# is the real semantics, not a restatement). All three modes over one
# ±2-day RANGE frame per priority: EXCLUDE CURRENT ROW, EXCLUDE GROUP
# (drop the whole peer group), EXCLUDE TIES (drop peers, keep self).
# Emulated by the subtraction identities — frame aggregates are
# linear, so exclude_current = frame − self, exclude_group = frame −
# peer_sum, exclude_ties = frame − peer_sum + self — using exactly
# two windows: the RANGE frame and the peer-group partition sum.
# SQL's empty-frame semantics are preserved: SUM over an emptied
# exclusion frame is NULL, not 0, so the identities carry COUNT-based
# guards (frame_cnt−1 = 0 ⇒ NULL for CURRENT ROW, frame_cnt−peer_cnt
# = 0 ⇒ NULL for GROUP; TIES always keeps self, never empty).
#
# Physical shape: the RANGE frame depends only on (priority, day), so
# the windows run over the COLLAPSED day table (q68's identity) and
# the day-level sums broadcast-join back to the fact rows — one full
# shuffle (the map-side-combinable day aggregate) plus a tiny window
# and a broadcast. Windowing the raw fact table PARTITION BY priority
# (5 values) would serialize the corpus through 5 tasks at 100 TB;
# this shape never windows anything bigger than |days|x|priorities|.
#
# Scale: both windows partition by (priority[, day]) — the same
# narrow shuffle; the subtractions are per-row projections. The
# identity holds for any linear aggregate (SUM/COUNT/AVG numerators);
# MIN/MAX under EXCLUDE genuinely need the collapse-join (q68) shape.
# --------------------------------------------------------------------------
@register(
    "q69_window_exclude",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority, day, cents,
           CAST(SUM(cents) OVER w AS BIGINT) AS frame_cents,
           CAST(SUM(cents) OVER (
             PARTITION BY o_orderpriority ORDER BY day
             RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
             EXCLUDE CURRENT ROW
           ) AS BIGINT) AS excl_current,
           CAST(SUM(cents) OVER (
             PARTITION BY o_orderpriority ORDER BY day
             RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
             EXCLUDE GROUP
           ) AS BIGINT) AS excl_group,
           CAST(SUM(cents) OVER (
             PARTITION BY o_orderpriority ORDER BY day
             RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
             EXCLUDE TIES
           ) AS BIGINT) AS excl_ties
    FROM base
    WINDOW w AS (
      PARTITION BY o_orderpriority ORDER BY day
      RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING
    )
    """,
)
def q69_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wf = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rangeBetween(-2, 2)
    )
    days = base.groupBy("o_orderpriority", "day").agg(
        F.sum("cents").alias("day_cents"),
        F.count(F.lit(1)).alias("day_cnt"),
    )
    framed = days.select(
        "o_orderpriority",
        "day",
        "day_cents",
        "day_cnt",
        F.sum("day_cents").over(wf).alias("frame_cents"),
        F.sum("day_cnt").over(wf).alias("frame_cnt"),
    )
    joined = base.join(
        F.broadcast(framed), ["o_orderpriority", "day"]
    )
    return joined.select(
        "o_orderkey",
        "o_orderpriority",
        "day",
        "cents",
        "frame_cents",
        F.when(
            F.col("frame_cnt") > 1, F.col("frame_cents") - F.col("cents")
        ).alias("excl_current"),
        F.when(
            F.col("frame_cnt") > F.col("day_cnt"),
            F.col("frame_cents") - F.col("day_cents"),
        ).alias("excl_group"),
        (F.col("frame_cents") - F.col("day_cents") + F.col("cents")).alias(
            "excl_ties"
        ),
    )


# --------------------------------------------------------------------------
# j04: bucket-pruned point lookup — the READ-side payoff of j02's
# bucketed layout beyond join co-location: an equality predicate on
# the bucket column lets Spark prune the scan to ONE bucket
# (SelectedBucketsCount 1/8 in the plan, pinned by test) — at corpus
# scale that turns "find this order's lineitems" from a full-table
# scan into reading 1/B of the files, the warehouse answer to
# point-ish lookups without a secondary index (the same layout
# serving j02's zero-Exchange joins serves these lookups for free).
# Key 1 exists at every fixture SF (3-6 lineitems).
#
# Scale: bucket count B is the knob — the scan cost is data/B; the
# aggregate is a handful of rows.
# --------------------------------------------------------------------------
J04_LOOKUP_KEY = 1


@register(
    "j04_bucket_pruned_lookup",
    oracle=f"""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_orderkey = {J04_LOOKUP_KEY}
    GROUP BY l_orderkey
    """,
)
def j04_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_name, _ord_name = _j02_bucketed_tables(spark, sf_dir)
    return (
        spark.table(li_name)
        .filter(F.col("l_orderkey") == J04_LOOKUP_KEY)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q70: DISTINCT window aggregates — the third query-surface behavior
# Spark's window engine lacks outright (after q68 GROUPS frames and
# q69 EXCLUDE clauses): COUNT(DISTINCT x) OVER (...) raises
# "Distinct window functions are not supported" in Spark, while
# DataFusion/DuckDB/Postgres evaluate it natively. Emulated exactly
# by the collect-distinct identity: the frame's distinct count is
# size(array_distinct(collect_list(x) over frame)) — the in-frame
# value buffer deduplicated at read-off. Two shapes a CRM query
# actually asks of orders: a rolling "how varied were this customer's
# last 5 order priorities" (ROWS 4 PRECEDING) and a whole-history
# "how many distinct order statuses does this customer have"
# (unbounded partition frame). The oracle runs DuckDB's NATIVE distinct window
# aggregates — true cross-engine semantics parity, not a replay of
# the same emulation.
#
# Scale: the window partitions on o_custkey (cardinality grows with
# the data — maximal parallelism, never a single-task window), and
# the collect_list buffer is bounded by the FRAME (5 rows) / the
# per-customer order count (the TPC-H fixture's ~10-40, a natural
# per-entity bound). For unbounded-frame distinct counts over heavy
# entities, the scale path is the x01 sketch (approx_count_distinct
# per group) or the q68 collapse — this emulation is for the exact
# frame-bounded form.
# --------------------------------------------------------------------------
@register(
    "q70_distinct_window_count",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(DISTINCT o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_prio_5,
           CAST(COUNT(DISTINCT o_orderstatus) OVER (
             PARTITION BY o_custkey
           ) AS BIGINT) AS distinct_status_all
    FROM orders
    """,
)
def q70_distinct_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority",
        "o_orderstatus"
    )
    w5 = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    wall = W.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.size(
            F.array_distinct(F.collect_list("o_orderpriority").over(w5))
        ).cast("long").alias("distinct_prio_5"),
        F.size(
            F.array_distinct(F.collect_list("o_orderstatus").over(wall))
        ).cast("long").alias("distinct_status_all"),
    )


# --------------------------------------------------------------------------
# q71: window FILTER clause — the fourth window-surface behavior the
# q68/q69/q70 family closes: SQL:2003's `agg(x) FILTER (WHERE c)
# OVER w` (DuckDB/Postgres/DataFusion evaluate it natively; Spark's
# parser rejects FILTER on window functions). Emulated exactly by the
# conditional-projection identity: agg(CASE WHEN c THEN x END) over
# the same frame — NULLs vanish from SUM/COUNT/AVG, so the filtered
# aggregate is the aggregate of the guarded expression. The shapes a
# revenue dashboard actually asks: per customer in order, the running
# count of URGENT-priority orders and the running sum of
# high-value (>100k cents... >1000.00) order totals NEXT TO the
# unfiltered running total — three aggregates, one frame, one pass.
# COUNT guards with the CASE itself (COUNT skips NULLs); SUM keeps
# exact cents. The oracle runs DuckDB's NATIVE FILTER clause — true
# cross-engine semantics parity, not a replayed emulation.
#
# Scale: identical physical plan to any running window — ONE
# exchange on the o_custkey partition key (cardinality grows with
# data, maximal parallelism), all three aggregates sharing the frame;
# the CASE guards are codegen'd row-local projections with zero extra
# shuffle vs the unfiltered window.
# --------------------------------------------------------------------------
@register(
    "q71_window_filter_clause",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
             OVER w AS BIGINT) AS urgent_so_far,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             FILTER (WHERE o_totalprice > 1000.0)
             OVER w AS BIGINT) AS big_cents_so_far,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             OVER w AS BIGINT) AS cents_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q71_window_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_totalprice").alias("price"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
    big = F.when(F.col("price") > 1000.0, F.col("cents"))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(urgent).over(w).alias("urgent_so_far"),
        F.sum(big).over(w).alias("big_cents_so_far"),
        F.sum("cents").over(w).alias("cents_so_far"),
    )
