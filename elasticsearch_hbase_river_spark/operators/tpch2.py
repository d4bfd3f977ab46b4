"""Second tranche of TPC-H-shaped queries — completes the 22-shape suite
(Q1/3/4/5/6/7/10/14/15/18/19/22 live in ``tpch.py``; this module adds the
shapes of Q2, Q8, Q9, Q11, Q12, Q13, Q16, Q17, Q20, Q21).

Fixture adaptations (TESTDATA.md): there is no ``partsupp`` table and
``lineitem`` lacks shipmode/commitdate/receiptdate, so partsupp-based
queries (Q2/Q9/Q11/Q16/Q20) use ``lineitem`` as the part↔supplier
relation and date-arithmetic predicates (Q12/Q21) use
``l_returnflag`` / ``o_orderpriority`` proxies. What is preserved is the
JOIN / correlation SHAPE of each original — correlated min (Q2),
share-of-total (Q8), multi-dim profit rollup (Q9), global HAVING
threshold (Q11), conditional counting (Q12), outer-join histogram (Q13),
distinct-count with NOT-IN exclusion (Q16), correlated average filter
(Q17), half-of-total correlated comparison (Q20), and the double
EXISTS/NOT-EXISTS self-correlation (Q21).

Determinism across engines: group sums are DECIMAL(18,2) (exact,
order-independent); ratios divide as doubles only at the final
projection and pass through ``roundn``; min/threshold comparisons happen
on exact decimals, never rounded doubles.

Scale notes (100 TB): every dimension (part/supplier/nation/customer
subsets) is explicitly broadcast; facts are reduced by a partial
aggregation BEFORE any window or self-correlation so the per-key state
is bounded by distinct keys, not raw rows; no cross joins except
single-row scalar broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.operators.tpch import _dec
from elasticsearch_hbase_river_spark.sources.tables import load_table

Q2_SIZE = 15
Q2_TYPE = "LARGE"
Q8_REGION = "ASIA"
Q8_TYPE = "PROMO"
Q8_NATION = "NATION_3"
Q9_NAME_PART = "widget"
Q11_NATION = "NATION_1"
Q11_SCALE = 1_000  # HAVING value > total/Q11_SCALE
Q12_YEAR = "1997"
Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"
Q16_EXCLUDED_BRAND = "Brand#1"
Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)
Q17_BRAND = "Brand#5"
Q20_NAME_PREFIX = "large"
Q20_NATION = "NATION_2"


def _rev() -> Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))


_REV_SQL = ("CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))")


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a size/type slice, the supplier(s)
    offering the minimum cost; correlated-min realized as a window over a
    pre-aggregated offers relation (no partsupp in fixtures — the offer
    price is ``min(l_extendedprice)`` per part/supplier pair).

    Plan: the part slice broadcasts into the offers aggregate so the
    window only sees the selected parts; ties at the exact decimal min
    are all kept (same rows in both engines)."""
    sel = (load_table(spark, sf_dir, "part")
           .filter((F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE))
           .select("p_partkey", "p_name"))
    offers = (load_table(spark, sf_dir, "lineitem")
              .join(F.broadcast(sel), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("p_partkey", "p_name", "l_suppkey")
              .agg(F.min(_dec("l_extendedprice")).alias("cost")))
    best = (offers
            .withColumn("mincost", F.min("cost").over(Window.partitionBy("p_partkey")))
            .filter(F.col("cost") == F.col("mincost")))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (best
            .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .select("p_partkey", "p_name", "s_name", "n_name",
                    roundn_col(F.col("cost").cast("double")).alias("supply_cost")))


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue for one
    part type, per order year. Numerator and denominator accumulate as
    exact decimals; the share divides as double only in the final
    projection."""
    part_sel = (load_table(spark, sf_dir, "part")
                .filter(F.col("p_type") == Q8_TYPE).select("p_partkey"))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    region_nations = (nation
                      .join(F.broadcast(region.filter(F.col("r_name") == Q8_REGION)),
                            F.col("n_regionkey") == F.col("r_regionkey"))
                      .select(F.col("n_nationkey").alias("cn_key")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(region_nations), F.col("c_nationkey") == F.col("cn_key"))
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey",
                      F.year("o_orderdate").cast("long").alias("o_year")))
    supp_nation = (load_table(spark, sf_dir, "supplier")
                   .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey"))
          .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
          .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
          .select("o_year", "supp_nation", _rev().alias("rev")))
    zero = F.lit(0).cast("decimal(18,2)")
    agg = (li.groupBy("o_year")
           .agg(F.sum(F.when(F.col("supp_nation") == Q8_NATION, F.col("rev"))
                      .otherwise(zero)).alias("num"),
                F.sum("rev").alias("den")))
    return agg.select(
        "o_year",
        roundn_col(F.col("num").cast("double") / F.col("den").cast("double")).alias("mkt_share"),
        roundn_col(F.col("den").cast("double")).alias("total_revenue"),
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name substring (no partsupp ⇒ profit is discounted revenue
    rather than revenue minus supplycost)."""
    part_sel = (load_table(spark, sf_dir, "part")
                .filter(F.col("p_name").contains(Q9_NAME_PART)).select("p_partkey"))
    supp_nation = (load_table(spark, sf_dir, "supplier")
                   .join(F.broadcast(load_table(spark, sf_dir, "nation")
                                     .select("n_nationkey", "n_name")),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey"))
          .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
          .join(orders, F.col("l_orderkey") == F.col("o_orderkey")))
    return (li.groupBy("nation", "o_year")
            .agg(F.sum(_rev()).alias("profit_dec"),
                 F.count(F.lit(1)).alias("n_lines"))
            .select("nation", "o_year",
                    roundn_col(F.col("profit_dec").cast("double")).alias("sum_profit"),
                    "n_lines"))


def q_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value (through one nation's
    suppliers) exceeds 1/1000 of that nation's total — the global HAVING
    threshold is a one-row broadcast; the comparison multiplies exact
    decimals instead of dividing the total."""
    supp_sel = (load_table(spark, sf_dir, "supplier")
                .join(F.broadcast(load_table(spark, sf_dir, "nation")
                                  .filter(F.col("n_name") == Q11_NATION)
                                  .select("n_nationkey")),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey"))
    value = (load_table(spark, sf_dir, "lineitem")
             .join(F.broadcast(supp_sel), F.col("l_suppkey") == F.col("s_suppkey"))
             .groupBy("l_partkey")
             .agg(F.sum(_dec("l_extendedprice")).alias("value_dec")))
    total = value.agg(F.sum("value_dec").alias("total_dec"))
    return (value.crossJoin(F.broadcast(total))
            .filter(F.col("value_dec") * F.lit(Q11_SCALE) > F.col("total_dec"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    roundn_col(F.col("value_dec").cast("double")).alias("part_value")))


def q_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column ⇒ grouped by line status, and
    the late-delivery predicate is the returned-flag): per line status,
    how many lines belong to critical- vs normal-priority orders in one
    ship year. The order side projects two columns and broadcasts."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit(f"{Q12_YEAR}-01-01").cast("timestamp_ntz"))
                  & (F.col("l_shipdate") < F.lit(f"{int(Q12_YEAR) + 1}-01-01").cast("timestamp_ntz"))
                  & (F.col("l_returnflag") == "R"))
          .select("l_orderkey", "l_linestatus"))
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count")))


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of customers by order count, keeping
    zero-order customers via the LEFT OUTER join (the join condition —
    not a post-filter — excludes one priority class, preserving the
    original's filtered-outer-join shape)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != Q13_EXCLUDED_PRIORITY),
        "left_outer")
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) for a
    size IN-list, excluding one brand and excluding 'complaint' suppliers
    (negative balance) via a broadcast LEFT ANTI join — the NOT IN
    subquery without nullable-IN pitfalls."""
    part_sel = (load_table(spark, sf_dir, "part")
                .filter((F.col("p_brand") != Q16_EXCLUDED_BRAND)
                        & F.col("p_size").isin(*Q16_SIZES))
                .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_supp = (load_table(spark, sf_dir, "supplier")
                .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    pairs = (load_table(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey")
             .join(F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey"))
             .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"),
                   "left_anti"))
    return (pairs.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue that would be lost by dropping small-quantity
    orders of one brand's parts. The correlated per-part average is a
    pre-aggregated (sum, count) joined back; the ``qty < 0.2 * avg``
    predicate is rearranged to ``5 * qty * count < sum`` so it compares
    exact decimals (no division)."""
    part_sel = (load_table(spark, sf_dir, "part")
                .filter(F.col("p_brand") == Q17_BRAND).select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey"))
          .select("p_partkey", _dec("l_quantity").alias("qty"),
                  _dec("l_extendedprice").alias("price")))
    stats = li.groupBy("p_partkey").agg(
        F.sum("qty").alias("qty_sum"), F.count(F.lit(1)).alias("qty_cnt"))
    small = (li.join(stats.withColumnRenamed("p_partkey", "sp_key"),
                     F.col("p_partkey") == F.col("sp_key"))
             .filter(F.col("qty") * F.col("qty_cnt") * F.lit(5) < F.col("qty_sum")))
    return small.agg(
        roundn_col(F.sum("price").cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"))


def q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers of one nation who shipped more than half
    of a part's total volume (no partsupp.availqty ⇒ the 'excess stock'
    comparison is supplier-share-of-part > 1/2), for parts with a name
    prefix. The half-of-total correlated comparison multiplies exact
    decimals (``2 * supp_qty > part_qty``)."""
    part_sel = (load_table(spark, sf_dir, "part")
                .filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
                .select("p_partkey"))
    shipped = (load_table(spark, sf_dir, "lineitem")
               .join(F.broadcast(part_sel), F.col("l_partkey") == F.col("p_partkey"))
               .groupBy("p_partkey", "l_suppkey")
               .agg(F.sum(_dec("l_quantity")).alias("supp_qty")))
    dominant = (shipped
                .withColumn("part_qty",
                            F.sum("supp_qty").over(Window.partitionBy("p_partkey")))
                .filter(F.col("supp_qty") * F.lit(2) > F.col("part_qty"))
                .select("l_suppkey").distinct())
    supp = (load_table(spark, sf_dir, "supplier")
            .join(F.broadcast(load_table(spark, sf_dir, "nation")
                              .filter(F.col("n_name") == Q20_NATION)
                              .select("n_nationkey")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name"))
    return (dominant.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name"))


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: on finalized multi-supplier orders, suppliers who
    were the ONLY one with a returned line — EXISTS (another supplier on
    the order) + NOT EXISTS (another supplier with a returned line),
    realized as one per-order aggregate (distinct suppliers, distinct
    returned-suppliers) joined back to the returned pairs, instead of two
    correlated self-joins over the fact table."""
    orders_f = (load_table(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") == "F").select("o_orderkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
          .select("l_orderkey", "l_suppkey", "l_returnflag"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")))
        .alias("n_ret_supp"))
    ret_pairs = (li.filter(F.col("l_returnflag") == "R")
                 .select("l_orderkey", "l_suppkey").distinct()
                 .withColumnRenamed("l_orderkey", "r_orderkey"))
    waiting = (ret_pairs
               .join(per_order, F.col("r_orderkey") == F.col("l_orderkey"))
               .filter((F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (waiting.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "numwait"))


QUERIES = {
    "q_min_cost_supplier": q_min_cost_supplier,
    "q_market_share": q_market_share,
    "q_product_profit": q_product_profit,
    "q_part_value_concentration": q_part_value_concentration,
    "q_priority_mix": q_priority_mix,
    "q_customer_order_distribution": q_customer_order_distribution,
    "q_supplier_part_counts": q_supplier_part_counts,
    "q_small_quantity_revenue": q_small_quantity_revenue,
    "q_excess_shippers": q_excess_shippers,
    "q_waiting_suppliers": q_waiting_suppliers,
}

ORACLES = {
    "q_min_cost_supplier": f"""
WITH sel AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}'),
offers AS (
  SELECT p_partkey, p_name, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem JOIN sel ON l_partkey = p_partkey
  GROUP BY p_partkey, p_name, l_suppkey),
best AS (
  SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS mincost FROM offers)
SELECT p_partkey, p_name, s_name, n_name,
       {roundn_sql('cost::DOUBLE')} AS supply_cost
FROM best
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE cost = mincost""",

    "q_market_share": f"""
WITH region_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{Q8_REGION}'),
base AS (
  SELECT year(o_orderdate) AS o_year, n_name AS supp_nation,
         {_REV_SQL} AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN region_cust ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_type = '{Q8_TYPE}'),
agg AS (
  SELECT o_year,
         sum(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS num,
         sum(rev) AS den
  FROM base GROUP BY o_year)
SELECT o_year,
       {roundn_sql('num::DOUBLE / den::DOUBLE')} AS mkt_share,
       {roundn_sql('den::DOUBLE')} AS total_revenue
FROM agg""",

    "q_product_profit": f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {roundn_sql(f'sum({_REV_SQL})::DOUBLE')} AS sum_profit,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{Q9_NAME_PART}%'
GROUP BY n_name, year(o_orderdate)""",

    "q_part_value_concentration": f"""
WITH value AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{Q11_NATION}'
  GROUP BY l_partkey)
SELECT l_partkey AS p_partkey,
       {roundn_sql('value_dec::DOUBLE')} AS part_value
FROM value
WHERE value_dec * {Q11_SCALE} > (SELECT sum(value_dec) FROM value)""",

    "q_priority_mix": f"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q12_YEAR}-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '{int(Q12_YEAR) + 1}-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY l_linestatus""",

    "q_customer_order_distribution": f"""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count""",

    "q_supplier_part_counts": f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCLUDED_BRAND}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size""",

    "q_small_quantity_revenue": f"""
WITH li AS (
  SELECT p_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{Q17_BRAND}'),
stats AS (
  SELECT p_partkey AS sp_key, sum(qty) AS qty_sum, count(*) AS qty_cnt
  FROM li GROUP BY p_partkey)
SELECT {roundn_sql('sum(price)::DOUBLE / 7.0')} AS avg_yearly,
       count(*) AS n_small_lines
FROM li JOIN stats ON p_partkey = sp_key
WHERE qty * qty_cnt * 5 < qty_sum""",

    "q_excess_shippers": f"""
WITH shipped AS (
  SELECT p_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
  GROUP BY p_partkey, l_suppkey),
dominant AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, supp_qty,
           sum(supp_qty) OVER (PARTITION BY p_partkey) AS part_qty
    FROM shipped)
  WHERE supp_qty * 2 > part_qty)
SELECT s_suppkey, s_name
FROM dominant
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{Q20_NATION}'""",

    "q_waiting_suppliers": """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_returnflag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey AS agg_okey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret_supp
  FROM li GROUP BY l_orderkey),
ret_pairs AS (
  SELECT DISTINCT l_orderkey AS r_orderkey, l_suppkey
  FROM li WHERE l_returnflag = 'R')
SELECT s_suppkey, s_name, count(*) AS numwait
FROM ret_pairs
JOIN per_order ON r_orderkey = agg_okey
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND n_ret_supp = 1
GROUP BY s_suppkey, s_name""",
}
