"""TPC-H-style relational core, sorts/top-k, set ops, window
functions, rollup/cube, subqueries, sampling, SQL-text interface."""
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _t,
    register,
)

# --------------------------------------------------------------------------
# TPC-H-style relational core (free via Spark SQL; declared for the t2 gate)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filter + groupBy aggregation.

    Scale: partial aggregation map-side; only 4 groups shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                            AS sum_qty,
       round(sum(l_extendedprice), 2)                                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       round(avg(l_quantity), 6)                                            AS avg_qty,
       round(avg(l_extendedprice), 6)                                       AS avg_price,
       round(avg(l_discount), 6)                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
register(q1_pricing_summary, oracle=Q1_SQL)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + agg + deterministic top-10.

    Scale: customer filter before join (Catalyst pushes it); orders and
    lineitem join on their natural keys; only 10 rows leave."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""
register(q3_shipping_priority, oracle=Q3_SQL)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through both dimension chains.

    region/nation broadcast; customer-supplier same-nation predicate."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""
register(q5_local_supplier_volume, oracle=Q5_SQL)


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join with a
    non-equi conjunct (the commit/receipt columns are absent from this
    schema; shipped-after-order stands in).

    Scale: semi join shuffles only the two key columns; the count
    aggregates 5 groups."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""
register(q4_order_priority, oracle=Q4_SQL)


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate is
    parquet-pushable and only two columns are read (ReadSchema shows
    l_extendedprice, l_discount after pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # q10 recipe: price*discount has at most 4 exact decimal
            # digits; summing the exact integer ten-thousandths is
            # partition-order independent (a double sum can flip a cent
            # boundary between Spark and the oracle)
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * F.col("l_discount") * 10000
                    ).cast("long")
                )
                / 10000.0
            ).alias("revenue")
        )
    )


Q6_SQL = """
SELECT sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""
register(q6_forecast_revenue, oracle=Q6_SQL)


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: fact joins through BOTH dimension chains
    (supplier-nation and customer-nation) with a nation-pair predicate
    and per-year rollup.

    Scale: both nation joins broadcast; the only shuffles are the
    fact-fact joins and the final 4-group aggregate."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            # q10 recipe: exact integer ten-thousandths, order-independent
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        * 10000
                    ).cast("long")
                )
                / 10000.0
            ).alias("revenue")
        )
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       sum(CAST(round(volume * 10000) AS BIGINT)) / 10000.0 AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
             (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
GROUP BY supp_nation, cust_nation, l_year
"""
register(q7_volume_shipping, oracle=Q7_SQL)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join, returned-flag filter, revenue per
    customer, deterministic top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            # price*(1-discount) has at most 4 decimal digits in exact
            # arithmetic, so round(vol*10000) recovers the exact integer
            # ten-thousandths on BOTH engines; the integer sum is then
            # order-independent (a double sum here can land either side
            # of a cent boundary depending on partition merge order)
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        * 10000
                    ).cast("long")
                )
                / 10000.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""
register(q10_returned_items, oracle=Q10_SQL)


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation -- high-
    vs low-priority line counts per linestatus (shipmode is absent
    from this schema; linestatus stands in)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""
register(q12_priority_lines, oracle=Q12_SQL)


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: join + conditional-aggregate ratio (PROMO share
    of revenue for one ship month)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    # q10 recipe on BOTH sums: the ratio then divides two exactly-equal
    # longs on both engines, so the resulting double is bit-identical
    vol_i = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
    ).cast("long")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            100
            * F.sum(F.when(F.col("p_type") == "PROMO", vol_i).otherwise(0))
            / F.sum(vol_i),
            4,
        ).alias("promo_revenue_pct")
    )


Q14_SQL = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN CAST(round(l_extendedprice * (1 - l_discount)
                                            * 10000) AS BIGINT)
                            ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""
register(q14_promo_revenue, oracle=Q14_SQL)


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + global-max subquery.

    The max is a scalar ``agg(max)`` broadcast-cross-joined back onto the
    per-supplier aggregate -- NOT an unpartitioned window, which would
    drag the whole aggregate through one task (harmless at 10k suppliers,
    a single-task sort at 100x key cardinality)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            # q10 recipe: exact integer ten-thousandths, order-independent
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        * 10000
                    ).cast("long")
                )
                / 10000.0
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_max"))
    top = rev.join(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("_max")
    )
    return (
        top.join(s, top.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) / 10000.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""
register(q15_top_supplier, oracle=Q15_SQL)


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average subquery decorrelated to a
    per-part aggregate joined back to the fact."""
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            # q10 recipe (price has 2 exact decimals -> integer cents);
            # /7.0 of the same exact double is then bit-identical on
            # both engines
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0,
             2) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""
register(q17_small_quantity_revenue, oracle=Q17_SQL)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as an IN-subquery
    driving a 3-way join (large-volume orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == F.col("big_orderkey"), "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
"""
register(q18_large_orders, oracle=Q18_SQL)


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: equi-join with a DISJUNCTION of bracketed
    range predicates (brand x size x quantity); Catalyst keeps the
    equi-key so this stays a hash/SMJ join, never a cartesian."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 21))
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 40))
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            # q10 recipe: exact integer ten-thousandths, order-independent
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        * 10000
                    ).cast("long")
                )
                / 10000.0
            ).alias("revenue")
        )
    )


Q19_SQL = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
"""
register(q19_discounted_revenue, oracle=Q19_SQL)


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery + NOT EXISTS anti-join +
    code-group rollup.  Adapted to this schema/data: every customer
    has orders, so 'no orders at all' is empty by construction --
    'no orders since 2000' keeps the anti-join selective; the country
    code becomes a digit group of the customer id."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("_avg"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .withColumn("cust_group", F.substring("c_name", 15, 2))
        .groupBy("cust_group")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cust_group")
    )


Q22_SQL = """
SELECT substring(c_name, 15, 2) AS cust_group,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY cust_group
ORDER BY cust_group
"""
register(q22_dormant_customers, oracle=Q22_SQL)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery over a part-supplier
    cost table, decorrelated to a per-part aggregate joined back on
    equality.  Adapted: this schema has no partsupp, so the cost table
    derives from lineitem (min sale price per part-supplier pair) --
    min/max are partition-order independent, no quantization needed."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    best = ps.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(
            best,
            (ps.l_partkey == F.col("b_partkey"))
            & (ps.supplycost == F.col("min_cost")),
        )
        .join(s, ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supplycost")
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, supplycost
FROM ps JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
WHERE p_size = 15 AND p_type = 'SMALL'
  AND supplycost = (SELECT min(supplycost) FROM ps ps2
                    WHERE ps2.l_partkey = ps.l_partkey)
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""
register(q2_min_cost_supplier, oracle=Q2_SQL)


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: nation's market share (conditional-sum ratio)
    within a region's customers per order year.  Both sums use the q10
    integer-ten-thousandths recipe, so the share divides two exactly
    equal longs on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol_i = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
    ).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", vol_i).otherwise(0)
                )
                / F.sum(vol_i),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_5'
                      THEN CAST(round(l_extendedprice * (1 - l_discount)
                                      * 10000) AS BIGINT) ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)), 6) AS mkt_share
FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region   ON n1.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_year
ORDER BY o_year
"""
register(q8_market_share, oracle=Q8_SQL)


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit per supplier nation per order
    year (pattern-filtered part join; no partsupp in this schema, so
    profit is revenue rather than revenue minus supply cost)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").contains("gear"))
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    vol_i = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg((F.sum(vol_i) / 10000.0).alias("profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS profit
FROM lineitem JOIN part     ON l_partkey = p_partkey
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation ASC, o_year DESC
"""
register(q9_profit_by_nation, oracle=Q9_SQL)


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value HAVING a scalar-subquery
    threshold (fraction of the global total).  Adapted to lineitem as
    the part-supplier fact; value sums use the q10 integer recipe so
    the threshold compares exactly on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    val_i = F.round(
        (F.col("l_quantity") * F.col("l_extendedprice")) * 100
    ).cast("long")
    nat = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", val_i.alias("val_i"))
    )
    per_part = nat.groupBy("l_partkey").agg(F.sum("val_i").alias("sum_i"))
    total = per_part.agg(F.sum("sum_i").alias("total_i"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("sum_i") * 10000 > F.col("total_i"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("sum_i") / 100.0).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey").asc())
    )


Q11_SQL = """
WITH nat AS (
  SELECT l_partkey,
         CAST(round(l_quantity * l_extendedprice * 100) AS BIGINT) AS val_i
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'),
per_part AS (
  SELECT l_partkey, sum(val_i) AS sum_i FROM nat GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, sum_i / 100.0 AS part_value
FROM per_part
WHERE sum_i * 10000 > (SELECT sum(sum_i) FROM per_part)
ORDER BY part_value DESC, p_partkey ASC
"""
register(q11_important_parts, oracle=Q11_SQL)


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with the filter INSIDE the join
    condition (customers with zero qualifying orders must survive with
    count 0), then a distribution over the per-customer counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""
register(q13_customer_distribution, oracle=Q13_SQL)


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute
    group, with a NOT-IN supplier denylist subquery (negative account
    balance stands in for the complaints filter) and negated part
    predicates."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 13, 17))
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == F.col("bad_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""
register(q16_supplier_part_counts, oracle=Q16_SQL)


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: supplier semi-join through a nested part filter
    with a correlated aggregate threshold.  Adapted (no partsupp):
    suppliers of one nation who shipped MORE THAN 30% of some
    name-filtered part's total 1997 volume -- the correlated compare is
    per-(part,supplier) quantity vs a per-part scalar."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").startswith("small"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    qty_i = F.round(F.col("l_quantity") * 100).cast("long")
    filt = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_suppkey", qty_i.alias("qty_i")
    )
    per_ps = filt.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty_i").alias("ps_qty")
    )
    per_part = filt.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty_i").alias("part_qty")
    )
    dominant = (
        per_ps.join(per_part, per_ps.l_partkey == F.col("t_partkey"))
        .where(F.col("ps_qty") * 10 > F.col("part_qty") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH filt AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(qty_i) AS ps_qty
  FROM filt GROUP BY l_partkey, l_suppkey),
per_part AS (
  SELECT l_partkey, sum(qty_i) AS part_qty FROM filt GROUP BY l_partkey)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM per_ps JOIN per_part USING (l_partkey)
                    WHERE ps_qty * 10 > part_qty * 3)
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_1')
ORDER BY s_suppkey
"""
register(q20_dominant_suppliers, oracle=Q20_SQL)


def q21_latest_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS(other) + NOT-EXISTS(later other)
    self-joins on the fact table.  Adapted (no commit/receipt dates):
    count, per supplier, the multi-supplier orders where that supplier
    was the STRICTLY latest shipper -- exists another supplier's line
    in the order, and no other supplier's line ships on/after this
    supplier's last ship date."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("max_ship")
    )
    other = per_os.select(
        F.col("l_orderkey").alias("o_orderkey2"),
        F.col("l_suppkey").alias("o_suppkey2"),
        F.col("max_ship").alias("o_max_ship"),
    )
    # EXISTS: another supplier in the order
    has_other = per_os.join(
        other,
        (per_os.l_orderkey == F.col("o_orderkey2"))
        & (per_os.l_suppkey != F.col("o_suppkey2")),
        "left_semi",
    )
    # NOT EXISTS: another supplier shipping on/after my last ship date
    latest = has_other.join(
        other,
        (has_other.l_orderkey == F.col("o_orderkey2"))
        & (has_other.l_suppkey != F.col("o_suppkey2"))
        & (F.col("o_max_ship") >= has_other.max_ship),
        "left_anti",
    )
    return (
        latest.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


Q21_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS max_ship
  FROM lineitem GROUP BY l_orderkey, l_suppkey)
SELECT s_name, count(*) AS numwait
FROM per_os p JOIN supplier ON p.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM per_os o
              WHERE o.l_orderkey = p.l_orderkey
                AND o.l_suppkey <> p.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM per_os o
                  WHERE o.l_orderkey = p.l_orderkey
                    AND o.l_suppkey <> p.l_suppkey
                    AND o.max_ship >= p.max_ship)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""
register(q21_latest_shippers, oracle=Q21_SQL)


def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension broadcast join: customers per region."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


BROADCAST_DIM_SQL = """
SELECT r_name, count(*) AS customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""
register(broadcast_dim_join, oracle=BROADCAST_DIM_SQL)


def filter_project_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown + column-pruning shape: 2-column projection
    with a pushable filter; .explain shows PushedFilters + ReadSchema."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_quantity")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


FILTER_PROJECT_SQL = """
SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS total_qty
FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
"""
register(filter_project_scan, oracle=FILTER_PROJECT_SQL)


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit top-k with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 10
"""
register(topk_orders, oracle=TOPK_SQL)


def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: rank orders per customer by totalprice."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""
register(window_rank_orders, oracle=WINDOW_RANK_SQL)


def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: per-user previous event value (lag)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
    )


WINDOW_LAG_SQL = """
SELECT user_id, event_id,
       round(lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC), 2) AS prev_value
FROM events
"""
register(window_lag_events, oracle=WINDOW_LAG_SQL)


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: UNION / EXCEPT over key sets."""
    c = _t(spark, sf_dir, "customer")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    return building.union(rich).distinct().exceptAll(
        c.where(F.col("c_nationkey") == 0).select("c_custkey")
    )


SET_OPS_SQL = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_nationkey = 0
"""
register(set_ops_customers, oracle=SET_OPS_SQL)


def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over the region > nation hierarchy."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""
register(rollup_region_nation, oracle=ROLLUP_SQL)


def having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING with a correlated-average comparison: customers
    whose total order value exceeds 1.5x the overall average customer
    total (scalar subquery shape, TPC-H Q22 flavor)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    avg_total = per_cust.agg(F.avg("total").alias("a"))
    return (
        per_cust.crossJoin(F.broadcast(avg_total))
        .where(F.col("total") > F.lit(1.5) * F.col("a"))
        .select("o_custkey", "total")
    )


HAVING_SQL = """
WITH per_cust AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS total
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, total FROM per_cust
WHERE total > 1.5 * (SELECT avg(total) FROM per_cust)
"""
register(having_big_customers, oracle=HAVING_SQL)


def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins: customers with orders but without
    any high-value order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    has_order = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    big = o.where(F.col("o_totalprice") > 400000)
    return has_order.join(
        big, has_order.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SEMI_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""
register(semi_anti_join_customers, oracle=SEMI_ANTI_SQL)


def exists_subquery_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (SQL text interface -- the engine
    accepts full Spark SQL; this entry exercises spark.sql())."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM supplier_v s
        WHERE EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
        """
    )


EXISTS_SQL = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
"""
register(exists_subquery_suppliers, oracle=EXISTS_SQL)


def distinct_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + exact median (percentile) per order status."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


DISTINCT_AGG_SQL = """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""
register(distinct_agg_orders, oracle=DISTINCT_AGG_SQL)


def cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, hour-of-day)."""
    e = _t(spark, sf_dir, "events")
    base = e.select("event_type", F.hour("ts").alias("hod"), "value")
    return base.cube("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


CUBE_SQL = """
SELECT event_type, hod, count(*) AS n, round(sum(value), 2) AS total
FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hod, value FROM events)
GROUP BY CUBE (event_type, hod)
"""
register(cube_events, oracle=CUBE_SQL)


def _bm25_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared integer BM25 scoring frame: (doc_id, s = summed per-term
    micro-scores, n_terms_hit) for the fixed 3-term query.  Consumed
    by ``bm25_retrieval`` (the published top-20) and
    ``hybrid_rrf_retrieval`` (the lexical leg of the fusion)."""
    k1, b = 1.2, 0.75
    terms = ["spark", "join", "window"]
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("term"),
    )
    from nearscan_kafka_streams_spark.functions.dedup import _persist_tracked

    # doclen feeds the corpus aggregate AND the scored join; persisting
    # this doc-count-sized frame caps the full tokenize+explode at two
    # passes (doclen, tf).  Persisting `words` itself would cut it to
    # one but costs O(corpus tokens) storage -- the wrong trade at
    # 100 TB (released via release_cached, as elsewhere)
    doclen = _persist_tracked(
        words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    )
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        words.where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    # association mirrors the oracle exactly -- (idf * num) / denom *
    # 1e6 -- since a*(b/c) vs (a*b)/c can differ by 1 ulp and flip the
    # millionths rounding at a .5 boundary
    per_term_q = F.round(
        idf * (F.col("tf") * (k1 + 1)) / denom * 1_000_000
    ).cast("long")
    return (
        scored.withColumn("q", per_term_q)
        .groupBy("doc_id")
        .agg(
            F.sum("q").cast("long").alias("s"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )


def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for a fixed 3-term
    query over the documents corpus: the sparse-retrieval complement
    of the ANN dense path, built on the same tf/df statistics as
    term_doc_stats.  Per-term scores are quantized to integer
    millionths BEFORE the per-doc sum so the ranking hash is
    summation-order independent; idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)) form.

    Scale shape: tf filters to the query's terms at the scan (a
    3-term IN-list pushdown), so the aggregate touches only matching
    postings; N/avgdl/df are one tiny broadcast row each.  The corpus
    is never joined to itself."""
    return (
        _bm25_scored_docs(spark, sf_dir)
        .select(
            "doc_id",
            (F.col("s") / 1_000_000.0).alias("score"),
            "n_terms_hit",
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


BM25_SQL = r"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
                                            'g'), ' ')) AS term
  FROM documents
), doclen AS (
  SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id
), corpus AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM doclen
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM words WHERE term IN ('spark', 'join', 'window')
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id,
         CAST(round(ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * (t.tf * 2.2)
                    / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl))
                    * 1000000) AS BIGINT) AS q
  FROM tf t JOIN df d USING (term)
            JOIN doclen l USING (doc_id)
            CROSS JOIN corpus c
)
SELECT doc_id,
       CAST(sum(q) AS DOUBLE) / 1000000.0 AS score,
       count(*) AS n_terms_hit
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""
register(bm25_retrieval, oracle=BM25_SQL)


def resample_gapfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE with gap fill (the hypertable/continuous-
    aggregate shape): per event_type, 6-hour buckets over the corpus's
    full time range, with EMPTY buckets present as zero rows -- the
    dense spine downstream charting/forecasting expects, which a bare
    groupBy can't produce (it only emits observed buckets).

    Scale shape: the observed aggregate is one shuffle; the spine is
    built from the AGGREGATED bounds (one tiny row) exploded to
    #buckets x #types rows -- never from the raw events -- and the
    zero-fill is a broadcast-able left join of the spine onto the
    observed aggregate keyed on (type, bucket)."""
    e = _t(spark, sf_dir, "events")
    # floor, not cast-truncate: they differ for pre-1970 timestamps
    # (truncation rounds toward zero), and the oracle floors
    bucket = F.floor(F.unix_timestamp("ts") / 21600).cast("long") * 21600
    agg = e.groupBy(
        bucket.alias("bucket_epoch"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = agg.agg(
        F.min("bucket_epoch").alias("lo"), F.max("bucket_epoch").alias("hi")
    )
    # the observed aggregate already carries every event_type; deriving
    # the dimension from it avoids a second scan of the raw table
    types = agg.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(21600))
            ).alias("bucket_epoch")
        )
        .crossJoin(types)
    )
    return (
        spine.join(agg, ["bucket_epoch", "event_type"], "left")
        .select(
            F.timestamp_seconds(F.col("bucket_epoch")).alias("bucket"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .orderBy("bucket", "event_type")
    )


RESAMPLE_GAPFILL_SQL = """
WITH agg AS (
  SELECT (CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600) AS bucket_epoch,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT unnest(generate_series((SELECT min(bucket_epoch) FROM agg),
                                (SELECT max(bucket_epoch) FROM agg),
                                21600)) AS bucket_epoch
)
SELECT TIMESTAMP '1970-01-01' + INTERVAL (s.bucket_epoch) SECOND AS bucket,
       t.event_type AS event_type,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n
FROM spine s
CROSS JOIN (SELECT DISTINCT event_type FROM events) t
LEFT JOIN agg a ON a.bucket_epoch = s.bucket_epoch
               AND a.event_type = t.event_type
ORDER BY 1, 2
"""
register(resample_gapfill_events, oracle=RESAMPLE_GAPFILL_SQL)


def outliers_iqr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (IQR-fence) outlier detection per event_type: values
    above p75 + 1.5*IQR or below p25 - 1.5*IQR -- the data-quality
    screen before aggregates, using exact interpolated percentiles
    (order-independent, unlike mean/stddev float sums) so the fences
    hash-match the oracle bit for bit.

    Scale shape: one per-group percentile aggregate (tiny result,
    broadcast back) + one scan-side flag pass -- two jobs, no
    self-join of the big table."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    fences = e.groupBy("event_type").agg(
        F.percentile(v, 0.25).alias("p25"),
        F.percentile(v, 0.75).alias("p75"),
    )
    flagged = e.join(F.broadcast(fences), "event_type").withColumn(
        "is_outlier",
        (F.col("value") > F.col("p75") + 1.5 * (F.col("p75") - F.col("p25")))
        | (F.col("value") < F.col("p25") - 1.5 * (F.col("p75") - F.col("p25"))),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.round(F.min("p25"), 6).alias("p25"),
            F.round(F.min("p75"), 6).alias("p75"),
            F.count(F.lit(1)).alias("n"),
            # coalesce: an all-NULL-value group sums NULL flags to NULL
            # in Spark, while the oracle's CASE..ELSE 0 sums to 0
            F.coalesce(
                F.sum(F.col("is_outlier").cast("long")), F.lit(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


OUTLIERS_IQR_SQL = """
WITH fences AS (
  SELECT event_type,
         quantile_cont(CAST(value AS DOUBLE), 0.25) AS p25,
         quantile_cont(CAST(value AS DOUBLE), 0.75) AS p75
  FROM events GROUP BY event_type
)
SELECT e.event_type AS event_type,
       round(min(f.p25), 6) AS p25,
       round(min(f.p75), 6) AS p75,
       count(*) AS n,
       CAST(sum(CASE WHEN e.value > f.p75 + 1.5 * (f.p75 - f.p25)
                       OR e.value < f.p25 - 1.5 * (f.p75 - f.p25)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN fences f ON e.event_type = f.event_type
GROUP BY e.event_type
ORDER BY 1
"""
register(outliers_iqr_events, oracle=OUTLIERS_IQR_SQL)


def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory exact top-20 words via two-pass Misra-Gries
    (functions/profiling.py::heavy_hitters): per-task fixed-size
    candidate summaries, then an exact recount of candidates only --
    the 100 TB path where ``vocab_topk``'s full groupBy would shuffle
    the entire vocabulary.  With 4096 counters >> the corpus vocab the
    operating condition holds trivially, so the result is exactly the
    full-shuffle answer (the DuckDB oracle)."""
    from nearscan_kafka_streams_spark.functions.profiling import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    ).where(F.col("word") != "")
    return heavy_hitters(toks, "word", k=20, counters=4096)


HEAVY_HITTERS_SQL = r"""
SELECT word AS value, count(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents
) WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
"""
register(heavy_hitters_words, oracle=HEAVY_HITTERS_SQL)


def range_join_pricebands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: orders classified into price bands via a non-equi
    join (``lo <= price < hi``) against a tiny band dimension -- the
    canonical bin/band lookup.  The band table is broadcast, so the
    physical plan is a BroadcastNestedLoopJoin whose inner side is 3
    rows: each order row tests 3 predicates and never shuffles.  (At a
    band count where that stops being cheap, the same query folds into
    a CASE or a bucketized equi-join; the operator surface here is the
    general non-equi range join.)"""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            (0.0, 50_000.0, "small"),
            (50_000.0, 200_000.0, "medium"),
            (200_000.0, 1e18, "large"),
        ],
        "lo double, hi double, band string",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .orderBy("band")
    )


RANGE_JOIN_SQL = """
WITH bands(lo, hi, band) AS (
  VALUES (0.0, 50000.0, 'small'),
         (50000.0, 200000.0, 'medium'),
         (200000.0, 1e18, 'large')
)
SELECT band, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band ORDER BY band
"""
register(range_join_pricebands, oracle=RANGE_JOIN_SQL)


def window_distribution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile quartiles, percent_rank,
    cume_dist, and first/last frame values per customer -- the ranking
    family beyond row_number/rank/lag already covered.  All windows are
    customer-partitioned (parallel); ties broken by o_orderkey so both
    engines order identically."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_order"),
        F.last("o_orderkey").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("priciest_order"),
    )


WINDOW_DISTRIBUTION_SQL = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(o_orderkey) OVER w AS cheapest_order,
       last_value(o_orderkey) OVER
         (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS priciest_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
"""
register(window_distribution_orders, oracle=WINDOW_DISTRIBUTION_SQL)


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices):
    totals by status, by priority, and the grand total in ONE pass --
    with ``grouping_id`` disambiguating which set each row belongs to
    (a NULL key value vs a rolled-up key are different things).
    Catalyst expands this to a single Expand + hash aggregate: one
    scan, one shuffle, regardless of how many sets."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""
register(grouping_sets_orders, oracle=GROUPING_SETS_SQL)


def full_outer_join_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join shape (the one outer-join kind the registry
    lacked): per-nation customer vs supplier counts, keeping nations
    that have only one side and coalescing the keys."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey AS c_nk, count(*) AS n_customers
           FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
s AS (SELECT s_nationkey AS s_nk, count(*) AS n_suppliers
      FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey)
SELECT COALESCE(c_nk, s_nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c_nk = s_nk
ORDER BY nationkey
"""
register(full_outer_join_nations, oracle=FULL_OUTER_SQL)


def moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (not ROWS): per event type, each
    event's trailing-1-hour event count -- the frame is defined by a
    time interval, so ties and irregular spacing are handled by value
    range, which a ROWS frame cannot express.  The count is an
    integer, so the oracle compares exactly."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    # exact integer microseconds on BOTH engines (a seconds cast would
    # truncate here but not in DuckDB's fractional epoch())
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select("event_id", "event_type", "ts")
        .withColumn("trailing_1h_events", F.count(F.lit(1)).over(w))
        .select("event_id", "event_type", "trailing_1h_events")
        .orderBy("event_id")
    )


MOVING_AVG_SQL = """
SELECT event_id, event_type,
       count(*) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS trailing_1h_events
FROM events
WHERE event_id < 2000
ORDER BY event_id
"""
register(moving_avg_events, oracle=MOVING_AVG_SQL)


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view -> click -> purchase): per
    user, the first view, the first click strictly AFTER that view,
    the first purchase strictly after that click; report users
    surviving each step.  Min-timestamps and integer counts only, so
    the oracle compares exactly.

    Scale: three hash aggregates on user_id + two broadcast-sized
    joins of per-user single rows -- each pass is one shuffle on the
    same key, and AQE reuses the partitioning."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    spark_rows = [
        v.agg(F.lit(1).alias("step"), F.lit("view").alias("step_name"),
              F.count(F.lit(1)).alias("users")),
        c.agg(F.lit(2).alias("step"), F.lit("click").alias("step_name"),
              F.count(F.lit(1)).alias("users")),
        p.agg(F.lit(3).alias("step"), F.lit("purchase").alias("step_name"),
              F.count(F.lit(1)).alias("users")),
    ]
    out = spark_rows[0]
    for frame in spark_rows[1:]:
        out = out.unionByName(frame)
    return out.orderBy("step")


FUNNEL_SQL = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
SELECT * FROM (
  SELECT 1 AS step, 'view' AS step_name, count(*) AS users FROM v
  UNION ALL
  SELECT 2, 'click', count(*) FROM c
  UNION ALL
  SELECT 3, 'purchase', count(*) FROM p)
ORDER BY step
"""
register(funnel_events, oracle=FUNNEL_SQL)


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    first event; for each later week, how many are still active.
    Week arithmetic is integer epoch math on Monday-truncated weeks
    (identical in both engines under the pinned UTC zone); counts are
    integers, so the oracle compares exactly."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        active.join(first, "user_id")
        .withColumn(
            "week_k",
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk"))
                / 604800
            ).cast("int"),
        )
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_k",
        )
        .agg(F.count_distinct("user_id").alias("users"))
        .orderBy("cohort_week", "week_k")
    )


RETENTION_SQL = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
  FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
       CAST((epoch(wk) - epoch(cohort_wk)) / 604800 AS INT) AS week_k,
       count(DISTINCT user_id) AS users
FROM active JOIN first USING (user_id)
GROUP BY cohort_wk, week_k
ORDER BY cohort_week, week_k
"""
register(retention_cohorts_events, oracle=RETENTION_SQL)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) -- batch form of the custom
    stateful operator (operators/sessionize.py; streaming variant uses
    applyInPandasWithState, exercised in tests/)."""
    from nearscan_kafka_streams_spark.operators.sessionize import sessionize_batch

    e = _t(spark, sf_dir, "events")
    return sessionize_batch(e, key_col="user_id", ts_col="ts", gap_minutes=30)


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts ASC) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), seq AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM seq GROUP BY user_id, session_seq
"""
register(sessionize_events, oracle=SESSIONIZE_SQL)


