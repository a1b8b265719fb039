"""TPC-H queries (Q1-Q22 except Q13) and the multi-way join witnesses."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    relational,
)

from catalog import query
from catalog._common import (
    _cents,
    _cents_avg,
    _cents_sum,
    _q,
    _sql_cents_avg,
    _sql_cents_sum,
    _sql_q,
    _t,
)


@query("""
            SELECT r_name, n_name,
                   {REV} AS revenue,
                   COUNT(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE o_orderstatus = 'F'
            GROUP BY r_name, n_name
        """)
def q_multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 generalized: 5-table equi-join chain + agg (TPC-H Q5 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = relational.multiway_join(
        li,
        [
            (o, li.l_orderkey == o.o_orderkey, "inner"),
            (c, o.o_custkey == c.c_custkey, "inner"),
            (F.broadcast(na), c.c_nationkey == na.n_nationkey, "inner"),
            (F.broadcast(r), na.n_regionkey == r.r_regionkey, "inner"),
        ],
    )
    return joined.groupBy("r_name", "n_name").agg(
        _cents_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
        ).alias("revenue"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


@query("""
            SELECT n_name, p_brand,
                   {MARGIN} AS margin,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_retailprice > 950.0
            GROUP BY n_name, p_brand
        """)
def q_supplier_part_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup over part ⋈ supplier ⋈ nation —
    exercises the two otherwise-untouched dimension tables. Fact table
    shuffles once per join key; all three dimensions broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_retailprice") > 950.0)
    s = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(na), s.s_nationkey == na.n_nationkey)
    )
    margin = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name", "p_brand").agg(
        _cents_sum(margin, 10000, 2).alias("margin"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.count("*").alias("n_lines"),
    )


@query(f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01'
              AND l_shipdate  > TIMESTAMP '1998-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer (broadcast) ⋈ date-
    bounded orders ⋈ lineitem, revenue per order, top-10 — the classic
    join-then-topk; compiles to TakeOrderedAndProject over one shuffled
    agg, both date filters pushed to the scans."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(f"""
            SELECT {_sql_cents_sum("l_extendedprice * l_discount", 10000, 2)} AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global agg — every predicate pushed
    to the parquet scan, no shuffle wider than the final single-row
    reduce. The what-if revenue delta of dropping small discounts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _cents_sum(
            F.col("l_extendedprice") * F.col("l_discount"), 10000, 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query("""
            WITH big AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, total_qty
            FROM orders
            JOIN big      ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery rewritten as an aggregate-then-
    join — the per-order quantity rollup (one shuffle on l_orderkey)
    filters to large orders first, so the customer/orders joins touch
    only the qualifying keys."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(f"""
            SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
                OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
            GROUP BY 1, 2, 3
        """)
def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the two-role dimension join — nation⋈region
    joined TWICE (the supplier's side and the customer's side, both
    broadcast under distinct aliases) with a disjunctive region-pair
    filter that Catalyst keeps as a residual atop the equi-joins.
    Cross-region trade volume by (supp_region, cust_region, year): the
    fact table shuffles only for the final 3-key aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    r = _t(spark, sf_dir, "region")
    n1 = (
        _t(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("r_name").alias("supp_region"),
        )
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("r_name").alias("cust_region"),
        )
    )
    pair = (
        (F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE")
    ) | (
        (F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue")
        )
    )


@query(f"""
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   {_sql_q(
                       "SUM(CASE WHEN n2.n_name = 'NATION_2' "
                       "THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) "
                       "ELSE 0 END) * 1.0 / "
                       "SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))",
                       6,
                   )} AS mkt_share,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        """)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a conditional share — one nation's suppliers'
    revenue over total revenue, within a region's market for one part
    type, by year. The numerator is a CASE inside SUM over the same
    joined rows as the denominator (one pass, no second join), and both
    sums are exact integer cents so only the final division is float."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    target = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _q(F.sum(target) / F.sum(vol), 6).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(f"""
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1997-04-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over one
    quarter — fact ⋈ date-bounded orders with both selective filters
    (returnflag, date window) pushed to the scans, customer + nation
    broadcast, top-20 by lost revenue via TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(f"""
            WITH rev AS (
                SELECT l_suppkey,
                       {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the view-vs-scalar-max pattern — per-supplier
    quarterly revenue aggregated once, then filtered to the maximum via
    a broadcast scalar subquery (cross-join of one row), NOT a global
    sort. Ties all surface (deterministic), ordered by supplier key."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _cents_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query("""
            WITH per_order AS (
                SELECT l_orderkey,
                       COUNT(DISTINCT l_suppkey) AS n_supp,
                       COUNT(DISTINCT CASE WHEN CAST(l_shipdate AS DATE)
                                              > CAST(o_orderdate AS DATE) + 90
                                           THEN l_suppkey END) AS n_late,
                       MAX(CASE WHEN CAST(l_shipdate AS DATE)
                                     > CAST(o_orderdate AS DATE) + 90
                                THEN l_suppkey END) AS late_supp
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, COUNT(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp > 1 AND n_late = 1
            GROUP BY 1, 2
            ORDER BY numwait DESC, s_suppkey ASC
            LIMIT 20
        """)
def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to available columns — late =
    shipped >90 days after order date): suppliers whose line was late on
    a multi-supplier order where EVERY other supplier shipped on time.
    The classic correlated EXISTS + NOT EXISTS pair, expressed as one
    per-order aggregate over the order's lineitems — turning two
    correlated subqueries into a single shuffle on l_orderkey. r7: the
    distinct supplier counts are collect_set sizes, not
    count_distinct × 2 — the dual-distinct formulation planned an
    Expand (every joined lineitem duplicated per distinct group) plus
    TWO full-data exchanges ((okey, skey, late, gid) then okey), the
    measured 0.50×-linear grower in the 10× table. collect_set
    partial-aggregates map-side with dedup, so the one exchange
    carries per-order supplier sets bounded by suppliers-per-order
    (~7 in TPC-H whatever the corpus size) — the formulation that
    survives 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate").cast("date") > F.date_add(
        F.col("o_orderdate").cast("date"), 90
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.size(
                F.collect_set(F.when(late, F.col("l_suppkey")))
            ).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(
            F.broadcast(s), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


@query(f"""
            WITH t AS (
                SELECT {_sql_cents_avg("c_acctbal", 100, 6)} AS avg_bal
                FROM customer WHERE c_acctbal > 0
            )
            SELECT n_name,
                   COUNT(*) AS numcust,
                   {_sql_cents_sum("c_acctbal", 100, 2)} AS totacctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            CROSS JOIN t
            WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) / 100.0 > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY 1
        """)
def q_tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape: rich-but-idle customers — acctbal above the
    global average of positive balances (broadcast scalar subquery) AND
    no orders since 1999 (anti join against the date-bounded orders
    scan), counted per nation. Average compared in exact integer cents
    so the threshold is bit-identical across engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        _cents_avg(F.col("c_acctbal"), 100, 6).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(_cents(F.col("c_acctbal"), 100) / 100.0 > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _cents_sum(F.col("c_acctbal"), 100, 2).alias("totacctbal"),
        )
    )


@query("""
            SELECT date_trunc('month', l_shipdate) AS ship_month,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        """)
def q_tpch_q12_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) over a
    date-bounded fact⋈dim join — one shuffle on the month key, both
    branch counts computed in the same map-side partial pass."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(f"""
            SELECT {_sql_q(
                "SUM(CASE WHEN p_type = 'PROMO' "
                "THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) "
                "ELSE 0 END) * 100.0 / "
                "SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))",
                6,
            )} AS promo_share_pct,
                   COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-09-01'
              AND l_shipdate <  TIMESTAMP '1997-10-01'
        """)
def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional revenue sums (promo parts'
    share of a month's revenue). Both sums are exact integer cents, so
    the single division is the only float op and is bit-identical across
    engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    disc_cents = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_cents).otherwise(F.lit(0))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        _q(
            F.sum(promo) * 100.0 / F.sum(disc_cents), 6
        ).alias("promo_share_pct"),
        F.count("*").alias("n_lines"),
    )


@query(f"""
            SELECT {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#11' AND p_size <= 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#12' AND p_size <= 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#15' AND p_size <= 50
                   AND l_quantity BETWEEN 20 AND 30)
        """)
def q_tpch_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of per-brand (size, quantity) band
    conjunctions — the OR-of-ANDs predicate Catalyst must keep join-
    eligible (the equi-key stays conjunctive; only the residual filter
    is disjunctive, so the join is still a broadcast hash join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    cond = b("Brand#11", 15, 1, 11) | b("Brand#12", 25, 10, 20) | b(
        "Brand#15", 50, 20, 30
    )
    return j.filter(cond).agg(
        _cents_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(f"""
            SELECT l_returnflag, l_linestatus,
                   {_sql_cents_sum("l_quantity", 1, 0)} AS sum_qty,
                   {_sql_cents_sum("l_extendedprice", 100, 2)} AS sum_base_price,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS sum_disc_price,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 1000000, 2)} AS sum_charge,
                   {_sql_cents_avg("l_quantity", 1, 4)} AS avg_qty,
                   {_sql_cents_avg("l_extendedprice", 100, 4)} AS avg_price,
                   {_sql_cents_avg("l_discount", 100, 4)} AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """)
def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical scan-heavy streaming agg.

    One pass over lineitem, filter pushed to the parquet scan, all eight
    aggregates computed map-side-partial in a single hash aggregate
    (verify with .explain: one Scan → partial HashAggregate → exchange on
    the 4-value grouping key → final HashAggregate). Money columns are
    quantized to integer ticks before SUM so partial-aggregation order
    can't perturb the float result (l_extendedprice*(1-l_discount) has 4
    decimal digits → scale 1e4; the triple-product charge has 6 → 1e6).
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _cents_sum("l_quantity", 1, 0).alias("sum_qty"),
            _cents_sum("l_extendedprice", 100, 2).alias("sum_base_price"),
            _cents_sum(disc_price, 10000, 2).alias("sum_disc_price"),
            _cents_sum(charge, 1000000, 2).alias("sum_charge"),
            _cents_avg("l_quantity", 1, 4).alias("avg_qty"),
            _cents_avg("l_extendedprice", 100, 4).alias("avg_price"),
            _cents_avg("l_discount", 100, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(f"""
            SELECT p.p_brand,
                   {_sql_cents_sum("l.l_extendedprice")} AS below_avg_revenue,
                   COUNT(*) AS n_lines
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE l.l_quantity < (
                SELECT 0.2 * AVG(l2.l_quantity)
                FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
            )
            GROUP BY p.p_brand
        """)
def q_correlated_subquery_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery, by brand.

    Expressed as SQL so Catalyst's subquery decorrelation does the
    rewrite (scalar subquery over the correlated l_partkey → aggregate +
    join, visible in .explain as a left outer join on the per-part avg).
    Exercises the engine's ability to take textual ANSI SQL — not just
    DataFrame calls — through the same oracle gate.
    """
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q17_li")
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q17_part")
    # correlated predicate in SQL (Catalyst decorrelates it); the money
    # aggregate via the Column-side quantize helpers — numeric literals in
    # Spark SQL text are DECIMAL, and decimal division diverges from the
    # double math the oracle runs
    filtered = spark.sql(
        """
        SELECT p.p_brand, l.l_extendedprice
        FROM __q17_li l JOIN __q17_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity)
            FROM __q17_li l2 WHERE l2.l_partkey = l.l_partkey
        )
        """
    )
    return filtered.groupBy("p_brand").agg(
        _cents_sum("l_extendedprice").alias("below_avg_revenue"),
        F.count("*").alias("n_lines"),
    )


@query(f"""
            WITH offers AS (
                SELECT l_partkey AS pk, l_suppkey AS sk,
                       MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                           AS cost_cents
                FROM lineitem GROUP BY 1, 2
            ),
            eur AS (
                SELECT s_suppkey, s_name, s_acctbal, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ),
            cand AS (
                SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
                       cost_cents
                FROM offers
                JOIN part ON pk = p_partkey
                JOIN eur ON sk = s_suppkey
                WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
            ),
            best AS (
                SELECT p_partkey AS bk, MIN(cost_cents) AS best_cents
                FROM cand GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                   {_sql_q("cost_cents / 100.0", 2)} AS min_cost
            FROM cand JOIN best
              ON p_partkey = bk AND cost_cents = best_cents
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: groupwise-min supplier selection. This schema has
    no partsupp table, so lineitem is the supply evidence — a part's
    "cost" from a supplier is the cheapest line price ever observed for
    that (part, supplier) pair. For each mid-size STANDARD part, keep
    the EUROPE supplier(s) whose offer hits the part's regional minimum.

    The classic correlated MIN subquery is expressed as aggregate-then-
    rejoin: one shuffle builds per-(part,supplier) offers, a second tiny
    aggregate finds each part's floor, and the equality join back is on
    integer cents so float noise can't split the min. Part and the
    EUROPE supplier dimension both broadcast; the only fact-sized
    shuffle is the offers aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "cost_cents"
        )
    )
    cand = offers.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
    best = cand.groupBy(F.col("p_partkey").alias("bk")).agg(
        F.min("cost_cents").alias("best_cents")
    )
    return (
        cand.join(
            F.broadcast(best),
            (F.col("p_partkey") == F.col("bk"))
            & (F.col("cost_cents") == F.col("best_cents")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            _q(F.col("cost_cents") / 100.0, 2).alias("min_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query("""
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1997-07-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY 1 ORDER BY 1
        """)
def q_tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS rewritten as a left-semi join with a
    range residual. Orders from 1997-H1 count toward their priority
    bucket iff at least one of their lines shipped more than 60 days
    after the order date (this schema has no commit/receipt dates, so
    ship-lag is the lateness predicate). The semi join deduplicates by
    contract — no distinct pass needed — and both the order-date window
    and the projection prune at the parquet scans."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(f"""
            SELECT n_name,
                   {_sql_cents_sum("l_extendedprice * (1 - l_discount)", 10000, 2)} AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
            ORDER BY revenue DESC, n_name
        """)
def q_tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5: revenue from intra-nation trade in ASIA, per nation.
    Six-table join where the interesting predicate is the NON-join
    equality c_nationkey = s_nationkey — Catalyst keeps it as a residual
    atop the supplier equi-join rather than forcing a join reorder. All
    dimensions broadcast; lineitem and orders are the only shuffled
    sides, and the orders year-window pushes to its scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(asia_supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000, 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(f"""
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {_sql_cents_sum(
                       "l_extendedprice * (1 - l_discount)"
                       " - 0.5 * p_retailprice * l_quantity", 100, 2
                   )} AS sum_profit,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%rod%'
            GROUP BY 1, 2
            ORDER BY nation, o_year DESC
        """)
def q_tpch_q9_product_type_profit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for one
    part family. No partsupp means no ps_supplycost; the cost model is
    half the part's retail price per unit (a fixed margin assumption the
    oracle mirrors exactly). Profit is quantized to integer cents BEFORE
    the sum so partial-aggregation order can't perturb the total. part
    (name-filtered) and nation broadcast; the fact join shuffles
    lineitem⋈orders once, then one 2-key aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%rod%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            _cents_sum(profit, 100, 2).alias("sum_profit"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(f"""
            WITH asia AS (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA'
            ),
            val AS (
                SELECT l_partkey,
                       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                      * 100, 0) AS BIGINT)) AS value_cents
                FROM lineitem
                WHERE l_suppkey IN (SELECT s_suppkey FROM asia)
                GROUP BY 1
            ),
            tot AS (SELECT SUM(value_cents) AS total_cents FROM val)
            SELECT l_partkey,
                   {_sql_q("value_cents / 100.0", 2)} AS value
            FROM val, tot
            WHERE value_cents * 1000 > total_cents
            ORDER BY value DESC, l_partkey
        """)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through ASIA suppliers
    exceeds 1/1000 of the whole ASIA flow. The scalar-subquery threshold
    becomes a single-row aggregate broadcast back over the per-part
    rollup, and the comparison runs on integer cents (value*1000 >
    total) so both engines decide boundary rows identically — a float
    threshold here is exactly the kind of cross-engine coin flip the
    cents discipline exists to kill."""
    asia_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(asia_supp),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    val = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        ).alias("value_cents")
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "l_partkey", _q(F.col("value_cents") / 100.0, 2).alias("value")
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


@query("""
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500
              )
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """)
def q_tpch_q16_supplier_part_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each surviving
    (brand, type, size) bucket, excluding two brands and low-balance
    suppliers. The NOT IN subquery compiles to a broadcast left-anti
    join (null-safe by construction: s_suppkey is a key), supply
    evidence again comes from lineitem, and the count-distinct is the
    only fact-sized shuffle."""
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1500)
        .select("s_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(
        (~F.col("p_brand").isin("Brand#1", "Brand#2"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(excl),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


@query("""
            SELECT s_name, s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'
              AND s_suppkey IN (
                  SELECT l_suppkey
                  FROM lineitem
                  WHERE l_partkey IN (
                      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
                  )
                    AND l_shipdate >= TIMESTAMP '1997-01-01'
                    AND l_shipdate <  TIMESTAMP '1998-01-01'
                  GROUP BY l_partkey, l_suppkey
                  HAVING SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) > 40
              )
            ORDER BY s_name
        """)
def q_tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: AMERICA suppliers who moved real volume of
    'small *' parts in 1997 — the doubly-nested IN subqueries become a
    chain of semi joins. shipped-quantity rollup (one shuffle on the
    composite key) → semi join against the name-filtered part dim →
    qty threshold → distinct supplier keys → semi join into the
    region-filtered supplier dim. Quantities sum as longs (they are
    integral in this corpus), so the threshold is exact."""
    am = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "AMERICA")
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        # ROUND-then-cast (the repo's cents discipline): Spark's
        # cast(double→long) truncates, DuckDB's rounds half-to-even —
        # identical only while quantities are integral. Pinning the
        # rounding rule on BOTH sides removes the latent divergence.
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("qty"))
    )
    movers = (
        shipped.join(
            F.broadcast(small),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        am.join(
            movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
