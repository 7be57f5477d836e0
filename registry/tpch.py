"""TPC-H-style analytics over the sf tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from siridb_server_spark.functions.stable import INT_PPM_SQL, SCALED_DSUM_SQL
from siridb_server_spark.functions.stable import scaled_dsum as SSD
from siridb_server_spark.sources.testdata import load

from registry import Family
from registry._common import _QTERM, _QTERM2

R = Family("tpch")


# 1e6-scaled long sum, the mirror of stable.py::scaled_dsum —
# the cheap path for money-like sums (every step IEEE-identical
# on both engines)
def _SC6(x: str) -> str:
    return SCALED_DSUM_SQL.format(x=x, s=10 ** 6)


# --- general analytics (TPC-H style; broadcast-join shape)
@R.entry("tpch_q1ish", (
    "SELECT l_returnflag, l_linestatus,"
    f" round({_SC6('l_quantity')}, 4) + 0.0 AS sum_qty,"
    f" round({_SC6('l_extendedprice')}, 2) + 0.0"
    " AS sum_price,"
    f" round({_SC6('l_discount')} / count(*), 6) + 0.0"
    " AS avg_disc,"
    " count(*) AS count_order"
    " FROM lineitem GROUP BY 1, 2"))
def tpch_q1ish(spark, sf_dir):
    # money/quantity columns carry ≤ 2 decimals, so the 1e6-
    # scaled long accumulation (functions/stable.py scaled_dsum)
    # is EXACT here and ~3× cheaper than the decimal(38,18) fold
    # it replaces (the r5 perf-weak cell); still associative and
    # cross-engine bit-identical
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg((F.round(SSD(F.col("l_quantity")), 4)
              + F.lit(0.0)).alias("sum_qty"),
             (F.round(SSD(F.col("l_extendedprice")), 2)
              + F.lit(0.0)).alias("sum_price"),
             (F.round(SSD(F.col("l_discount"))
                      / F.count(F.lit(1)), 6)
              + F.lit(0.0)).alias("avg_disc"),
             F.count(F.lit(1)).alias("count_order"))
    )


@R.entry("tpch_join_revenue", (
    "SELECT o_orderpriority,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0 AS revenue,"
    " count(*) AS n_items"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " GROUP BY 1"))
def tpch_join_revenue(spark, sf_dir):
    # Scale shape: orders/customer are fact-sized at 100 TB, so no
    # forced broadcast (AQE picks broadcast when a side is small).
    # Pre-aggregating lineitem by orderkey shrinks the join's left
    # side 4:1 and its hash partitioning is reused by the join —
    # no extra shuffle versus joining raw lineitem.
    from siridb_server_spark.functions.stable import scaled_term

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # the inner per-order partial is a 1e6-scaled LONG sum; the
    # outer sum of partials equals the oracle's flat scaled sum
    # exactly (long addition is associative) at ~3× less cost
    # than the decimal(38,18) fold it replaces
    pre = (li.select("l_orderkey",
                     scaled_term(rev, 6).alias("rev_s"))
           .groupBy("l_orderkey")
           .agg(F.sum("rev_s").alias("rev_s"),
                F.count(F.lit(1)).alias("n")))
    o2 = orders.select("o_orderkey", "o_custkey", "o_orderpriority")
    c2 = cust.select("c_custkey")
    return (
        pre.join(o2, pre.l_orderkey == o2.o_orderkey)
        .join(c2, o2.o_custkey == c2.c_custkey)
        .groupBy("o_orderpriority")
        .agg((F.round(F.sum("rev_s") / F.lit(1e6), 2)
              + F.lit(0.0)).alias("revenue"),
             F.sum("n").alias("n_items"))
    )


@R.entry("tpch_q6ish", (
    "SELECT round("
    f"{_SC6('l_extendedprice * l_discount')}, 4) + 0.0"
    " AS revenue, count(*) AS n_items FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01'"
    " AND l_discount BETWEEN 0.03 AND 0.07"
    " AND l_quantity < 24"))
def tpch_q6ish(spark, sf_dir):
    # date-band + value-band filtered revenue: every predicate
    # reaches the parquet scan (PushedFilters on l_shipdate
    # min/max + discount/quantity), so at 100 TB only the
    # matching row groups are read
    li = load(spark, sf_dir, "lineitem")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        li.where((F.col("l_shipdate") >= a)
                 & (F.col("l_shipdate") < b)
                 & (F.col("l_discount") >= 0.03)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24))
        .agg((F.round(SSD(F.col("l_extendedprice")
                          * F.col("l_discount")), 4)
              + F.lit(0.0)).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@R.entry("tpch_monthly_revenue", (
    "SELECT strftime(o_orderdate, '%Y-%m') AS month,"
    f" round({_SC6('o_totalprice')}, 2) + 0.0"
    " AS revenue,"
    " count(*) AS n_orders FROM orders GROUP BY 1"))
def tpch_monthly_revenue(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                       .alias("month"))
        .agg((F.round(SSD(F.col("o_totalprice")), 2)
              + F.lit(0.0)).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )


@R.entry("tpch_q3ish", (
    "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d')"
    " AS orderdate,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0"
    " AS revenue"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " AND o_orderdate < TIMESTAMP '1998-01-01'"
    " AND l_shipdate >= TIMESTAMP '1998-01-01'"
    " GROUP BY 1, 2"
    " ORDER BY revenue DESC, o_orderkey LIMIT 10"))
def tpch_q3ish(spark, sf_dir):
    """q3 shape: top-10 orders by pre-ship revenue for one market
    segment — date predicates push to both fact scans, the
    customer dim broadcasts, and the final top-k is a
    TakeOrdered on the rounded revenue (cross-engine tie-safe)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    c2 = cust.where(F.col("c_mktsegment") == "BUILDING") \
        .select("c_custkey")
    o2 = (orders.where(F.col("o_orderdate") < cut)
          .select("o_orderkey", "o_custkey", "o_orderdate"))
    l2 = (li.where(F.col("l_shipdate") >= cut)
          .select("l_orderkey",
                  (F.col("l_extendedprice")
                   * (1 - F.col("l_discount"))).alias("rev")))
    return (
        l2.join(o2, l2.l_orderkey == o2.o_orderkey)
        .join(F.broadcast(c2), o2.o_custkey == c2.c_custkey)
        .groupBy("o_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd")
                 .alias("orderdate"))
        .agg((F.round(SSD(F.col("rev")), 2) + F.lit(0.0))
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@R.entry("tpch_q5ish", (
    "SELECT n_name,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0 AS revenue,"
    " count(*) AS n_items"
    " FROM lineitem"
    " JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' GROUP BY 1"))
def tpch_q5ish(spark, sf_dir):
    """q5 shape — regional supplier revenue: the classic
    dimension BROADCAST CHAIN. region filters nation, nation
    keys supplier and customer, and only the lineitem⋈orders
    fact join shuffles; the c_nationkey = s_nationkey local-
    supplier condition rides the join, never a second shuffle.
    region/nation/supplier are broadcast explicitly (tiny at any
    scale); customer/orders stay AQE-planned (fact-sized at
    100 TB). Revenue accumulates as an exact 1e6-scaled long sum
    (functions/stable.py scaled_dsum)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nr = (nat.join(F.broadcast(
        reg.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    s2 = (supp.join(F.broadcast(nr),
                    F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s2),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg((F.round(SSD(rev), 2) + F.lit(0.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


_REV = "l_extendedprice * (1 - l_discount)"

_PROMO = (f"CASE WHEN p_type = 'PROMO' THEN {_REV}"
          " ELSE 0.0 END")


@R.entry("tpch_q14ish", (
    "SELECT"
    f" round(100.0 * {_SC6(_PROMO)}"
    f" / {_SC6(_REV)}, 6) + 0.0 AS promo_pct,"
    f" round({_SC6(_REV)}, 2) + 0.0 AS revenue,"
    " count(*) AS n_items"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-03-01'"
    " AND l_shipdate < TIMESTAMP '1996-04-01'"))
def tpch_q14ish(spark, sf_dir):
    """q14 shape — promotion revenue share for one ship-month:
    lineitem⋈part on partkey (part broadcasts while it fits;
    the date band pushes into the fact scan), then one
    conditional-vs-total aggregate. Both sums accumulate as
    exact scaled longs; the share divides the two exact values,
    so the 6-decimal rounding is partition-order-free."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    a = F.lit("1996-03-01").cast("timestamp_ntz")
    b = F.lit("1996-04-01").cast("timestamp_ntz")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
        .otherwise(F.lit(0.0))
    return (
        li.where((F.col("l_shipdate") >= a)
                 & (F.col("l_shipdate") < b))
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.round(F.lit(100.0) * SSD(promo) / SSD(rev), 6)
              + F.lit(0.0)).alias("promo_pct"),
             (F.round(SSD(rev), 2) + F.lit(0.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@R.entry("tpch_q4ish", (
    "SELECT o_orderpriority, count(*) AS order_count"
    " FROM orders"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
    " AND o_orderdate < TIMESTAMP '1996-04-01'"
    " AND EXISTS (SELECT 1 FROM lineitem"
    "  WHERE l_orderkey = o_orderkey"
    "  AND l_shipdate > o_orderdate + INTERVAL 90 DAY)"
    " GROUP BY 1"))
def tpch_q4ish(spark, sf_dir):
    """q4 shape — order-priority checking via a SEMI join:
    orders in one quarter that have at least one line shipped
    more than 90 days after the order date. The EXISTS compiles
    to LeftSemi, so lineitem rows never multiply the output and
    the date predicates push to both scans."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1996-04-01").cast("timestamp_ntz")
    o2 = orders.where((F.col("o_orderdate") >= a)
                      & (F.col("o_orderdate") < b))
    late = (o2.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "leftsemi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@R.entry("tpch_q12ish", (
    "SELECT l_returnflag,"
    " sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
    "  THEN 1 ELSE 0 END) AS high_line_count,"
    " sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
    "  THEN 0 ELSE 1 END) AS low_line_count"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01'"
    " GROUP BY 1"))
def tpch_q12ish(spark, sf_dir):
    """q12 shape — CASE pivot over a fact join: per return
    flag, how many 1996-shipped lines belong to high- vs
    low-priority orders. Counts are exact integers; the pivot
    is two conditional sums in one aggregate pass."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= a)
                 & (F.col("l_shipdate") < b))
        .select("l_orderkey", "l_returnflag")
        .join(orders.select("o_orderkey", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(hi, 1).otherwise(0))
             .alias("high_line_count"),
             F.sum(F.when(hi, 0).otherwise(1))
             .alias("low_line_count")))


@R.entry("tpch_q16ish", (
    "SELECT p_brand, count(*) AS idle_parts FROM part"
    " WHERE NOT EXISTS (SELECT 1 FROM lineitem"
    "  WHERE l_partkey = p_partkey"
    "  AND l_shipdate >= TIMESTAMP '1996-01-01'"
    "  AND l_shipdate < TIMESTAMP '1997-01-01')"
    " GROUP BY 1 ORDER BY idle_parts DESC, p_brand LIMIT 10"))
def tpch_q16ish(spark, sf_dir):
    """q16 shape — ANTI join: brands of parts that moved no
    volume in 1996. The NOT EXISTS compiles to LeftAnti against
    the distinct moved-part set (aggregated BEFORE the join so
    the anti probe is part-sized, not lineitem-sized)."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1997-01-01").cast("timestamp_ntz")
    moved = (li.where((F.col("l_shipdate") >= a)
                      & (F.col("l_shipdate") < b))
             .select("l_partkey").distinct())
    return (part.join(moved,
                      F.col("p_partkey") == F.col("l_partkey"),
                      "leftanti")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("idle_parts"))
            .orderBy(F.desc("idle_parts"), F.asc("p_brand"))
            .limit(10))


@R.entry("tpch_q18ish", (
    "WITH big AS (SELECT l_orderkey,"
    f" round({_SC6('l_quantity')}, 4) + 0.0 AS sum_qty"
    " FROM lineitem GROUP BY 1"
    " HAVING sum_qty > 150)"
    " SELECT c_name, o_orderkey,"
    " strftime(o_orderdate, '%Y-%m-%d') AS orderdate,"
    " round(o_totalprice, 2) + 0.0 AS totalprice, sum_qty"
    " FROM big JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " ORDER BY sum_qty DESC, o_orderkey LIMIT 20"))
def tpch_q18ish(spark, sf_dir):
    """q18 shape — HAVING over a fact pre-aggregate: orders
    whose total quantity exceeds 150, decorated with customer
    name. The quantity rollup happens on lineitem FIRST (the
    having filter kills ~all groups before any join), then the
    surviving handful of orders join orders+customer."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg((F.round(SSD(F.col("l_quantity")), 4)
                 + F.lit(0.0)).alias("sum_qty"))
           .where(F.col("sum_qty") > 150))
    return (big.join(orders,
                     F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust,
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("orderdate"),
                    (F.round(F.col("o_totalprice"), 2)
                     + F.lit(0.0)).alias("totalprice"),
                    "sum_qty")
            .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
            .limit(20))


@R.entry("tpch_q19ish", (
    "SELECT"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0 AS revenue, count(*) AS n_items"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE (p_brand = 'Brand#12'"
    "  AND p_size BETWEEN 1 AND 15"
    "  AND l_quantity BETWEEN 1 AND 11)"
    " OR (p_brand = 'Brand#23'"
    "  AND p_size BETWEEN 1 AND 25"
    "  AND l_quantity BETWEEN 10 AND 20)"
    " OR (p_brand = 'Brand#34'"
    "  AND p_size BETWEEN 1 AND 35"
    "  AND l_quantity BETWEEN 20 AND 30)"))
def tpch_q19ish(spark, sf_dir):
    """q19 shape — OR-of-ANDs across a join: three
    (brand, size-band, quantity-band) disjuncts. The part side
    prunes to the three brands BEFORE the join (the disjunction
    of p_brand predicates pushes to the part scan) and
    broadcasts; the mixed predicate rides the join condition."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    bands = [("Brand#12", 1, 15, 1, 11),
             ("Brand#23", 1, 25, 10, 20),
             ("Brand#34", 1, 35, 20, 30)]
    disj = None
    for brand, s0, s1, q0, q1 in bands:
        c = ((F.col("p_brand") == brand)
             & F.col("p_size").between(s0, s1)
             & F.col("l_quantity").between(q0, q1))
        disj = c if disj is None else (disj | c)
    p2 = part.where(
        F.col("p_brand").isin([b[0] for b in bands])) \
        .select("p_partkey", "p_brand", "p_size")
    return (
        li.select("l_partkey", "l_quantity", "l_extendedprice",
                  "l_discount")
        .join(F.broadcast(p2),
              (F.col("l_partkey") == F.col("p_partkey")) & disj)
        .agg((F.round(SSD(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2)
              + F.lit(0.0)).alias("revenue"),
             F.count(F.lit(1)).alias("n_items")))


@R.entry("tpch_q10ish", (
    "SELECT c_custkey, c_name,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0 AS revenue"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " WHERE l_returnflag = 'R'"
    " AND o_orderdate >= TIMESTAMP '1996-07-01'"
    " AND o_orderdate < TIMESTAMP '1996-10-01'"
    " GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 20"))
def tpch_q10ish(spark, sf_dir):
    """q10 shape — returned-item revenue by customer, top 20:
    the date band pushes to the orders scan, the returnflag
    predicate to the lineitem scan, the customer dim broadcasts,
    and the top-k is a TakeOrdered on the rounded revenue."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    a = F.lit("1996-07-01").cast("timestamp_ntz")
    b = F.lit("1996-10-01").cast("timestamp_ntz")
    o2 = (orders.where((F.col("o_orderdate") >= a)
                       & (F.col("o_orderdate") < b))
          .select("o_orderkey", "o_custkey"))
    l2 = (li.where(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  (F.col("l_extendedprice")
                   * (1 - F.col("l_discount"))).alias("rev")))
    return (
        l2.join(o2, l2.l_orderkey == o2.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_name")),
              o2.o_custkey == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg((F.round(SSD(F.col("rev")), 2) + F.lit(0.0))
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20))


@R.entry("tpch_q13ish", (
    "WITH per AS (SELECT c_custkey, count(o_orderkey) AS c_count"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    " AND o_orderpriority <> '1-URGENT' GROUP BY 1)"
    " SELECT c_count, count(*) AS custdist FROM per"
    " GROUP BY 1 ORDER BY custdist DESC, c_count DESC"))
def tpch_q13ish(spark, sf_dir):
    """q13 shape — customer order-count distribution: a LEFT
    join keeps zero-order customers (the part a plain groupBy
    silently drops), then a counting aggregate over the counts.
    All integer math — exact on any engine."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    o2 = (orders.where(F.col("o_orderpriority") != "1-URGENT")
          .select("o_custkey", "o_orderkey"))
    per = (cust.select("c_custkey")
           .join(o2, F.col("c_custkey") == F.col("o_custkey"),
                 "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


@R.entry("tpch_q17ish", (
    # the avg-quantity threshold in exact integer math:
    # q < 0.2·(sum/cnt) ⟺ 5·q·cnt < sum (quantities integral)
    "WITH l2 AS (SELECT l_partkey,"
    " CAST(floor(l_quantity) AS BIGINT) AS qi, l_extendedprice"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE p_brand = 'Brand#11'),"
    " pp AS (SELECT l_partkey AS pk, sum(qi) AS qsum,"
    " count(*) AS qcnt FROM l2 GROUP BY 1)"
    " SELECT"
    f" round({_SC6('l_extendedprice')} / 7.0, 2) + 0.0"
    " AS avg_yearly, count(*) AS n_items"
    " FROM l2 JOIN pp ON l_partkey = pk"
    " WHERE qi * 5 * qcnt < qsum"))
def tpch_q17ish(spark, sf_dir):
    """q17 shape — small-quantity-order revenue: the classic
    correlated scalar subquery (per-part average quantity)
    decorrelated into a per-part aggregate broadcast back onto
    the fact. Quantities are integral, so the membership test
    ``l_quantity < 0.2 · avg`` runs as EXACT integer math
    (5·q·cnt < sum) — no float average can flip a row between
    engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    p2 = part.where(F.col("p_brand") == "Brand#11") \
        .select("p_partkey")
    l2 = (li.join(F.broadcast(p2),
                  F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey",
                  # floor on both sides: engine-identical
                  # quantization (Spark cast truncates, DuckDB
                  # CAST rounds)
                  F.floor(F.col("l_quantity")).cast("long")
                  .alias("qi"),
                  "l_extendedprice"))
    per_part = (l2.groupBy(F.col("l_partkey").alias("pk"))
                .agg(F.sum("qi").alias("qsum"),
                     F.count(F.lit(1)).alias("qcnt")))
    small = (l2.join(F.broadcast(per_part),
                     F.col("l_partkey") == F.col("pk"))
             .where(F.col("qi") * 5 * F.col("qcnt")
                    < F.col("qsum")))
    return small.agg(
        (F.round(SSD(F.col("l_extendedprice")) / 7.0, 2)
         + F.lit(0.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"))


@R.entry("tpch_q22ish", (
    # exact-cents threshold: acctbal quantizes exactly at 2
    # decimals; cents·n > cents_sum is pure integer math
    "WITH c2 AS (SELECT c_custkey, c_nationkey,"
    f" {_QTERM2('c_acctbal')} AS ab_cents FROM customer),"
    " thr AS (SELECT sum(ab_cents) AS cents_sum,"
    " count(*) AS n_pos FROM c2 WHERE ab_cents > 0),"
    " rich AS (SELECT c_custkey, c_nationkey, ab_cents"
    " FROM c2, thr WHERE ab_cents * n_pos > cents_sum),"
    " dormant AS (SELECT * FROM rich WHERE NOT EXISTS"
    " (SELECT 1 FROM orders"
    " WHERE o_custkey = rich.c_custkey"
    " AND o_orderpriority = '1-URGENT'))"
    " SELECT c_nationkey AS cntry, count(*) AS numcust,"
    " sum(ab_cents) / 100.0 AS totacctbal"
    " FROM dormant GROUP BY 1 ORDER BY 1"))
def tpch_q22ish(spark, sf_dir):
    """q22 shape — dormant above-average customers per nation:
    the global average-balance threshold and an ANTI join
    against the urgent-order customers (in this synthetic data
    every customer has SOME order; "no urgent order" keeps the
    anti join non-trivial). Balances carry 2 decimals, so they quantize
    exactly to cents and the threshold test runs as exact
    integer math (cents·n > cents_sum) — engine-portable."""
    from siridb_server_spark.functions.stable import scaled_term

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    c2 = cust.select("c_custkey", "c_nationkey",
                     scaled_term(F.col("c_acctbal"), 2)
                     .alias("ab_cents"))
    pos = c2.where(F.col("ab_cents") > 0)
    thr = pos.agg(F.sum("ab_cents").alias("cents_sum"),
                  F.count(F.lit(1)).alias("n_pos"))
    rich = (c2.crossJoin(F.broadcast(thr))
            .where(F.col("ab_cents") * F.col("n_pos")
                   > F.col("cents_sum")))
    dormant = rich.join(
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey", "left_anti")
    return (dormant.groupBy(F.col("c_nationkey").alias("cntry"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 (F.sum("ab_cents") / F.lit(100.0))
                 .alias("totacctbal"))
            .orderBy("cntry"))


@R.entry("tpch_q15ish", (
    "WITH rev AS (SELECT l_suppkey,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}"
    ", 2) + 0.0 AS total_revenue FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1),"
    " mx AS (SELECT max(total_revenue) AS m FROM rev)"
    " SELECT l_suppkey, total_revenue FROM rev, mx"
    " WHERE total_revenue = m ORDER BY l_suppkey"))
def tpch_q15ish(spark, sf_dir):
    """q15 shape — top supplier(s) by quarterly revenue: the
    revenue-equals-max pattern (a HAVING against a 1-row
    aggregate broadcast), not a top-k — ties all surface.
    Equality on the rounded scaled-long revenue is exact: both
    sides derive from the identical integer sum."""
    li = load(spark, sf_dir, "lineitem")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1996-04-01").cast("timestamp_ntz")
    rev = (li.where((F.col("l_shipdate") >= a)
                    & (F.col("l_shipdate") < b))
           .groupBy("l_suppkey")
           .agg((F.round(SSD(F.col("l_extendedprice")
                             * (1 - F.col("l_discount"))), 2)
                 + F.lit(0.0)).alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (rev.join(F.broadcast(mx),
                     F.col("total_revenue") == F.col("mx"))
            .select("l_suppkey", "total_revenue")
            .orderBy("l_suppkey"))


# q7 shape: two-nation shipping volume, both directions
@R.entry("tpch_q7ish", (
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    " year(l_shipdate) AS l_year,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}, 2)"
    " + 0.0 AS revenue, count(*) AS n_items"
    " FROM lineitem"
    " JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    " WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    " OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')"
    " GROUP BY 1, 2, 3"))
def tpch_q7ish(spark, sf_dir):
    """q7 shape — volume shipping between two nations, both
    directions: the two tiny nation dims broadcast onto supplier
    and (through orders) customer; only the fact joins shuffle.
    Group by (supp_nation, cust_nation, ship year); exact
    1e6-scaled long revenue sum."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    n1 = nat.select(F.col("n_nationkey").alias("snk"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("cnk"),
                    F.col("n_name").alias("cust_nation"))
    pair_ok = (
        ((F.col("supp_nation") == "NATION_1")
         & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2")
           & (F.col("cust_nation") == "NATION_1")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1),
              F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(n2),
              F.col("c_nationkey") == F.col("cnk"))
        .where(pair_ok)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg((F.round(SSD(rev), 2) + F.lit(0.0))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items")))


# q8 shape: market share as an int_ppm RATIO of exact
# 1e6-scaled long sums — no float ratio in the hashed contract
_Q8REV = _QTERM("l_extendedprice * (1 - l_discount)")


@R.entry("tpch_q8ish", (
    "WITH base AS (SELECT year(o_orderdate) AS o_year,"
    f" {_Q8REV} AS rev_q, n1.n_name AS supp_nation"
    " FROM lineitem"
    " JOIN part ON l_partkey = p_partkey"
    " AND p_type = 'ECONOMY'"
    " JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation nc ON c_nationkey = nc.n_nationkey"
    " JOIN region ON nc.n_regionkey = r_regionkey"
    " AND r_name = 'ASIA'"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey),"
    " agg AS (SELECT o_year, CAST(sum(rev_q) AS BIGINT) AS tot,"
    " CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev_q"
    " ELSE 0 END) AS BIGINT) AS nat FROM base GROUP BY 1)"
    " SELECT o_year,"
    " round(tot / 1000000.0, 2) + 0.0 AS total_revenue,"
    f" {INT_PPM_SQL.format(num='nat', den='tot')} AS mkt_share_ppm"
    " FROM agg"))
def tpch_q8ish(spark, sf_dir):
    """q8 shape — national market share: ECONOMY-part order
    volume into ASIA customers per year, with NATION_1's
    supplier share. The share is a RATIO OF THE EXACT 1e6-scaled
    LONG SUMS (int_ppm — pure integer division), so the hashed
    contract carries no float ratio; part/supplier/nation/region
    broadcast, the fact joins shuffle once each."""
    from siridb_server_spark.functions.stable import (int_ppm,
                                                      scaled_term)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    part = load(spark, sf_dir, "part")
    rev_q = scaled_term(F.col("l_extendedprice")
                        * (1 - F.col("l_discount")))
    asia_c = (cust.join(
        F.broadcast(nat.join(F.broadcast(
            reg.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey"))
    sn = (supp.join(F.broadcast(nat),
                    F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey",
                  F.col("n_name").alias("supp_nation")))
    base = (
        li.join(F.broadcast(
            part.where(F.col("p_type") == "ECONOMY")
            .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sn),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"),
                rev_q.alias("rev_q"), "supp_nation"))
    return (base.groupBy("o_year")
            .agg(F.sum("rev_q").alias("_tot"),
                 F.sum(F.when(
                     F.col("supp_nation") == "NATION_1",
                     F.col("rev_q")).otherwise(0))
                 .alias("_nat"))
            .select("o_year",
                    (F.round(F.col("_tot")
                             / F.lit(1000000.0), 2)
                     + F.lit(0.0)).alias("total_revenue"),
                    int_ppm(F.col("_nat"), F.col("_tot"))
                    .alias("mkt_share_ppm")))


# q9 shape (no partsupp in the corpus): red-part profit by
# supplier nation and order year
@R.entry("tpch_q9ish", (
    "SELECT n_name AS nation, year(o_orderdate) AS o_year,"
    f" round({_SC6('l_extendedprice * (1 - l_discount)')}, 2)"
    " + 0.0 AS profit, count(*) AS n_items"
    " FROM lineitem"
    " JOIN part ON l_partkey = p_partkey"
    " AND p_name LIKE '%red%'"
    " JOIN orders ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " GROUP BY 1, 2"))
def tpch_q9ish(spark, sf_dir):
    """q9 shape (sans partsupp, which the corpus lacks) — profit
    on red parts by supplier nation and order year: part filter
    broadcast onto the fact, supplier→nation broadcast chain,
    one grouped aggregate. Exact scaled-long revenue."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    sn = (supp.join(F.broadcast(nat),
                    F.col("s_nationkey") == F.col("n_nationkey"))
          .select("s_suppkey", F.col("n_name").alias("nation")))
    return (
        li.join(F.broadcast(
            part.where(F.col("p_name").like("%red%"))
            .select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sn),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.round(SSD(rev), 2) + F.lit(0.0)).alias("profit"),
             F.count(F.lit(1)).alias("n_items")))


def _region_suppliers(spark, sf_dir, r_name):
    """supplier ⋈ nation ⋈ region chain pruned to one region —
    dims only, always broadcast onto the fact side."""
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (supp.join(
        F.broadcast(nat.join(
            F.broadcast(reg.where(F.col("r_name") == r_name)),
            F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name"))


_ES = (" (SELECT s_suppkey, s_name FROM supplier"
       " JOIN nation ON s_nationkey = n_nationkey"
       " JOIN region ON n_regionkey = r_regionkey"
       " WHERE r_name = '{r}')")


@R.entry("tpch_q2ish", (
    # exact-cents minimum supply cost; equality join keeps ties
    "WITH cost AS (SELECT l_partkey, l_suppkey,"
    f" min({_QTERM2('l_extendedprice')}) AS cost_cents"
    " FROM lineitem GROUP BY 1, 2),"
    " pe AS (SELECT p_partkey, p_brand FROM part"
    " WHERE p_type = 'PROMO' AND p_size <= 25),"
    " es AS" + _ES.format(r="EUROPE") + ","
    " c2 AS (SELECT p_partkey, p_brand, s_name, cost_cents"
    " FROM cost JOIN pe ON l_partkey = p_partkey"
    " JOIN es ON l_suppkey = s_suppkey),"
    " mn AS (SELECT p_partkey AS pk, min(cost_cents)"
    " AS min_cents FROM c2 GROUP BY 1)"
    " SELECT p_partkey, p_brand, s_name, cost_cents"
    " FROM c2 JOIN mn ON p_partkey = pk"
    " AND cost_cents = min_cents"))
def tpch_q2ish(spark, sf_dir):
    """q2 shape (partsupp stood in by the lineitem bridge) —
    minimum-cost supplier per part: the classic correlated MIN
    subquery, decorrelated into a per-part minimum joined back
    by EQUALITY so ties all surface. Supply cost is the exact
    cents-quantized minimum line price per (part, supplier), so
    the equality probe is pure integer math on both engines.
    The (part,supplier) cost table is pre-aggregated BEFORE any
    dim join (fact scanned once); part subset, regional
    suppliers, and the per-part minimum all broadcast."""
    from siridb_server_spark.functions.stable import scaled_term
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cost = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(scaled_term(F.col("l_extendedprice"), 2))
                 .alias("cost_cents")))
    pe = (part.where((F.col("p_type") == "PROMO")
                     & (F.col("p_size") <= 25))
          .select("p_partkey", "p_brand"))
    es = _region_suppliers(spark, sf_dir, "EUROPE")
    c2 = (cost.join(F.broadcast(pe),
                    F.col("l_partkey") == F.col("p_partkey"))
          .join(F.broadcast(es),
                F.col("l_suppkey") == F.col("s_suppkey")))
    mn = (c2.groupBy(F.col("p_partkey").alias("pk"))
          .agg(F.min("cost_cents").alias("min_cents")))
    return (c2.join(F.broadcast(mn),
                    (F.col("p_partkey") == F.col("pk"))
                    & (F.col("cost_cents") == F.col("min_cents")))
            .select("p_partkey", "p_brand", "s_name",
                    "cost_cents"))


@R.entry("tpch_q11ish", (
    # share test as integer math: value·2000 > total
    "WITH asup AS (SELECT s_suppkey FROM supplier"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA'),"
    " val AS (SELECT l_partkey AS p_partkey,"
    f" CAST(sum({_QTERM2('l_extendedprice')}) AS BIGINT)"
    " AS value_cents"
    " FROM lineitem JOIN asup ON l_suppkey = s_suppkey"
    " GROUP BY 1),"
    " tot AS (SELECT sum(value_cents) AS total_cents FROM val)"
    " SELECT p_partkey, value_cents FROM val, tot"
    " WHERE value_cents * 2000 > total_cents"))
def tpch_q11ish(spark, sf_dir):
    """q11 shape — parts whose regional supply value exceeds a
    fraction of the total: HAVING against a 1-row global
    aggregate. Values are exact cents-quantized long sums and
    the share test runs as integer math (value·2000 > total ⟺
    share > 0.05%) — no float threshold can flip a part between
    engines. One fact shuffle on l_partkey; the ASIA supplier
    set and the 1-row total broadcast."""
    from siridb_server_spark.functions.stable import scaled_term
    li = load(spark, sf_dir, "lineitem")
    asup = _region_suppliers(spark, sf_dir, "ASIA") \
        .select("s_suppkey")
    val = (li.join(F.broadcast(asup),
                   F.col("l_suppkey") == F.col("s_suppkey"))
           .groupBy(F.col("l_partkey").alias("p_partkey"))
           .agg(F.sum(scaled_term(F.col("l_extendedprice"), 2))
                .alias("value_cents")))
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (val.crossJoin(F.broadcast(tot))
            .where(F.col("value_cents") * 2000
                   > F.col("total_cents"))
            .select("p_partkey", "value_cents"))


@R.entry("tpch_q20ish", (
    "WITH pw AS (SELECT p_partkey FROM part"
    " WHERE p_name LIKE '%widget%'),"
    " per AS (SELECT l_suppkey, l_partkey,"
    " CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01'"
    " THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END)"
    " AS BIGINT) AS qty_96,"
    " CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)"
    " AS qty_all"
    " FROM lineitem JOIN pw ON l_partkey = p_partkey"
    " GROUP BY 1, 2),"
    " hot AS (SELECT DISTINCT l_suppkey FROM per"
    " WHERE qty_96 * 2 > qty_all),"
    " ams AS" + _ES.format(r="AMERICA") +
    " SELECT s_suppkey, s_name"
    " FROM hot JOIN ams ON l_suppkey = s_suppkey"))
def tpch_q20ish(spark, sf_dir):
    """q20 shape — suppliers whose 1996 shipments of widget
    parts dominate their all-time volume for that part
    (2·qty_96 > qty_all, the availqty>½·shipped test re-based
    on shipping history): a per-(supplier,part) integer
    aggregate, an integer-math HAVING, then a distinct semi-join
    into the regional supplier dim. Quantities are integral so
    every comparison is exact."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    pw = part.where(F.col("p_name").like("%widget%")) \
        .select("p_partkey")
    a = F.lit("1996-01-01").cast("timestamp_ntz")
    b = F.lit("1997-01-01").cast("timestamp_ntz")
    # floor(), not cast("long"): Spark's cast truncates while
    # DuckDB's CAST AS BIGINT rounds — floor on BOTH sides makes
    # the quantization rule engine-identical by construction
    # even if quantities ever stop being integral
    qi = F.floor(F.col("l_quantity")).cast("long")
    in96 = (F.col("l_shipdate") >= a) & (F.col("l_shipdate") < b)
    per = (li.join(F.broadcast(pw),
                   F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("l_suppkey", "l_partkey")
           .agg(F.sum(F.when(in96, qi).otherwise(0))
                .alias("qty_96"),
                F.sum(qi).alias("qty_all")))
    hot = (per.where(F.col("qty_96") * 2 > F.col("qty_all"))
           .select("l_suppkey").distinct())
    ams = _region_suppliers(spark, sf_dir, "AMERICA")
    return (hot.join(F.broadcast(ams),
                     F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name"))


@R.entry("tpch_q21ish", (
    # the EXISTS / NOT-EXISTS pair as one per-order aggregate:
    # qualifies iff ≥2 suppliers and exactly one late supplier
    "WITH lo AS (SELECT l_orderkey, l_suppkey,"
    " CASE WHEN l_shipdate > o_orderdate + INTERVAL 180 DAY"
    " THEN 1 ELSE 0 END AS late"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE o_orderstatus = 'F'),"
    " po AS (SELECT l_orderkey,"
    " count(DISTINCT l_suppkey) AS n_supp,"
    " count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)"
    " AS n_late_supp,"
    " max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp,"
    " CAST(sum(late) AS BIGINT) AS n_late_lines"
    " FROM lo GROUP BY 1)"
    " SELECT s_name, CAST(sum(n_late_lines) AS BIGINT)"
    " AS numwait"
    " FROM po JOIN supplier ON late_supp = s_suppkey"
    " WHERE n_supp >= 2 AND n_late_supp = 1"
    " GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20"))
def tpch_q21ish(spark, sf_dir):
    """q21 shape — suppliers who alone held up multi-supplier
    orders (late = shipped >180 days after the order date; the
    corpus has no commit/receipt dates). The EXISTS/NOT-EXISTS
    pair decorrelates into ONE per-order aggregate: an order
    qualifies iff it has ≥2 distinct suppliers and EXACTLY ONE
    distinct late supplier — that supplier's late-line count is
    the original correlated l1 row count. Computed as TWO
    ordinary aggregates (per (order,supplier) late-line counts,
    then per-order rollup) instead of two countDistincts in one
    aggregate: Catalyst executes multi-countDistinct via Expand
    (3x the shuffle rows) — the pre-aggregate shape measures
    ~25% faster here and shuffles 3x fewer bytes at 100 TB.
    Broadcast name join; dates compare exactly."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    of = (orders.where(F.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_orderdate"))
    lo = (li.select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(of, F.col("l_orderkey") == F.col("o_orderkey"))
          .select("l_orderkey", "l_suppkey",
                  F.when(F.col("l_shipdate")
                         > F.col("o_orderdate")
                         + F.expr("INTERVAL 180 DAYS"), 1)
                  .otherwise(0).alias("late")))
    ps = (lo.groupBy("l_orderkey", "l_suppkey")
          .agg(F.sum("late").alias("late_lines")))
    late_sup = F.when(F.col("late_lines") > 0,
                      F.col("l_suppkey"))
    po = (ps.groupBy("l_orderkey")
          .agg(F.count(F.lit(1)).alias("n_supp"),
               F.count(late_sup).alias("n_late_supp"),
               F.max(late_sup).alias("late_supp"),
               F.sum("late_lines").alias("n_late_lines")))
    return (po.where((F.col("n_supp") >= 2)
                     & (F.col("n_late_supp") == 1))
            .join(F.broadcast(
                supp.select("s_suppkey", "s_name")),
                F.col("late_supp") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.sum("n_late_lines").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(20))
