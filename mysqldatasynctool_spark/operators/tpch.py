"""Extended TPC-H-style decision-support queries (Q2..Q22, adapted —
with Q1/Q3/Q5 in relational.py this completes all 22 classic shapes).

The reference (a SQL-generating ETL shell, /root/reference/cmd/root.go)
has no analytic query surface at all; SURVEY.md §2B requires the NEW
engine to cover the full relational capability class.  relational.py
holds Q1/Q3/Q5; this module widens the surface with the remaining
TPC-H query *shapes*, adapted to the driver's synthetic schema (no
partsupp table; no l_commitdate/l_receiptdate/l_shipmode columns — see
TESTDATA.md), so every classic optimizer pattern is exercised:

- EXISTS / NOT-EXISTS correlation  (q4, q20, q21)   → semi/anti joins
- dim self-join for nation pairs   (q7, q8)         → broadcast twice
- conditional (CASE) aggregation   (q8, q12, q14, q20)
- scalar subquery thresholds       (q11, q17, q18, q22)
- disjunctive pushdown             (q19)
- pure scan-filter-agg pushdown    (q6)
- argmax/argmin via window         (q2, q15)
- count-distinct rollups           (q16)
- outer join + double aggregation  (q13)

Scale notes (100 TB discipline):
- every dimension (region/nation/customer/supplier/part at TPC-H
  ratios) is broadcast explicitly; the lineitem/orders fact join is
  the only shuffle in most of these plans;
- correlated EXISTS forms become ONE pass semi/anti joins keyed on
  l_orderkey — never a per-row subquery;
- scalar thresholds (q22's avg balance) are a 1-row driver-side agg
  broadcast as a literal, not a nested-loop join — the plan audit
  forbids BroadcastNestedLoopJoin;
- all noisy-double aggregates use the decimal-sum discipline from
  operators/__init__ so results hash-match DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.fastdec import dec_min, dec_sum, dec_sum_when
from ..sources.fixtures import load


def _rev():
    """Net revenue expression (built lazily: F.col needs a live session)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated priority count.

    Orders in a quarter that have at least one line shipped >30 days
    after the order date (stand-in for l_commitdate < l_receiptdate,
    absent from the synthetic schema).  The correlated EXISTS is a
    LEFT SEMI join on l_orderkey with the cross-table late predicate
    folded into the join condition — one shuffle, no subquery per row.
    """
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral nation-pair shipping volume by year.

    nation is joined TWICE (supplier side and customer side) — both
    broadcast, so the fact side shuffles only for the
    lineitem⋈orders key join.  The pair filter keeps both directions.
    """
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dec_sum(_rev(), 6).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_ORACLE = """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of PROMO-part revenue
    inside one region, per year — conditional aggregation over a
    6-table join.  Share = decimal-exact nation revenue / decimal-exact
    total revenue; the single double division is deterministic.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation_c = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nation_s = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    nation_rev = dec_sum_when(F.col("supp_nation") == "NATION_5", _rev(), 6).cast("double")
    total_rev = dec_sum(_rev(), 6).cast("double")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((nation_rev / total_rev).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
                     ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY o_year
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year.

    The synthetic schema has no partsupp/ps_supplycost, so cost is
    proxied as 10%% of p_retailprice per unit (fixed, deterministic).
    Exercises the amount-expression-over-multi-join pattern.
    """
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    amount = _rev() - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.year("o_orderdate").alias("o_year"))
        .agg(dec_sum(amount, 6).cast("double").alias("sum_profit"))
        .orderBy("nation_name", F.desc("o_year"))
    )


Q9_ORACLE = """
SELECT n_name AS nation_name,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * 0.1 * l_quantity AS DECIMAL(22,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY nation_name, o_year
ORDER BY nation_name, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in a quarter.  TakeOrderedAndProject caps the shuffle output;
    c_custkey breaks revenue ties deterministically.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(_rev(), 6).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-conditional counts after a fact join.

    The synthetic schema lacks l_shipmode, so the grouping key is
    l_returnflag and the CASE splits urgent (1-URGENT/2-HIGH) from
    other order priorities — same conditional-aggregation pattern.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one month —
    conditional aggregation to a single row; part is broadcast."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    promo = dec_sum_when(F.col("p_type") == "PROMO", _rev(), 6).cast("double")
    total = dec_sum(_rev(), 6).cast("double")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((F.lit(100.0) * promo / total).alias("promo_revenue_pct"))
    )


Q14_ORACLE = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
                        ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The revenue view is aggregated DECIMAL-exact and the argmax is a
    1-row MAX broadcast joined back on decimal EQUALITY (the q11/q22
    scalar-subquery pattern), so max-ties are bit-stable across
    engines and no stage ever serializes the per-supplier frame
    through a single partition.  The earlier shape ranked over an
    UNPARTITIONED window — WindowExec would pull the whole aggregate
    (|suppliers| rows, linear in SF) into ONE task at scale; the MAX
    branch instead folds map-side to one row per partition and reuses
    the revenue exchange (AQE ReusedExchange), so lineitem is scanned
    once.  Only the output casts to double.
    """
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(dec_sum(_rev(), 6).alias("total_rev"))
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    top = revenue.join(
        F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev")
    ).drop("max_rev")
    return (
        top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute.

    No partsupp table, so the supplier↔part relation is derived from
    lineitem (the observed supplying relation).  countDistinct runs as
    a two-phase partial/final aggregate.
    """
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(1, 7, 14, 21, 28, 35)
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_size IN (1, 7, 14, 21, 28, 35)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand.

    The correlated per-part AVG(l_quantity) subquery becomes a window
    average over l_partkey computed in the same pass — no second scan,
    no join back.  l_quantity is integral so the windowed sum is exact;
    the 0.2× threshold is one deterministic double expression.
    """
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    with_avg = joined.withColumn(
        "qty_threshold", F.lit(0.2) * (F.sum("l_quantity").over(w) / F.count("*").over(w))
    )
    return with_avg.filter(F.col("l_quantity") < F.col("qty_threshold")).agg(
        (dec_sum(F.col("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
            "avg_yearly"
        )
    )


Q17_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part ON l.l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
  AND l.l_quantity < (
    SELECT 0.2 * (SUM(l2.l_quantity) / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders above a total-quantity
    threshold.  The IN-subquery becomes agg→filter→join; the order agg
    and the order join share the l_orderkey shuffle partitioning.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs revenue — three (brand, size-range,
    quantity-range) conjuncts.  Catalyst folds the disjunction into the
    broadcast join filter; each conjunct remains independently
    pushdown-able on the part side.
    """
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dec_sum(_rev(), 6).cast("double").alias("revenue"))
    )


Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone shipped late on
    multi-supplier orders (EXISTS + NOT EXISTS correlation).

    Late := shipped >60 days after the order date (no l_receiptdate in
    the synthetic schema).  Both correlations become single-pass
    semi/anti self-joins keyed on l_orderkey; the late predicate for
    the anti side reuses l1's o_orderdate (same order ⇒ same date), so
    orders is joined exactly once.

    Scale note: this CLASSIC form still self-joins the fact table
    twice (three lineitem scans / up to three fact shuffles once AQE
    stops broadcasting the projections — the 100x condition pinned by
    tests/test_tpch.py::test_q21_classic_never_pins_fact_broadcast).
    The result-identical PRODUCTION path is ``q21_waiting_supplier_agg``
    below: one scan, one groupBy(l_orderkey) pass, no self-joins.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    other_supplier = (F.col("k2") == l1.l_orderkey) & (F.col("s2") != l1.l_suppkey)
    other_late = (
        (F.col("k3") == l1.l_orderkey)
        & (F.col("s3") != l1.l_suppkey)
        & (F.col("ship3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        l1.join(l2, other_supplier, "left_semi")
        .join(l3, other_late, "left_anti")
        .join(F.broadcast(supp), l1.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q21_waiting_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-identical aggregation rewrite of ``q21_waiting_supplier``
    (same oracle): the EXISTS / NOT-EXISTS self-joins become ONE pass
    of per-order supplier statistics.

    Per order: S = distinct suppliers, L = distinct LATE suppliers. A
    supplier s is "kept waiting" on exactly the orders where |S| > 1
    and L = {s} — so numwait(s) = late-line count over orders where
    n_supps > 1 and n_late_supps == 1 and s is the late one.

    100 TB shape (re-measured r18, volume diet): ONE fact scan, ONE
    fact-sized exchange. groupBy(orderkey, suppkey) partial-aggregates
    with map-side combine; the per-order statistics (n_supps,
    n_late_supps) come from a WINDOW over l_orderkey on the per-supp
    frame — each window partition is one order's supplier set (≤7
    rows), bounded at any scale. The r17 form computed per-order
    stats with a second groupBy + self-join of the per-supp frame:
    AQE failed to reuse the fork's exchange (one branch embeds a
    ReusedExchange for the orders broadcast, breaking sameResult), so
    the fact subtree — scan, rebalance, partial-agg exchange —
    executed TWICE (measured: 2×905 KB rebalance + 2×327 KB partials
    at sf0.01). The window form has no fork: measured 2.53 → 1.27 MB
    total shuffle, fact scanned once, result-identical (same oracle).

    vs the classic form at scale: q21_waiting_supplier's EXISTS /
    NOT-EXISTS self-joins ride 8.75 MB of fact-derived BROADCASTS at
    sf0.01 (so its *shuffle* bytes read low) — those broadcasts grow
    with lineitem, exceed any broadcast ceiling at warehouse scale,
    and AQE then demotes them to fact-sized shuffle joins. This
    rewrite's data movement is bounded by per-(order,supplier) partial
    rows and dim-only broadcasts. Both forms are registered; the
    bench carries the original so the rewrite's advantage stays
    measured, not assumed.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "is_late"
        ),
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late_lines")
    )
    w_order = Window.partitionBy("l_orderkey")
    late = F.when(F.col("n_late_lines") > 0, 1).otherwise(0)
    qualifying = per_supp.select(
        "l_suppkey",
        "n_late_lines",
        F.count("*").over(w_order).alias("n_supps"),
        F.sum(late).over(w_order).alias("n_late_supps"),
    ).filter(
        (F.col("n_late_lines") > 0)
        & (F.col("n_supps") > 1)
        & (F.col("n_late_supps") == 1)
    )
    return (
        qualifying.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy lapsed customers, by nation — customers
    above the average positive balance with no orders since 2000
    (every synthetic customer has SOME all-time order, so the classic
    never-ordered form is vacuous here; the plan shape is identical).

    The scalar AVG subquery is a 1-row driver-side aggregate folded in
    as a LITERAL (exact decimal sum / count ⇒ deterministic double) —
    NOT a nested-loop join; the plan audit forbids
    BroadcastNestedLoopJoin.  The NOT EXISTS is a left-anti join.
    NOTE (eager): folding the literal means CONSTRUCTING this frame
    runs the 1-row aggregate as a job at call time.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    nation = load(spark, sf_dir, "nation")
    row = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            dec_sum(F.col("c_acctbal")).cast("double").alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    threshold = row["s"] / row["n"]
    return (
        cust.filter(F.col("c_acctbal") > F.lit(threshold))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dec_sum(F.col("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q22_ORACLE = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(22,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(22,2))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part in a region.

    The synthetic schema has no partsupp, so the observed supply cost
    for a (part, supplier) pair is MIN(l_extendedprice) over lineitem
    — an exact DECIMAL min, so the "cost == regional minimum" equality
    is bit-stable across engines.  The classic correlated
    MIN-subquery becomes a window MIN over p_partkey on the already
    part-grained aggregate (tiny relative to the fact table); region/
    nation/supplier/part dims all broadcast; the only fact shuffle is
    the (l_partkey, l_suppkey) aggregation.

    100 TB: the window keys on p_partkey AFTER reduction to one row
    per (part, supp in region) — cardinality ≈ |partsupp|, not
    |lineitem| — and partitions by part, so no single-reducer window.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 15)
    )
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        dec_min(F.col("l_extendedprice")).alias("supply_cost")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cost.join(F.broadcast(part), cost.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), cost.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_ORACLE = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(22,2))) AS supply_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), regional AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supply_cost,
         MIN(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
  FROM cost
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(supply_cost AS DOUBLE) AS supply_cost
FROM regional WHERE supply_cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast revenue change — a pure scan-filter-agg with
    NO joins; the canonical predicate-pushdown microbenchmark.  All
    three predicates reach the parquet scan (plan-audited); revenue is
    the exact decimal sum of l_extendedprice * l_discount.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6)
        .cast("double")
        .alias("revenue")
    )


Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6))) AS DOUBLE)
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    region's supply value, HAVING-filtered against a scalar-subquery
    threshold.

    No partsupp ⇒ a part's supply value for ASIA-based suppliers is
    the exact decimal revenue sum over their lineitems.  The global
    threshold (total * 0.0001) is computed ONCE as a 1-row aggregate
    and folded in as an exact-decimal literal via Python Decimal
    arithmetic — both engines then compare exact decimals, so the
    HAVING boundary cannot flip cross-engine; no nested-loop join.
    NOTE (eager): CONSTRUCTING this frame runs jobs — the per-part
    value frame is localCheckpointed and the threshold aggregate is
    collected at call time.
    """
    from decimal import Decimal

    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem")
    regional = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    # localCheckpoint (eager) materializes the tiny per-part aggregate
    # (|parts| rows, KBs) ONCE: the threshold collect AND the returned
    # plan both read the checkpointed blocks, so the fact scan+join
    # truly runs once per execution — and unlike a bare .persist()
    # (which leaked a cache entry per invocation in long-lived bench /
    # driver sessions) the blocks are freed when the frame is GC'd,
    # no explicit unpersist handle needed.
    value = regional.groupBy("l_partkey").agg(
        dec_sum(_rev(), 6).alias("part_value")
    ).localCheckpoint(eager=True)
    # total = exact-decimal sum of the per-part aggregate — one fact
    # scan total, not a second scan+join just for the threshold.
    # SUM over zero rows is NULL: on non-fixture data with no ASIA
    # suppliers, fall through to an (exact) empty result instead of a
    # Decimal(None) TypeError.
    total = value.agg(F.sum("part_value").alias("t")).collect()[0]["t"]
    if total is None:
        total = Decimal(0)
    threshold = (Decimal(total) * Decimal("0.0001")).quantize(Decimal("0.0000000001"))
    return (
        value.filter(F.col("part_value") > F.lit(threshold).cast("decimal(28,10)"))
        .select(
            "l_partkey", F.col("part_value").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_ORACLE = """
WITH regional AS (
  SELECT l_partkey,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
FROM regional
GROUP BY l_partkey
HAVING SUM(v) > (SELECT SUM(v) * CAST(0.0001 AS DECIMAL(8,6)) FROM regional)
ORDER BY part_value DESC, l_partkey
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — the
    canonical LEFT OUTER JOIN + double aggregation (customers with
    ZERO qualifying orders must appear in the c_count=0 bucket).

    The order-side filter (o_orderpriority, standing in for the
    reference's comment NOT LIKE) is applied BEFORE the outer join so
    filtered-out customers still survive.  Integer counts only —
    nothing to float-drift.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
       AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with excess activity in target parts
    — nested IN-subqueries flattened to ONE conditional aggregation
    plus a semi join.

    Without partsupp's ps_availqty, the "excess" predicate becomes:
    over 'small *' parts, the (supplier, part) pair sold more quantity
    in 1996 than in all other years combined, i.e.
    2 * qty_1996 > qty_total — compared in exact decimal (no 0.5
    multiplier, no float boundary).  Both classic IN-subqueries
    collapse into the single grouped pass; qualifying suppliers then
    semi-join (broadcast) into the EUROPE supplier list.
    """
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    li = load(spark, sf_dir, "lineitem")
    qty96 = dec_sum_when(F.year("l_shipdate") == 1996, F.col("l_quantity"))
    excess = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            qty96.alias("qty_1996"),
            dec_sum(F.col("l_quantity")).alias("qty_total"),
        )
        .filter(F.lit(2) * F.col("qty_1996") > F.col("qty_total"))
        # no .distinct(): left_semi dedups by construction — an extra
        # exchange over the qualifying keys buys nothing
        .select("l_suppkey")
    )
    return (
        supp.join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_ORACLE = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING 2 * SUM(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = 1996
                        THEN CAST(l_quantity AS DECIMAL(22,2))
                        ELSE CAST(0 AS DECIMAL(22,2)) END)
           > SUM(CAST(l_quantity AS DECIMAL(22,2)))
  )
ORDER BY s_name
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_priority_class": q12_priority_class,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q21_waiting_supplier_agg": q21_waiting_supplier_agg,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
}

ORACLES = {
    "q2_min_cost_supplier": Q2_ORACLE,
    "q4_order_priority": Q4_ORACLE,
    "q6_forecast_revenue": Q6_ORACLE,
    "q7_volume_shipping": Q7_ORACLE,
    "q8_market_share": Q8_ORACLE,
    "q9_product_profit": Q9_ORACLE,
    "q10_returned_items": Q10_ORACLE,
    "q11_important_stock": Q11_ORACLE,
    "q12_priority_class": Q12_ORACLE,
    "q13_customer_distribution": Q13_ORACLE,
    "q14_promo_revenue": Q14_ORACLE,
    "q15_top_supplier": Q15_ORACLE,
    "q16_supplier_part_counts": Q16_ORACLE,
    "q17_small_quantity_revenue": Q17_ORACLE,
    "q18_large_volume_customers": Q18_ORACLE,
    "q19_disjunctive_predicates": Q19_ORACLE,
    "q20_potential_promotion": Q20_ORACLE,
    "q21_waiting_supplier": Q21_ORACLE,
    "q21_waiting_supplier_agg": Q21_ORACLE,
    "q22_global_sales_opportunity": Q22_ORACLE,
}
