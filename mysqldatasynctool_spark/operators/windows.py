"""Window-function operators (ABSENT in the reference — SURVEY.md §2B).

The reference's pagination emulates ``row_number``-style paging by
pushing ``ORDER BY pk LIMIT off,n`` to MySQL
(/root/reference/cmd/root.go:368); these operators provide the real
window surface natively.

Determinism discipline: every ``orderBy`` inside a window spec ends
with a unique key tiebreaker, so ``row_number``/``lag``/running sums
are reproducible across engines and across partitionings — the same
property the reference relied on PK uniqueness for (root.go:368,
SURVEY.md §2A "page ordering is deterministic").

Scale notes: a window partitioned by a key is a single hash shuffle on
that key; frames evaluate streaming within each sorted partition (no
materialization of the whole partition per row for running frames).
Skewed partition keys (one user with 10^9 events) are the risk at
100 TB — for those, pre-aggregate or split by time bucket first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.fastdec import _dec, dec_sum, dec_sum_over
from ..sources.fixtures import load


def scale_safe_row_number(df: DataFrame, bucket, within_order, out: str = "rn") -> DataFrame:
    """Global ``row_number`` over (bucket ASC, *within_order) WITHOUT a
    single-partition sort — the scale-safe replacement for
    ``row_number().over(Window.orderBy(...))`` when the frame is
    corpus-proportional.

    Decomposition (exact, engine-portable):
      1. within-bucket rank: a window PARTITIONED by the bucket (one
         hash shuffle; each bucket sorts independently);
      2. bucket offsets: cumulative counts over the bucket HISTOGRAM —
         a global window, but over #distinct-buckets rows, which the
         caller guarantees is domain-bounded (days, integer counts,
         coarse value buckets — never corpus-proportional);
      3. offsets broadcast-joined back: global rn = offset + local rank.

    Requirements: ``bucket`` must be a monotone function of the
    leading sort key (so bucket ASC + within-bucket order == the total
    order), and ``within_order`` must end in a unique tie-break so the
    total order — hence rn — is deterministic regardless of physical
    partitioning.
    """
    d = df.withColumn("_ssrn_bkt", bucket)
    wb = W.partitionBy("_ssrn_bkt").orderBy(*within_order)
    local = d.withColumn("_ssrn_lrn", F.row_number().over(wb))
    hist = d.groupBy("_ssrn_bkt").agg(F.count("*").alias("_ssrn_c"))
    wcum = W.orderBy("_ssrn_bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = hist.select(
        "_ssrn_bkt",
        F.coalesce(F.sum("_ssrn_c").over(wcum), F.lit(0)).alias("_ssrn_off"),
    )
    return (
        local.join(F.broadcast(offs), "_ssrn_bkt")
        .withColumn(out, (F.col("_ssrn_off") + F.col("_ssrn_lrn")).cast("long"))
        .drop("_ssrn_bkt", "_ssrn_lrn", "_ssrn_off")
    )


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (row_number ≤ k).

    The canonical distributed top-k-per-group: one shuffle on the
    partition key, per-partition sort, early filter on rn — never a
    global sort.
    """
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


WINDOW_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile within brand by price."""
    part = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rnk") <= 10)
        .orderBy("p_brand", "rnk", "p_partkey")
    )


WINDOW_RANK_ORACLE = """
SELECT p_brand, p_partkey, p_retailprice, rnk, drnk, prnk, quartile
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         PERCENT_RANK() OVER w AS prnk,
         NTILE(4) OVER w AS quartile
  FROM part
  WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)
) t
WHERE rnk <= 10
ORDER BY p_brand, rnk, p_partkey
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event gaps: lag/lead over the event timeline."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)).alias(
                "gap_seconds"
            ),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_LAG_LEAD_ORACLE = """
SELECT user_id, event_id, event_type,
       LAG(event_type) OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       CAST(floor(epoch(ts)) AS BIGINT)
         - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_seconds
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (rows frame: unbounded preceding →
    current row), decimal-exact so prefixes hash-match cross-engine."""
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_total"),
            F.count("*").over(w).alias("running_n"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


WINDOW_RUNNING_SUM_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) OVER w AS DOUBLE) AS running_total,
       COUNT(*) OVER w AS running_n
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: for each part, count of same-brand parts priced
    within 5 currency units below it (value-based frame, not rows)."""
    part = load(spark, sf_dir, "part")
    w = (
        W.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rangeBetween(-5, 0)
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.count("*").over(w).alias("n_within_5"),
            dec_sum_over(F.col("p_retailprice"), w).cast("double").alias("sum_within_5"),
        )
        .orderBy("p_brand", "p_partkey")
    )


WINDOW_RANGE_FRAME_ORACLE = """
SELECT p_brand, p_partkey, p_retailprice,
       COUNT(*) OVER w AS n_within_5,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(22,2))) OVER w AS DOUBLE) AS sum_within_5
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
ORDER BY p_brand, p_partkey
"""


def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a running frame: each
    order alongside its customer's first, latest-so-far, and second
    order keys."""
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.first_value("o_orderkey").over(w).alias("first_order"),
            F.last_value("o_orderkey").over(w).alias("latest_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_VALUE_FUNCTIONS_ORACLE = """
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS latest_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


def window_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis: rank customers by revenue
    and report each one's cumulative share of total revenue (the
    '20% of customers drive X%' readout) for the top 20.

    Exactness: revenue is summed as DECIMAL (order-independent), the
    cumulative sum runs over the exact decimals, and only the final
    share is a rounded double — so the oracle hash-matches despite the
    division. Scale shape: the top-20 selection is ORDER BY + LIMIT —
    physical TakeOrderedAndProject, a per-partition top-k merge that
    never materializes the customer frame in one task (the unique
    custkey tie-break makes the cut deterministic, so LIMIT 20 picks
    exactly the rows rnk<=20 would).  Only the 20 SURVIVING rows see
    the rank/cumsum window, so the SinglePartition window input is
    20 rows by construction at any corpus size (the earlier shape
    windowed the whole |customers| aggregate through one task).  A
    full cumulative curve at 100 TB would be computed per
    revenue-range bucket and stitched.
    """
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        dec_sum(F.col("o_totalprice")).alias("revenue")
    )
    total = rev.agg(F.sum("revenue").alias("total_revenue"))
    top20 = rev.orderBy(F.desc("revenue"), F.asc("o_custkey")).limit(20)
    w = W.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    ranked = top20.withColumn("rnk", F.row_number().over(w)).withColumn(
        "cum_revenue",
        F.sum("revenue").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        ranked.join(F.broadcast(total))
        .select(
            "rnk",
            "o_custkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                (F.col("cum_revenue") / F.col("total_revenue")).cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


WINDOW_PARETO_ORACLE = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS revenue
  FROM orders GROUP BY o_custkey
),
total AS (SELECT SUM(revenue) AS total_revenue FROM rev),
ranked AS (
  SELECT o_custkey, revenue,
         ROW_NUMBER() OVER w AS rnk,
         SUM(revenue) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_revenue
  FROM rev
  WINDOW w AS (ORDER BY revenue DESC, o_custkey ASC)
)
SELECT rnk, o_custkey,
       CAST(revenue AS DOUBLE) AS revenue,
       ROUND(CAST(cum_revenue / total_revenue AS DOUBLE), 6) AS cum_share
FROM ranked, total
WHERE rnk <= 20
ORDER BY rnk
"""


def window_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (half-life
    smoothing of the event value stream) — EXACT by construction.

    Cross-engine float discipline: generic EWMA (alpha·x +
    (1-alpha)·prev) accumulates engine-dependent rounding. With
    alpha = 1/2 the weights 2^-1 … 2^-8 are dyadic, so each
    lag(value,k)·2^-(k+1) product only shifts the double's exponent —
    bit-exact — and the 8-term sum is evaluated in the same fixed
    expression order by both engines. No rounding ladder needed; the
    output hashes raw.

    100 TB: one shuffle (user_id window partitioning); 8 lag columns
    evaluate streaming over the sorted partition — no per-row frame
    materialization.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    terms = [
        F.coalesce(F.lag("value", k).over(w), F.lit(0.0)) * F.lit(2.0 ** -(k + 1))
        for k in range(8)
    ]
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    return (
        ev.select("event_id", "user_id", "ts", "value", ewma.alias("ewma"))
        .orderBy("user_id", "ts", "event_id")
    )


WINDOW_EWMA_ORACLE = """
SELECT event_id, user_id, ts, value,
       COALESCE(LAG(value, 0) OVER w, 0.0) * 0.5
       + COALESCE(LAG(value, 1) OVER w, 0.0) * 0.25
       + COALESCE(LAG(value, 2) OVER w, 0.0) * 0.125
       + COALESCE(LAG(value, 3) OVER w, 0.0) * 0.0625
       + COALESCE(LAG(value, 4) OVER w, 0.0) * 0.03125
       + COALESCE(LAG(value, 5) OVER w, 0.0) * 0.015625
       + COALESCE(LAG(value, 6) OVER w, 0.0) * 0.0078125
       + COALESCE(LAG(value, 7) OVER w, 0.0) * 0.00390625
       AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, ts, event_id
"""


def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval RANGE frame: for each event, the count and exact
    decimal sum of the same user's events in the trailing hour —
    value-based framing on unix SECONDS (window_range_frame is the
    numeric-value sibling on price). Equal-timestamp peers share the
    frame in both engines (RANGE semantics), so ties are
    deterministic without an id tiebreaker.

    100 TB: one shuffle on user_id; the frame is evaluated by a
    per-partition sliding accumulator, never a per-row rescan. The
    epoch column is floor-truncated once (unix_timestamp) — same
    discipline as the interval-overlap join (DuckDB's double→bigint
    cast rounds, so the oracle floors explicitly).
    """
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count("*").over(w).alias("n_last_hour"),
            dec_sum_over(F.col("value"), w, 6).cast("double").alias(
                "sum_last_hour"
            ),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_TIME_RANGE_ORACLE = """
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER w AS DOUBLE) AS sum_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


def window_running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running maximum + drawdown of the cumulative spend curve per
    customer — the peak-to-trough metric every monitoring/finance
    stack derives from a running series. Composes two stacked window
    passes over the SAME partition+order (Catalyst evaluates both in
    one sort, no second exchange): the decimal running total, then the
    running MAX of that total; drawdown = peak − current, exact in
    decimal until the final double cast.

    Determinism: spend is non-negative so drawdown is always 0 here —
    the interesting invariant — but the decimal algebra is what the
    oracle checks; with signed deltas (returns ledger) the identical
    plan yields real drawdowns.
    """
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # signed ledger: returns (F status) count negative, so the curve
    # actually draws down and the metric is non-degenerate
    delta = F.when(
        F.col("o_orderstatus") == "F", -_dec(F.col("o_totalprice"))
    ).otherwise(_dec(F.col("o_totalprice")))
    running = F.sum(delta).over(w)
    peak = F.max(running).over(w)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            running.cast("double").alias("running_balance"),
            peak.cast("double").alias("running_peak"),
            (peak - running).cast("double").alias("drawdown"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


WINDOW_DRAWDOWN_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(running AS DOUBLE) AS running_balance,
       CAST(MAX(running) OVER w2 AS DOUBLE) AS running_peak,
       CAST(MAX(running) OVER w2 - running AS DOUBLE) AS drawdown
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         SUM(CASE WHEN o_orderstatus = 'F'
                  THEN -CAST(o_totalprice AS DECIMAL(22,2))
                  ELSE CAST(o_totalprice AS DECIMAL(22,2)) END)
           OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM orders
)
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix over ORDERS: customers cohorted by
    their FIRST order's year, spend accumulated by order-age-in-years
    since that first order — the (cohort × age) LTV triangle a growth
    team reads (the events-based sibling is
    ``events_retention_cohorts``; this one is decimal-exact money).

    Plan: first-order date is one groupBy(custkey) pass; a broadcast
    join tags every order with its customer's cohort (customer-level
    frame ≪ orders); the matrix is one aggregate on (cohort, age).
    """
    orders = load(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_order")
    )
    tagged = orders.join(F.broadcast(first), "o_custkey").select(
        F.year("first_order").alias("cohort_year"),
        (F.year("o_orderdate") - F.year("first_order")).alias("age_years"),
        # r18: carry the raw double; the aggregate below sums it on
        # the unscaled-long fast path (value-identical to the old
        # per-row decimal projection + decimal sum)
        F.col("o_totalprice").alias("spend"),
    )
    return (
        tagged.groupBy("cohort_year", "age_years")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("spend")).cast("double").alias("cohort_spend"),
        )
        .orderBy("cohort_year", "age_years")
    )


AGG_COHORT_LTV_ORACLE = """
WITH first AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_order
  FROM orders GROUP BY o_custkey
)
SELECT CAST(year(first_order) AS INT) AS cohort_year,
       CAST(year(o_orderdate) - year(first_order) AS INT) AS age_years,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS cohort_spend
FROM orders JOIN first USING (o_custkey)
GROUP BY 1, 2
ORDER BY cohort_year, age_years
"""


QUERIES = {
    "window_running_drawdown": window_running_drawdown,
    "agg_cohort_ltv": agg_cohort_ltv,
    "window_value_functions": window_value_functions,
    "window_topk_per_group": window_topk_per_group,
    "window_rank_functions": window_rank_functions,
    "window_lag_lead": window_lag_lead,
    "window_running_sum": window_running_sum,
    "window_range_frame": window_range_frame,
    "window_pareto_cumshare": window_pareto_cumshare,
    "window_ewma_dyadic": window_ewma_dyadic,
    "window_time_range_frame": window_time_range_frame,
}

ORACLES = {
    "window_running_drawdown": WINDOW_DRAWDOWN_ORACLE,
    "agg_cohort_ltv": AGG_COHORT_LTV_ORACLE,
    "window_value_functions": WINDOW_VALUE_FUNCTIONS_ORACLE,
    "window_topk_per_group": WINDOW_TOPK_ORACLE,
    "window_rank_functions": WINDOW_RANK_ORACLE,
    "window_lag_lead": WINDOW_LAG_LEAD_ORACLE,
    "window_running_sum": WINDOW_RUNNING_SUM_ORACLE,
    "window_range_frame": WINDOW_RANGE_FRAME_ORACLE,
    "window_pareto_cumshare": WINDOW_PARETO_ORACLE,
    "window_ewma_dyadic": WINDOW_EWMA_ORACLE,
    "window_time_range_frame": WINDOW_TIME_RANGE_ORACLE,
}
