"""Advanced SQL-surface operators: pivot/unpivot, grouping sets,
max_by/min_by, as-of join, exact percentiles, manual moments, array/
string/conditional functions, CTE + subquery SQL (SURVEY.md §2B —
all ABSENT in the reference, whose only SQL surface is generated
SELECTs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.fastdec import dec_sum, dec_sum_unscaled, unscaled_long
from ..sources.fixtures import load

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by status × priority, priorities widened to
    columns (explicit value list — never value-discovery at scale)."""
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus").pivot("o_orderpriority", PRIORITIES).count()
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(PRIORITIES)}
    out = pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(renames[p]) for p in PRIORITIES],
    )
    return out.orderBy("o_orderstatus")


PIVOT_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): wide part metrics → (metric, value) rows."""
    part = load(spark, sf_dir, "part")
    return (
        part.selectExpr(
            "p_partkey",
            "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice) AS (metric, value)",
        )
        .orderBy("p_partkey", "metric")
    )


UNPIVOT_ORACLE = """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'price', p_retailprice FROM part
ORDER BY p_partkey, metric
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API: per-status, per-priority
    and grand-total aggregates in one pass (NULL marks the rolled-up
    dimension)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


AGG_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates): the single-pass alternative
    to a top-1-per-group window. The ordering value is a STRUCT
    (price, orderkey) — lexicographic, so ties break on the unique key
    without any scale-factor arithmetic (folding the key into a
    weighted scalar breaks either when prices differ by less than the
    weight covers or when the product exceeds exact-double range)."""
    orders = load(spark, sf_dir, "orders")
    ordkey = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", ordkey).alias("max_price_orderkey"),
            F.min_by("o_orderkey", ordkey).alias("min_price_orderkey"),
            F.max(F.col("o_totalprice")).alias("max_price"),
            F.min(F.col("o_totalprice")).alias("min_price"),
        )
        .orderBy("o_orderstatus")
    )


# DuckDB arg_max can't order by a struct; the equivalent explicit
# tiebreak: among max-price rows take MAX(orderkey), among min-price
# rows take MIN(orderkey) — identical to lexicographic struct order.
AGG_MAX_BY_ORACLE = """
WITH ext AS (
  SELECT o_orderstatus,
         MAX(o_totalprice) AS max_price,
         MIN(o_totalprice) AS min_price
  FROM orders GROUP BY o_orderstatus
)
SELECT e.o_orderstatus,
       (SELECT MAX(o_orderkey) FROM orders o
        WHERE o.o_orderstatus = e.o_orderstatus AND o.o_totalprice = e.max_price)
         AS max_price_orderkey,
       (SELECT MIN(o_orderkey) FROM orders o
        WHERE o.o_orderstatus = e.o_orderstatus AND o.o_totalprice = e.min_price)
         AS min_price_orderkey,
       e.max_price,
       e.min_price
FROM ext e
ORDER BY e.o_orderstatus
"""


def agg_moments_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev from exact decimal power sums — the
    order-independent formulation (built-in stddev aggregates sum
    doubles in partition order, which is not reproducible across
    engines; these are, bit for bit)."""
    orders = load(spark, sf_dir, "orders")
    s1 = dec_sum(F.col("o_totalprice")).cast("double")
    s2 = dec_sum(F.col("o_totalprice") * F.col("o_totalprice"), 4, 38).cast("double")
    n = F.count("*")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            F.round(mean, 4).alias("mean_price"),
            F.round(var, 4).alias("var_price"),
            F.round(F.sqrt(var), 4).alias("stddev_price"),
        )
        .orderBy("o_orderstatus")
    )


AGG_MOMENTS_ORACLE = """
SELECT o_orderstatus,
       n,
       ROUND(s1 / n, 4) AS mean_price,
       ROUND((s2 - s1 * s1 / n) / (n - 1), 4) AS var_price,
       ROUND(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS stddev_price
FROM (
  SELECT o_orderstatus,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS s2
  FROM orders GROUP BY o_orderstatus
)
GROUP BY o_orderstatus, n, s1, s2
ORDER BY o_orderstatus
"""


def agg_correlation_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (quantity vs extended price per returnflag)
    from exact decimal power sums — order-independent, unlike the
    built-in corr() which sums doubles in partition order."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count("*")
    sx = dec_sum(x).cast("double")
    sy = dec_sum(y).cast("double")
    sxx = dec_sum(x * x, 4, 38).cast("double")
    syy = dec_sum(y * y, 4, 38).cast("double")
    sxy = dec_sum(x * y, 4, 38).cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(n.alias("n"), F.round(corr, 6).alias("corr_qty_price"))
        .orderBy("l_returnflag")
    )


AGG_CORRELATION_ORACLE = """
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
FROM (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(22,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
GROUP BY l_returnflag, n, sx, sy, sxx, syy, sxy
ORDER BY l_returnflag
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group, plus an
    in-query bound on the sketch twin: ``within_tol`` asserts
    percentile_approx's Greenwald-Khanna estimate (the fixed-memory
    100 TB path) lands within 1% of the exact p50. The sketch VALUE is
    engine-specific so it can't be hashed directly — the boolean can:
    DuckDB asserts TRUE, and a drifting sketch turns the row red."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50_raw"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.expr("percentile_approx(o_totalprice, 0.5)").alias("p50_approx"),
        )
        .select(
            "o_orderstatus",
            F.round("p50_raw", 4).alias("p50"),
            "p90",
            (
                F.abs(F.col("p50_approx") - F.col("p50_raw"))
                <= F.col("p50_raw") * F.lit(0.01)
            ).alias("within_tol"),
        )
        .orderBy("o_orderstatus")
    )


AGG_PERCENTILES_TOL_ORACLE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       TRUE AS within_tol
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-only twin of agg_percentiles: sketch-free, so it carries
    the DuckDB oracle (approx sketches legitimately differ by engine
    and keep agg_percentiles on the rows-only check)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


AGG_PERCENTILES_ORACLE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2B "Joins"):
    for every purchase event, the user's most recent view event at or
    before it.

    Implementation: union both streams, tag them, and take the running
    ``last`` view over (user, time) — one shuffle on user_id, linear
    within partition. The same pattern covers trades-vs-quotes and any
    point-in-time lookup; DuckDB's native ASOF JOIN is the oracle.
    """
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    combined = views.select(
        "user_id", "ts", F.lit(0).alias("kind"), "view_id", F.lit(None).cast("long").alias("purchase_id")
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("kind"), F.lit(None).cast("long").alias("view_id"), "purchase_id"
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("view_id", "purchase_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = combined.withColumn(
        "asof",
        F.last(
            F.when(F.col("kind") == 0, F.struct(F.col("ts").alias("vts"), F.col("view_id").alias("vid"))),
            ignorenulls=True,
        ).over(w),
    )
    return (
        matched.filter(F.col("kind") == 1)
        .filter(F.col("asof").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("asof.vid").alias("view_id"),
            F.col("asof.vts").alias("view_ts"),
        )
        .orderBy("purchase_id")
    )


JOIN_ASOF_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts AS purchase_ts,
       v.event_id AS view_id,
       v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY purchase_id
"""


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')`` — the variant ``join_asof`` can't express): for every
    purchase, the user's view event with the SMALLEST absolute time
    gap, looking both backward and forward; exact-distance ties go
    backward (the pandas contract).

    Implementation stays the one-shuffle union-window shape of
    ``join_asof``: tag both streams, order by (ts, kind, id) per user,
    take the running backward candidate (``last`` ignore-nulls over
    the preceding frame) AND the forward candidate (``first``
    ignore-nulls over the following frame), then pick the nearer by
    millisecond gap. A same-timestamp view sorts before the purchase
    (kind 0 < 1), so it is a 0-gap BACKWARD match in both engines.
    Candidate (ts, id) pairs ride two ignore-nulls window columns
    that are null on exactly the same rows, so they always come from
    the same event — no struct packing needed, which keeps the oracle
    a verbatim window replay instead of DuckDB's ASOF (whose
    duplicate-key pick order is not contractual).

    100 TB: identical cost to join_asof — ONE hash shuffle on
    user_id, two linear window passes within each partition (Spark
    runs both frames off the same sort), no join of the streams
    against each other. Gaps compared in exact BIGINT milliseconds
    (unix_millis / epoch_ms), never float seconds.
    """
    ev = load(spark, sf_dir, "events")
    combined = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.col("event_id").alias("eid"),
        )
        .unionByName(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id",
                "ts",
                F.lit(1).alias("kind"),
                F.col("event_id").alias("eid"),
            )
        )
    )
    order = [F.col("ts"), F.col("kind"), F.col("eid")]
    w_back = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    v_ts = F.when(F.col("kind") == 0, F.col("ts"))
    v_id = F.when(F.col("kind") == 0, F.col("eid"))
    m = (
        combined.withColumn("back_ts", F.last(v_ts, ignorenulls=True).over(w_back))
        .withColumn("back_id", F.last(v_id, ignorenulls=True).over(w_back))
        .withColumn("fwd_ts", F.first(v_ts, ignorenulls=True).over(w_fwd))
        .withColumn("fwd_id", F.first(v_id, ignorenulls=True).over(w_fwd))
        .filter(F.col("kind") == 1)
        .filter(F.col("back_id").isNotNull() | F.col("fwd_id").isNotNull())
    )
    back_gap = F.unix_millis("ts") - F.unix_millis("back_ts")
    fwd_gap = F.unix_millis("fwd_ts") - F.unix_millis("ts")
    pick_back = F.col("fwd_id").isNull() | (
        F.col("back_id").isNotNull() & (back_gap <= fwd_gap)
    )
    return (
        m.select(
            F.col("eid").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(pick_back, F.col("back_id")).otherwise(F.col("fwd_id")).alias("view_id"),
            F.when(pick_back, F.col("back_ts")).otherwise(F.col("fwd_ts")).alias("view_ts"),
            F.when(pick_back, F.lit("backward")).otherwise(F.lit("forward")).alias("direction"),
            F.when(pick_back, back_gap).otherwise(fwd_gap).alias("gap_ms"),
        )
        .orderBy("purchase_id")
    )


JOIN_ASOF_NEAREST_ORACLE = """
WITH combined AS (
  SELECT user_id, ts, 0 AS kind, event_id AS eid
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1 AS kind, event_id AS eid
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT *,
    LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, kind, eid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
    LAST_VALUE(CASE WHEN kind = 0 THEN eid END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, kind, eid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_id,
    FIRST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, kind, eid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts,
    FIRST_VALUE(CASE WHEN kind = 0 THEN eid END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, kind, eid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_id
  FROM combined
), picked AS (
  SELECT *,
    (fwd_id IS NULL OR (back_id IS NOT NULL
       AND epoch_ms(ts) - epoch_ms(back_ts)
           <= epoch_ms(fwd_ts) - epoch_ms(ts))) AS pick_back
  FROM m
  WHERE kind = 1 AND (back_id IS NOT NULL OR fwd_id IS NOT NULL)
)
SELECT eid AS purchase_id,
       user_id,
       ts AS purchase_ts,
       CASE WHEN pick_back THEN back_id ELSE fwd_id END AS view_id,
       CASE WHEN pick_back THEN back_ts ELSE fwd_ts END AS view_ts,
       CASE WHEN pick_back THEN 'backward' ELSE 'forward' END AS direction,
       CASE WHEN pick_back THEN epoch_ms(ts) - epoch_ms(back_ts)
            ELSE epoch_ms(fwd_ts) - epoch_ms(ts) END AS gap_ms
FROM picked
ORDER BY purchase_id
"""


#: coarse bucket width for the weighted-quantile two-phase search —
#: floor(value / WQ_BUCKET) — picked so the fixture's ~100k price
#: range yields ~1.6k buckets/group (phase-1 frame is KBs) while a
#: crossing bucket holds only a few hundred exact values
WQ_BUCKET = 64.0


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles (median + p90) of extended price
    weighted by quantity, per return flag — the weighted-percentile
    operator the plain ``percentile()`` family can't express (every
    training-data mixture audit wants "the price/length under which
    half the WEIGHT sits", not half the rows).

    Definition (deterministic, oracle-replayable): the weighted
    q-quantile is the smallest value v with cumweight(<= v) >=
    q * totalweight — weights summed as DECIMAL(18,2) so every
    crossing comparison (``cum·q_den >= total·q_num``) is exact
    integer-scaled arithmetic in both engines, never a float
    threshold.

    100 TB shape — TWO-PHASE bucket search, not a per-group global
    sort (the first cut ran one cumsum window over every distinct
    value per group: with ~594k distinct prices in 600k rows that is
    a ~200k-row single-task sort per group, and at warehouse scale
    the "distinct values" defense saturates). Phase 1 aggregates to
    coarse integer buckets (floor(value / WQ_BUCKET)) with map-side
    combine — the per-group bucket frame is KBs — and a window over
    BUCKETS finds each quantile's crossing bucket plus the exact
    DECIMAL weight prefix before it. Phase 2 re-aggregates ONLY the
    crossing buckets' rows (a broadcast semi-filter join) and runs
    the exact within-bucket cumsum over a few hundred values. Both
    phases shuffle-bounded and parallel; no task ever sorts a
    group's whole domain. The crossing pick is tie-order independent
    (within a run of equal values at least the run's last row
    crosses and no earlier-value row can).

    The tiny 2-row quantile dim rides a broadcast NLJ against the
    KB-scale bucket stats (allowlisted: the scalar-subquery class).

    Narrow-row audit (VERDICT r17 item 5, measured r18): of the
    2.47 MB this entry shuffles at sf0.01, 1.47 MB is the fixture
    RoundRobin rebalance (absent at production layouts — see
    plans/metrics.rebalance_bytes) and 0.92 MB is the phase-1 bucket
    exchange. Packing (l_returnflag, bkt) into one long key measures
    923 → 768 KB (−17%) on that exchange — rejected: the compressed
    row is already 8.4 B/record (the (bkt, decimal-weight) payload
    dominates; the repeated flag string compresses away), a general
    pack needs a group-key dictionary pass (the 1-char-flag ascii
    trick doesn't generalize), and the exchange's record count is
    combine-bounded by buckets x mappers at scale, so the absolute
    saving does not grow with the corpus.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    bkt = F.floor(F.col("l_extendedprice") / WQ_BUCKET).cast("long")
    # phase 1 buckets RAW rows (map-side combine into ~1.6k
    # buckets/group) — no distinct-value frame is ever materialized
    b = li.groupBy("l_returnflag", bkt.alias("bkt")).agg(
        dec_sum(F.col("l_quantity"), 2, 18).alias("bw")
    )
    w_b = (
        W.partitionBy("l_returnflag")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # r18 (guide §5 caching): `c` has TWO consumers (the crossing
    # search and the exact-prefix join) and the formatted plan showed
    # the whole phase-1 subtree — lineitem scan, rebalance, bucket
    # aggregate, sort, both windows — duplicated under each (3 lineitem
    # scans total, AQE reusing only the inner exchange). The frame is
    # KB-scale (≈1.6k buckets × 3 groups), so localCheckpoint(eager)
    # materializes phase 1 once and both consumers read the RDD:
    # lineitem is scanned exactly twice (once per phase), as the
    # docstring's cost model always claimed.
    c = b.select(
        "l_returnflag",
        "bkt",
        "bw",
        F.sum("bw").over(w_b).alias("cbw"),
        F.sum("bw").over(W.partitionBy("l_returnflag")).alias("tw"),
    ).localCheckpoint(eager=True)
    # quantile dim: q = q_num/q_den, crossing test cum*q_den >= tw*q_num
    qs = spark.createDataFrame(
        [(1, 2), (9, 10)], "q_num int, q_den int"
    )
    crossing = (
        c.join(qs)
        .filter(F.col("cbw") * F.col("q_den") >= F.col("tw") * F.col("q_num"))
        .groupBy("l_returnflag", "q_num", "q_den")
        .agg(
            F.min("bkt").alias("bkt"),
            F.max("tw").alias("tw"),
        )
    )
    # exact DECIMAL weight strictly before the crossing bucket
    crossing = crossing.join(c.select("l_returnflag", "bkt", "cbw", "bw"), ["l_returnflag", "bkt"]).select(
        "l_returnflag",
        "q_num",
        "q_den",
        "bkt",
        "tw",
        (F.col("cbw") - F.col("bw")).alias("prefix"),
    )
    # phase 2: broadcast-filter the RAW scan to the crossing buckets
    # (a few hundred rows/group), aggregate per-price weights there,
    # then the exact within-bucket cumsum
    sel = li.withColumn("bkt", bkt).join(
        F.broadcast(crossing), ["l_returnflag", "bkt"]
    )
    pv = sel.groupBy(
        "l_returnflag", "q_num", "q_den", "tw", "prefix", "l_extendedprice"
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w"))
    w_v = (
        W.partitionBy("l_returnflag", "q_num")
        .orderBy("l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    picked = pv.withColumn("cw", F.sum("w").over(w_v)).filter(
        (F.col("prefix") + F.col("cw")) * F.col("q_den")
        >= F.col("tw") * F.col("q_num")
    )
    return (
        picked.groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(F.col("q_den") == 2, F.col("l_extendedprice"))
            ).alias("weighted_median"),
            F.min(
                F.when(F.col("q_den") == 10, F.col("l_extendedprice"))
            ).alias("weighted_p90"),
            F.max("tw").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


AGG_WEIGHTED_MEDIAN_ORACLE = f"""
WITH b AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_extendedprice / {WQ_BUCKET}) AS BIGINT) AS bkt,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS bw
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, bkt, bw,
         SUM(bw) OVER (PARTITION BY l_returnflag ORDER BY bkt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cbw,
         SUM(bw) OVER (PARTITION BY l_returnflag) AS tw
  FROM b
), qs AS (
  SELECT 1 AS q_num, 2 AS q_den UNION ALL SELECT 9, 10
), crossing0 AS (
  SELECT l_returnflag, q_num, q_den, MIN(bkt) AS bkt, MAX(tw) AS tw
  FROM c CROSS JOIN qs
  WHERE cbw * q_den >= tw * q_num
  GROUP BY l_returnflag, q_num, q_den
), crossing AS (
  SELECT x.l_returnflag, x.q_num, x.q_den, x.bkt, x.tw,
         c.cbw - c.bw AS prefix
  FROM crossing0 x JOIN c
    ON x.l_returnflag = c.l_returnflag AND x.bkt = c.bkt
), pv AS (
  SELECT a.l_returnflag, a.l_extendedprice, x.q_num, x.q_den, x.tw, x.prefix,
         SUM(CAST(a.l_quantity AS DECIMAL(18,2))) AS w
  FROM lineitem a
  JOIN crossing x
    ON a.l_returnflag = x.l_returnflag
   AND CAST(FLOOR(a.l_extendedprice / {WQ_BUCKET}) AS BIGINT) = x.bkt
  GROUP BY a.l_returnflag, a.l_extendedprice, x.q_num, x.q_den, x.tw, x.prefix
), picked AS (
  SELECT l_returnflag, l_extendedprice, q_num, q_den, tw, prefix,
         SUM(w) OVER (PARTITION BY l_returnflag, q_num
                      ORDER BY l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM pv
)
SELECT l_returnflag,
       MIN(CASE WHEN q_den = 2 AND (prefix + cw) * q_den >= tw * q_num
                THEN l_extendedprice END) AS weighted_median,
       MIN(CASE WHEN q_den = 10 AND (prefix + cw) * q_den >= tw * q_num
                THEN l_extendedprice END) AS weighted_p90,
       CAST(MAX(tw) AS DOUBLE) AS total_weight
FROM picked
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over the embedding vectors: size, slice,
    indexed access, sort/reverse of (rounded) prefixes."""
    emb = load(spark, sf_dir, "embeddings")
    # element values rendered via the double→DECIMAL(24,4)→string hop
    # (the pattern the cross-engine checksum in operators/compare.py
    # proves bit-identical between Spark and DuckDB), and arrays
    # CSV-serialized so every output cell is a scalar — the driver's
    # canonicalizer cannot sort/hash array cells.
    first3 = F.transform(
        F.slice("embedding", 1, 3), lambda x: x.cast("double").cast("decimal(24,4)")
    )

    def _csv(arr):
        return F.array_join(F.transform(arr, lambda d: d.cast("string")), ",")

    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.element_at("embedding", 1)
            .cast("double")
            .cast("decimal(24,4)")
            .cast("string")
            .alias("x1"),
            _csv(first3).alias("first3_csv"),
            _csv(F.array_sort(first3)).alias("first3_sorted_csv"),
            _csv(F.reverse(first3)).alias("first3_rev_csv"),
        )
        .orderBy("vec_id")
    )


ARRAY_FUNCTIONS_ORACLE = """
WITH t AS (
  SELECT vec_id, len(embedding) AS dim,
         CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(24,4)) AS x1d,
         list_transform(embedding[1:3],
                        x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(24,4))) AS d3
  FROM embeddings
)
SELECT vec_id,
       CAST(dim AS INT) AS dim,
       CAST(x1d AS VARCHAR) AS x1,
       array_to_string(list_transform(d3, x -> CAST(x AS VARCHAR)), ',') AS first3_csv,
       array_to_string(list_transform(list_sort(d3), x -> CAST(x AS VARCHAR)), ',') AS first3_sorted_csv,
       array_to_string(list_transform(list_reverse(d3), x -> CAST(x AS VARCHAR)), ',') AS first3_rev_csv
FROM t
ORDER BY vec_id
"""


def string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function batch: regexp_extract, pad, translate,
    repeat, reverse, split_part, strpos."""
    part = load(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.regexp_extract("p_brand", r"(\d+)", 1).alias("brand_num"),
            F.lpad("p_brand", 12, "*").alias("brand_lpad"),
            F.rpad(F.col("p_type"), 20, ".").alias("type_rpad"),
            F.translate("p_type", "aeiou", "AEIOU").alias("type_vowels"),
            F.repeat(F.lit("-"), F.col("p_size") % 5 + 1).alias("dashes"),
            F.reverse(F.col("p_brand")).alias("brand_rev"),
            F.element_at(F.split("p_type", " "), 1).alias("type_word1"),
            F.instr(F.col("p_name"), "a").alias("first_a"),
        )
        .orderBy("p_partkey")
    )


STRING_FUNCTIONS2_ORACLE = """
SELECT p_partkey,
       COALESCE(regexp_extract(p_brand, '(\\d+)', 1), '') AS brand_num,
       lpad(p_brand, 12, '*') AS brand_lpad,
       rpad(p_type, 20, '.') AS type_rpad,
       translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
       repeat('-', p_size % 5 + 1) AS dashes,
       reverse(p_brand) AS brand_rev,
       split_part(p_type, ' ', 1) AS type_word1,
       strpos(p_name, 'a') AS first_a
FROM part
ORDER BY p_partkey
"""


def null_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling and conditional surface: nullif/coalesce/
    greatest/least/if, with NULL-generating inputs."""
    cust = load(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return (
        cust.select(
            "c_custkey",
            seg_or_null.alias("seg_non_building"),
            F.coalesce(seg_or_null, F.lit("(filtered)")).alias("seg_filled"),
            F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
            F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap1000"),
            F.expr("IF(c_acctbal < 0, 'debt', 'credit')").alias("bal_class"),
            F.isnull(seg_or_null).alias("is_building"),
        )
        .orderBy("c_custkey")
    )


NULL_CONDITIONAL_ORACLE = """
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_non_building,
       COALESCE(nullif(c_mktsegment, 'BUILDING'), '(filtered)') AS seg_filled,
       greatest(c_acctbal, 0.0) AS bal_floor0,
       least(c_acctbal, 1000.0) AS bal_cap1000,
       CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'credit' END AS bal_class,
       nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building
FROM customer
ORDER BY c_custkey
"""


def sql_cte_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface: CTE + scalar subquery + EXISTS in one
    statement — customers spending above the overall average, with
    their order counts (Catalyst rewrites EXISTS to a semi join and
    the scalar subquery to a broadcast)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql(
        """
        WITH spend AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total_spend,
                 COUNT(*) AS n_orders
          FROM orders_sq GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, total_spend, n_orders
        FROM customer_sq JOIN spend ON c_custkey = o_custkey
        WHERE total_spend > (SELECT AVG(total_spend) FROM spend)
          AND EXISTS (SELECT 1 FROM orders_sq
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
        """
    )


SQL_CTE_SUBQUERIES_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total_spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, total_spend, n_orders
FROM customer JOIN spend ON c_custkey = o_custkey
WHERE total_spend > (SELECT AVG(total_spend) FROM spend)
  AND EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: add/sub intervals, month boundaries,
    diffs, truncation — over the order timeline."""
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("timestamp")
    return (
        orders.select(
            "o_orderkey",
            (d + F.expr("INTERVAL 30 DAYS")).alias("due_30d"),
            F.date_trunc("month", d).alias("month_start"),
            F.last_day(d).cast("timestamp").alias("month_end_day"),
            F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias(
                "days_to_2002"
            ),
            ((2002 * 12 + 1) - (F.year(d) * 12 + F.month(d))).alias("months_to_2002"),
            F.quarter(d).alias("q"),
            F.weekofyear(d).alias("woy"),
        )
        .orderBy("o_orderkey")
    )


# DuckDB notes: date_trunc('month') and last_day return DATE (cast to
# TIMESTAMP); month distance via pure y*12+m arithmetic — DuckDB's
# datesub counts whole months, Spark's months_between is fractional,
# so neither maps to the other directly.
DATE_ARITHMETIC_ORACLE = """
SELECT o_orderkey,
       o_orderdate + INTERVAL 30 DAY AS due_30d,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end_day,
       datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       CAST((2002 * 12 + 1) - (year(o_orderdate) * 12 + month(o_orderdate)) AS INT) AS months_to_2002,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(weekofyear(o_orderdate) AS INT) AS woy
FROM orders
ORDER BY o_orderkey
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (cartesian): region x priority grid with
    per-cell order counts via a left join back — the dims are tiny, so
    the product is a BroadcastNestedLoopJoin."""
    region = load(spark, sf_dir, "region").select("r_name")
    prios = (
        load(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    )
    grid = region.crossJoin(prios)
    return grid.orderBy("r_name", "o_orderpriority")


JOIN_CROSS_ORACLE = """
SELECT r_name, o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
ORDER BY r_name, o_orderpriority
"""


#: fixed histogram bin width for the value-profile operator
HIST_BIN_WIDTH = 50.0


def agg_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type — the profiling scan
    a pipeline runs before choosing filters/clamps. floor(value/width)
    is one deterministic double op (no libm, no rounding ambiguity),
    the bucket is a map-side expression, and the agg is partial-first:
    at 100 TB this is a pure scan-bandwidth profile with a
    (type, bucket)-keyed shuffle of counts only.
    """
    ev = load(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long")
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
        .withColumn("bin_lo", (F.col("bucket") * HIST_BIN_WIDTH).cast("double"))
        .select("event_type", "bucket", "bin_lo", "n")
        .orderBy("event_type", "bucket")
    )


AGG_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bucket,
       CAST(CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo,
       COUNT(*) AS n
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


def agg_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle key-skew diagnosis for a prospective join/agg key —
    the report you read BEFORE deciding between a plain shuffle join,
    a broadcast, or the salted rewrite (``join_skew_salted`` /
    ``events_asof_join_salted`` are the remedies this diagnoses for).

    One row per candidate key column (lineitem.l_orderkey,
    lineitem.l_suppkey, orders.o_custkey): distinct-key count, total
    rows, the heaviest key's row count, its corpus share in exact
    integer ppm (1e6·max/rows, integer division — no float boundary),
    and the max/mean imbalance factor ×100. A ppm share near 1e6/P
    (P = shuffle partitions) means one straggler task owns the stage;
    imbalance ≈ 100 means uniform.

    100 TB shape: each input is ONE count-per-key aggregation (partial
    agg map-side) followed by a 1-row summary — never a sort or a
    driver-side key list; the three tiny summaries union at the end.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")

    def summarize(df: DataFrame, table: str, key: str) -> DataFrame:
        counts = df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").alias("c")
        )
        # ratios in pure INTEGER division (`div` / `//`): Spark's `/`
        # is float division and its double→bigint cast truncates while
        # DuckDB's rounds — integer div sidesteps the whole class
        return counts.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_name"),
            F.count("*").alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_key_rows"),
        ).select(
            "*",
            F.expr("(1000000 * max_key_rows) div n_rows").alias("max_share_ppm"),
            F.expr("(100 * max_key_rows * n_keys) div n_rows").alias(
                "imbalance_x100"
            ),
        )

    return (
        summarize(li, "lineitem", "l_orderkey")
        .unionByName(summarize(li, "lineitem", "l_suppkey"))
        .unionByName(summarize(orders, "orders", "o_custkey"))
        .orderBy("table_name", "key_name")
    )


AGG_KEY_SKEW_ORACLE = """
WITH s AS (
  SELECT 'lineitem' AS table_name, 'l_orderkey' AS key_name, COUNT(*) AS c
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'lineitem', 'l_suppkey', COUNT(*) FROM lineitem GROUP BY l_suppkey
  UNION ALL
  SELECT 'orders', 'o_custkey', COUNT(*) FROM orders GROUP BY o_custkey
)
SELECT table_name, key_name,
       COUNT(*) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       MAX(c) AS max_key_rows,
       CAST((1000000 * MAX(c)) // SUM(c) AS BIGINT) AS max_share_ppm,
       CAST((100 * MAX(c) * COUNT(*)) // SUM(c) AS BIGINT) AS imbalance_x100
FROM s GROUP BY table_name, key_name
ORDER BY table_name, key_name
"""


def agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares linear trend (slope + intercept) of event value
    over time, per event_type — the regression-as-aggregation shape
    (SQL's REGR_SLOPE/REGR_INTERCEPT) built from exact decimal power
    sums, same determinism discipline as ``agg_correlation_manual``:
    x is INTEGER days-since-epoch (epoch seconds DIV 86400 — integer
    division in both engines), value sums are decimal-exact, and the
    closed forms

        slope     = (n·sxy − sx·sy) / (n·sxx − sx²)
        intercept = (sy·sxx − sx·sxy) / (n·sxx − sx²)

    are evaluated over bit-identical doubles in the same operation
    order cross-engine.

    100 TB: one partial-aggregated shuffle on event_type — the whole
    regression is 6 map-side-combinable sums; no window, no sort, no
    second pass.
    """
    ev = load(spark, sf_dir, "events")
    x = F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)")
    y = F.col("value")
    n = F.count("*")
    sx = F.sum(x).cast("double")
    sy = dec_sum(y, 6).cast("double")
    sxx = F.sum(x * x).cast("double")
    # r18: Σ(decimal(22,6)·x) as unscaled-long products — y's micro-unit
    # long (fastdec class 1) times the bigint day is the exact unscaled
    # value of the decimal product; hi/lo-split sums recombined to the
    # original decimal(38,6) sum dtype, so the closed forms are unchanged
    sxy = dec_sum_unscaled(unscaled_long(y, 6) * x, 6, 38).cast("double")
    # Degenerate-input guard (ADVICE r7): a group whose events all land
    # on one day has denom == 0 exactly; double /0 would yield ±Inf/NaN
    # in Spark but NULL in DuckDB, so both sides pin the answer to NULL.
    denom = n * sxx - sx * sx
    slope = F.when(denom == 0, F.lit(None)).otherwise(
        (n * sxy - sx * sy) / denom
    )
    intercept = F.when(denom == 0, F.lit(None)).otherwise(
        (sy * sxx - sx * sxy) / denom
    )
    return (
        ev.groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(slope, 6).alias("slope_per_day"),
            F.round(intercept, 6).alias("intercept"),
        )
        .orderBy("event_type")
    )


AGG_LINEAR_FIT_ORACLE = """
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS slope_per_day,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
       END AS intercept
FROM (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sy,
         CAST(SUM((CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                  * (CAST(floor(epoch(ts)) AS BIGINT) // 86400)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value AS DECIMAL(22,6))
                  * (CAST(floor(epoch(ts)) AS BIGINT) // 86400)) AS DOUBLE) AS sxy
  FROM events GROUP BY event_type
)
GROUP BY event_type, n, sx, sy, sxx, sxy
ORDER BY event_type
"""


def sql_recursive_supplier_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE — a capability class
    the DataFrame API cannot express declaratively): walk the
    supplier reporting tree where supplier s reports to s DIV 2 (a
    deterministic binary hierarchy derived from the key space, the
    standard org-chart/BOM shape), accumulating depth and the exact
    path-summed account balance from each node up to the root.

    Per depth level: node count + decimal-exact total of path sums.
    Termination is structural (parent strictly decreases), so the
    recursion depth is ⌈log2(max key)⌉ — the engine evaluates one
    iteration per level, each a broadcast-friendly self-join on the
    parent key.

    100 TB: recursion with a log-depth bound and a monotone key is the
    safe pattern (contrast unbounded graph recursion — that's what the
    iterative operators in graph.py with explicit checkpointing are
    for); each step's frame is nodes-at-level sized, never the whole
    closure.
    """
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_rt")
    return spark.sql(
        """
        WITH RECURSIVE walk (s_suppkey, node, depth, path_bal) AS (
          SELECT s_suppkey, s_suppkey AS node, 0 AS depth,
                 CAST(s_acctbal AS DECIMAL(30,2)) AS path_bal
          FROM supplier_rt
          UNION ALL
          SELECT w.s_suppkey, p.s_suppkey AS node, w.depth + 1,
                 CAST(w.path_bal + CAST(p.s_acctbal AS DECIMAL(30,2))
                      AS DECIMAL(30,2))
          FROM walk w
          JOIN supplier_rt p ON p.s_suppkey = w.node DIV 2 AND w.node > 1
        )
        SELECT s_suppkey, MAX(depth) AS depth_to_root,
               CAST(MAX_BY(path_bal, depth) AS DOUBLE) AS root_path_balance
        FROM walk
        GROUP BY s_suppkey
        ORDER BY s_suppkey
        """
    )


SQL_RECURSIVE_TREE_ORACLE = """
WITH RECURSIVE walk (s_suppkey, node, depth, path_bal) AS (
  SELECT s_suppkey, s_suppkey AS node, 0 AS depth,
         CAST(s_acctbal AS DECIMAL(30,2)) AS path_bal
  FROM supplier
  UNION ALL
  SELECT w.s_suppkey, p.s_suppkey AS node, w.depth + 1,
         CAST(w.path_bal + CAST(p.s_acctbal AS DECIMAL(30,2)) AS DECIMAL(30,2))
  FROM walk w
  JOIN supplier p ON p.s_suppkey = w.node // 2 AND w.node > 1
)
SELECT s_suppkey, MAX(depth) AS depth_to_root,
       CAST(ARG_MAX(path_bal, depth) AS DOUBLE) AS root_path_balance
FROM walk
GROUP BY s_suppkey
ORDER BY s_suppkey
"""


#: market-basket output size
MB_TOP = 20


def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders: for supplier pairs
    co-occurring in an order (the basket), support / confidence / lift
    in integer ppm — the Apriori-style 2-itemset pass every
    co-purchase recommender starts from.

    Plan: baskets come from one distinct projection of lineitem; the
    pair generation self-joins on l_orderkey (bounded per-order
    fanout ⇒ linear, the same discipline as graph_triangle_count);
    per-item basket counts are a broadcast dim joined twice; the
    basket total is a driver-side 1-row scalar (the PK-stats-probe
    class). All ratios are integer ppm — exact, hashable.
    top-MB_TOP by (lift, pair) keeps the output bounded at any scale
    via TakeOrderedAndProject.
    """
    os_ = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_orders = os_.select("l_orderkey").distinct().count()
    item = os_.groupBy(F.col("l_suppkey").alias("s")).agg(
        F.count("*").alias("n_item")
    )
    a, b = os_.alias("a"), os_.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count("*").alias("n_pair"))
    )
    nu = item.select(F.col("s").alias("u"), F.col("n_item").alias("n_u"))
    nv = item.select(F.col("s").alias("v"), F.col("n_item").alias("n_v"))
    return (
        pairs.join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .select(
            "u",
            "v",
            "n_pair",
            "n_u",
            "n_v",
            F.expr(f"(1000000 * n_pair) DIV {n_orders}").alias("support_ppm"),
            F.expr("(1000000 * n_pair) DIV n_u").alias("conf_u_v_ppm"),
            F.expr(
                f"(1000000 * n_pair * {n_orders}) DIV (n_u * n_v)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "u", "v")
        .limit(MB_TOP)
    )


AGG_MARKET_BASKET_ORACLE = f"""
WITH os AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM os),
item AS (SELECT l_suppkey AS s, COUNT(*) AS n_item FROM os GROUP BY 1),
pairs AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS n_pair
  FROM os a JOIN os b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
)
SELECT u, v, n_pair, nu.n_item AS n_u, nv.n_item AS n_v,
       CAST((1000000 * n_pair) // (SELECT n FROM n_orders) AS BIGINT)
         AS support_ppm,
       CAST((1000000 * n_pair) // nu.n_item AS BIGINT) AS conf_u_v_ppm,
       CAST((1000000 * n_pair * (SELECT n FROM n_orders))
            // (nu.n_item * nv.n_item) AS BIGINT) AS lift_ppm
FROM pairs
JOIN item nu ON pairs.u = nu.s
JOIN item nv ON pairs.v = nv.s
ORDER BY lift_ppm DESC, u, v
LIMIT {MB_TOP}
"""


def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the standard CRM scoring pass: per customer, days since last
    order, order count, decimal-exact spend; each dimension scored
    into quintiles (ntile(5) with the unique custkey tie-break, so
    both engines cut identical quintiles); output = segment sizes +
    exact spend per (r,f,m) cell.

    Plan: one groupBy(custkey) pass over orders (partial-aggregated),
    then each dimension's global rank is decomposed scale-safely
    (windows.scale_safe_row_number): a window PARTITIONED by the
    dimension's domain-bounded bucket (recency day / negated order
    count / 1000-unit spend bucket) plus cumulative offsets over the
    bucket HISTOGRAM (the only global window — #days/#counts/#buckets
    rows, domain constants, never |customers|).  ntile(5) is then
    integer arithmetic on (rank, n): the first n%5 quintiles take
    ceil(n/5) rows — the standard SQL NTILE distribution, matched
    bit-for-bit by the oracle's NTILE.  The earlier shape ranked three
    UNPARTITIONED ntile windows, serializing the whole |customers|
    aggregate through one task per dimension.  The reference date is a
    driver-side 1-row max (the PK-stats-probe class); the customer
    count rides in as a 1-row broadcast (scalar-subquery class).
    """
    from .windows import scale_safe_row_number

    orders = load(spark, sf_dir, "orders")
    # r18 (guide §5 caching): every scale_safe_row_number call consumes
    # its input TWICE (within-bucket rank + bucket histogram), so the
    # three chained calls re-planned this aggregation subtree up to
    # 2³ = 8 times — NINE orders scans in the formatted plan (AQE
    # exchange reuse recovered it to 4 executed scans at runtime).
    # localCheckpoint(eager) the narrow customer-sized aggregate:
    # orders is scanned once (in the checkpoint job) and every
    # rank/histogram pass reads the materialized RDD. Executed sf0.01
    # A/B: final-plan scans 4→0, shuffles 18→14, written bytes −37%,
    # records −40%.
    # r19 (guide §5): the reference date no longer burns a second
    # orders probe scan + driver collect — it is MAX(per-customer
    # last_order) over the checkpointed rows (identical value: max of
    # per-group maxes), riding a 1-row broadcast into the recency
    # projection.
    per_cust_raw = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            dec_sum(F.col("o_totalprice")).alias("monetary"),
        )
        .localCheckpoint(eager=True)
    )
    ref_df = per_cust_raw.agg(F.max("last_order").alias("ref"))
    per_cust = per_cust_raw.crossJoin(F.broadcast(ref_df)).select(
        "o_custkey",
        F.datediff(F.col("ref"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary",
    )
    n_df = per_cust_raw.agg(F.count("*").alias("n_cust"))
    # low recency = better → rank ascending gives 1 to the MOST
    # recent; frequency/monetary rank descending via negated buckets
    d = scale_safe_row_number(
        per_cust, F.col("recency_days").cast("long"), [F.asc("o_custkey")], "r_rn"
    )
    d = scale_safe_row_number(
        d, (-F.col("frequency")).cast("long"), [F.asc("o_custkey")], "f_rn"
    )
    d = scale_safe_row_number(
        d,
        F.floor(-F.col("monetary") / 1000).cast("long"),
        [F.desc("monetary"), F.asc("o_custkey")],
        "m_rn",
    )

    def _tile(rn: str):
        # NTILE(5) from (global rank, n): first n%5 tiles hold
        # ceil(n/5) rows.  GREATEST guards the n<5 corner (else-branch
        # divisor; unreachable there, but DIV 0 must not appear).
        return F.expr(
            f"CAST(IF({rn} <= (n_cust % 5) * (n_cust DIV 5 + 1), "
            f"({rn} - 1) DIV (n_cust DIV 5 + 1) + 1, "
            f"(n_cust % 5) + ({rn} - (n_cust % 5) * (n_cust DIV 5 + 1) - 1)"
            f" DIV GREATEST(n_cust DIV 5, 1) + 1) AS INT)"
        )

    scored = d.crossJoin(F.broadcast(n_df)).select(
        "o_custkey",
        "monetary",
        _tile("r_rn").alias("r_score"),
        _tile("f_rn").alias("f_score"),
        _tile("m_rn").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_spend"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


AGG_RFM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate),
                   (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, monetary,
         NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) AS segment_spend
FROM scored
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
"""


def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per market segment — the
    inequality/concentration metric a marketplace watches (0 = spend
    spread evenly, →1 = one whale). Uses the rank formulation
    G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over spend sorted ascending.

    Determinism: xᵢ are exact DECIMAL per-customer sums; ranks are
    integers from a (spend, custkey)-ordered row_number; the weighted
    sum Σ i·xᵢ stays in DECIMAL (exact, order-independent) and only
    the final ratio is evaluated in doubles — identically ordered in
    both engines, then rounded at 6dp.

    Plan: one groupBy(custkey) pass over orders, one per-segment
    window over the CUSTOMER-level frame (small), one final aggregate.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        orders.groupBy("o_custkey")
        .agg(dec_sum(F.col("o_totalprice")).alias("x"))
        .join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .select("c_mktsegment", "x", "o_custkey")
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.asc("x"), F.asc("o_custkey"))
    ranked = spend.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("i") * F.col("x")).alias("six"),
        )
        .select(
            "c_mktsegment",
            "n",
            F.col("sx").cast("double").alias("total_spend"),
            F.round(
                (F.lit(2.0) * F.col("six").cast("double"))
                / (F.col("n") * F.col("sx").cast("double"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
                6,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


AGG_GINI_ORACLE = """
WITH spend AS (
  SELECT c_mktsegment, o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_custkey
),
ranked AS (
  SELECT c_mktsegment, x,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY x ASC, o_custkey ASC) AS i
  FROM spend
)
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(x) AS DOUBLE) AS total_spend,
       ROUND((2.0 * CAST(SUM(i * x) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over the event stream: hours whose event rate
    exceeds 1.25× the global hourly mean, merged into maximal burst
    intervals (gap-and-island over the flagged hours) — the alerting
    shape behind rate-anomaly monitors.

    All arithmetic is integer (rate comparison cross-multiplied:
    4·n_hour·total_hours > 5·total_events avoids any float
    threshold), and the island grouping is the classic
    hour_index − row_number() constant — exact in both engines.

    Plan: hourly counts are one partial-aggregated shuffle; the flag +
    island id are a single window over the HOUR-level frame (≤ a few
    thousand rows at any SF); the global totals ride in as a 1-row
    broadcast.
    """
    ev = load(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("h")
    ).agg(F.count("*").alias("n"))
    totals = hours.agg(
        F.count("*").alias("n_hours"), F.sum("n").alias("n_events")
    )
    flagged = (
        hours.join(F.broadcast(totals))
        # n / n_hour_mean > 1.25  ⇔  4·n·n_hours > 5·n_events
        .filter(F.expr("4 * n * n_hours > 5 * n_events"))
    )
    w = W.orderBy("h")
    islands = flagged.withColumn(
        "island", F.col("h") - F.row_number().over(w)
    )
    return (
        islands.groupBy("island")
        .agg(
            F.min("h").alias("start_hour"),
            F.max("h").alias("end_hour"),
            F.count("*").alias("n_hours"),
            F.sum("n").alias("burst_events"),
        )
        .select(
            F.timestamp_seconds(F.col("start_hour") * 3600).alias("burst_start"),
            F.timestamp_seconds((F.col("end_hour") + 1) * 3600).alias("burst_end"),
            "n_hours",
            F.col("burst_events").cast("long").alias("burst_events"),
        )
        .orderBy("burst_start")
    )


EVENTS_BURST_ORACLE = """
WITH hours AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, COUNT(*) AS n
  FROM events GROUP BY 1
),
totals AS (SELECT COUNT(*) AS n_hours, SUM(n) AS n_events FROM hours),
flagged AS (
  SELECT h, n FROM hours, totals WHERE 4 * n * n_hours > 5 * n_events
),
islands AS (
  SELECT h, n, h - ROW_NUMBER() OVER (ORDER BY h) AS island FROM flagged
)
SELECT CAST(to_timestamp(MIN(h) * 3600) AS TIMESTAMP) AS burst_start,
       CAST(to_timestamp((MAX(h) + 1) * 3600) AS TIMESTAMP) AS burst_end,
       COUNT(*) AS n_hours,
       CAST(SUM(n) AS BIGINT) AS burst_events
FROM islands
GROUP BY island
ORDER BY burst_start
"""


def agg_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median/MAD scoring
    (|x − median| > 3·1.4826·MAD), the z-score variant that doesn't
    let the outliers inflate their own threshold (mean/std does —
    compare events_anomaly_zscore, the trailing-window moment twin).

    Two passes by nature (MAD needs the median first): pass 1 is a
    per-group exact median over the EVENT-TYPE-level groups; the tiny
    (5-row) median frame broadcasts back onto the scan for pass 2
    (MAD + outlier count). Cross-engine determinism: median and MAD
    are rounded to 6dp BEFORE the threshold comparison, so both
    engines compare every value against bit-identical thresholds —
    the unrounded interpolated quantiles could differ in the last
    bits between engines (different FMA/op order), and a boundary
    value would then flip the count.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    scored = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = scored.groupBy("event_type").agg(
        F.round(F.expr("percentile(absdev, 0.5)"), 6).alias("mad")
    )
    return (
        scored.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.first("med").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("absdev") > F.lit(3 * 1.4826) * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "median",
            "mad",
            F.col("n_outliers").cast("long").alias("n_outliers"),
            F.expr("(1000000 * n_outliers) DIV n").alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )


AGG_ROBUST_OUTLIERS_ORACLE = """
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
),
scored AS (
  SELECT e.event_type, ABS(e.value - m.med) AS absdev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(absdev, 0.5), 6) AS mad
  FROM scored GROUP BY event_type
)
SELECT s.event_type,
       COUNT(*) AS n,
       ANY_VALUE(s.med) AS median,
       ANY_VALUE(d.mad) AS mad,
       CAST(SUM(CASE WHEN s.absdev > 3 * 1.4826 * d.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST((1000000 * SUM(CASE WHEN s.absdev > 3 * 1.4826 * d.mad
                                THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS outlier_ppm
FROM scored s JOIN mad d USING (event_type)
GROUP BY s.event_type
ORDER BY s.event_type
"""


QUERIES = {
    "date_arithmetic": date_arithmetic,
    "join_cross": join_cross,
    "pivot_status_priority": pivot_status_priority,
    "unpivot_part_metrics": unpivot_part_metrics,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_max_by": agg_max_by,
    "agg_moments_manual": agg_moments_manual,
    "agg_correlation_manual": agg_correlation_manual,
    "agg_percentiles_exact": agg_percentiles_exact,
    "agg_percentiles": agg_percentiles,
    "agg_weighted_median": agg_weighted_median,
    "join_asof": join_asof,
    "join_asof_nearest": join_asof_nearest,
    "array_functions": array_functions,
    "string_functions2": string_functions2,
    "null_conditional": null_conditional,
    "sql_cte_subqueries": sql_cte_subqueries,
    "agg_histogram_fixed_bins": agg_histogram_fixed_bins,
    "agg_key_skew_report": agg_key_skew_report,
    "agg_linear_fit": agg_linear_fit,
    "sql_recursive_supplier_tree": sql_recursive_supplier_tree,
    "agg_market_basket": agg_market_basket,
    "agg_rfm_segmentation": agg_rfm_segmentation,
    "agg_gini_concentration": agg_gini_concentration,
    "events_burst_detection": events_burst_detection,
    "agg_robust_outliers": agg_robust_outliers,
}

ORACLES = {
    "agg_weighted_median": AGG_WEIGHTED_MEDIAN_ORACLE,
    "join_asof_nearest": JOIN_ASOF_NEAREST_ORACLE,
    "agg_key_skew_report": AGG_KEY_SKEW_ORACLE,
    "agg_linear_fit": AGG_LINEAR_FIT_ORACLE,
    "sql_recursive_supplier_tree": SQL_RECURSIVE_TREE_ORACLE,
    "agg_market_basket": AGG_MARKET_BASKET_ORACLE,
    "agg_rfm_segmentation": AGG_RFM_ORACLE,
    "agg_gini_concentration": AGG_GINI_ORACLE,
    "events_burst_detection": EVENTS_BURST_ORACLE,
    "agg_robust_outliers": AGG_ROBUST_OUTLIERS_ORACLE,
    "date_arithmetic": DATE_ARITHMETIC_ORACLE,
    "join_cross": JOIN_CROSS_ORACLE,
    "pivot_status_priority": PIVOT_ORACLE,
    "unpivot_part_metrics": UNPIVOT_ORACLE,
    "agg_grouping_sets": AGG_GROUPING_SETS_ORACLE,
    "agg_max_by": AGG_MAX_BY_ORACLE,
    "agg_moments_manual": AGG_MOMENTS_ORACLE,
    "agg_correlation_manual": AGG_CORRELATION_ORACLE,
    "agg_percentiles_exact": AGG_PERCENTILES_ORACLE,
    # sketch value is engine-specific; oracle hashes the exact
    # percentiles + a within-1% bound the sketch must satisfy
    "agg_percentiles": AGG_PERCENTILES_TOL_ORACLE,
    "join_asof": JOIN_ASOF_ORACLE,
    "array_functions": ARRAY_FUNCTIONS_ORACLE,
    "string_functions2": STRING_FUNCTIONS2_ORACLE,
    "null_conditional": NULL_CONDITIONAL_ORACLE,
    "sql_cte_subqueries": SQL_CTE_SUBQUERIES_ORACLE,
    "agg_histogram_fixed_bins": AGG_HISTOGRAM_ORACLE,
}
