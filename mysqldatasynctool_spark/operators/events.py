"""Time/event operators on the stream-shaped ``events`` table
(ABSENT in the reference — SURVEY.md §2B "streaming" row).

These are the batch twins of the streaming layer
(``mysqldatasynctool_spark.streaming``): identical window semantics
run over bounded input so the DuckDB oracle can check them. The
streaming versions add watermarks on ``ts``.

Scale notes: ``F.window`` is a plain projection (window start/end are
arithmetic on ts) followed by a hash aggregate — partial agg map-side,
one shuffle on (window, key). A sliding window with k overlapping
panes multiplies rows by k before the agg (here k=2); keep slide ≥
size/4 at 100 TB or pre-bucket by the slide and roll up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.fastdec import _dec, dec_sum, dec_sum_over_bounded, unscaled_long
from ..sources.fixtures import load


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` column (from_json with an explicit
    schema — never schema-inference in the hot path) and aggregate."""
    ev = load(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    return (
        ev.withColumn("k", F.from_json("props", schema).getField("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_EXTRACT_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-LESS JSON via Spark 4's VARIANT type — the twin of
    ``events_json_extract`` (which declares a from_json schema up
    front): ``parse_json`` ingests arbitrary JSON into a binary
    variant and ``variant_get`` extracts typed paths lazily (a
    missing path reads as NULL — the presence aggregate uses exactly
    that, never a schema-string substring match). The variant never
    leaves the executors (the output is typed scalars), so the binary
    encoding stays JVM-side.

    100 TB: variant is the right call when the props schema drifts
    across producers — one parse, many lazy typed reads; the
    aggregation itself is the same partial-agg shape as the
    schema-declared twin.
    """
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
            # honest presence check (NOT a schema-string substring
            # match, which would hit any key containing the letter):
            # path-missing variant_get returns null
            F.bool_and(F.col("k").isNotNull()).alias("all_have_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_VARIANT_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       bool_and(json_extract_string(props, '$.k') IS NOT NULL) AS all_have_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregate per event_type (F.window)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dec_sum(F.col("value"), 6).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_TUMBLING_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour wide, sliding every 30 minutes — each
    event lands in exactly 2 panes."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            dec_sum(F.col("value"), 6).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
        .orderBy("window_start")
    )


# Each event belongs to panes starting at floor30(ts) and floor30(ts)-30m
# (size 60m / slide 30m); UNNEST generates both panes per event.
EVENTS_SLIDING_ORACLE = """
SELECT window_start, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
FROM (
  SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
           AS window_start,
         value
  FROM events
) t
GROUP BY window_start
ORDER BY window_start
"""


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts when a
    user is idle > 30 minutes (lag + cumulative-sum-of-flags — the
    standard batch twin of streaming ``session_window``)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_sessions = (
        ev.withColumn("is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return (
        with_sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dec_sum(F.col("value"), 6).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


EVENTS_SESSIONIZATION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def events_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: props parsed as map<string,long> (schema-free
    key set, unlike the struct parse in events_json_extract), then
    map_keys / size / element access / map→rows explode."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    parsed = ev.select("event_id", m.alias("m"))
    return (
        parsed.select(
            "event_id",
            # CSV-serialized so the result is scalar-only (the driver's
            # canonicalizer cannot sort/hash array cells)
            F.array_join(F.sort_array(F.map_keys("m")), ",").alias("keys_csv"),
            F.size("m").alias("n_entries"),
            F.element_at("m", "k").alias("k_value"),
        )
        .join(
            parsed.select("event_id", F.explode("m").alias("mk", "mv")).groupBy(
                "event_id"
            ).agg(F.sum("mv").alias("sum_values")),
            "event_id",
            "left",  # NULL/corrupt props explode to zero rows; keep the event
        )
        .orderBy("event_id")
    )


EVENTS_MAP_FUNCTIONS_ORACLE = """
WITH parsed AS (
  SELECT event_id,
         json_keys(props) AS ks,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
  FROM events
)
SELECT event_id,
       array_to_string(list_sort(ks), ',') AS keys_csv,
       CAST(len(ks) AS INT) AS n_entries,
       k_value,
       k_value AS sum_values
FROM parsed
ORDER BY event_id
"""


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: generate the full day series spanning the
    event timeline (F.sequence + explode), left-join daily counts, and
    zero-fill missing days — the canonical time-series densification
    (a day with no 'error' events must appear with n=0)."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("n_raw"))
    )
    return (
        days.join(errors, "day", "left")
        .select("day", F.coalesce("n_raw", F.lit(0)).alias("n_errors"))
        .orderBy("day")
    )


EVENTS_GAP_FILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS hi
  FROM events
),
days AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
),
errors AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n_raw
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT d.day, COALESCE(e.n_raw, 0) AS n_errors
FROM days d LEFT JOIN errors e ON d.day = e.day
ORDER BY d.day
"""


def events_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar function coverage over the event timeline."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
            F.to_date("ts").alias("dt"),
            F.dayofweek("ts").alias("dow"),
            F.unix_timestamp("ts").alias("epoch_s"),
        )
        .orderBy("event_id")
    )


# DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → +1 aligns.
EVENTS_DATE_FUNCTIONS_ORACLE = """
SELECT event_id,
       CAST(year(ts) AS INT) AS y,
       CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d,
       CAST(hour(ts) AS INT) AS h,
       date_trunc('hour', ts) AS ts_hour,
       CAST(ts AS DATE) AS dt,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
FROM events
ORDER BY event_id
"""


#: funnel window: a purchase "converts" a click within this interval
FUNNEL_MINUTES = 10


def events_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase funnel: per user, every (click, purchase) pair
    where the purchase follows the click within 10 minutes — the batch
    twin of the STREAM-STREAM interval join in
    streaming/jobs.py::streaming_funnel_join (same predicate, plus
    watermarks). Per-user conversion pair counts + median-free lag
    stats keep the output compact.

    100 TB shape: equi-join on user_id (the shuffle key) with the
    time-interval predicate evaluated post-match — exactly how Spark
    executes the streaming version, where the watermark bounds the
    join state to the interval.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {FUNNEL_MINUTES} MINUTES")
        ),
    )
    lag_s = F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_conversions"),
            F.countDistinct("click_id").alias("n_clicks_converted"),
            F.min(lag_s).alias("min_lag_s"),
            F.max(lag_s).alias("max_lag_s"),
            F.sum(lag_s).alias("total_lag_s"),
        )
        .orderBy("user_id")
    )


EVENTS_FUNNEL_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id, c.click_id,
         CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
           - CAST(floor(epoch(c.click_ts)) AS BIGINT) AS lag_s
  FROM c JOIN p
    ON p.user_id = c.user_id
   AND p.purchase_ts > c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL {FUNNEL_MINUTES} MINUTE
)
SELECT user_id,
       COUNT(*) AS n_conversions,
       COUNT(DISTINCT click_id) AS n_clicks_converted,
       CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
       CAST(MAX(lag_s) AS BIGINT) AS max_lag_s,
       CAST(SUM(lag_s) AS BIGINT) AS total_lag_s
FROM pairs GROUP BY user_id ORDER BY user_id
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, and
    for each (cohort_day, day_offset) the count of distinct users
    active that many days later — the standard activation/retention
    report over an event stream.

    100 TB shape: one shuffle keyed by user for the first-seen agg,
    the cohort map joined back by user (broadcast when the user dim
    fits, AQE decides), then one (cohort, offset) agg. countDistinct
    expands to a two-phase exact distinct; swap for
    approx_count_distinct at extreme cardinality.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


EVENTS_RETENTION_ORACLE = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, e.day) AS INT) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_active_users
FROM ev e JOIN first f USING (user_id)
GROUP BY f.cohort_day, day_offset
ORDER BY f.cohort_day, day_offset
"""


#: asof tolerance: a click older than this no longer "explains" the
#: purchase (pandas merge_asof(tolerance=...) semantics)
ASOF_TOLERANCE_S = 1800


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join WITH TOLERANCE: each purchase picks the latest click
    at-or-before it for the same user, but only if that click falls
    within the last 30 minutes — otherwise NULL (exactly pandas
    ``merge_asof(..., tolerance=...)``; the unbounded variant lives in
    advanced.join_asof). The bounded-staleness form is what attribution
    and trades-vs-quotes pipelines actually run, and it is also the
    form whose streaming twin has FINITE state (the tolerance is the
    watermark horizon).

    Spark-first shape — NO join at all: tag both sides, union them
    (map-side, zero cost), shuffle ONCE on user_id, compute a running
    ``last(click_ts, ignorenulls=True)`` over (ts, side) order, then
    null out matches older than the tolerance. Equal timestamps order
    clicks (side 0) before purchases (side 1), so a same-instant click
    counts as "at-or-before" — matching the oracle's ``c.ts <= p.ts``.

    100 TB: one hash exchange keyed by user_id and a per-key sort —
    strictly cheaper than the interval-join+groupBy rewrite (no pair
    blowup on hot users, no unbounded join state). Only a pathological
    single-user skew would need salting + a two-pass merge.
    """
    purchases = _asof_running(_asof_tagged(spark, sf_dir), ["user_id"])
    return _asof_result(purchases, F.col("click_ts"))


def _asof_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's input: events as (user_id, ts, event_id, side)
    with clicks on side 0, purchases on side 1 and every other event
    type dropped."""
    return (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "click", F.lit(0))
            .when(F.col("event_type") == "purchase", F.lit(1))
            .alias("side"),
        )
        .filter(F.col("side").isNotNull())
    )


def _asof_running(tagged: DataFrame, keys: list) -> DataFrame:
    """The purchases of ``tagged``, each with ``click_ts``: the running
    ``last(click ts, ignorenulls)`` over a window partitioned by
    ``keys`` and ordered (ts, side, event_id). Equal timestamps order
    clicks before purchases, so a same-instant click counts as
    "at-or-before", matching the oracle's ``c.ts <= p.ts``."""
    w = (
        W.partitionBy(*keys)
        .orderBy(F.col("ts").asc(), F.col("side").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running_click = F.last(
        F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    return tagged.withColumn("click_ts", running_click).filter(F.col("side") == 1)


def _asof_result(purchases: DataFrame, candidate: Column) -> DataFrame:
    """The as-of output: each purchase with its ``candidate`` click,
    NULL when that click is older than the tolerance."""
    # microsecond-exact tolerance: cast("long") floors to whole
    # seconds, which OVER-matches pairs whose true gap is in
    # (tol, tol+1) s — the oracle compares full-precision timestamps,
    # so the filter must too
    fresh_enough = (
        F.unix_micros(F.col("ts")) - F.unix_micros(candidate)
    ) <= ASOF_TOLERANCE_S * 1_000_000
    return (
        purchases.withColumn("click_ts", F.when(fresh_enough, candidate))
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "click_ts",
        )
        .orderBy("user_id", "purchase_id")
    )


#: correlated-max form instead of DuckDB ASOF JOIN syntax: identical
#: semantics (max click ts within (p.ts - tolerance, p.ts], NULL when
#: none) and deterministic even when several clicks share the
#: boundary instant.
EVENTS_ASOF_ORACLE = f"""
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       (SELECT max(c.ts) FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL {ASOF_TOLERANCE_S} SECOND) AS click_ts
FROM events p
WHERE p.event_type = 'purchase'
ORDER BY user_id, purchase_id
"""


def events_asof_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of ``events_asof_join`` — same output, same
    oracle. The single-exchange form partitions by user_id alone, so
    one pathological hot user (a bot account with 10% of a 100 TB
    event log) lands on one task. This variant salts the window key
    with a TIME BUCKET of width >= tolerance, turning the hot user's
    timeline into many independent partitions:

    - pass 1 (keyed by user_id, bucket): running last-click within
      the bucket — the hot user now spreads across all its buckets;
    - bucket summary: per (user_id, bucket) max click ts (tiny:
      one row per user-bucket);
    - pass 2: a purchase whose own-bucket running click is NULL takes
      the PREVIOUS bucket's last click. Because bucket width >=
      tolerance, any in-tolerance click lives in the purchase's own
      or previous bucket — coalesce of the two candidates is exhaustive,
      and the tolerance filter nulls the rest.

    The running pass and the tolerance filter are the unsalted form's
    own (``_asof_running`` with the bucket as a second window key,
    ``_asof_result``).

    Cost: two exchanges on (user_id, bucket) (the groupBy reuses the
    window's partitioning) + one small equi-join — bounded per-task
    work regardless of per-user skew. Cite: reference has no asof at
    all; the pattern mirrors join_skew_salted (relational.py).
    """
    bucket_us = ASOF_TOLERANCE_S * 1_000_000
    # integer `div`, not double `/`: exact at bucket boundaries
    tagged = _asof_tagged(spark, sf_dir).withColumn(
        "bucket", F.expr(f"unix_micros(ts) div {bucket_us}L")
    )
    bucket_last = (
        tagged.filter(F.col("side") == 0)
        .groupBy("user_id", "bucket")
        .agg(F.max("ts").alias("prev_click"))
        .select("user_id", (F.col("bucket") + 1).alias("bucket"), "prev_click")
    )
    purchases = _asof_running(tagged, ["user_id", "bucket"]).join(
        bucket_last, ["user_id", "bucket"], "left"
    )
    return _asof_result(
        purchases, F.coalesce(F.col("click_ts"), F.col("prev_click"))
    )


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (TimescaleDB
    continuous-aggregate shape): one pass produces hour-level rows,
    day-level rows, AND the grand total via ROLLUP(day, hour) — the
    coarser resolutions are what a dashboard reads instead of
    re-scanning raw events.

    100 TB: Catalyst expands ROLLUP map-side (each row feeds its 3
    grouping sets before the exchange), partial-aggregates, and
    shuffles once on the grouping-set key — the same single-shuffle
    cost as the plain hourly aggregate, with day/total coming along
    free. That is exactly the incremental-rollup economics a
    hypertable materializes; here it is one declarative plan.
    """
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    return (
        ev.rollup("day", "hr")
        .agg(
            F.count("*").alias("n"),
            dec_sum(F.col("value"), 6).cast("double").alias("sum_value"),
        )
        .orderBy(F.col("day").asc_nulls_first(), F.col("hr").asc_nulls_first())
    )


EVENTS_HYPERTABLE_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP(CAST(date_trunc('day', ts) AS TIMESTAMP),
                CAST(date_trunc('hour', ts) AS TIMESTAMP))
ORDER BY day NULLS FIRST, hr NULLS FIRST
"""


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection per user — the batch
    twin of a streaming metric-outlier monitor.

    mean/std come from DECIMAL-exact trailing sums (sum, sum-of-squares
    over a 20-row frame), so the derived doubles are order-independent
    and hash-stable; only rows with >=10 history rows and |z| > 2 are
    flagged.

    100 TB: one shuffle on user_id (the window partitioning), frames
    evaluated streaming per partition; the unique (ts, event_id)
    ordering makes frames deterministic under re-execution. A skewed
    hot user degrades to one straggler partition — the mitigation is
    the time-bucket-salted twin ``events_anomaly_salted`` (below),
    result-identical by construction and CI-pinned to salted keys.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    # r18: sliding 20-row frames are re-evaluated per output row, so
    # the BigDecimal cast+add cost multiplies by the frame length —
    # the bounded-frame unscaled-long window sum (fastdec classes 1/2:
    # 2-decimal values and their squares) is value-identical at pure
    # long cost. Frame bound: 20 × 561² × 10⁶ ≈ 6e12 ≪ 2^63.
    sum_v = dec_sum_over_bounded(F.col("value"), w, 6).cast("double")
    sum_v2 = dec_sum_over_bounded(
        F.col("value") * F.col("value"), w, 6
    ).cast("double")
    n_hist = F.count("*").over(w)
    mean = sum_v / n_hist
    var = (sum_v2 - sum_v * sum_v / n_hist) / n_hist
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    scored = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        n_hist.alias("n_hist"),
        F.when(std > 0, (F.col("value") - mean) / std).alias("z"),
    )
    return (
        scored.filter((F.col("n_hist") >= 10) & (F.abs(F.col("z")) > 2))
        .select("event_id", "user_id", "ts", "value", F.round("z", 6).alias("zscore"))
        .orderBy("user_id", "ts", "event_id")
    )


def events_anomaly_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof twin of ``events_anomaly_zscore`` — same output,
    same oracle (the mitigation that entry's docstring promises). The
    single-exchange form partitions the trailing 20-ROW frame by
    user_id alone, so one pathological hot user (a bot with 10% of a
    100 TB event log) serializes through one task. This variant salts
    with an HOUR bucket and reconstructs the cross-boundary history
    with a bounded carry:

    - local pass (keyed user_id × bucket): each row's within-bucket
      trailing sums (value, value², count over the <=20-row frame) as
      bounded unscaled-long window sums — the hot user's timeline now
      spreads across all its buckets. (r18: this pass used to
      ``collect_list`` the <=20 trailing STRUCTS per row and re-fold
      them after the join; since the folds are plain long adds, the
      local contribution is the window long sum directly — no per-row
      array is ever built and the join rows carry 3 longs instead of a
      <=20-struct array. −38% wall, receipt in OPTIMIZATION_r18.md);
    - per-bucket TAIL: the last <=20 rows of every (user, bucket) —
      one small array row per non-empty bucket;
    - carry: over the tails frame (ONE ROW PER NON-EMPTY BUCKET, not
      per event), the previous 20 buckets' tails flattened and cut to
      the last 20 events. Twenty preceding NON-EMPTY buckets always
      suffice: each contributes >=1 event, and no single bucket ever
      needs to contribute more than its own last 20;
    - stitch: a row with k local predecessors takes the last (20-k)
      carry events — a DECIMAL-exact ``F.aggregate`` fold over that
      <=(20-k)-element slice, added (in unscaled longs, where sums are
      associative) to the local window sums. Bit-equal to the window
      SUMs of the unsalted twin: same per-element HALF_UP rounding as
      the decimal(22,6) cast (fastdec classes 1/2), same exact integer
      accumulation over the same 20-element multiset
      ``last20(carry ++ local)``, one decimal reconstruction and one
      cast to double per row.

    100 TB: every per-event window is keyed (user_id, bucket); the
    only per-user structure is the tails frame, whose size per user
    is min(#events, #non-empty buckets) — calendar-bounded for
    exactly the hot users that break the unsalted form (a year of
    hour buckets is <=8784 array rows), and equal to the (harmless)
    event count for sparse users. Cost: two exchanges on (user_id,
    bucket), one tiny per-user window over the tails, one equi-join
    back on (user_id, bucket). Cite: reference has no anomaly op;
    pattern mirrors events_asof_join_salted (this file).
    """
    bucket_us = 3600 * 1_000_000  # 1 h: tails stay calendar-bounded
    hist_t = "array<struct<ts:timestamp,event_id:bigint,value:double>>"

    def last20(arr):
        return F.when(F.size(arr) <= 20, arr).otherwise(F.slice(arr, -20, 20))

    ev = load(spark, sf_dir, "events").withColumn(
        "bucket", F.expr(f"unix_micros(ts) div {bucket_us}L")
    )
    item = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    wb = (
        W.partitionBy("user_id", "bucket")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    # within-bucket trailing sums as bounded unscaled-long window sums
    # (one long add per frame row, no array ever built): `k` local
    # predecessors, Σvalue and Σvalue² in micro-units. F.sum over an
    # empty frame is NULL (k = 0) — coalesced to 0 at the stitch.
    local = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "bucket",
        F.count("*").over(wb).alias("k"),
        F.sum(unscaled_long(F.col("value"), 6)).over(wb).alias("lsum_v"),
        F.sum(unscaled_long(F.col("value") * F.col("value"), 6))
        .over(wb)
        .alias("lsum_v2"),
    )
    # last <=20 rows of each (user, bucket): reverse row_number, then
    # sort_array restores ascending (ts, event_id) order — the arrays
    # concatenate into globally ordered history because buckets are
    # ts-disjoint
    wdesc = W.partitionBy("user_id", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    tails = (
        ev.withColumn("rnd", F.row_number().over(wdesc))
        .filter(F.col("rnd") <= 20)
        .groupBy("user_id", "bucket")
        .agg(F.sort_array(F.collect_list(item)).alias("tail"))
    )
    wu = (
        W.partitionBy("user_id").orderBy("bucket").rowsBetween(-20, -1)
    )
    carries = tails.select(
        "user_id",
        "bucket",
        last20(
            F.sort_array(F.flatten(F.collect_list("tail").over(wu)))
        ).alias("carry"),
    )
    # Stitch: a row with k local predecessors still needs the last
    # (20-k) carry events. Only THAT slice is folded — the local part
    # already arrived as window long sums. The total equals the old
    # fold over last20(carry ++ local_hist) exactly: unscaled-long
    # addition is associative, the slice is the same element multiset
    # the old last20 kept (local_hist held the FINAL k elements of the
    # concat), and each element contributes the same HALF_UP-rounded
    # micro-units (fastdec classes 1/2 — identical to the decimal(22,6)
    # per-element cast, see fastdec's proof). Bound: 20 elements ×
    # 561² × 10⁶ ≈ 6e12 ≪ 2^63; the derived mean/var/z doubles stay
    # bit-equal to the unsalted window form (same rational, same final
    # cast).
    from ..functions.fastdec import from_unscaled

    stitched = local.join(carries, ["user_id", "bucket"], "left")
    empty = F.expr(f"CAST(array() AS {hist_t})")
    need = F.lit(20) - F.col("k")
    carry = F.coalesce(F.col("carry"), empty)
    carry_take = F.when(need <= 0, empty).otherwise(
        F.when(F.size(carry) <= need, carry).otherwise(
            F.slice(carry, -need, need)
        )
    )
    zero = F.lit(0).cast("long")
    sum_v = from_unscaled(
        F.coalesce(F.col("lsum_v"), zero)
        + F.aggregate(
            carry_take, zero, lambda a, x: a + unscaled_long(x["value"], 6)
        ),
        6,
        38,
    ).cast("double")
    sum_v2 = from_unscaled(
        F.coalesce(F.col("lsum_v2"), zero)
        + F.aggregate(
            carry_take,
            zero,
            lambda a, x: a + unscaled_long(x["value"] * x["value"], 6),
        ),
        6,
        38,
    ).cast("double")
    n_hist = F.col("k") + F.size(carry_take)
    mean = sum_v / n_hist
    var = (sum_v2 - sum_v * sum_v / n_hist) / n_hist
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    scored = stitched.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        n_hist.alias("n_hist"),
        F.when(std > 0, (F.col("value") - mean) / std).alias("z"),
    )
    return (
        scored.filter((F.col("n_hist") >= 10) & (F.abs(F.col("z")) > 2))
        .select("event_id", "user_id", "ts", "value", F.round("z", 6).alias("zscore"))
        .orderBy("user_id", "ts", "event_id")
    )


EVENTS_ANOMALY_ZSCORE_ORACLE = """
WITH s AS (
  SELECT event_id, user_id, ts, value,
         CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER w AS DOUBLE) AS sum_v,
         CAST(SUM(CAST(value * value AS DECIMAL(22,6))) OVER w AS DOUBLE) AS sum_v2,
         COUNT(*) OVER w AS n_hist
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_id, user_id, ts, value, n_hist,
         CASE WHEN sqrt(greatest((sum_v2 - sum_v * sum_v / n_hist) / n_hist, 0.0)) > 0
              THEN (value - sum_v / n_hist)
                   / sqrt(greatest((sum_v2 - sum_v * sum_v / n_hist) / n_hist, 0.0))
         END AS z
  FROM s
)
SELECT event_id, user_id, ts, value, ROUND(z, 6) AS zscore
FROM z
WHERE n_hist >= 10 AND abs(z) > 2
ORDER BY user_id, ts, event_id
"""


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave key over (user_id, time-bucket) —
    the multi-dimensional clustering key a 100 TB table sorts by so
    min/max rowgroup stats prune BOTH predicates (`WHERE user_id ...`
    AND `WHERE ts ...`), the layout trick behind Delta/Iceberg
    Z-ordering.

    Pure 64-bit integer bit-spreading (the classic magic-mask ladder)
    — exact, engine-portable; the layout write is then
    ``repartitionByRange("zkey").sortWithinPartitions("zkey")``, which
    adds the one range-exchange any global sort costs. This query
    emits the key itself so the oracle can pin the bit math; the
    file-stat narrowing the layout buys is verified END-TO-END against
    real parquet footers (tests/test_northstar.py).

    RANGE-NORMALIZE BEFORE INTERLEAVING (the bug the footer test
    caught): interleaving RAW values lets the wider dimension's high
    bits dominate the sort — here the minute bucket spans 16 bits
    while user_id spans 8, so z-sorting degenerated to time-sorting
    and every file still covered every user. Each dimension is first
    scaled to the full 16-bit range from its observed min/max
    (integer arithmetic: ``(v - min) * 65535 DIV span``) — the same
    reason production Z-order implementations rank/range-normalize
    their clustering columns. The min/max probe is a 1-row aggregate
    riding a broadcast scalar row (r19 — no driver collect).
    """
    ev = load(spark, sf_dir, "events")

    def spread(col):  # 16-bit value -> even bit positions of 32 bits
        v = col.bitwiseAND(F.lit(0xFFFF))
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF))
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x33333333))
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x55555555))
        return v

    x_raw = F.col("user_id").cast("long")
    # explicit floor at every step: CAST(epoch(..)) ROUNDS in some
    # engines while timestamp->long truncates in others
    y_raw = F.floor(F.col("ts").cast("long") / F.lit(60)).cast("long")
    # r19 (guide §5, the bm25 1-row-broadcast idiom): the min/max
    # probe rides a broadcast scalar row instead of a driver collect —
    # same integer arithmetic (spans floored at 1 via GREATEST), one
    # job instead of probe-then-plan, no driver round-trip. The
    # bounds aggregate and the old collect'd literals are the same
    # longs, so x16/y16/zkey are bit-identical.
    bounds = ev.agg(
        F.min(x_raw).alias("x_lo"),
        F.max(x_raw).alias("x_hi"),
        F.min(y_raw).alias("y_lo"),
        F.max(y_raw).alias("y_hi"),
    ).select(
        "x_lo",
        "y_lo",
        F.greatest(F.col("x_hi") - F.col("x_lo"), F.lit(1).cast("long")).alias(
            "x_span"
        ),
        F.greatest(F.col("y_hi") - F.col("y_lo"), F.lit(1).cast("long")).alias(
            "y_span"
        ),
    )
    x = F.expr("(CAST(user_id AS BIGINT) - x_lo) * 65535L DIV x_span")
    y = F.expr(
        "(CAST(FLOOR(CAST(ts AS BIGINT) / 60) AS BIGINT) - y_lo) "
        "* 65535L DIV y_span"
    )
    z = spread(x).bitwiseOR(F.shiftleft(spread(y), 1))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            x.alias("x16"),
            y.alias("y16"),
            z.alias("zkey"),
        )
        .orderBy("zkey", "event_id")
    )


EVENTS_ZORDER_KEY_ORACLE = """
WITH raw AS (
  SELECT event_id,
         CAST(user_id AS BIGINT) AS xr,
         CAST(floor(floor(epoch(ts)) / 60) AS BIGINT) AS yr
  FROM events
), b AS (
  SELECT MIN(xr) AS x_lo, MAX(xr) AS x_hi, MIN(yr) AS y_lo, MAX(yr) AS y_hi
  FROM raw
), base AS (
  SELECT event_id,
         (xr - x_lo) * 65535 // greatest(x_hi - x_lo, 1) AS x16,
         (yr - y_lo) * 65535 // greatest(y_hi - y_lo, 1) AS y16
  FROM raw, b
), sx AS (
  SELECT event_id, x16, y16,
         ((x16 | (x16 << 8)) & 16711935) AS a,
         ((y16 | (y16 << 8)) & 16711935) AS b
  FROM base
), s2 AS (
  SELECT event_id, x16, y16,
         ((a | (a << 4)) & 252645135) AS a, ((b | (b << 4)) & 252645135) AS b
  FROM sx
), s3 AS (
  SELECT event_id, x16, y16,
         ((a | (a << 2)) & 858993459) AS a, ((b | (b << 2)) & 858993459) AS b
  FROM s2
), s4 AS (
  SELECT event_id, x16, y16,
         ((a | (a << 1)) & 1431655765) AS a, ((b | (b << 1)) & 1431655765) AS b
  FROM s3
)
SELECT event_id, x16, y16, (a | (b << 1)) AS zkey
FROM s4 ORDER BY zkey, event_id
"""


def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window``
    (the same operator Structured Streaming uses for stateful session
    aggregation, here in batch) — the built-in twin of the manual
    lag + cumulative-flag formulation in ``events_sessionization``.

    Semantics differ from the manual twin at the boundary ON PURPOSE
    and the oracle replicates them exactly: session_window merges an
    event into the previous session iff ts − prev_ts < gap at FULL
    microsecond precision (the manual twin compares truncated seconds
    with strict >), and the reported ``session_end`` is last-event
    + gap, not last-event. The oracle therefore compares native
    interval arithmetic (int64 micros in both engines — no float
    epoch) and adds the gap to MAX(ts).

    100 TB: one shuffle on (user_id, merged windows); Spark plans
    batch session_window as sort + merge within partitions — same
    cost class as the manual window formulation, but directly
    portable to the streaming job (streaming/jobs.py session path).
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value"), 6).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


EVENTS_SESSION_WINDOW_BUILTIN_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISTINCT-user counts over sliding windows (1 h window,
    15 min slide) — each event lands in 4 overlapping windows via the
    built-in ``window()`` fan-out, then ``countDistinct`` per window.

    The existing ``events_sliding_window`` counts EVENTS (algebraic,
    partial-agg); distinct users are the non-algebraic case — Spark
    plans countDistinct as the two-level expand/agg rewrite, i.e. the
    (window, user) dedup happens map-side-partial first, so the
    shuffle carries at most one row per (window, user), never the raw
    event stream. At 100 TB the exact form is the baseline the
    HLL-sketch variant (`approx_count_distinct`) would be judged
    against — same pattern as agg_approx_distinct's bound column.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_users",
        )
        .orderBy("win_start")
    )


EVENTS_SLIDING_DISTINCT_ORACLE = """
WITH fan AS (
  -- width 3600 = 4 x slide 900: every event is in exactly 4 windows,
  -- starts aligned to epoch multiples of the slide (Spark's window()
  -- alignment). make_timestamp (NOT to_timestamp: that returns
  -- TIMESTAMPTZ) rebuilds the naive timestamp from micros.
  SELECT user_id,
         make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900
                        * 1000000) AS win_start
  FROM events,
       LATERAL (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT win_start,
       win_start + INTERVAL 1 HOUR AS win_end,
       COUNT(DISTINCT user_id) AS n_users
FROM fan
GROUP BY win_start
ORDER BY win_start
"""


def _distinct_window_users(ev: DataFrame) -> DataFrame:
    """Distinct non-NULL (sliding-window, user) pairs — the shared
    dedup frame of the two-step distinct rewrites (r17 volume diet).
    NULL users are excluded up front so a pair-COUNT over this frame
    equals ``COUNT(DISTINCT user_id)`` exactly (which ignores NULLs,
    as do approx_count_distinct and hll_sketch_agg — r17 review
    finding: a ``count(*)`` over pairs would have counted a NULL
    group the oracle excludes). CAVEAT (ADVICE r17): the exclusion
    also drops a WINDOW whose events are all NULL-user — the oracle
    fans those events into windows and keeps them with count 0; a
    dataset with an all-NULL-user window would diverge. Latent only
    (fixtures never emit one); left-join the window keys back with
    ``coalesce(n, 0)`` if that parity ever matters. ``.distinct()``
    instead of a counting agg keeps the shuffled pair row free of a
    dead partial-count column."""
    return (
        ev.where(F.col("user_id").isNotNull())
        .select(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("user_id"),
        )
        .distinct()
    )


def events_sliding_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL twin of ``events_sliding_distinct_users``: per sliding
    window, the exact distinct-user count PLUS a ``within_tol``
    boolean asserting the fixed-memory ``approx_count_distinct``
    sketch lands within 5% — the same oracle pattern as
    ``agg_approx_distinct`` (sketch values are engine-specific and
    can't hash; the bound can). The pure-HLL production path —
    constant-size counters, no per-(window,user) state at all — is
    ``events_sliding_distinct_sketch_merge``; this entry shares the
    exact twin's dedup pass because it must carry the exact count for
    its in-query bound anyway (see the plan note below).
    """
    ev = load(spark, sf_dir, "events")
    # two-step distinct (r17 volume audit — this entry shuffled 21.6
    # bytes per scanned byte, x4 of it the inherent sliding-window
    # fan-out and x2 the countDistinct+HLL expand): dedup
    # (window, user) ONCE with map-side combine, then count the pairs
    # exactly AND estimate them with HLL from the distinct rows
    # (register max is idempotent — the estimate over distinct values
    # equals the estimate over the multiset). Same trick as
    # agg_approx_distinct; measured 4.77 -> 1.12 MB at sf0.01,
    # result-identical. NOTE the scale trade the rewrite makes: the
    # HLL side now reads the deduped pairs instead of the raw stream,
    # so this plan DOES materialize per-(window,user) dedup state —
    # cheaper in bytes whenever the exact twin is computed anyway
    # (this verification-carrying entry always is). The sketch-only
    # production form with NO dedup state is
    # events_sliding_distinct_sketch_merge below.
    pairs = _distinct_window_users(ev)
    return (
        pairs.groupBy("w")
        .agg(
            F.count("*").alias("n_users"),
            # rsd=0.01: measured worst-case window error 0% (sf0.01) /
            # 2.5% (sf0.1) — comfortably inside the 5% bound; 0.02
            # measured up to 18% on small windows
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "n_users",
            (
                F.abs(F.col("approx") - F.col("n_users"))
                <= F.col("n_users") * F.lit(0.05)
            ).alias("within_tol"),
        )
        .orderBy("win_start")
    )


EVENTS_SLIDING_DISTINCT_APPROX_ORACLE = """
WITH fan AS (
  SELECT user_id,
         make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900
                        * 1000000) AS win_start
  FROM events,
       LATERAL (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT win_start,
       COUNT(DISTINCT user_id) AS n_users,
       TRUE AS within_tol
FROM fan
GROUP BY win_start
ORDER BY win_start
"""


def events_sliding_distinct_sketch_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window distinct users via **HLL sketch MERGE over
    tumbling buckets** — the pre-aggregated-sketch-cube pattern that
    removes the sliding fan-out from the DATA path entirely.

    ``events_sliding_distinct_approx`` fans every EVENT into its 4
    overlapping windows before aggregating (x4 the rows through the
    first exchange — inherent to element-level sliding windows). This
    operator instead sketches each 15-minute TUMBLING bucket once
    (``hll_sketch_agg``, one un-fanned pass over the events), then
    fans out only the finished SKETCHES — 4 rows of a few KB per
    bucket — and merges them per window (``hll_union_agg``): HLL
    registers are order-insensitive maxes, so the union of a window's
    4 bucket sketches IS the window's sketch. At 100 TB this is how
    sliding distinct counts are actually served (sketch cubes reused
    across window widths: the same buckets answer 1 h, 6 h, 24 h
    windows); the Datasketches HLL here is the real mergeable-artifact
    form of the fixed-seed approx_count_distinct twin.

    Verification (same within_tol pattern as the approx twin, so this
    entry is verification-carrying): the exact count rides the
    two-step distinct over the fan-out, and the sketch estimate must
    land within 5% (lgConfigK=12 → ~1.6% RSE; sketch VALUES are
    engine-specific, the bound is what hashes). The exact side joins
    back by window start — bucket b belongs to exactly the 4 windows
    starting at b - {0,1,2,3} x 15 min, so both sides produce the
    identical window set.
    """
    ev = load(spark, sf_dir, "events")
    exact = (
        _distinct_window_users(ev)
        .groupBy("w")
        .agg(F.count("*").alias("n_users"))
        .select(F.col("w.start").alias("win_start"), "n_users")
    )
    buckets = ev.groupBy(F.window("ts", "15 minutes").alias("b")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    fanned = (
        buckets.withColumn(
            "k", F.explode(F.array(*[F.lit(i) for i in range(4)]))
        )
        .select(
            F.expr(
                "b.start - make_interval(0, 0, 0, 0, 0, 15 * k, 0)"
            ).alias("win_start"),
            "sk",
        )
    )
    merged = fanned.groupBy("win_start").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    return (
        exact.join(F.broadcast(merged), "win_start")
        .select(
            "win_start",
            "n_users",
            (
                F.abs(F.col("approx") - F.col("n_users"))
                <= F.col("n_users") * F.lit(0.05)
            ).alias("within_tol"),
        )
        .orderBy("win_start")
    )


#: interval-overlap join bucket width (seconds)
_OVERLAP_BUCKET_SEC = 3600


def events_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large **interval-overlap join** via time bucketing — the
    scalable rewrite of ``a.start <= b.end AND b.start <= a.end``,
    which Spark would otherwise execute as a nested-loop product
    (``join_range_nonequi`` shows the broadcast small-dim case; this
    is the case where BOTH interval sets are fact-sized).

    Intervals: per-(user, day) activity spans vs per-(event_type, day)
    activity spans. Each interval fans out to the hour buckets it
    covers; the join becomes an EQUI-join on bucket + exact overlap
    refinement. The classic double-count problem (a pair sharing many
    buckets) is solved credit-assignment-style, not with DISTINCT:
    a pair counts only in the bucket containing the later of the two
    starts — every overlapping pair has exactly one such bucket, so
    no dedup shuffle exists at all.

    Output is integer overlap seconds (unix-truncated; exact in both
    engines — the oracle floors epoch() explicitly because DuckDB's
    double→bigint cast ROUNDS while unix_timestamp truncates).

    100 TB: fan-out factor = interval span / bucket width (bounded by
    24 here); both interval sets derive from ONE pre-aggregation at
    the finest common grouping (user, type, day) — one scan and one
    wide shuffle feed two tiny re-aggregations (min-of-min /
    max-of-max, exact), with AQE reusing the materialized stage —
    plus one equi-join keyed on (bucket) with AQE-handled skew; the
    quadratic inequality join never appears — the plan audit's
    no-BNLJ rule holds. (r8: this fused build replaced two
    independent grouped scans — isolated sf0.1 wall 1.36→1.05 s —
    after the r7 +14% drift was attributed to scan-bound aggregation
    cost, not plan change.)
    """
    ev = load(spark, sf_dir, "events")
    base = ev.groupBy(
        "user_id", "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.min(F.unix_timestamp("ts")).alias("s"),
        F.max(F.unix_timestamp("ts")).alias("e"),
    )
    a = base.groupBy("user_id", F.col("day").alias("a_day")).agg(
        F.min("s").alias("a_start"),
        F.max("e").alias("a_end"),
    )
    b = base.groupBy("event_type", F.col("day").alias("b_day")).agg(
        F.min("s").alias("b_start"),
        F.max("e").alias("b_end"),
    )
    bk = _OVERLAP_BUCKET_SEC
    ae = a.withColumn(
        "bucket",
        F.explode(
            F.sequence(F.floor(F.col("a_start") / bk), F.floor(F.col("a_end") / bk))
        ),
    )
    be = b.withColumn(
        "bucket",
        F.explode(
            F.sequence(F.floor(F.col("b_start") / bk), F.floor(F.col("b_end") / bk))
        ),
    )
    return (
        ae.join(be, "bucket")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (
                F.col("bucket")
                == F.floor(F.greatest("a_start", "b_start") / bk)
            )
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n_overlaps"),
            F.sum(
                F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
            ).alias("overlap_sec"),
        )
        .orderBy("user_id", "event_type")
    )


EVENTS_INTERVAL_OVERLAP_ORACLE = """
WITH a AS (
  SELECT user_id,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS a_start,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS a_end
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
b AS (
  SELECT event_type,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS b_start,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS b_end
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT user_id, event_type, COUNT(*) AS n_overlaps,
       CAST(SUM(LEAST(a_end, b_end) - GREATEST(a_start, b_start)) AS BIGINT)
         AS overlap_sec
FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event-type
    sequence: P(next_type | type) in integer ppm, plus raw transition
    counts — the behavioral model behind next-action prediction and
    session simulation.

    Plan: ONE lag window per user (the same single user_id exchange
    the other sequence ops ride) emits (type, next_type) pairs
    map-side; counts aggregate partially; row probabilities divide
    exact integers (ppm) via a broadcast of the per-source-type
    totals. No floats anywhere.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.col("n_from").cast("long").alias("n_from"),
            F.expr("(1000000 * n) DIV n_from").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


EVENTS_MARKOV_ORACLE = """
WITH pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n FROM (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
  ) WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (SELECT from_type, SUM(n) AS n_from FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, p.n,
       CAST(t.n_from AS BIGINT) AS n_from,
       CAST((1000000 * p.n) // t.n_from AS BIGINT) AS p_ppm
FROM pairs p JOIN totals t USING (from_type)
ORDER BY from_type, to_type
"""


def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance of the hourly rollup:
    a BASE aggregate (events with event_id % 10 != 0 stands in for the
    existing materialization) absorbs a DELTA batch (the % 10 == 0
    rows) by recomputing ONLY the hours the delta touches — the
    refresh shape every lakehouse rollup job runs on arrival, instead
    of a full rescan.

    Merge rule: hours absent from the delta pass through from the
    base as-is; touched hours recompute from base+delta (counts add,
    decimal sums add — both associative, so the merged row EQUALS the
    full recompute, which is exactly what the oracle computes
    directly; ``refreshed`` marks which rows the refresh had to
    touch).

    100 TB: the delta's touched-hour set is tiny and broadcast; the
    pass-through side is a LEFT ANTI join on the rollup (bucket-sized,
    not event-sized) frame; only touched hours re-aggregate raw rows,
    and with the base stored hour-partitioned that recompute prunes to
    the touched partitions. Refresh cost scales with the DELTA, not
    the table.
    """
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "event_id",
        "value",
    )
    base = ev.filter(F.col("event_id") % 10 != 0)
    delta = ev.filter(F.col("event_id") % 10 == 0)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("hr").agg(
            F.count("*").alias("n"),
            # r18: unscaled-long fast path; dtype stays decimal(32,6)
            # so the union/merge arithmetic is unchanged
            dec_sum(F.col("value"), 6).alias("sum_dec"),
        )

    base_mv = rollup(base)
    touched = delta.select("hr").distinct()
    untouched = base_mv.join(F.broadcast(touched), "hr", "left_anti").select(
        "hr", "n", "sum_dec", F.lit(False).alias("refreshed")
    )
    recomputed = (
        rollup(
            base.join(F.broadcast(touched), "hr", "left_semi").unionByName(
                delta
            )
        )
        .select("hr", "n", "sum_dec", F.lit(True).alias("refreshed"))
    )
    return (
        untouched.unionByName(recomputed)
        .select(
            "hr",
            "n",
            F.col("sum_dec").cast("double").alias("sum_value"),
            "refreshed",
        )
        .orderBy("hr")
    )


EVENTS_INCREMENTAL_ROLLUP_ORACLE = """
WITH touched AS (
  SELECT DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr
  FROM events WHERE event_id % 10 = 0
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) IN (SELECT hr FROM touched)
         AS refreshed
FROM events
GROUP BY 1
ORDER BY hr
"""


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event_type: cumulative sum of
    (value − global mean) along time; the |cusum| maximum is the most
    likely level-shift point. All arithmetic is DECIMAL-exact (the
    global mean enters as an exact decimal ratio numerator·n trick:
    cusum_n = Σ n·value − k·Σvalue over the prefix, scaled by n — all
    integer/decimal, no float accumulation), so the argmax row hashes
    exactly.

    100 TB: one shuffle per event_type (window partitioning), one
    pass; the global totals are a 1-row broadcast aggregate. The
    argmax is max_by over the windowed frame — no second sort.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", _dec(F.col("value"), 6).alias("v")
    )
    totals = ev.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum("v").alias("sum_total"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pre = ev.withColumn("k", F.count("*").over(w)).withColumn(
        "prefix_sum", F.sum("v").over(w)
    )
    # scaled cusum: n_total·prefix_sum − k·sum_total (exact decimal;
    # dividing by n_total would leave the decimal grid)
    joined = pre.join(F.broadcast(totals), "event_type").withColumn(
        "cusum_scaled",
        (F.col("n_total") * F.col("prefix_sum") - F.col("k") * F.col("sum_total")
         ).cast("decimal(38,6)"),
    )
    ordkey = F.struct(
        F.abs(F.col("cusum_scaled")).alias("a"),
        F.col("ts").alias("t"),
        F.col("event_id").alias("e"),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.max_by("event_id", ordkey).alias("change_event_id"),
            F.max_by("ts", ordkey).alias("change_ts"),
            F.max_by("k", ordkey).alias("change_rank"),
            F.max(F.abs(F.col("cusum_scaled")))
            .cast("double")
            .alias("max_abs_cusum_scaled"),
        )
        .orderBy("event_type")
    )


EVENTS_CUSUM_ORACLE = """
WITH ev AS (
  SELECT event_type, ts, event_id, CAST(value AS DECIMAL(22,6)) AS v
  FROM events
),
totals AS (
  SELECT event_type, COUNT(*) AS n_total, SUM(v) AS sum_total
  FROM ev GROUP BY event_type
),
pre AS (
  SELECT event_type, ts, event_id,
         COUNT(*) OVER w AS k,
         SUM(v) OVER w AS prefix_sum
  FROM ev
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT p.event_type, p.ts, p.event_id, p.k,
         CAST(t.n_total * p.prefix_sum - p.k * t.sum_total
              AS DECIMAL(38,6)) AS cusum_scaled
  FROM pre p JOIN totals t USING (event_type)
),
ranked AS (
  SELECT event_type, ts, event_id, k, cusum_scaled,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(cusum_scaled) DESC, ts DESC,
                                     event_id DESC) AS rn
  FROM scored
)
SELECT r.event_type,
       r.event_id AS change_event_id,
       r.ts AS change_ts,
       r.k AS change_rank,
       CAST((SELECT MAX(ABS(cusum_scaled)) FROM scored s
             WHERE s.event_type = r.event_type) AS DOUBLE)
         AS max_abs_cusum_scaled
FROM ranked r
WHERE r.rn = 1
ORDER BY r.event_type
"""


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order multi-step funnel (signup → click → purchase):
    each user advances a step only with an event strictly AFTER their
    previous step's first completion — the product-analytics funnel
    (distinct from ``events_funnel_join``, which lists pairs). Output:
    one row per step with users reaching it and integer-ppm
    conversion from the previous step and from step 1.

    Plan: step k is one filtered pre-aggregation (min ts per user) +
    an equi-join on user_id against step k-1's frame — k-1 joins on
    an ever-shrinking user set, all partial-aggregated, no windows
    over raw events. The final ppm math runs over a 3-row frame via a
    lag window (single tiny partition by construction).
    """
    ev = load(spark, sf_dir, "events")

    def first_after(event_type: str, prev: DataFrame | None) -> DataFrame:
        step = ev.filter(F.col("event_type") == event_type).select(
            "user_id", F.col("ts").alias("step_ts")
        )
        if prev is not None:
            step = step.join(prev, "user_id").filter(
                F.col("step_ts") > F.col("prev_ts")
            )
        return step.groupBy("user_id").agg(
            F.min("step_ts").alias("prev_ts")
        )
    # r18 (guide §5 caching): each step frame is consumed TWICE (by the
    # next step's join and by its counts row), so the formatted plan
    # held SIX events scans (s1 re-planned three times, s2 twice).
    # localCheckpoint(eager) the narrow user-level step frames: one
    # events scan per step (two in the checkpoint jobs, one in the
    # final plan) — exactly the one-pre-aggregation-per-step plan the
    # docstring describes. Executed sf0.01 A/B on the final plan:
    # scans 5→1, shuffles 7→4, nodes 105→55.
    s1 = first_after("signup", None).localCheckpoint(eager=True)
    s2 = first_after("click", s1).localCheckpoint(eager=True)
    s3 = first_after("purchase", s2)
    counts = None
    for i, (name, frame) in enumerate(
        [("1_signup", s1), ("2_click", s2), ("3_purchase", s3)], start=1
    ):
        row = frame.agg(
            F.lit(i).alias("step_no"),
            F.lit(name).alias("step"),
            F.count("*").alias("n_users"),
        )
        counts = row if counts is None else counts.unionByName(row)
    w = W.orderBy("step_no")
    return (
        counts.withColumn("n_prev", F.lag("n_users").over(w))
        .withColumn("n_first", F.first("n_users").over(w))
        .select(
            "step_no",
            "step",
            "n_users",
            # ADVICE r7: an empty step makes n_prev/n_first 0, and
            # integer DIV by zero throws under Spark ANSI while DuckDB
            # returns NULL — pin both engines to NULL explicitly.
            F.expr(
                "CASE WHEN n_prev IS NULL THEN 1000000 "
                "WHEN n_prev = 0 THEN NULL "
                "ELSE (1000000 * n_users) DIV n_prev END"
            ).alias("conv_from_prev_ppm"),
            F.expr(
                "CASE WHEN n_first = 0 THEN NULL "
                "ELSE (1000000 * n_users) DIV n_first END"
            ).alias("conv_from_start_ppm"),
        )
        .orderBy("step_no")
    )


EVENTS_FUNNEL_CONVERSION_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS prev_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS prev_ts FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.prev_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS prev_ts FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.prev_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
counts AS (
  SELECT 1 AS step_no, '1_signup' AS step, COUNT(*) AS n_users FROM s1
  UNION ALL SELECT 2, '2_click', COUNT(*) FROM s2
  UNION ALL SELECT 3, '3_purchase', COUNT(*) FROM s3
)
SELECT step_no, step, n_users,
       CAST(CASE WHEN LAG(n_users) OVER (ORDER BY step_no) IS NULL THEN 1000000
            WHEN LAG(n_users) OVER (ORDER BY step_no) = 0 THEN NULL
            ELSE (1000000 * n_users) // LAG(n_users) OVER (ORDER BY step_no) END
            AS BIGINT) AS conv_from_prev_ppm,
       CAST(CASE WHEN FIRST_VALUE(n_users) OVER (ORDER BY step_no) = 0 THEN NULL
            ELSE (1000000 * n_users) // FIRST_VALUE(n_users) OVER (ORDER BY step_no)
            END AS BIGINT) AS conv_from_start_ppm
FROM counts
ORDER BY step_no
"""


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars over the event value
    stream — the time-series downsampling shape every metrics / market
    store materializes.

    open/close are picked with ``min_by``/``max_by`` over the UNIQUE
    composite order key struct(ts, event_id) (ts alone ties at
    microsecond collisions), so the result is deterministic and every
    output cell is a RAW input double — no float summation anywhere,
    the oracle hashes bit-for-bit.

    100 TB: ONE hash shuffle on the hour bucket; min_by/max_by/min/max
    all partial-aggregate map-side, so the exchange carries one
    O(buckets) row per partition — the same economics as the
    hypertable rollup, where the window-function formulation
    (row_number per bucket, as the oracle writes it) would shuffle
    every raw row into a sort. The agg formulation IS the scale
    rewrite of that window.
    """
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        "value",
    )
    return (
        ev.groupBy("hr")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count("*").alias("volume"),
        )
        .orderBy("hr")
    )


EVENTS_OHLC_ORACLE = """
WITH e AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT hr,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS volume
FROM e
GROUP BY hr
ORDER BY hr
"""


QUERIES = {
    "events_json_extract": events_json_extract,
    "events_tumbling_window": events_tumbling_window,
    "events_sliding_window": events_sliding_window,
    "events_sessionization": events_sessionization,
    "events_map_functions": events_map_functions,
    "events_gap_fill": events_gap_fill,
    "events_date_functions": events_date_functions,
    "events_funnel_join": events_funnel_join,
    "events_retention_cohorts": events_retention_cohorts,
    "events_asof_join": events_asof_join,
    "events_asof_join_salted": events_asof_join_salted,
    "events_hypertable_rollup": events_hypertable_rollup,
    "events_anomaly_zscore": events_anomaly_zscore,
    "events_anomaly_salted": events_anomaly_salted,
    "events_zorder_key": events_zorder_key,
    "events_interval_overlap_join": events_interval_overlap_join,
    "events_session_window_builtin": events_session_window_builtin,
    "events_sliding_distinct_users": events_sliding_distinct_users,
    "events_json_variant": events_json_variant,
    "events_sliding_distinct_approx": events_sliding_distinct_approx,
    "events_sliding_distinct_sketch_merge": events_sliding_distinct_sketch_merge,
    "events_ohlc_bars": events_ohlc_bars,
    "events_funnel_conversion": events_funnel_conversion,
    "events_incremental_rollup": events_incremental_rollup,
    "events_cusum_changepoint": events_cusum_changepoint,
    "events_markov_transitions": events_markov_transitions,
}

ORACLES = {
    "events_map_functions": EVENTS_MAP_FUNCTIONS_ORACLE,
    "events_gap_fill": EVENTS_GAP_FILL_ORACLE,
    "events_json_extract": EVENTS_JSON_EXTRACT_ORACLE,
    "events_tumbling_window": EVENTS_TUMBLING_ORACLE,
    "events_sliding_window": EVENTS_SLIDING_ORACLE,
    "events_sessionization": EVENTS_SESSIONIZATION_ORACLE,
    "events_date_functions": EVENTS_DATE_FUNCTIONS_ORACLE,
    "events_funnel_join": EVENTS_FUNNEL_ORACLE,
    "events_retention_cohorts": EVENTS_RETENTION_ORACLE,
    "events_asof_join": EVENTS_ASOF_ORACLE,
    "events_asof_join_salted": EVENTS_ASOF_ORACLE,
    "events_hypertable_rollup": EVENTS_HYPERTABLE_ROLLUP_ORACLE,
    "events_anomaly_zscore": EVENTS_ANOMALY_ZSCORE_ORACLE,
    "events_anomaly_salted": EVENTS_ANOMALY_ZSCORE_ORACLE,
    "events_zorder_key": EVENTS_ZORDER_KEY_ORACLE,
    "events_interval_overlap_join": EVENTS_INTERVAL_OVERLAP_ORACLE,
    "events_session_window_builtin": EVENTS_SESSION_WINDOW_BUILTIN_ORACLE,
    "events_sliding_distinct_users": EVENTS_SLIDING_DISTINCT_ORACLE,
    "events_json_variant": EVENTS_JSON_VARIANT_ORACLE,
    "events_sliding_distinct_approx": EVENTS_SLIDING_DISTINCT_APPROX_ORACLE,
    "events_sliding_distinct_sketch_merge": EVENTS_SLIDING_DISTINCT_APPROX_ORACLE,
    "events_ohlc_bars": EVENTS_OHLC_ORACLE,
    "events_funnel_conversion": EVENTS_FUNNEL_CONVERSION_ORACLE,
    "events_incremental_rollup": EVENTS_INCREMENTAL_ROLLUP_ORACLE,
    "events_cusum_changepoint": EVENTS_CUSUM_ORACLE,
    "events_markov_transitions": EVENTS_MARKOV_ORACLE,
}
