"""Validation compare — reference operator #14, upgraded.

The reference validates a migration by row-count compare only
(/root/reference/cmd/compare.go:102-132: count(*) on src and dest,
verdict isOk). SURVEY.md §5 calls for upgrading this to a content
checksum; here each table gets (count, order-insensitive checksum):

    row_digest = hex chars 18-32 of md5(normalized row repr) — the
                 LAST 15 hex digits (low 60 bits), parsed as an integer
    checksum   = SUM(row_digest)   -- order-insensitive, exact

The normalized repr (NULL → '\\N' sentinel, doubles via DECIMAL(24,4),
timestamps via floor-epoch seconds) is engine-portable, so the same
checksum is computable in DuckDB ('0x…'::BIGINT parses the hex) and
in MySQL (CONV()) — a dest-engine-independent verification.

Scale note: compareDb (``compare_tables``) is eager and runs as one
grouped scan — every distinct frame of both sides is read once, each
task partial-aggregates one (count, SUM) row per frame it read, and
one shuffle brings them together; no sort, no collect of data rows,
and the verdict comes back as a local relation. At 100 TB this runs
at full scan bandwidth; the reference's count-only compare had the
same cost but far weaker guarantees.
"""

from __future__ import annotations

import uuid
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.fastdec import dec_sum as _fast_dec_sum
from ..functions.hashing import duck_md5_low60, md5_low60
from ..sources.fixtures import load

NULL_SENTINEL = "\\N"

#: the per-table verdict row of compareDb and of both migrate paths
#: (the reference's compare report columns plus the two checksums)
VERDICT_SCHEMA = (
    "table_name string, src_cnt long, dest_cnt long, "
    "src_checksum decimal(38,0), dest_checksum decimal(38,0), "
    "dest_is_exist string, is_ok string"
)


def verdict_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``rows`` (driver-side verdict tuples, in the order given) as a
    ``VERDICT_SCHEMA`` frame built from an Arrow table. Spark keeps an
    Arrow table under ``spark.sql.execution.arrow.localRelationThreshold``
    as a ``LocalRelation``, so collecting the verdict runs no job; a
    Python list would be parallelized, one job per collect."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(VERDICT_SCHEMA)
    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows], to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _norm_col(name: str, dtype: str):
    c = F.col(name)
    if dtype in ("double", "float"):
        # r18: the digest hot path renders doubles via %.4f instead of
        # the double→DECIMAL(24,4)→string BigDecimal round-trip (two
        # allocations per value per row). Identical output for every
        # value whose exact binary is not within half an ulp of a
        # x.xxxx5 half-way point — which covers the fixture doubles
        # (all verified exact 2-decimal, see OPTIMIZATION_r18.md), and
        # is the SAME no-half-way assumption the DuckDB twin already
        # relies on (DuckDB's cast rounds the binary value, Spark's
        # rounds the shortest repr — they only agree away from the
        # boundary). NaN/±Inf/giant magnitudes fall back to the
        # decimal-cast rendering (format_string would print 'NaN'
        # where the cast yields NULL → sentinel).
        slow = c.cast("decimal(24,4)").cast("string")
        fast = F.format_string("%.4f", c)
        e = (
            # ±0.0 pinned: %.4f prints '-0.0000' for negative zero
            # where the cast yields '0.0000'. NULL routed to the slow
            # branch: format_string renders a NULL arg as the literal
            # string 'null' where the cast chain yields NULL→sentinel.
            F.when(c == 0, F.lit("0.0000"))
            .when(c.isNull() | F.isnan(c) | (F.abs(c) > F.lit(1e15)), slow)
            .otherwise(fast)
        )
    elif dtype.startswith("decimal"):
        e = c.cast("string")
    elif dtype.startswith("timestamp"):
        # TIMESTAMP_NTZ (parquet without UTC flag) can't cast straight
        # to long; hop through TIMESTAMP (exact under the UTC session)
        e = c.cast("timestamp").cast("long").cast("string")
    elif dtype.startswith("array") or dtype.startswith("map") or dtype.startswith("struct"):
        e = F.to_json(c)
    else:
        e = c.cast("string")
    return F.coalesce(e, F.lit(NULL_SENTINEL))


def row_digest_long(df: DataFrame) -> F.Column:
    """60-bit per-row digest over all scalar columns, as a long (the
    shared md5-low-60 idiom, functions/hashing.py). Checksums sum it
    exactly through :func:`digest_sum`."""
    repr_col = F.concat_ws("|", *[_norm_col(n, t) for n, t in df.dtypes])
    return md5_low60(repr_col)


#: hi/lo split base for digest sums: digests are < 2^60, so
#: hi < 2^60/1e9 ≈ 1.2e9 and both long sums stay exact to ~8e9 rows
#: per group (beyond that, page/partition the checksum — which the
#: page-checksum operators already do).
_DIGEST_SPLIT = 1_000_000_000


def digest_sum(d: F.Column) -> F.Column:
    """``SUM(CAST(d AS DECIMAL(38,0)))`` for a long digest column,
    computed as two long sums recombined in decimal — replaces one
    non-compact BigDecimal add per row with two long adds (r18,
    optimization guide §1.2). Value- and dtype-identical."""
    lo = F.pmod(d, F.lit(_DIGEST_SPLIT))
    hi = ((d - lo) / F.lit(_DIGEST_SPLIT)).cast("long")
    total = F.sum(hi).cast("decimal(38,0)") * F.lit(_DIGEST_SPLIT).cast(
        "decimal(10,0)"
    ) + F.sum(lo).cast("decimal(38,0)")
    return total.cast("decimal(38,0)")


def _summary_cols(d: F.Column) -> list[F.Column]:
    """(cnt, checksum) aggregates over a row-digest column."""
    return [
        F.count("*").alias("cnt"),
        F.coalesce(digest_sum(d), F.lit(0).cast("decimal(38,0)")).alias("checksum"),
    ]


def table_summary(df: DataFrame, table: str) -> tuple[DataFrame, Observation]:
    """``df`` with its (cnt, checksum) observed, and the Observation
    holding them once an action has run over the returned frame: the
    summary rides that action's scan (one job, no shuffle). The name is
    unique per call, so concurrent queries never share an observation."""
    obs = Observation(f"{table}_summary_{uuid.uuid4().hex}")
    return df.observe(obs, *_summary_cols(row_digest_long(df))), obs


def compare_tables(
    spark: SparkSession,
    src_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
) -> DataFrame:
    """Per-table verdict, reference-compatible columns plus checksum,
    as a local relation sorted by table name.

    Eager: the call runs the whole compare as ONE grouped aggregate
    over a union of one ``(k, digest)`` branch per distinct frame, so
    a frame serving both sides (by identity) is read once, and the
    shuffle carries one row per branch per task — 2 jobs under AQE
    whatever the table count. Collecting the returned verdict runs no
    job (``verdict_frame``). A table missing from dest gets NULL dest
    columns and DestIsExist='NO' like the reference's failed-dest-query
    path (compare.go:122-126); one present only in dest gets NULL src
    columns; an empty table summarizes to (0, 0).
    """
    if not src_tables:
        # zero tables copied (empty source / all failed): report an
        # empty verdict rather than crashing the run summary
        return verdict_frame(spark, [])
    keys: dict[int, int] = {}
    branches = []
    for df in [*src_tables.values(), *dest_tables.values()]:
        k = keys.setdefault(id(df), len(keys))
        if k == len(branches):
            branches.append(df.select(F.lit(k).alias("k"), row_digest_long(df).alias("d")))
    agg = reduce(DataFrame.unionByName, branches).groupBy("k").agg(*_summary_cols(F.col("d")))
    # a frame without rows forms no group: (0, 0) like a global aggregate
    got = {r.k: (r.cnt, r.checksum) for r in agg.collect()}

    def summary(tables: dict[str, DataFrame], t: str) -> tuple:
        return got.get(keys[id(tables[t])], (0, Decimal(0))) if t in tables else (None, None)

    rows = []
    for t in sorted(src_tables.keys() | dest_tables.keys()):
        s, d = summary(src_tables, t), summary(dest_tables, t)
        exists = "NO" if d[0] is None else "YES"
        rows.append((t, s[0], d[0], s[1], d[1], exists, "YES" if s == d else "NO"))
    return verdict_frame(spark, rows)


# --- oracle-backed query -------------------------------------------------

_CHECK_TABLES = {
    # table -> (col, dtype) list matching FIXTURES.md (scalar cols only)
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
}


def migration_compare_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + content checksum per table, src vs dest (here dest =
    the same fixtures, so is_ok must be YES everywhere — the unit
    tests exercise the mismatch paths on corrupted copies). The raw
    checksum values are in the output, so the DuckDB oracle verifies
    the checksum algebra itself cross-engine."""
    tables = {
        t: load(spark, sf_dir, t).select(*[c for c, _ in cols])
        for t, cols in _CHECK_TABLES.items()
    }
    out = compare_tables(spark, tables, tables)
    # checksums rendered as strings: a DECIMAL(38,0) survives Spark's
    # toPandas as exact Decimal but DuckDB's pandas conversion turns it
    # into a lossy float64 — strings compare exactly in the driver
    return out.withColumn(
        "src_checksum", F.col("src_checksum").cast("string")
    ).withColumn("dest_checksum", F.col("dest_checksum").cast("string"))


def _duck_norm(col: str, dtype: str) -> str:
    if dtype == "double":
        return f"COALESCE(CAST(CAST({col} AS DECIMAL(24,4)) AS VARCHAR), '\\N')"
    if dtype == "timestamp":
        return f"COALESCE(CAST(CAST(floor(epoch({col})) AS BIGINT) AS VARCHAR), '\\N')"
    return f"COALESCE(CAST({col} AS VARCHAR), '\\N')"


def _duck_table_summary(table: str, cols: list[tuple[str, str]]) -> str:
    rep = "concat_ws('|', " + ", ".join(_duck_norm(c, t) for c, t in cols) + ")"
    digest = f"CAST({duck_md5_low60(rep)} AS DECIMAL(38,0))"
    return (
        f"SELECT '{table}' AS table_name, COUNT(*) AS cnt, "
        f"COALESCE(SUM({digest}), 0) AS checksum FROM {table}"
    )


def _compare_oracle() -> str:
    per_table = " UNION ALL ".join(
        f"({_duck_table_summary(t, cols)})" for t, cols in _CHECK_TABLES.items()
    )
    return f"""
WITH s AS ({per_table})
SELECT table_name,
       cnt AS src_cnt,
       cnt AS dest_cnt,
       CAST(CAST(checksum AS DECIMAL(38,0)) AS VARCHAR) AS src_checksum,
       CAST(CAST(checksum AS DECIMAL(38,0)) AS VARCHAR) AS dest_checksum,
       'YES' AS dest_is_exist,
       'YES' AS is_ok
FROM s
ORDER BY table_name
"""


# --- row-level diff ------------------------------------------------------

#: deterministic "drift" applied to the simulated destination copy
DRIFT_DELETE_MOD = 1000   # rows missing from dest        -> "removed"
DRIFT_UPDATE_MOD = 97     # rows with o_totalprice bumped -> "changed"
DRIFT_INSERT_MOD = 777    # re-keyed extra rows in dest   -> "added"
DRIFT_INSERT_OFFSET = 10_000_000

_DIFF_COLS = [c for c, _ in _CHECK_TABLES["orders"]]


def _drifted_orders(src: DataFrame) -> DataFrame:
    """The deterministically-drifted 'destination' both drift
    detectors compare against (same derivation in the oracles):
    pk%DELETE rows missing, pk%UPDATE rows price-bumped, pk%INSERT
    rows re-keyed as extras."""
    bumped = F.when(
        F.col("o_orderkey") % DRIFT_UPDATE_MOD == 0, F.col("o_totalprice") + 1.0
    ).otherwise(F.col("o_totalprice"))
    return (
        src.filter(F.col("o_orderkey") % DRIFT_DELETE_MOD != 0)
        .withColumn("o_totalprice", bumped)
        .unionByName(
            src.filter(F.col("o_orderkey") % DRIFT_INSERT_MOD == 3).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(DRIFT_INSERT_OFFSET)
            )
        )
    )


#: page width for corruption localization (pk DIV width)
CHECK_PAGE_SIZE = 1_000


def _drift_digest_rows(src: DataFrame) -> DataFrame:
    """ONE-scan derivation of BOTH drift-compare sides as slim
    ``(side, pk, d)`` digest rows — r19 (VERDICT r18 item 4), the
    ``migration_cdc_apply`` struct-array-explode pattern: each source
    row emits its own 's' digest plus the ≤2 'd' variants the
    deterministic drift assigns it (price-bumped survivor, re-keyed
    insert), so the orders scan and the per-row digest pass run ONCE
    where the old filter-union shape scanned three times.

    Row-multiset identity with the old (``src`` digests ∪
    ``_drifted_orders(src)`` digests): the 's' arm fires for every
    row (≡ src), the bump arm fires exactly for pk%DELETE≠0 rows with
    o_totalprice swapped to the bumped expression (≡ the drifted
    UPDATE/DELETE branch), the insert arm for pk%INSERT==3 rows with
    o_orderkey re-keyed (≡ the drifted INSERT branch). Digest columns,
    order and dtypes are the original ``_DIFF_COLS`` (the struct
    carries them through explode unchanged; the variant expressions
    preserve each column's type), so ``row_digest_long`` normalizes
    identically."""
    cols = list(src.columns)
    pk = F.col("o_orderkey")
    bumped = F.when(
        pk % DRIFT_UPDATE_MOD == 0, F.col("o_totalprice") + 1.0
    ).otherwise(F.col("o_totalprice"))
    rekeyed = pk + F.lit(DRIFT_INSERT_OFFSET)

    def entry(side: str, pk_expr, overrides: dict) -> F.Column:
        return F.struct(
            F.lit(side).alias("side"),
            pk_expr.alias("pk"),
            *[overrides.get(c, F.col(c)).alias(c) for c in cols],
        )

    entries = F.array(
        entry("s", pk, {}),
        F.when(
            pk % DRIFT_DELETE_MOD != 0,
            entry("d", pk, {"o_totalprice": bumped}),
        ),
        F.when(
            pk % DRIFT_INSERT_MOD == 3,
            entry("d", rekeyed, {"o_orderkey": rekeyed}),
        ),
    )
    exploded = src.select(
        F.explode(F.filter(entries, lambda x: x.isNotNull())).alias("e")
    ).select("e.*")
    digest = row_digest_long(exploded.select(*cols))
    return exploded.select("side", "pk", digest.alias("d"))


def migration_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level drift detection — the incremental-sync upgrade of the
    reference's table-level compare (compare.go:102-132): instead of a
    per-table YES/NO verdict, emit WHICH primary keys differ and how
    (added / removed / changed), which is exactly the worklist a
    resync job needs.

    The "destination" is a deterministically drifted view of the same
    fixture (derived in both engines identically): pk%{delete} rows
    missing, pk%{update} rows with o_totalprice bumped, pk%{insert}
    rows re-keyed as inserts.

    100 TB shape: each side collapses map-side to (pk, 60-bit digest)
    BEFORE the full-outer join, so the shuffle carries ~24 bytes/row
    regardless of row width, and the join co-partitions on pk. Two
    scans + one slim join — the same cost envelope as the checksum
    compare, but with an actionable row-level answer.
    """
    src = load(spark, sf_dir, "orders").select(*_DIFF_COLS)
    # r19 MEASURED REJECTION (guide §1.6 — keep the re-measure
    # honest): deriving both sides from a checkpointed
    # _drift_digest_rows frame (scans 3→0 in the final plan) benched
    # 1.72 → 2.35 s steady at sf0.1 — the eager materialization
    # barrier costs more than the three cheap column-pruned scans it
    # saves, and the md5-per-row count is identical either way (the
    # fusion's win in page_checksums comes from ALSO deleting the
    # full-outer join, which this row-level report genuinely needs).
    # Kept: the classic two-frame derivation.
    dest = _drifted_orders(src)
    s = src.select(F.col("o_orderkey").alias("pk"), row_digest_long(src).alias("sd"))
    d = dest.select(F.col("o_orderkey").alias("pk"), row_digest_long(dest).alias("dd"))
    status = (
        F.when(F.col("sd").isNull(), "added")
        .when(F.col("dd").isNull(), "removed")
        .when(F.col("sd") != F.col("dd"), "changed")
    )
    return (
        s.join(d, "pk", "full_outer")
        .select(F.col("pk").alias("o_orderkey"), status.alias("diff_status"))
        .filter(F.col("diff_status").isNotNull())
        .orderBy("o_orderkey")
    )


def _row_diff_oracle() -> str:
    cols = _CHECK_TABLES["orders"]
    rep = "concat_ws('|', " + ", ".join(_duck_norm(c, t) for c, t in cols) + ")"
    digest = duck_md5_low60(rep)
    col_list = ", ".join(c for c, _ in cols)
    return f"""
WITH src AS (SELECT {col_list} FROM orders),
dest AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % {DRIFT_UPDATE_MOD} = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM src WHERE o_orderkey % {DRIFT_DELETE_MOD} <> 0
  UNION ALL
  SELECT o_orderkey + {DRIFT_INSERT_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM src WHERE o_orderkey % {DRIFT_INSERT_MOD} = 3
),
s AS (SELECT o_orderkey AS pk, {digest} AS sd FROM src),
d AS (SELECT o_orderkey AS pk, {digest} AS dd FROM dest)
SELECT COALESCE(s.pk, d.pk) AS o_orderkey,
       CASE WHEN sd IS NULL THEN 'added'
            WHEN dd IS NULL THEN 'removed'
            WHEN sd <> dd THEN 'changed' END AS diff_status
FROM s FULL OUTER JOIN d ON s.pk = d.pk
WHERE sd IS NULL OR dd IS NULL OR sd <> dd
ORDER BY o_orderkey
"""


def migration_page_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corruption LOCALIZATION at page granularity — the middle rung
    between the table verdict (migration_compare_checksums: "orders is
    red") and the row diff (migration_row_diff: full pk worklist):
    per PK page (o_orderkey DIV CHECK_PAGE_SIZE), count + summed
    digest on both sides, so a red table narrows to the exact pages
    worth re-copying — the reference's own page unit (root.go pageSize)
    reused as the verification unit.

    100 TB: each side collapses map-side to (page, cnt, checksum) —
    the shuffle carries pages, not rows — and the comparison join is
    pages x pages. Re-sync cost then scales with corruption size, not
    table size. Checksums travel as strings (DECIMAL(38,0) survives
    Spark's pandas conversion exactly; DuckDB's would become lossy
    float64).
    """
    src = load(spark, sf_dir, "orders").select(*_DIFF_COLS)
    # r19: ONE scan, ONE shuffle — the per-side aggregate + full-outer
    # join collapses into a single conditional aggregation over the
    # side-tagged digest rows (see _drift_digest_rows). Equivalence
    # needs no pk-uniqueness assumption: the old join was 1:1 on page
    # because each side was already grouped by page, and a page's
    # per-side (count, checksum) here aggregates exactly that side's
    # rows — a side with no rows on a page yields count 0 (the old
    # post-join COALESCE) and a NULL conditional digest sum (the old
    # join's missing-side NULL).
    rows = _drift_digest_rows(src)
    is_s = F.col("side") == "s"
    agg = rows.groupBy(
        F.expr(f"pk DIV {CHECK_PAGE_SIZE}").alias("page")
    ).agg(
        F.sum(F.when(is_s, 1).otherwise(0)).alias("src_cnt"),
        F.sum(F.when(~is_s, 1).otherwise(0)).alias("dest_cnt"),
        digest_sum(F.when(is_s, F.col("d"))).alias("src_checksum"),
        digest_sum(F.when(~is_s, F.col("d"))).alias("dest_checksum"),
    )
    return agg.select(
        "page",
        "src_cnt",
        "dest_cnt",
        F.col("src_checksum").cast("string").alias("src_checksum"),
        F.col("dest_checksum").cast("string").alias("dest_checksum"),
        F.when(
            F.col("src_checksum").eqNullSafe(F.col("dest_checksum"))
            & (F.col("src_cnt") == F.col("dest_cnt")),
            "YES",
        )
        .otherwise("NO")
        .alias("is_ok"),
    ).orderBy("page")


def _page_checksums_oracle() -> str:
    cols = _CHECK_TABLES["orders"]
    rep = "concat_ws('|', " + ", ".join(_duck_norm(c, t) for c, t in cols) + ")"
    digest = duck_md5_low60(rep)
    col_list = ", ".join(c for c, _ in cols)
    return f"""
WITH src AS (SELECT {col_list} FROM orders),
dest AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % {DRIFT_UPDATE_MOD} = 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM src WHERE o_orderkey % {DRIFT_DELETE_MOD} <> 0
  UNION ALL
  SELECT o_orderkey + {DRIFT_INSERT_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM src WHERE o_orderkey % {DRIFT_INSERT_MOD} = 3
),
s AS (
  SELECT o_orderkey // {CHECK_PAGE_SIZE} AS page, COUNT(*) AS src_cnt,
         CAST(COALESCE(SUM({digest}), 0) AS DECIMAL(38,0)) AS src_checksum
  FROM src GROUP BY 1
),
d AS (
  SELECT o_orderkey // {CHECK_PAGE_SIZE} AS page, COUNT(*) AS dest_cnt,
         CAST(COALESCE(SUM({digest}), 0) AS DECIMAL(38,0)) AS dest_checksum
  FROM dest GROUP BY 1
)
SELECT COALESCE(s.page, d.page) AS page,
       COALESCE(src_cnt, 0) AS src_cnt,
       COALESCE(dest_cnt, 0) AS dest_cnt,
       CAST(src_checksum AS VARCHAR) AS src_checksum,
       CAST(dest_checksum AS VARCHAR) AS dest_checksum,
       CASE WHEN src_checksum IS NOT DISTINCT FROM dest_checksum
             AND COALESCE(src_cnt, 0) = COALESCE(dest_cnt, 0)
            THEN 'YES' ELSE 'NO' END AS is_ok
FROM s FULL OUTER JOIN d ON s.page = d.page
ORDER BY page
"""


# --- incremental (watermark) sync ---------------------------------------


def migration_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-based incremental sync summary — the delta-copy
    upgrade of the reference's always-full-copy (root.go re-copies
    every table every run): rows above the last-synced high watermark
    are the only ones a rerun needs to move. The watermark here is
    derived (80% of max key) so the query is self-contained; a real
    run persists it per table. Output = the delta's count, key range,
    and content checksum — enough to copy AND verify just the delta.

    100 TB shape: the watermark predicate pushes down to the scan
    (min/max rowgroup stats skip everything below it — the same
    pruning a `WHERE pk > ?` JDBC page gets), and the checksum is the
    usual single-scan partial-aggregated SUM.
    """
    cols = _CHECK_TABLES["orders"]
    orders = load(spark, sf_dir, "orders").select(*[c for c, _ in cols])
    wm = orders.agg(
        F.floor(F.max("o_orderkey") * 0.8).cast("long").alias("wm")
    )
    delta = orders.join(F.broadcast(wm)).filter(F.col("o_orderkey") > F.col("wm"))
    digest = row_digest_long(orders)
    return delta.agg(
        F.max("wm").alias("watermark"),
        F.count("*").alias("delta_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.coalesce(digest_sum(digest), F.lit(0).cast("decimal(38,0)"))
        .cast("string")
        .alias("delta_checksum"),
    )


def _incremental_oracle() -> str:
    cols = _CHECK_TABLES["orders"]
    rep = "concat_ws('|', " + ", ".join(_duck_norm(c, t) for c, t in cols) + ")"
    digest = f"CAST({duck_md5_low60(rep)} AS DECIMAL(38,0))"
    return f"""
WITH wm AS (SELECT CAST(floor(MAX(o_orderkey) * 0.8) AS BIGINT) AS wm FROM orders),
delta AS (
  SELECT o.*, wm.wm FROM orders o, wm WHERE o.o_orderkey > wm.wm
)
SELECT MAX(wm) AS watermark,
       COUNT(*) AS delta_rows,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(CAST(COALESCE(SUM({digest}), 0) AS DECIMAL(38,0)) AS VARCHAR) AS delta_checksum
FROM delta
"""


# --- CDC apply (MERGE) ---------------------------------------------------

#: change-set moduli (distinct from the DRIFT_* compare constants so
#: the two synthetic scenarios stay independent)
CDC_UPDATE_MOD = 53       # op='U': o_totalprice re-priced
CDC_DELETE_MOD = 101      # op='D': row retired
CDC_INSERT_MOD = 211      # op='I': brand-new key
CDC_INSERT_OFFSET = 20_000_000


def apply_cdc(
    base: DataFrame, changes: DataFrame, pk: str, lsn_col: str | None = None
) -> DataFrame:
    """Latest-wins CDC compaction core, shared by the batch
    ``migration_cdc_apply`` query and the streaming merge sink
    (streaming/jobs.start_cdc_merge_stream): union base rows (seq 0)
    with change rows carrying an ``op`` column ∈ I/U/D (seq 1), one
    shuffle on ``pk``, keep the newest version per key, drop 'D'
    survivors. Never a full-outer join.

    Ordering contract: WITHOUT ``lsn_col`` the change set must be
    log-compacted — at most one op per key — or the per-key winner is
    arbitrary (seq alone can't order two same-key changes). Feeds
    that carry multiple versions per key MUST name their sequence /
    LSN column: the window then orders by the LSN FIRST, and the
    merged output RETAINS the column as the key's applied-LSN marker.
    Because base rows keep their applied LSN, a REDELIVERED older
    change batch (at-least-once delivery, checkpoint reset) can never
    regress a newer snapshot row — exactly the replay case the
    streaming sink meets."""
    synthetic = lsn_col is None
    if synthetic:
        lsn_col = "__lsn"
        changes = changes.withColumn(lsn_col, F.lit(0).cast("long"))
    base2 = base.withColumn("op", F.lit(None).cast("string")).withColumn(
        "seq", F.lit(0)
    )
    if lsn_col not in base.columns:
        base2 = base2.withColumn(
            lsn_col, F.lit(None).cast(dict(changes.dtypes)[lsn_col])
        )
    stacked = base2.unionByName(changes.withColumn("seq", F.lit(1)))
    # LSN primary (an already-applied newer state beats a replayed
    # older change), seq as the equal-LSN tiebreak (an exact replay of
    # the applied change is idempotent either way)
    w = W.partitionBy(pk).orderBy(
        F.col(lsn_col).desc_nulls_last(), F.col("seq").desc()
    )
    drop_cols = ["rn", "seq", "op"]
    if synthetic:
        drop_cols.append(lsn_col)
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ((F.col("op").isNull()) | (F.col("op") != "D")))
        .drop(*drop_cols)
    )


def migration_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert — apply a CDC change-set (op ∈ I/U/D keyed by pk)
    onto a base table, the incremental-sync completion of
    ``migration_row_diff``: diff told you WHAT drifted, this applies a
    change feed the way a warehouse MERGE INTO does. The reference
    re-copies whole tables instead (root.go full TRUNCATE+reload);
    this is the operator that makes reruns proportional to change
    volume, not table size.

    The change-set is derived deterministically from the fixture
    (identically in the oracle): every 53rd key re-priced (U), every
    101st retired (D), every 211th re-keyed as a new row (I).

    Spark-first shape — latest-wins compaction, NOT a full-outer
    join: union base rows (seq 0) with change rows (seq 1) map-side,
    ONE shuffle on pk, per-pk row_number over seq DESC keeps the
    newest version, then drop 'D' survivors. This is the standard
    streaming-CDC compaction plan: it never materializes wide
    (base ⨯ change) join rows and extends unchanged to multi-version
    feeds (seq = change LSN). Output is a per-status audit of the
    merged table: row count, exact decimal revenue, and the
    order-insensitive content checksum — proof of WHAT the merge
    produced, not just how many rows.
    """
    cols = _CHECK_TABLES["orders"]
    base = load(spark, sf_dir, "orders").select(*[c for c, _ in cols])
    # reprice in DECIMAL: double ROUND is engine-divergent on binary
    # halves; decimal multiply/add/round(2) is exact and identical in
    # both engines, then the 2-dec value casts back to double cleanly
    repriced = F.round(
        F.col("o_totalprice").cast("decimal(24,2)")
        * F.lit("0.9").cast("decimal(2,1)")
        + F.lit("10.0").cast("decimal(4,1)"),
        2,
    ).cast("double")
    # ops are mutually exclusive per key (delete wins over update) —
    # the per-key-unique contract a log-compacted CDC batch gives you,
    # and what keeps the latest-wins window deterministic.
    # r18 (guide §2.4 / §6): the three filter branches each re-scanned
    # orders (4 scans + 4 fixture rebalances in the plan, base
    # included). The branches are per-row predicates on one key, so
    # ONE scan derives all change rows map-side: each row emits its
    # applicable U/D/I struct(s) through array_compact + explode —
    # row-multiset identical to the old 3-way union (a key hitting
    # both D and I still emits both rows, exactly as the union did).
    # In production the change feed is external and base is read once;
    # these scans are pure fixture-derivation overhead, now 1 pass.
    key = F.col("o_orderkey")
    is_u = (key % CDC_UPDATE_MOD == 0) & (key % CDC_DELETE_MOD != 0)
    is_d = key % CDC_DELETE_MOD == 0
    is_i = key % CDC_INSERT_MOD == 0

    def _chg(op: str, orderkey, totalprice):
        return F.struct(
            orderkey.alias("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            totalprice.alias("o_totalprice"),
            F.col("o_orderdate"),
            F.col("o_orderpriority"),
            F.lit(op).alias("op"),
        )

    price = F.col("o_totalprice")
    changes = base.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(is_u, _chg("U", key, repriced)),
                    F.when(is_d, _chg("D", key, price)),
                    F.when(is_i, _chg("I", key + F.lit(CDC_INSERT_OFFSET), price)),
                )
            )
        ).alias("c")
    ).select("c.*")
    merged = apply_cdc(base, changes, pk="o_orderkey")
    digest = row_digest_long(merged.select(*[c for c, _ in cols]))
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            _fast_dec_sum(F.col("o_totalprice"), 2, 24)
            .cast("double")
            .alias("revenue"),
            digest_sum(digest).cast("string").alias("content_checksum"),
        )
        .orderBy("o_orderstatus")
    )


def _cdc_apply_oracle() -> str:
    cols = _CHECK_TABLES["orders"]
    col_list = ", ".join(c for c, _ in cols)
    rep = "concat_ws('|', " + ", ".join(_duck_norm(c, t) for c, t in cols) + ")"
    digest = f"CAST({duck_md5_low60(rep)} AS DECIMAL(38,0))"
    return f"""
WITH base AS (SELECT {col_list} FROM orders),
changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(24,2))
                    * CAST(0.9 AS DECIMAL(2,1))
                    + CAST(10.0 AS DECIMAL(4,1)), 2) AS DOUBLE) AS o_totalprice,
         o_orderdate, o_orderpriority, 'U' AS op
  FROM base WHERE o_orderkey % {CDC_UPDATE_MOD} = 0
    AND o_orderkey % {CDC_DELETE_MOD} <> 0
  UNION ALL
  SELECT {col_list}, 'D' FROM base WHERE o_orderkey % {CDC_DELETE_MOD} = 0
  UNION ALL
  SELECT o_orderkey + {CDC_INSERT_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority, 'I'
  FROM base WHERE o_orderkey % {CDC_INSERT_MOD} = 0
),
stacked AS (
  SELECT *, NULL AS op, 0 AS seq FROM base
  UNION ALL
  SELECT * EXCLUDE (op), op, 1 FROM changes
),
merged AS (
  SELECT {col_list} FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM stacked
  ) WHERE rn = 1 AND (op IS NULL OR op <> 'D')
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue,
       CAST(SUM({digest}) AS VARCHAR) AS content_checksum
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


#: SCD2 change cadence: every 7th customer re-segments at T1, every
#: 13th re-prices at T2 (keys divisible by 91 get both, stacked)
SCD2_SEG_MOD = 7
SCD2_BAL_MOD = 13
#: default SCD2 effective dates (migration_scd2_history)
SCD2_DATES = ("2024-01-01", "2024-06-01", "2024-09-01")
#: effective dates straddling the 1995-2001 order range, so the
#: point-in-time join maps orders onto DIFFERENT dimension versions
PIT_DATES = ("1990-01-01", "1997-01-01", "1999-07-01")


def migration_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension **Type 2**: maintain full attribute
    HISTORY with validity intervals — the warehouse-side complement of
    ``migration_cdc_apply`` (which is latest-wins, i.e. SCD1). Given
    the base customer dimension plus two deterministic change waves
    (segment change at T1 for every 7th key, balance change at T2 for
    every 13th — keys divisible by 91 accrue both, cumulatively), emit
    one row per VERSION with ``effective_from`` / ``effective_to`` /
    ``is_current``, where effective_to = the next version's
    effective_from (open interval for the current row).

    Spark-first shape: versions are generated map-side as filtered
    projections of the base scan and unioned; ONE shuffle on
    c_custkey drives the lead() window that closes the intervals.
    At 100 TB the change waves arrive as actual CDC batches; the
    interval-closing window is unchanged — this is the standard
    history-rebuild plan (never a self-join per version).
    """
    return scd2_history(spark, sf_dir, SCD2_DATES).orderBy(
        "c_custkey", "effective_from"
    )


def scd2_history(
    spark: SparkSession, sf_dir: str, dates: tuple[str, str, str]
) -> DataFrame:
    """Core SCD2 history build over the customer dimension at the
    given three effective dates — shared by ``migration_scd2_history``
    (its default epoch) and ``join_point_in_time`` (dates straddling
    the order-date range so the temporal join is non-degenerate)."""
    # r19 (VERDICT r18 item 4): the three version branches all project
    # the same narrow 3-column scan — localCheckpoint(eager) it so the
    # customer parquet is read once (in the checkpoint job) instead of
    # once per branch (3 scans in the r18 plan). Serves both
    # migration_scd2_history and join_point_in_time.
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .localCheckpoint(eager=True)
    )
    d0, d1, d2 = dates
    seg2 = F.concat(F.col("c_mktsegment"), F.lit("_V2"))
    bal2 = F.round(
        F.col("c_acctbal").cast("decimal(24,2)") * F.lit("1.1").cast("decimal(2,1)"),
        2,
    ).cast("double")
    v0 = cust.withColumn("effective_from", F.lit(d0).cast("timestamp"))
    v1 = (
        cust.filter(F.col("c_custkey") % SCD2_SEG_MOD == 0)
        .withColumn("c_mktsegment", seg2)
        .withColumn("effective_from", F.lit(d1).cast("timestamp"))
    )
    v2 = (
        cust.filter(F.col("c_custkey") % SCD2_BAL_MOD == 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % SCD2_SEG_MOD == 0, seg2).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .withColumn("c_acctbal", bal2)
        .withColumn("effective_from", F.lit(d2).cast("timestamp"))
    )
    versions = v0.unionByName(v1).unionByName(v2)
    w = W.partitionBy("c_custkey").orderBy("effective_from")
    return versions.withColumn(
        "effective_to", F.lead("effective_from", 1).over(w)
    ).withColumn("is_current", F.col("effective_to").isNull())


def _scd2_oracle() -> str:
    return f"""
WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
v0 AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '2024-01-01' AS effective_from
  FROM base
),
v1 AS (
  SELECT c_custkey, c_acctbal, c_mktsegment || '_V2' AS c_mktsegment,
         TIMESTAMP '2024-06-01' AS effective_from
  FROM base WHERE c_custkey % {SCD2_SEG_MOD} = 0
),
v2 AS (
  SELECT c_custkey,
         CAST(ROUND(CAST(c_acctbal AS DECIMAL(24,2))
                    * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS c_acctbal,
         CASE WHEN c_custkey % {SCD2_SEG_MOD} = 0
              THEN c_mktsegment || '_V2' ELSE c_mktsegment END AS c_mktsegment,
         TIMESTAMP '2024-09-01' AS effective_from
  FROM base WHERE c_custkey % {SCD2_BAL_MOD} = 0
),
versions AS (
  SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT c_custkey, c_acctbal, c_mktsegment, effective_from,
       LEAD(effective_from) OVER (PARTITION BY c_custkey
                                  ORDER BY effective_from) AS effective_to,
       LEAD(effective_from) OVER (PARTITION BY c_custkey
                                  ORDER BY effective_from) IS NULL AS is_current
FROM versions
ORDER BY c_custkey, effective_from
"""


def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the query SCD2 history exists
    FOR: each order joins the customer-dimension VERSION that was
    valid on its order date (``effective_from <= o_orderdate <
    effective_to``, open-ended for the current row). Reporting
    against the version in force at event time is the difference
    between auditable history and silently-rewritten history.

    Plan shape: EQUI-join on c_custkey with the interval predicate as
    a residual filter — versions per key are few (≤3 here, bounded in
    any real dimension), so the fanout is tiny and there is never a
    nested-loop/range join. Because the SCD2 intervals tile gaplessly
    (tested), every order matches EXACTLY one version — asserted
    in-query by the all_matched boolean the oracle hash-checks.

    Output: per (valid-at-order-time segment): order count + exact
    decimal revenue + the conservation boolean.
    """
    orders = load(spark, sf_dir, "orders")
    hist = scd2_history(spark, sf_dir, PIT_DATES)
    n_orders = orders.count()
    joined = orders.join(
        hist,
        (orders.o_custkey == hist.c_custkey)
        & (orders.o_orderdate >= hist.effective_from)
        & (hist.effective_to.isNull() | (orders.o_orderdate < hist.effective_to)),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _fast_dec_sum(F.col("o_totalprice"), 2, 24)
            .cast("double")
            .alias("revenue"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            "revenue",
            # conservation: exactly one version match per order — the
            # grand total folds in as a literal (tiny k-row window)
            (F.lit(n_orders) == F.sum("n_orders").over(W.partitionBy())).alias(
                "all_matched"
            ),
        )
        .orderBy("c_mktsegment")
    )


def _pit_oracle() -> str:
    return f"""
WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
v0 AS (
  SELECT c_custkey, c_mktsegment, TIMESTAMP '{PIT_DATES[0]}' AS effective_from
  FROM base
),
v1 AS (
  SELECT c_custkey, c_mktsegment || '_V2', TIMESTAMP '{PIT_DATES[1]}'
  FROM base WHERE c_custkey % {SCD2_SEG_MOD} = 0
),
v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {SCD2_SEG_MOD} = 0
              THEN c_mktsegment || '_V2' ELSE c_mktsegment END,
         TIMESTAMP '{PIT_DATES[2]}'
  FROM base WHERE c_custkey % {SCD2_BAL_MOD} = 0
),
versions AS (
  SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
),
hist AS (
  SELECT c_custkey, c_mktsegment, effective_from,
         LEAD(effective_from) OVER (PARTITION BY c_custkey
                                    ORDER BY effective_from) AS effective_to
  FROM versions
),
joined AS (
  SELECT h.c_mktsegment, o.o_totalprice
  FROM orders o JOIN hist h
    ON o.o_custkey = h.c_custkey
   AND o.o_orderdate >= h.effective_from
   AND (h.effective_to IS NULL OR o.o_orderdate < h.effective_to)
)
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue,
       (SELECT COUNT(*) FROM orders) = SUM(COUNT(*)) OVER () AS all_matched
FROM joined
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES = {
    "migration_compare_checksums": migration_compare_checksums,
    "migration_row_diff": migration_row_diff,
    "migration_incremental": migration_incremental,
    "migration_cdc_apply": migration_cdc_apply,
    "migration_scd2_history": migration_scd2_history,
    "join_point_in_time": join_point_in_time,
    "migration_page_checksums": migration_page_checksums,
}
ORACLES = {
    "migration_compare_checksums": _compare_oracle(),
    "migration_row_diff": _row_diff_oracle(),
    "migration_incremental": _incremental_oracle(),
    "migration_cdc_apply": _cdc_apply_oracle(),
    "migration_scd2_history": _scd2_oracle(),
    "join_point_in_time": _pit_oracle(),
    "migration_page_checksums": _page_checksums_oracle(),
}
