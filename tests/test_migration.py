"""Unit + oracle tests for the migration pipeline (SURVEY.md §5:
type map, partition predicates tiling the keyspace, exclusion filter,
compare verdicts incl. missing-table and corruption paths, empty-table
edge)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysqldatasynctool_spark.catalog import catalog_scan_sql, exclude_tables, primary_key_sql
from mysqldatasynctool_spark.config import SyncConfig, load_config
from mysqldatasynctool_spark.ddl import create_table_sql, replicate_ddl, replication_statements
from mysqldatasynctool_spark.migrate import migrate_directory
from mysqldatasynctool_spark.operators import compare as cmp_op
from mysqldatasynctool_spark.operators import migration as mig_op
from mysqldatasynctool_spark.plans.partitioning import (
    choose_plan,
    composite_pk_predicates,
    page_queries,
    plan_table,
    sample_boundaries,
)
from mysqldatasynctool_spark.sources.fixtures import load
from mysqldatasynctool_spark.sources.sinks import effective_batch_size
from mysqldatasynctool_spark.typemap import mysql_to_catalyst, schema_from_mysql
from tests.conftest import SF_SMALL, assert_matches_oracle

SF = "/root/testdata/sf0.01"


# --- config ---------------------------------------------------------------


def test_config_load(tmp_path):
    p = tmp_path / "cfg.yml"
    p.write_text(
        """
src:
  host: h1
  port: 3306
  database: d
  username: u
  password: pw
dest:
  host: h2
pageSize: 5000
maxParallel: 8
batchRowSize: 500
tables:
  t1:
    - select * from t1 where x > 0
exclude:
  log1
  log2
"""
    )
    cfg = load_config(str(p))
    assert cfg.src.host == "h1" and cfg.dest.host == "h2"
    assert cfg.page_size == 5000 and cfg.batch_row_size == 500
    # the reference's unindented exclude block parses as one string
    assert cfg.exclude == ("log1", "log2")
    assert "jdbc:mysql://h1:3306/d" in cfg.src.jdbc_url


def test_endpoint_ident_quote_follows_url_dialect():
    """Generated JDBC SQL quotes identifiers in the source's dialect:
    MySQL reads "double-quoted" tokens as string literals, so a MySQL
    URL (the default endpoint or an override) gets the backtick; Derby
    and other ANSI databases get the double quote."""
    from mysqldatasynctool_spark.config import Endpoint

    assert Endpoint().ident_quote == "`"
    assert Endpoint(url_override="jdbc:mysql://db:3306/shop").ident_quote == "`"
    derby = Endpoint(
        url_override="jdbc:derby:/tmp/x;create=true",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    assert derby.ident_quote == '"'


# --- typemap --------------------------------------------------------------


@pytest.mark.parametrize(
    "mysql,expected",
    [
        ("INT", T.IntegerType()),
        ("INT(11)", T.IntegerType()),
        ("BIGINT(20)", T.LongType()),
        ("BIGINT UNSIGNED", T.DecimalType(20, 0)),
        ("INT UNSIGNED", T.LongType()),
        ("DECIMAL(10,2)", T.DecimalType(10, 2)),
        ("DATETIME(6)", T.TimestampType()),
        ("TIMESTAMP", T.TimestampType()),
        ("VARCHAR(255)", T.StringType()),
        # every binary variant → BinaryType (the reference's exact-match
        # 'BLOB' bug, root.go:423-427, deliberately fixed)
        ("BLOB", T.BinaryType()),
        ("TINYBLOB", T.BinaryType()),
        ("MEDIUMBLOB", T.BinaryType()),
        ("LONGBLOB", T.BinaryType()),
        ("VARBINARY(16)", T.BinaryType()),
        ("JSON", T.StringType()),
        ("UNKNOWNTYPE", T.StringType()),
    ],
)
def test_typemap(mysql, expected):
    assert mysql_to_catalyst(mysql) == expected


def test_schema_from_mysql_lowercases_names():
    s = schema_from_mysql([("ID", "BIGINT"), ("Payload", "BLOB")])
    assert [f.name for f in s.fields] == ["id", "payload"]
    assert s.fields[1].dataType == T.BinaryType()


# --- catalog --------------------------------------------------------------


def test_catalog_scan_sql_matches_reference_shape():
    sql = catalog_scan_sql(("log1", "log2"))
    assert "information_schema.tables" in sql
    assert "table_type = 'BASE TABLE'" in sql  # views excluded
    assert "not in ('log1','log2')" in sql
    assert "ORDER BY ORDINAL_POSITION" in primary_key_sql("t")


def test_exclusion_on_every_verb(spark, tmp_path, capsys):
    """One rule, ``catalog.exclude_tables``, keeps discovery order and
    drops the excluded names, and every verb applies it: migrate_directory
    does not copy an excluded table, parquet compareDb does not compare
    it and createTable prints no DDL for it."""
    from mysqldatasynctool_spark.cli import main
    from mysqldatasynctool_spark.sources.fixtures import TABLES

    assert exclude_tables(["c", "b", "a"], ("b",)) == ["c", "a"]
    assert exclude_tables(("c", "a"), ()) == ["c", "a"]

    dest = str(tmp_path / "dest")
    reports, verdict = migrate_directory(
        spark, SF_SMALL, dest, cfg=SyncConfig(exclude=("region",)), tables=["region", "nation"]
    )
    assert [r.table for r in reports] == ["nation"]
    assert [r.table_name for r in verdict.collect()] == ["nation"]
    assert sorted(os.listdir(dest)) == ["nation.parquet"]

    # every fixture but nation is excluded: a compareDb that still saw
    # region (absent at dest) would report DestIsExist=NO and exit 1
    cfg = tmp_path / "cfg.yml"
    cfg.write_text("exclude:\n" + "".join(f"  - {t}\n" for t in TABLES if t != "nation"))
    capsys.readouterr()
    assert main(["compareDb", "--config", str(cfg), "--src-dir", SF_SMALL, "--dest-dir", dest]) == 0
    out = capsys.readouterr().out
    assert "nation" in out and "region" not in out
    assert main(["createTable", "--config", str(cfg), "--src-dir", SF_SMALL, "-t"]) == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE `nation`" in out and out.count("CREATE TABLE") == 1


# --- partition planning ---------------------------------------------------


def test_composite_predicates_tile_keyspace(spark):
    """Every lineitem row must satisfy exactly ONE generated predicate
    (the correctness property SURVEY.md §7 flags as riskiest)."""
    li = load(spark, SF, "lineitem")
    pk = ["l_orderkey", "l_linenumber"]
    boundaries = sample_boundaries(li, pk, 10_000)
    preds = composite_pk_predicates(pk, boundaries)
    assert len(preds) == len(boundaries) + 1
    total = li.count()
    match_counts = li.select(
        sum(F.expr(p).cast("int") for p in preds).alias("m")
    )
    per_row = match_counts.groupBy("m").count().collect()
    assert {r.m for r in per_row} == {1}, f"rows matched != 1 predicate: {per_row}"
    covered = sum(li.filter(F.expr(p)).count() for p in preds)
    assert covered == total


def _caller_job_ids(spark, fn):
    """(fn(), ids of the Spark jobs fn ran on the calling thread)."""
    import uuid

    from mysqldatasynctool_spark.plans.layout import job_group

    tag = f"caller_{uuid.uuid4().hex}"
    with job_group(spark, tag):
        out = fn()
    return out, spark.sparkContext.statusTracker().getJobIdsForGroup(tag)


def _caller_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran on the calling thread)."""
    out, ids = _caller_job_ids(spark, fn)
    return out, len(ids)


def _input_records(spark, job_ids) -> int:
    """Input records read by the stages of ``job_ids``, each stage
    counted once (a reused shuffle stage is skipped by a later job)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), spark.sparkContext.statusTracker()
    stages = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    total = 0
    for s in stages:
        try:
            st = store.lastStageAttempt(s)
        except Exception:  # noqa: BLE001 — skipped stage, never ran
            continue
        if st.status().toString() not in ("SKIPPED", "PENDING"):
            total += st.inputRecords()
    return total


def test_sample_boundaries_pages_with_ceil(spark):
    """Tier 2 cuts ceil(rows/page_size) pages, like the range tier and
    root.go:359-364: 15,000 keys at page size 10,000 are 2 pages, so 1
    boundary (the floor division read them as one page)."""
    keys = spark.range(15_000).withColumnRenamed("id", "k")
    assert len(sample_boundaries(keys, ["k"], 10_000)) == 1
    assert len(sample_boundaries(keys, ["k"], 10_000, 15_000)) == 1
    assert len(sample_boundaries(keys, ["k"], 5_000)) == 2


def test_sample_boundaries_reuses_the_given_count(spark, monkeypatch):
    """With the caller's row count the sampler never counts the table;
    a count of at most one page returns no boundaries and runs no job."""
    from pyspark.sql import DataFrame

    keys = spark.range(15_000).withColumnRenamed("id", "k")
    counted = sample_boundaries(keys, ["k"], 4_000)

    def no_count(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(DataFrame, "count", no_count)
    assert sample_boundaries(keys, ["k"], 4_000, 15_000) == counted
    for n in (0, 1, 4_000):
        out, jobs = _caller_jobs(spark, lambda: sample_boundaries(keys, ["k"], 4_000, n))
        assert out == [] and jobs == 0, (n, out, jobs)


def test_choose_plan_reuses_the_probe_count(spark):
    """A string-led probe's count reaches the sampler: the plan equals
    the one from boundaries sampled with the sampler's own count."""
    li = load(spark, SF_SMALL, "lineitem")
    pk, ps = ["l_orderkey", "l_linenumber"], 1_000
    n = li.count()
    reused = choose_plan(
        "lineitem", pk, ps, 8, (n, "a", "z"), lambda c: sample_boundaries(li, pk, ps, c)
    )
    counted = plan_table("lineitem", pk, ps, 8, boundaries=sample_boundaries(li, pk, ps))
    assert reused.mode == "predicates" and len(reused.predicates) > 1
    assert reused.predicates == counted.predicates


def test_plan_table_modes():
    from decimal import Decimal

    # no PK → single full scan (root.go:341-345)
    assert plan_table("t", [], 1000, 8).mode == "single"
    # numeric PK → range partitioning, page count honors pageSize
    p = plan_table("t", ["id"], 1000, 8, row_count=3500, pk_min=1, pk_max=9999)
    assert p.mode == "range" and p.num_partitions == 4
    assert p.jdbc_read_options()["upperBound"] == 10000
    # maxParallel caps partitions (the semaphore analogue)
    p2 = plan_table("t", ["id"], 10, 8, row_count=10_000, pk_min=0, pk_max=99)
    assert p2.num_partitions == 8
    # empty table still yields one partition (root.go:367 empty page)
    p3 = plan_table("t", ["a", "b"], 1000, 8, boundaries=[])
    assert p3.mode == "predicates" and p3.predicates == ("1 = 1",)

    # choose_plan, the one tier choice: a non-bool numeric minimum takes
    # the range tier without sampling, no PK the full scan; anything
    # else samples boundaries once
    def never(count):
        raise AssertionError("boundaries sampled")

    p = choose_plan("t", ["id"], 1000, 8, (3500, 1, 9999), never)
    assert p.mode == "range" and p.num_partitions == 4 and p.upper_bound == 10000
    assert choose_plan("t", ["id"], 1000, 8, (5, Decimal(1), Decimal(9)), never).mode == "range"
    assert choose_plan("t", [], 1000, 8, None, never).mode == "single"
    calls = []
    for stats in (None, (0, None, None), (2, "a", "b"), (2, False, True)):
        p = choose_plan("t", ["k"], 1000, 8, stats, lambda n: calls.append(n) or [("m",)], quote="`")
        assert p.mode == "predicates" and p.predicates[0] == "NOT ((`k` > 'm'))"
    assert len(calls) == 4
    # the probe's count reaches the sampler; an unprobed table has none
    assert calls == [None, 0, 2, 2]


def test_page_count_reads_the_planned_pages(spark, monkeypatch):
    """migration_page_count counts the rows migrate's tier-2 pages read,
    so a planner that drops its last page changes its rows (the oracle
    entry would go red) — the emulation it replaced stayed green."""
    from mysqldatasynctool_spark.plans import partitioning

    def rows():
        return sorted(tuple(r) for r in mig_op.migration_page_count(spark, SF).collect())

    exact = [("customer", 1500, 1), ("lineitem", 60000, 6), ("orders", 15000, 2)]
    assert rows() == exact
    real = partitioning.composite_pk_predicates

    def drop_last_page(*args, **kwargs):
        preds = real(*args, **kwargs)
        return preds[:-1] if len(preds) > 1 else preds

    monkeypatch.setattr(partitioning, "composite_pk_predicates", drop_last_page)
    mutant = {t: n for t, n, _ in rows()}
    # customer is sampled as one page, which stays; orders' two pages
    # and lineitem's six lose their last one
    assert mutant["customer"] == 1500
    assert mutant["orders"] < 15000 and mutant["lineitem"] < 60000


def test_page_queries_reference_parity():
    qs = page_queries("t1", ["id"], total_rows=2500, page_size=1000)
    # 3 real pages + the deliberate trailing empty page (root.go:366-371)
    assert len(qs) == 4
    assert "LIMIT 0,1000" in qs[0] and "LIMIT 3000,1000" in qs[3]
    assert "LEFT JOIN `t1` t ON temp.id = t.id" in qs[0]
    # no-PK fallback (root.go:341-345)
    assert page_queries("t2", [], 10, 5) == ["select * from `t2`"]
    # composite key AND-chain (root.go:347-357)
    q = page_queries("t3", ["a", "b"], 10, 5)[0]
    assert "temp.a = t.a and temp.b = t.b" in q


def test_sql_lit_typed_boundaries():
    import datetime

    from mysqldatasynctool_spark.plans.partitioning import _sql_lit

    assert _sql_lit(datetime.date(2024, 1, 1)) == "DATE '2024-01-01'"
    assert _sql_lit(datetime.datetime(2024, 1, 1, 12, 0)).startswith("TIMESTAMP '2024-01-01 12:00")
    assert _sql_lit(b"\x01\xff") == "X'01ff'"
    assert _sql_lit(True) == "TRUE"
    with pytest.raises(ValueError):
        _sql_lit(None)


def test_ddl_string_pk_gets_keyable_type():
    s = T.StructType(
        [T.StructField("code", T.StringType(), False), T.StructField("v", T.StringType())]
    )
    sql = create_table_sql("t", s, primary_key=["code"])
    assert "`code` VARCHAR(255) NOT NULL" in sql  # not LONGTEXT (MySQL err 1170)
    assert "`v` LONGTEXT" in sql


def test_salted_join_rejects_right_preserving(spark):
    from mysqldatasynctool_spark.plans.layout import salted_join

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load(spark, "/root/testdata/sf0.001", "orders")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(li, orders, "l_orderkey", "o_orderkey", how="full")


def test_effective_batch_size_cap():
    assert effective_batch_size(1000, 10) == 1000
    # wide table: 65535/200 - 10 = 317 (root.go:405-406)
    assert effective_batch_size(1000, 200) == 317
    assert effective_batch_size(5, 200) == 5


# --- DDL ------------------------------------------------------------------


def test_create_table_sql():
    s = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
        ]
    )
    sql = create_table_sql("t", s, primary_key=["id"])
    assert "`id` BIGINT NOT NULL" in sql
    assert "`v` DOUBLE" in sql and "`blob` LONGBLOB" in sql
    assert "`vec` JSON" in sql and "PRIMARY KEY (`id`)" in sql
    stmts = replication_statements("t", sql)
    assert stmts[0].startswith("SET FOREIGN_KEY_CHECKS")
    assert stmts[1].startswith("drop table if exists")


def test_replicate_ddl_without_connection_raises():
    s = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(NotImplementedError):
        replicate_ddl("t", None, schema=s)


# --- pipeline + compare ---------------------------------------------------


def test_migrate_directory_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "dest")
    reports, verdict = migrate_directory(
        spark,
        "/root/testdata/sf0.001",
        dest,
        tables=["region", "nation", "orders", "lineitem", "events"],
    )
    assert all(r.ok for r in reports)
    rows = {r.table_name: r for r in verdict.collect()}
    assert set(rows) == {"region", "nation", "orders", "lineitem", "events"}
    assert all(r.is_ok == "YES" for r in rows.values())
    assert all(r.src_cnt == r.dest_cnt for r in rows.values())

    # an explicit empty table list migrates nothing, not every table
    reports, verdict = migrate_directory(spark, "/root/testdata/sf0.001", str(tmp_path / "none"), tables=[])
    assert reports == [] and verdict.count() == 0


def _derby_pair(spark, tmp_path, tables):
    """Embedded-Derby (src, dest) endpoints, with ``tables`` of the
    sf0.001 fixtures written to the source."""
    from mysqldatasynctool_spark.config import Endpoint
    from mysqldatasynctool_spark.sources.sinks import write_jdbc

    src, dest = (
        Endpoint(
            url_override=f"jdbc:derby:{tmp_path}/{side};create=true",
            driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        )
        for side in ("src", "dest")
    )
    for t in tables:
        write_jdbc(load(spark, SF_SMALL, t), src, t, truncate=True)
    return src, dest


@pytest.mark.parametrize("path", ["directory", "jdbc"])
def test_migrate_per_table_failure_isolated(spark, tmp_path, path):
    """A table that fails to read must be reported failed without
    sinking the run (the reference's errDataCount semantics,
    root.go:48-56): other tables still copy and verify, on both
    paths."""
    tables = ["region", "no_such_table", "nation"]
    if path == "directory":
        reports, verdict = migrate_directory(spark, SF_SMALL, str(tmp_path / "dest"), tables=tables)
    else:
        from mysqldatasynctool_spark.migrate import migrate_jdbc

        src, dest = _derby_pair(spark, tmp_path, ("region", "nation"))
        # no_such_table is absent from the Derby source
        pk_map = {"region": ["r_regionkey"], "no_such_table": ["id"], "nation": ["n_nationkey"]}
        reports, verdict = migrate_jdbc(spark, src, dest, pk_map)
    by_table = {r.table: r for r in reports}
    assert [r.table for r in reports] == tables
    assert by_table["region"].ok and by_table["nation"].ok
    bad = by_table["no_such_table"]
    assert not bad.ok and bad.error and bad.rows == 0
    assert bad.phases, "a failed table keeps the phases it reached"
    rows = verdict.collect()
    assert {r.table_name for r in rows} == {"region", "nation"}, "verdict covers only copied tables"
    assert all(r.is_ok == "YES" for r in rows)


def test_migrate_resume_skips_verified_tables(spark, tmp_path):
    """resume=True must leave verified destinations untouched (file
    mtimes unchanged), restore missing ones, and end fully verified."""
    import os
    import shutil
    import time as _time

    dest = str(tmp_path / "dest")
    tabs = ["region", "nation", "orders"]
    reports, verdict = migrate_directory(
        spark, "/root/testdata/sf0.001", dest, tables=tabs
    )
    assert all(r.is_ok == "YES" for r in verdict.collect())

    def mtimes(table):
        d = f"{dest}/{table}.parquet"
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {t: mtimes(t) for t in ["region", "nation"]}
    shutil.rmtree(f"{dest}/orders.parquet")  # simulate a failed table
    _time.sleep(0.05)

    reports2, verdict2 = migrate_directory(
        spark, "/root/testdata/sf0.001", dest, tables=tabs, resume=True
    )
    assert all(r.ok for r in reports2)
    assert all(r.is_ok == "YES" for r in verdict2.collect())
    for t in ["region", "nation"]:
        assert mtimes(t) == before[t], f"{t} was rewritten on resume"
    assert os.path.isdir(f"{dest}/orders.parquet"), "missing table not restored"

    # a dest a prior run wrote with a column the source no longer has is
    # recopied: resume must read the dest with the schema found there
    shutil.rmtree(f"{dest}/nation.parquet")
    nation = load(spark, "/root/testdata/sf0.001", "nation")
    nation.withColumn("dropped", F.lit("x")).write.parquet(f"{dest}/nation.parquet")
    migrate_directory(spark, "/root/testdata/sf0.001", dest, tables=["nation"], resume=True)
    assert spark.read.parquet(f"{dest}/nation.parquet").columns == nation.columns


@pytest.mark.parametrize("path", ["directory", "jdbc"])
def test_migrate_verify_detects_bad_landing(spark, tmp_path, monkeypatch, path):
    """The verify must checksum what LANDED, not what was sent: a sink
    that corrupts one cell of nation on its way out keeps the source
    summary intact (it is observed below the corruption), so only a
    verify that re-reads the destination turns nation red."""
    from mysqldatasynctool_spark import migrate as mig

    def corrupt(df, table):
        if table != "nation":
            return df
        return df.withColumn(
            "n_name", F.when(F.col("n_nationkey") == 3, F.lit("XX")).otherwise(F.col("n_name"))
        )

    tables = ["region", "nation"]
    if path == "directory":
        real = mig.write_parquet

        def bad_write(df, p, **kw):  # dest paths are <dest_dir>/<table>.parquet
            real(corrupt(df, os.path.basename(p).removesuffix(".parquet")), p, **kw)

        monkeypatch.setattr(mig, "write_parquet", bad_write)
        reports, verdict = migrate_directory(spark, SF_SMALL, str(tmp_path / "dest"), tables=tables)
    else:
        import mysqldatasynctool_spark.sources.sinks as sinks_mod

        src, dest = _derby_pair(spark, tmp_path, tables)
        real = sinks_mod.write_jdbc
        monkeypatch.setattr(
            sinks_mod, "write_jdbc", lambda df, ep, t, **kw: real(corrupt(df, t), ep, t, **kw)
        )
        reports, verdict = mig.migrate_jdbc(
            spark, src, dest, {"region": ["r_regionkey"], "nation": ["n_nationkey"]}
        )
    rows = {r.table_name: r for r in verdict.collect()}
    by_table = {r.table: r for r in reports}
    assert rows["nation"].is_ok == "NO"
    assert rows["nation"].src_cnt == rows["nation"].dest_cnt == 25
    assert rows["nation"].src_checksum != rows["nation"].dest_checksum
    assert rows["region"].is_ok == "YES"
    for t in tables:
        assert by_table[t].ok and by_table[t].rows == rows[t].dest_cnt


def test_migrate_directory_jobs_per_table(spark, tmp_path):
    """A parquet migrate runs at most 3 Spark jobs per table (source
    schema inference, the copy that observes the source summary, the
    noop verify scan that observes the destination's) and none per
    call: collecting the verdict runs no job.
    Tables are copied on pool threads, which do not inherit a job
    group, so the count is the gap between the ids of two tagged probe
    jobs (job ids are global and monotonic)."""
    import uuid

    sc = spark.sparkContext

    def probe() -> int:
        tag = f"probe_{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            spark.range(1).collect()
        finally:
            sc._jsc.clearJobGroup()
        return max(sc.statusTracker().getJobIdsForGroup(tag))

    tables = ["region", "nation", "customer", "orders"]
    before = probe()
    reports, verdict = migrate_directory(spark, SF_SMALL, str(tmp_path / "dest"), tables=tables)
    rows = verdict.collect()
    jobs = probe() - before - 1
    assert all(r.ok for r in reports)
    assert [r.table_name for r in rows] == sorted(tables)
    assert all(r.is_ok == "YES" for r in rows)
    assert jobs <= 3 * len(tables), jobs


def test_verdict_collect_runs_no_job(spark, tmp_path):
    """The verdicts of migrate and of compareDb, empty or not, are
    local relations: collecting them on the caller thread runs no Spark
    job, and their schema is VERDICT_SCHEMA, rows sorted by table name."""
    from mysqldatasynctool_spark.operators.compare import VERDICT_SCHEMA, compare_tables

    schema = spark.createDataFrame([], VERDICT_SCHEMA).schema
    tables = ["region", "nation"]
    _, verdict = migrate_directory(spark, SF_SMALL, str(tmp_path / "dest"), tables=tables)
    rows, jobs = _caller_jobs(spark, verdict.collect)
    assert jobs == 0
    assert verdict.schema == schema
    assert [r.table_name for r in rows] == sorted(tables)
    assert all(r.is_ok == "YES" for r in rows)
    empty = compare_tables(spark, {}, {})
    rows, jobs = _caller_jobs(spark, empty.collect)
    assert rows == [] and jobs == 0
    assert empty.schema == schema
    # compareDb over frames read with a given schema (no inference job):
    # one grouped scan of at most 2 jobs, each distinct frame read once
    # even when it serves both sides, and a local-relation verdict
    frames = {}
    for t in ["region", "nation", "supplier"]:
        given = load(spark, SF_SMALL, t).schema
        frames[t] = spark.read.schema(given).parquet(f"{SF_SMALL}/{t}.parquet")
    n_rows = sum(df.count() for df in frames.values())
    verdict, jobs = _caller_job_ids(spark, lambda: compare_tables(spark, frames, frames))
    assert len(jobs) <= 2, jobs
    assert _input_records(spark, jobs) == n_rows
    rows, jobs = _caller_jobs(spark, verdict.collect)
    assert jobs == 0
    assert verdict.schema == schema
    assert [r.table_name for r in rows] == sorted(frames)
    assert all(r.is_ok == "YES" and r.src_cnt > 0 for r in rows)


def test_compare_detects_corruption_and_missing(spark, tmp_path):
    from mysqldatasynctool_spark.operators.compare import compare_tables, table_summary

    nation = load(spark, SF, "nation")
    corrupted = nation.withColumn(
        "n_name", F.when(F.col("n_nationkey") == 3, F.lit("XX")).otherwise(F.col("n_name"))
    )
    verdict = compare_tables(
        spark,
        {"nation": nation, "region": load(spark, SF, "region")},
        {"nation": corrupted},  # region missing on dest
    ).collect()
    by_name = {r.table_name: r for r in verdict}
    # same count but different content → count compare (the reference's
    # only check, compare.go:112-126) would say OK; checksum catches it
    assert by_name["nation"].src_cnt == by_name["nation"].dest_cnt
    assert by_name["nation"].is_ok == "NO"
    assert by_name["region"].dest_is_exist == "NO"
    assert by_name["region"].is_ok == "NO"
    # a dest-only table, an empty table on both sides, and each row's
    # (cnt, checksum) equal to what table_summary observes on its frame
    supplier, part = load(spark, SF, "supplier"), load(spark, SF, "part")
    src = {"nation": nation, "empty": nation.filter("false"), "part": part}
    dest = {"nation": corrupted, "empty": nation.filter("false"), "supplier": supplier}
    by_name = {r.table_name: r for r in compare_tables(spark, src, dest).collect()}
    assert list(by_name) == sorted(by_name)
    only_dest = by_name["supplier"]
    assert (only_dest.src_cnt, only_dest.src_checksum) == (None, None)
    assert (only_dest.dest_is_exist, only_dest.is_ok) == ("YES", "NO")
    empty = by_name["empty"]
    assert (empty.src_cnt, empty.src_checksum, empty.dest_cnt, empty.dest_checksum) == (0, 0, 0, 0)
    assert (empty.dest_is_exist, empty.is_ok) == ("YES", "YES")

    def observed(df):
        observed_df, obs = table_summary(df, "t")
        observed_df.write.format("noop").mode("overwrite").save()
        return obs.get["cnt"], obs.get["checksum"]

    for side, tables in (("src", src), ("dest", dest)):
        for t, df in tables.items():
            row = by_name[t]
            assert (row[f"{side}_cnt"], row[f"{side}_checksum"]) == observed(df), (t, side)


def test_migration_queries_match_oracle(spark, duck):
    for name in sorted(mig_op.ORACLES):
        df = mig_op.QUERIES[name](spark, SF)
        assert df.count() > 0
        assert_matches_oracle(df, mig_op.ORACLES[name], duck)


def test_compare_checksums_match_oracle(spark, duck):
    df = cmp_op.QUERIES["migration_compare_checksums"](spark, SF)
    assert df.count() == 5
    assert_matches_oracle(df, cmp_op.ORACLES["migration_compare_checksums"], duck)


def test_cdc_apply_row_accounting(spark):
    """The merged table's total row count must equal
    base - deletes + inserts exactly (updates are count-neutral), and
    revenue must reflect the repriced rows — checked against an
    independent in-Spark computation, not the oracle."""
    from mysqldatasynctool_spark.operators.compare import (
        CDC_DELETE_MOD,
        CDC_INSERT_MOD,
        migration_cdc_apply,
    )
    from mysqldatasynctool_spark.sources.fixtures import load

    base = load(spark, SF, "orders")
    n_base = base.count()
    n_del = base.filter(F.col("o_orderkey") % CDC_DELETE_MOD == 0).count()
    n_ins = base.filter(F.col("o_orderkey") % CDC_INSERT_MOD == 0).count()
    out = migration_cdc_apply(spark, SF).collect()
    assert sum(r.n_rows for r in out) == n_base - n_del + n_ins
    # every status group present and checksums non-degenerate
    assert all(int(r.content_checksum) > 0 for r in out)
    assert len(out) >= 2


def test_migrate_directory_versioned_snapshots(spark, tmp_path):
    """versioned=True: each run publishes a NEW verified snapshot;
    prior versions remain time-travel readable and rollback is a
    pointer move."""
    from mysqldatasynctool_spark.migrate import migrate_directory
    from mysqldatasynctool_spark.sources.files import (
        read_manifest_version,
        read_versioned,
        rollback_versioned,
    )

    dest = str(tmp_path / "vdest")
    src = "/root/testdata/sf0.001"
    reports, verdict = migrate_directory(
        spark, src, dest, tables=["region", "nation"], versioned=True
    )
    assert all(r.ok for r in reports)
    assert all(r.is_ok == "YES" for r in verdict.collect())
    reports2, verdict2 = migrate_directory(
        spark, src, dest, tables=["region"], versioned=True
    )
    assert all(r.is_ok == "YES" for r in verdict2.collect())
    root = f"{dest}/region.parquet"
    assert read_manifest_version(root) == 2
    assert read_versioned(spark, root, version=1).count() == read_versioned(
        spark, root, version=2
    ).count()
    rollback_versioned(root, 1)
    assert read_manifest_version(root) == 1


def test_scd2_intervals_tile_and_one_current(spark):
    """SCD2 invariants: per key the validity intervals tile with no
    gap (effective_to == next effective_from), exactly ONE current
    row exists, and multi-change keys accumulate BOTH changes."""
    from mysqldatasynctool_spark.operators import compare as cmp_ops

    rows = cmp_ops.migration_scd2_history(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["effective_from"])
        assert sum(1 for r in versions if r["is_current"]) == 1
        assert versions[-1]["is_current"]
        for a, b in zip(versions, versions[1:]):
            assert a["effective_to"] == b["effective_from"]
    both = by_key[91]  # 91 = 7*13 → segment change AND balance change
    assert len(both) == 3
    assert both[2]["c_mktsegment"].endswith("_V2")
    assert abs(both[2]["c_acctbal"] - round(both[0]["c_acctbal"] * 1.1, 2)) < 0.011


def test_point_in_time_join_conserves_orders(spark):
    """Every order must match EXACTLY one dimension version (the SCD2
    intervals tile), and the valid-at-order-time segments must include
    both pre- and post-change labels (non-degenerate date straddle)."""
    from mysqldatasynctool_spark.operators import compare as cmp_ops

    rows = cmp_ops.join_point_in_time(spark, "/root/testdata/sf0.001").collect()
    assert all(r["all_matched"] for r in rows)
    segs = {r["c_mktsegment"] for r in rows}
    assert any(s.endswith("_V2") for s in segs)
    assert any(not s.endswith("_V2") for s in segs)


def test_drift_digest_rows_multiset_identity(spark):
    """r19: the one-scan struct-array-explode derivation
    (_drift_digest_rows) must produce EXACTLY the multiset of
    (side, pk, digest) rows the old two-frame shape produced —
    src digests on the 's' side, _drifted_orders(src) digests on the
    'd' side. _drifted_orders stays in the module as the executable
    spec this test compares against."""
    from pyspark.sql import functions as F

    from mysqldatasynctool_spark.operators.compare import (
        _DIFF_COLS,
        _drift_digest_rows,
        _drifted_orders,
        row_digest_long,
    )
    from mysqldatasynctool_spark.sources.fixtures import load

    src = load(spark, "/root/testdata/sf0.001", "orders").select(*_DIFF_COLS)
    new_rows = sorted(
        tuple(r) for r in _drift_digest_rows(src).collect()
    )
    dest = _drifted_orders(src)
    old_s = src.select(
        F.lit("s").alias("side"),
        F.col("o_orderkey").alias("pk"),
        row_digest_long(src).alias("d"),
    )
    old_d = dest.select(
        F.lit("d").alias("side"),
        F.col("o_orderkey").alias("pk"),
        row_digest_long(dest).alias("d"),
    )
    old_rows = sorted(tuple(r) for r in old_s.unionByName(old_d).collect())
    assert len(new_rows) == len(old_rows) > 0
    assert new_rows == old_rows
