"""The migration pipeline — the reference's default command
(startDataTransfer, cmd/root.go:58-208) as one orchestration:
discover → plan → copy → verify.

Like the reference's single copy loop, both entry points run every
table through ONE per-table core (``_copy_verify``) and ONE pool and
verdict tail (``_migrate``). A path (``_Path``) supplies only what
differs between endpoints: how it reads the source, how it plans that
read (JDBC only), how it writes the observed frame and which
destination frame it verifies. Per table the core runs

1. ``resume_check`` (``resume=True`` only): the verdict of one
   summary scan of the source and one of the destination; a match
   reports the table verified without rewriting it;
2. ``plan``: the path's read plan;
3. ``copy``: one Spark job whose partitions are the pages; the source
   count+checksum are observed on that scan; a failed copy is retried
   once on the path's fallback plan, when it has one;
4. ``verify``: one job, a ``noop`` scan of the re-read destination
   that observes the same count+checksum,

and records each phase's wall in ``TableReport.phases``. The verdict
over all tables is a local relation (``compare.verdict_frame``), so a
call runs only the jobs that move or check rows: collecting its
verdict runs none.

Where the reference runs a goroutine per page and a channel-semaphore
pool (root.go:104-147), each table here is ONE Spark job whose
partitions are the pages; Spark's scheduler is the pool. Tables
themselves are submitted from a thread pool bounded by maxParallel
(the reference's semaphore semantics at table granularity — with
thousands of small tables, per-table job overlap is the throughput
lever; Spark's scheduler interleaves the concurrent jobs' tasks).
Per-table failures are caught per-thread (the reference's
errDataCount analogue, root.go:48-56, counts failed objects).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, replace

from pyspark.sql import SparkSession

from .catalog import discover_parquet_tables, exclude_tables
from .config import SyncConfig
from .sources.fixtures import load
from .sources.sinks import write_parquet


def _check_ident(name: str) -> None:
    """Reject table names that can't be interpolated into generated
    SQL safely. Names flow into ``FROM {t}`` (stats probe) and Spark's
    own raw ``dbtable`` interpolation; a quote/semicolon/whitespace in
    one is either injection or a name no unquoted dialect accepts.
    Dotted schema-qualified names are allowed (each part checked)."""
    import re

    for part in name.split("."):
        # '#' excluded: it starts a comment in MySQL, so 'a#b'
        # interpolated unquoted into FROM would silently query 'a'
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_$]*", part):
            raise ValueError(f"unsafe table identifier: {name!r}")


@dataclass
class TableReport:
    """Per-object run report (the reference's gotable summary row:
    Object/BeginTime/EndTime/FailedTotal/ElapsedTime, root.go:161-207)."""

    table: str
    rows: int
    elapsed_s: float
    ok: bool
    error: str | None = None
    #: wall-time split {"resume_check", "plan", "copy", "verify"} → s,
    #: so a slow table is attributable to source probing, the fused
    #: read+write action, or the dest verify re-read rather than one
    #: opaque number (root.go:374,563 batch-tuning anchor). A failed
    #: table keeps the phases it reached, the failing one included.
    phases: dict | None = None


@dataclass(frozen=True)
class _Path:
    """What one migrate path supplies to the shared core. Every
    callable takes the table name first; a ``None`` plan means one
    plain full read."""

    #: (table, plan) -> source frame
    read: Callable
    #: (observed source frame, table) -> None
    write: Callable
    #: (table, copy plan, schema) -> destination frame to verify; a
    #: ``None`` schema means the one found at the destination
    dest: Callable
    #: table -> read plan
    plan: Callable = lambda t: None
    #: (table, failed plan) -> plan to retry the copy on, or None
    fallback: Callable = lambda t, plan: None
    #: table -> None; raises for a name the path must not touch
    check: Callable = lambda t: None


def _summarize(
    df, t: str, write: Callable = lambda df, t: df.write.format("noop").mode("overwrite").save()
) -> tuple:
    """(cnt, checksum) of ``df``, observed while ``write`` runs over
    it: the one scan of a copy, or a ``noop`` scan of a verify."""
    from .operators.compare import table_summary

    observed, obs = table_summary(df, t)
    write(observed, t)
    return obs.get["cnt"], obs.get["checksum"]


def _copy_verify(path: _Path, t: str, resume: bool) -> tuple[TableReport, tuple | None]:
    """Copy and verify one table: (report, verdict row or None)."""
    t0 = time.monotonic()
    phases: dict[str, float] = {}

    @contextmanager
    def timed(phase: str):
        ts = time.monotonic()
        try:
            yield
        finally:
            phases[phase] = round(time.monotonic() - ts, 3)

    def copy(plan):
        # The SOURCE-side count+checksum piggyback on the copy scan via
        # observe(): the write action computes them in passing, so each
        # source row is read exactly once. At 100 TB that one saved
        # re-scan IS the source-side verification cost. Only the
        # destination is re-read for verification — that re-read is
        # the point (it proves what LANDED, not what was sent).
        df = path.read(t, plan)
        return df.schema, _summarize(df, t, path.write)

    try:
        path.check(t)
        src = dest = None
        if resume:
            with timed("resume_check"):
                # the dest is read with the schema found there: a prior
                # run may have written another, and today's source schema
                # would hide a column the source has since dropped
                try:
                    dest = _summarize(path.dest(t, None, None), t)
                    src = _summarize(path.read(t, None), t)
                except Exception:  # noqa: BLE001 — absent/corrupt dest → recopy
                    pass
        # a verified destination is not rewritten (rerun idempotency at
        # table granularity, the thousands-of-tables restart story)
        if src is None or src != dest:
            with timed("plan"):
                plan = path.plan(t)
            with timed("copy"):
                try:
                    schema, src = copy(plan)
                except Exception:
                    retry = path.fallback(t, plan)
                    if retry is None:
                        raise
                    plan = retry
                    schema, src = copy(plan)
            # dest-side verify INSIDE the copy thread, one noop scan of
            # the dest read with the schema just written (no inference
            # job): each table's verify overlaps the remaining tables'
            # copies instead of running as a second serial phase — at
            # thousands-of-tables scale (the reference's regime)
            # verification disappears into the copy wall-clock. The dest
            # count doubles as the report row count.
            with timed("verify"):
                dest = _summarize(path.dest(t, plan, schema), t)
        vrow = (t, src[0], dest[0], src[1], dest[1], "YES", "YES" if src == dest else "NO")
        return TableReport(t, dest[0], time.monotonic() - t0, True, phases=phases), vrow
    except Exception as exc:  # noqa: BLE001 — per-object failure accounting
        return TableReport(t, 0, time.monotonic() - t0, False, str(exc), phases=phases), None


def _migrate(
    spark: SparkSession, tables, cfg: SyncConfig, resume: bool, path: _Path
) -> tuple[list[TableReport], object]:
    """Run every non-excluded table through ``_copy_verify`` and build
    the verdict frame over the tables that reached verification."""
    from .operators.compare import verdict_frame

    todo = exclude_tables(tables, cfg.exclude)
    # maxParallel bounds how many table copy+verify JOBS are in flight
    # at once (reference root.go:104-147); submission order is
    # preserved in the report list regardless of completion order
    with ThreadPoolExecutor(max_workers=min(cfg.max_parallel, max(1, len(todo)))) as pool:
        results = list(pool.map(lambda t: _copy_verify(path, t, resume), todo))
    # sorted in Python: orderBy on a few local rows costs Spark jobs
    verdict = verdict_frame(spark, sorted(v for _, v in results if v is not None))
    return [r for r, _ in results], verdict


def migrate_directory(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    cfg: SyncConfig | None = None,
    tables: list[str] | None = None,
    resume: bool = False,
    versioned: bool = False,
) -> tuple[list[TableReport], object]:
    """Parquet→parquet migration over the fixture layout, through the
    same per-table core as the JDBC path:

    1. catalog discovery + exclusion        (ops #1-#2)
    2. no partition planning: parquet scans are already split by
       file/rowgroup, so sampling boundaries would be a pure-waste
       shuffle (the JDBC path is where plans matter)
    3. copy, one Spark job per table        (ops #9, #11-#12)
    4. count+checksum verification          (op #14, upgraded)

    ``resume=True`` makes the run idempotent at table granularity
    (the rerun story the thousands-of-tables regime needs): a table
    whose destination already exists AND checksum-matches the source
    is reported verified without being rewritten; mismatched or
    missing destinations are (re)copied. The resume check is the same
    checksum compare verification runs anyway, so a fully-verified
    rerun costs two scans per table and zero writes.

    ``versioned=True`` writes every table as a NEW immutable snapshot
    version (sources/files.write_versioned: atomic manifest publish,
    time travel, rollback) instead of overwriting in place — reruns
    preserve every prior state, and a bad load rolls back by pointer.
    Verification reads the freshly-published version.

    Returns (per-table reports, verdict DataFrame).
    """
    from .sources.files import read_versioned, write_versioned

    def dest_path(t: str) -> str:
        return f"{dest_dir}/{t}.parquet"

    def write(observed, t: str) -> None:
        if versioned:
            write_versioned(observed, dest_path(t))
        else:
            write_parquet(observed, dest_path(t))

    def read_dest(t: str, plan, schema):
        if versioned:
            return read_versioned(spark, dest_path(t))
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(dest_path(t))

    path = _Path(read=lambda t, plan: load(spark, src_dir, t), write=write, dest=read_dest)
    if tables is None:
        tables = discover_parquet_tables(src_dir)
    return _migrate(spark, tables, cfg or SyncConfig(), resume, path)


def jsonify_nested(df):
    """Nested columns (array/map/struct) → JSON text, matching the DDL
    layer's nested-as-JSON storage decision (ddl.mysql_column_type /
    derby_column_type) so any DataFrame becomes JDBC-writable."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            df = df.withColumn(f.name, F.to_json(f.name))
    return df


def migrate_jdbc(
    spark: SparkSession,
    src,
    dest,
    pk_map: dict[str, list[str]],
    cfg: SyncConfig | None = None,
    page_size: int = 20_000,
    resume: bool = False,
) -> tuple[list[TableReport], object]:
    """DB→DB migration — the reference's actual job
    (root.go:375-507): plan partitions from the source PK, read each
    table through partitioned JDBC, batch-write to the destination,
    then checksum-verify both sides.

    Plan selection per table (plans/partitioning.choose_plan):
    - numeric leading PK → range partitions on it from one
      COUNT/MIN/MAX aggregate PUSHED DOWN to the source (a 1-row
      result, not a scan into Spark);
    - any other PK (or an empty table) → lexicographic boundary
      predicates from a bounded PK sample (``sample_boundaries``),
      sized by the probe's count, so the sample is the only scan the
      tier reads into Spark (none for a table of at most one page);
    - no PK → single full-scan partition.

    PK identifiers inside generated SQL are quoted with the source
    dialect's ``src.ident_quote`` ('"' for Derby/ANSI, '`' for MySQL).

    Scale note: this is the same per-table core as migrate_directory
    with JDBC endpoints; numPartitions bounds per-table connection
    concurrency exactly like the reference's channel semaphore
    (root.go:104-147). Verification re-reads the destination through
    JDBC — at the reference's thousands-of-tables regime each verify
    job overlaps other tables' copies via the thread pool.
    """
    from .plans.partitioning import choose_plan, plan_table, sample_boundaries
    from .sources.jdbc import read_table
    from .sources.sinks import write_jdbc

    cfg = cfg or SyncConfig()
    q = src.ident_quote

    def build_plan(t: str):
        pk = pk_map[t]
        stats = None
        # Tier 1's probe: one COUNT/MIN/MAX on pk[0] pushed down to the
        # source (measured: lineitem plan phase 1.31 s → ~0.1 s against
        # boundary sampling). The probe itself can fail on the PK's SQL
        # type (Derby refuses MIN on CLOB), which only means this FAST
        # path is unavailable, not that the table can't be paged.
        if pk:
            # aliases quoted: unquoted identifiers are upcased by ANSI
            # databases. The table name itself stays unquoted on purpose
            # — Spark's own dbtable path interpolates it raw, so quoting
            # here would resolve to a DIFFERENT (case-sensitive)
            # identifier than every other scan of the same table;
            # _check_ident guards injection.
            probe = (
                f'SELECT COUNT(*) AS {q}c{q}, MIN({q}{pk[0]}{q}) AS {q}lo{q}, '
                f'MAX({q}{pk[0]}{q}) AS {q}hi{q} FROM {t}'
            )
            try:
                stats = tuple(read_table(spark, src, t, custom_sql=probe).collect()[0])
            except Exception:  # noqa: BLE001 — degrade to tier 2
                pass
        return choose_plan(
            t, pk, page_size, cfg.max_parallel, stats,
            lambda n: sample_boundaries(read_table(spark, src, t).select(*pk), pk, page_size, n),
            quote=q,
        )

    def single_scan(t: str, plan):
        # a partitioned read can fail only at EXECUTION time (e.g. the
        # dialect can't compare the PK type inside boundary predicates
        # — Derby CLOB). truncate=True makes the retry idempotent;
        # degrade to one full scan rather than failing the table.
        if plan.mode == "single":
            return None
        return plan_table(t, [], page_size, cfg.max_parallel)

    def read_dest(t: str, plan, schema):
        # Verify-read plan (r18): the writer-created dest table has no
        # PK index, so EVERY partitioned verify read pays one full dest
        # scan per partition server-side — which is why the r14-era
        # 30-partition verify measured SLOWER than the single
        # connection (2.4 s → 2.8 s, 30× the dest I/O). But the
        # single-connection read serializes the expensive part —
        # per-row JDBC materialization + the row-digest md5 — on one
        # core. A SMALL range fan-out is the sweet spot: k partitions
        # cost k cheap page-cached server scans and buy k-way parallel
        # conversion+digest. k=4 measured 2.9 s → ~1.1 s on the bench
        # lineitem verify; only applied when the copy plan was
        # range-mode and actually multi-page (small tables keep the
        # single connection). ``schema`` is unused: JDBC resolves the
        # dest schema without a Spark job.
        vplan = None
        if plan is not None and plan.mode == "range" and plan.num_partitions > 1:
            vplan = replace(plan, num_partitions=min(4, plan.num_partitions))
        return read_table(spark, dest, t, plan=vplan)

    def write(observed, t: str) -> None:
        write_jdbc(
            observed,
            dest,
            t,
            batch_row_size=cfg.batch_row_size,
            truncate=True,
            max_parallel=cfg.max_parallel,
        )

    path = _Path(
        read=lambda t, plan: read_table(spark, src, t, plan=plan),
        write=write,
        dest=read_dest,
        plan=build_plan,
        fallback=single_scan,
        check=_check_ident,
    )
    return _migrate(spark, pk_map, cfg, resume, path)
