"""CLI — command-for-command parity with the reference's cobra
surface (/root/reference/cmd/root.go:630-672, compare.go:19-27,
create.go:17-30, version.go:14-26):

    python -m mysqldatasynctool_spark migrate    --config cfg.yml
    python -m mysqldatasynctool_spark compareDb  --config cfg.yml
    python -m mysqldatasynctool_spark createTable --src-dir DIR [-t]
    python -m mysqldatasynctool_spark version

The endpoints pick the engine path, never the verb (``_endpoints``):
with ``--src-dir/--dest-dir``, migrate and compareDb run against
parquet directories; otherwise they drive sources/jdbc.py +
sources/sinks.py between the config's ``src``/``dest`` databases,
either side overridable by ``--src-url``/``--dest-url`` (a MySQL
endpoint needs the Connector/J jar on the classpath). createTable
reads parquet schemas from ``--src-dir``.

The run report mirrors the reference's gotable summary
(Object/BeginTime/EndTime/FailedTotal/ElapsedTime, root.go:161-207).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from . import __version__
from .catalog import FIXTURE_PRIMARY_KEYS, discover_parquet_tables, exclude_tables
from .config import SyncConfig, load_config
from .ddl import create_table_sql, replication_statements
from .migrate import migrate_directory
from .operators.compare import compare_tables
from .session import get_spark
from .sources.fixtures import load


def _print_report(title: str, rows: list[tuple], headers: tuple[str, ...]) -> None:
    widths = [
        max(len(str(h)), *(len(str(r[i])) for r in rows)) if rows else len(str(h))
        for i, h in enumerate(headers)
    ]
    line = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    print(f"\n{title}")
    print(line)
    print("|" + "|".join(f" {str(h).ljust(w)} " for h, w in zip(headers, widths)) + "|")
    print(line)
    for r in rows:
        print("|" + "|".join(f" {str(c).ljust(w)} " for c, w in zip(r, widths)) + "|")
    print(line)


def _report_and_exit(reports, verdict, t0: float) -> int:
    """migrate's run-report tail (the reference's
    gotable summary + verification verdict + failed-object count)."""
    rows = [
        (r.table, r.rows, f"{r.elapsed_s:.3f}s", "OK" if r.ok else f"FAILED: {r.error}")
        for r in reports
    ]
    _print_report("TableData", rows, ("Object", "Rows", "Elapsed", "Result"))
    verdict_rows = [tuple(r) for r in verdict.collect()]
    _print_report(
        "Verification (count + checksum)",
        verdict_rows,
        tuple(verdict.columns),
    )
    failed = sum(1 for r in reports if not r.ok) + sum(
        1 for r in verdict_rows if r[-1] != "YES"
    )
    print(f"\nfinish elapsed time: {time.monotonic() - t0:.3f}s, failed objects: {failed}")
    return 1 if failed else 0


def _endpoints(p: argparse.ArgumentParser, args) -> tuple:
    """The one rule for which engine path ``migrate`` and ``compareDb``
    take: the endpoints pick it, never the verb.

    - ``--src-dir`` given: parquet directories; ``--dest-dir`` is then
      required;
    - otherwise JDBC: each side from ``--src-url``/``--dest-url``,
      falling back to the config's ``src``/``dest``. Without a config
      both URLs are required, so no run ever dials the
      ``localhost:3306`` default of an unnamed side.

    A flag of the other mode is refused, never silently ignored.
    Returns (cfg, src, dest): directory paths or JDBC Endpoints.
    """
    from .config import Endpoint

    cfg = load_config(args.config) if args.config else SyncConfig()
    cmd = args.command
    jdbc_only = [
        flag
        for flag, given in (
            ("--src-url", args.src_url),
            ("--dest-url", args.dest_url),
            ("--pk-map", getattr(args, "pk_map", None)),
            ("--tables", getattr(args, "tables", None)),
        )
        if given
    ]
    if args.src_dir:
        if jdbc_only:
            p.error(f"{cmd}: {jdbc_only[0]} is for JDBC endpoints, not --src-dir")
        if not args.dest_dir:
            p.error(f"{cmd}: --src-dir needs --dest-dir")
        return cfg, args.src_dir, args.dest_dir
    if args.dest_dir:
        p.error(f"{cmd}: --dest-dir needs --src-dir")
    if getattr(args, "versioned", False):
        p.error(f"{cmd}: --versioned writes parquet snapshots; it needs --src-dir")
    missing = [f for f, url in (("--src-url", args.src_url), ("--dest-url", args.dest_url)) if not url]
    if missing and not args.config:
        p.error(
            f"{cmd}: {' and '.join(missing)} required without --config "
            "(or --src-dir/--dest-dir for parquet directories); "
            "refusing the localhost default"
        )
    src, dest = (
        Endpoint(url_override=url, driver=args.driver) if url else side
        for url, side in ((args.src_url, cfg.src), (args.dest_url, cfg.dest))
    )
    return cfg, src, dest


def _parse_pk_map(spec: str) -> dict[str, list[str]]:
    """Parse ``orders=o_orderkey;lineitem=l_orderkey+l_linenumber``
    (``tbl=`` with no columns = no PK → full-scan plan)."""
    out: dict[str, list[str]] = {}
    for part in filter(None, (p.strip() for p in spec.split(";"))):
        table, _, cols = part.partition("=")
        out[table.strip()] = [c for c in cols.split("+") if c]
    return out


def _jdbc_tables(spark, args, src) -> dict[str, list[str]]:
    """The JDBC table set of both verbs before exclusion, table → PK
    columns: from ``--pk-map`` (migrate) or ``--tables`` (compareDb,
    PKs unused), else live information_schema discovery on the source
    (MySQL sources; databases without it, e.g. Derby, pass the flag)."""
    from .catalog import discover_jdbc_pks

    if getattr(args, "pk_map", None):
        return _parse_pk_map(args.pk_map)
    if getattr(args, "tables", None):
        return {t.strip(): [] for t in args.tables.split(",") if t.strip()}
    return discover_jdbc_pks(spark, src)


def cmd_migrate(args) -> int:
    """Copy the source into the destination, then verify — the
    reference's default command (root.go:58-208), between parquet
    directories or JDBC databases as ``_endpoints`` decides. JDBC PKs
    come from --pk-map, else from the source's information_schema."""
    from .migrate import migrate_jdbc

    spark = get_spark(app_name="migrate")
    t0 = time.monotonic()
    if args.src_dir:
        reports, verdict = migrate_directory(
            spark, args.src, args.dest, cfg=args.cfg, resume=args.resume, versioned=args.versioned
        )
    else:
        reports, verdict = migrate_jdbc(
            spark,
            args.src,
            args.dest,
            _jdbc_tables(spark, args, args.src),
            cfg=args.cfg,
            page_size=args.cfg.page_size,
            resume=args.resume,
        )
    return _report_and_exit(reports, verdict, t0)


def cmd_compare(args) -> int:
    """Count+checksum compare of every source table against the
    destination (compare.go:19-27), over the endpoints ``_endpoints``
    picked. Only a missing destination table reads DestIsExist=NO
    (compare.go:122-126); an unreadable one, or an auth/connectivity/
    driver failure, surfaces as an error."""
    spark = get_spark(app_name="compareDb")
    found = (
        discover_parquet_tables(args.src) if args.src_dir else _jdbc_tables(spark, args, args.src)
    )
    tables = exclude_tables(found, args.cfg.exclude)
    if args.src_dir:
        src = {t: load(spark, args.src, t) for t in tables}
        dest = {
            t: load(spark, args.dest, t)
            for t in tables
            if os.path.exists(os.path.join(args.dest, f"{t}.parquet"))
        }
    else:
        from .ddl import _is_missing_table_error
        from .migrate import _check_ident
        from .sources.jdbc import read_table

        for t in tables:
            _check_ident(t)
        src = {t: read_table(spark, args.src, t) for t in tables}
        dest = {}
        for t in tables:
            try:
                d = read_table(spark, args.dest, t)
                d.schema  # force resolution → missing table raises here
                dest[t] = d
            except Exception as exc:
                if not _is_missing_table_error(exc):
                    raise
    verdict = compare_tables(spark, src, dest)
    rows = [tuple(r) for r in verdict.collect()]
    _print_report("compareDb", rows, tuple(verdict.columns))
    bad = [r for r in rows if r[-1] != "YES"]
    if bad:
        _print_report("compareDb failed items", bad, tuple(verdict.columns))
    return 1 if bad else 0

def cmd_create_table(args) -> int:
    cfg = load_config(args.config) if args.config else SyncConfig()
    spark = get_spark(app_name="createTable")
    for t in exclude_tables(discover_parquet_tables(args.src_dir), cfg.exclude):
        schema = load(spark, args.src_dir, t).schema
        sql = create_table_sql(t, schema, primary_key=FIXTURE_PRIMARY_KEYS.get(t))
        if args.print_only:
            print(f"-- {t}")
            for stmt in replication_statements(t, sql):
                print(stmt + ";")
        else:
            print(
                f"-- {t}: no destination connection configured; statements:\n"
                + ";\n".join(replication_statements(t, sql))
            )
    return 0


def cmd_version(_args) -> int:
    print(f"mysqldatasynctool_spark {__version__} (PySpark-native engine)")
    return 0


def cmd_layout_probe(args) -> int:
    """Footer-only parquet layout preflight (no Spark session): prints
    the scan-parallelism report for each path — row groups are the
    atomic parquet read unit, so ``max_scan_tasks`` is the hard upper
    bound on how many tasks ANY cluster can fan the scan out to. Run
    this before sizing a job on an unfamiliar dataset; a ``bounded:
    true`` row means the layout (not the cluster) caps throughput."""
    import json as _json

    from .sources.files import parquet_scan_parallelism

    rc = 0
    for path in args.paths:
        try:
            rep = parquet_scan_parallelism(
                path,
                target_parallelism=args.target_parallelism,
                sample_files=args.sample_files,
            )
        except Exception as exc:  # noqa: BLE001 — per-path report
            # a corrupt/non-parquet file must cost its own error ROW
            # (pyarrow raises ArrowInvalid, not FileNotFoundError),
            # never the remaining paths or the JSON-per-line contract
            print(
                _json.dumps(
                    {"path": path, "error": f"{type(exc).__name__}: {exc}"}
                )
            )
            rc = 2
            continue
        print(_json.dumps({"path": path, **rep}))
    return rc


def cmd_query(args) -> int:
    """Run one registered analytic query by name — the CLI face of the
    full operator registry (``collect_registry()``), so the engine's
    query surface is
    reachable without writing Python (the reference has no analytic
    surface at all; this verb is pure value-add)."""
    from .operators import collect_registry
    from .session import get_spark

    queries, _ = collect_registry()
    if args.list:
        for name in sorted(queries):
            print(name)
        return 0
    if args.name not in queries:
        import difflib

        near = difflib.get_close_matches(args.name or "", queries, n=5)
        hint = f"; did you mean: {', '.join(near)}" if near else ""
        print(f"unknown query {args.name!r}{hint}", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"query:{args.name}")
    df = queries[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_plan_volume(args) -> int:
    """Measured plan-volume report for a registered query or ad-hoc
    SQL over the fixture tables: executes the plan once JVM-side (no
    driver materialization) and prints the executed-plan SQL metric
    sums — shuffle bytes written/read, spill, broadcast bytes, scan
    footprint, exchange counts. These are plan x data quantities (the
    same on a quiet or thrashing box): the numbers a user sizes a
    cluster's network/memory budget with BEFORE running at 100 TB.
    ``layoutProbe`` bounds the scan side; this verb prices everything
    after the scan."""
    import json as _json

    from .operators import collect_registry
    from .plans import executed_plan_metrics
    from .session import get_spark

    spark = get_spark(app_name="planVolume")
    if args.sql:
        from .sources.fixtures import load_all

        load_all(spark, args.sf_dir)  # registers the fixture views
        df = spark.sql(args.sql)
        label = "sql"
    else:
        queries, _ = collect_registry()
        if args.name not in queries:
            print(f"unknown query {args.name!r}", file=sys.stderr)
            return 2
        df = queries[args.name](spark, args.sf_dir)
        label = args.name
    df._jdf.queryExecution().toRdd().count()
    m = executed_plan_metrics(df)
    rep = {"query": label, **m}
    if args.project_to_bytes is not None:
        from .plans import size_report

        if m.get("scan_files_bytes", 0) <= 0:
            rep["projection_error"] = (
                "no measured scan_files_bytes to scale from (synthetic "
                "or fully-cached input) — projection skipped"
            )
        else:
            rep["sizing"] = size_report(
                m, m["scan_files_bytes"], args.project_to_bytes
            )
            if m.get("num_file_scans", 0) > 1:
                # scan_files_bytes sums per scan node — a self-joined
                # table read through multiple non-reused scans counts
                # its bytes once per node, inflating the denominator
                # and UNDERSTATING projected volume/partitions
                # (ADVICE r17). Reused scans don't double-count
                # (ReusedExchange is skipped by the walker).
                rep["sizing"]["scan_accounting_note"] = (
                    f"measured corpus bytes summed over "
                    f"{m['num_file_scans']} file-scan nodes; a table "
                    "scanned by multiple non-reused nodes counts per "
                    "node, so the projection is a lower bound"
                )
    print(_json.dumps(rep))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mysqldatasynctool_spark")
    sub = p.add_subparsers(dest="command", required=True)

    common = {
        "--config": dict(default=None, help="reference-format YAML config"),
        "--src-dir": dict(default=None, help="source parquet dir (directory mode)"),
        "--dest-dir": dict(default=None, help="dest parquet dir (directory mode)"),
    }
    jdbc = {
        "--src-url": dict(default=None, help="source JDBC URL (else config src)"),
        "--dest-url": dict(default=None, help="dest JDBC URL (else config dest)"),
        "--driver": dict(
            default="com.mysql.cj.jdbc.Driver",
            help="JDBC driver class for --src-url/--dest-url",
        ),
    }

    pm = sub.add_parser(
        "migrate",
        help="copy + verify the source into the destination (the "
        "reference's default command): parquet dirs with --src-dir, "
        "else JDBC from --config/--src-url/--dest-url",
    )
    pm.add_argument(
        "--resume",
        action="store_true",
        help="skip tables whose destination already checksum-matches",
    )
    pm.add_argument(
        "--versioned",
        action="store_true",
        help="write each table as a new immutable snapshot version "
        "(atomic manifest publish; time travel + rollback; --src-dir only)",
    )
    pm.add_argument(
        "--pk-map",
        default=None,
        help="JDBC PKs: 'orders=o_orderkey;lineitem=l_orderkey+l_linenumber'"
        " (omit to discover from the source's information_schema)",
    )

    pc = sub.add_parser("compareDb", help="count+checksum compare of src vs dest")
    pc.add_argument(
        "--tables",
        default=None,
        help="comma-separated JDBC table list (omit to discover "
        "from the source's information_schema)",
    )
    pt = sub.add_parser("createTable", help="emit DDL replication statements")
    pt.add_argument("-t", "--print-only", action="store_true", help="DDL only (reference -t)")
    pq = sub.add_parser(
        "query", help="run a registered analytic query by name"
    )
    pq.add_argument("name", nargs="?", help="query name (see --list)")
    pq.add_argument("--list", action="store_true", help="list registered queries")
    pq.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="fixture/source dir"
    )
    pq.add_argument("--out", default=None, help="write result parquet here instead of showing")
    pq.add_argument("--limit", type=int, default=20, help="rows to show without --out")
    pl = sub.add_parser(
        "layoutProbe",
        help="footer-only parquet scan-parallelism preflight "
        "(row groups bound scan tasks; no Spark session)",
    )
    pl.add_argument("paths", nargs="+", help="parquet file(s) or dir(s)")
    pl.add_argument(
        "--target-parallelism",
        type=int,
        default=32,
        help="tasks the job would like to run; 'bounded' flags layouts "
        "that cannot feed it",
    )
    pl.add_argument(
        "--sample-files",
        type=int,
        default=None,
        help="probe at most N evenly-spaced files' footers on huge "
        "trees and extrapolate (exact below N; keeps the preflight a "
        "preflight at 100k+ files)",
    )
    pv = sub.add_parser(
        "planVolume",
        help="measured plan-volume report (shuffle/spill/broadcast "
        "bytes from the executed plan) for a registered query or "
        "ad-hoc SQL",
    )
    pv.add_argument("name", nargs="?", help="registered query name")
    pv.add_argument(
        "--sql", default=None, help="ad-hoc SQL over the fixture views "
        "(instead of NAME)"
    )
    pv.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="dataset dir"
    )
    pv.add_argument(
        "--project-to-bytes",
        type=float,
        default=None,
        help="also project the measured volume to a corpus of this "
        "many bytes (e.g. 1e14 for 100 TB) and recommend "
        "spark.sql.shuffle.partitions for it",
    )
    sub.add_parser("version", help="print version")

    for sp in (pm, pc, pt):
        for flag, kw in common.items():
            sp.add_argument(flag, **kw)
    for sp in (pm, pc):
        for flag, kw in jdbc.items():
            sp.add_argument(flag, **kw)

    args = p.parse_args(argv)
    if getattr(args, "config", None):
        import os.path

        if not os.path.isfile(args.config):
            p.error(f"config file not found: {args.config}")
    if args.command in ("migrate", "compareDb"):
        args.cfg, args.src, args.dest = _endpoints(p, args)
    if args.command == "createTable" and not args.src_dir:
        p.error("createTable: --src-dir is required (it reads parquet schemas)")
    if args.command == "query" and not (args.list or args.name):
        p.error("query: give a NAME or --list")
    if args.command == "planVolume" and not (args.sql or args.name):
        p.error("planVolume: give a NAME or --sql")
    if (
        args.command == "planVolume"
        and args.project_to_bytes is not None
        and args.project_to_bytes <= 0
    ):
        p.error("planVolume: --project-to-bytes must be positive")
    return {
        "migrate": cmd_migrate,
        "compareDb": cmd_compare,
        "createTable": cmd_create_table,
        "query": cmd_query,
        "planVolume": cmd_plan_volume,
        "layoutProbe": cmd_layout_probe,
        "version": cmd_version,
    }[args.command](args)


if __name__ == "__main__":
    sys.exit(main())
