"""The two closed-loop workloads. Each has

- ``make_inputs()``: seeded inputs that need no Spark (untimed);
- ``seed_spark_inputs(spark)``: inputs that go through Spark (untimed);
- ``one_pass(spark, idx, tracer)``: one timed pass through the public
  entry points, returning a ``PassResult``;
- ``check(spark)``: the independent output checks (untimed).
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from . import checks, host, inputs
from .trace import job_stats


@dataclass
class PassResult:
    """One pass. Its times are wall times net of host steal (see
    ``host``); ``wall_raw_s`` and ``steal_share`` are the pass's own."""

    wall_s: float
    #: rows read from the source by the pass's main calls
    rows: int
    #: wall of those calls (the rows_per_s denominator)
    call_s: float
    compare_s: float
    #: per-object seconds (table, or query for query_mix)
    objects: list = field(default_factory=list)
    space_amp: float = 0.0
    attempted: int = 0
    failed: int = 0
    #: migrate TableReports (per-layer phase split)
    reports: list = field(default_factory=list)
    #: table -> id of the migrate call that copied it
    table_calls: dict = field(default_factory=dict)
    #: seconds of each call in the pass
    calls: dict = field(default_factory=dict)
    wall_raw_s: float = 0.0
    steal_share: float = 0.0


def _span(tracer, layer, name, **kw):
    return tracer.span(layer, name, **kw) if tracer is not None and tracer.active else nullcontext()


def _dir_bytes(path: str) -> int:
    return inputs._dir_bytes(path) if os.path.exists(path) else 0


DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


class Migrate:
    """One pass: ``migrate_directory`` over a few bulk tables, compareDb
    (``compare_tables``) over their source and destination,
    ``migrate_directory`` over many small tables, and ``migrate_jdbc``
    Derby to Derby with one table per plan tier."""

    name = "migrate"

    def __init__(self, seed: int, work: str, cores: int):
        self.spec = inputs.migrate_spec(seed)
        self.work = work
        self.cores = cores
        self.dirs = {k: f"{work}/{k}" for k in ("bulk_src", "bulk_dest", "many_src", "many_dest", "stage")}
        self.record: dict = {}

    def make_inputs(self) -> None:
        rec = inputs.write_migrate_sources(self.spec, self.dirs["bulk_src"], self.dirs["many_src"])
        self.record.update(rec)

    def seed_spark_inputs(self, spark) -> None:
        from mysqldatasynctool_spark.config import Endpoint, SyncConfig

        self.src, self.dest = (
            Endpoint(url_override=f"jdbc:derby:{self.work}/{side};create=true", driver=DERBY_DRIVER)
            for side in ("derby_src", "derby_dest")
        )
        self.cfg = SyncConfig(max_parallel=self.cores)
        self.record["jdbc"] = inputs.load_jdbc_source(spark, self.spec, self.src, self.dirs["stage"])
        self.record["jdbc"]["bytes"] = _dir_bytes(f"{self.work}/derby_src/seg0")

    def one_pass(self, spark, idx: int, tracer=None) -> PassResult:
        from mysqldatasynctool_spark import migrate
        from mysqldatasynctool_spark.operators import compare

        d = self.dirs
        res = PassResult(wall_s=0.0, rows=0, call_s=0.0, compare_s=0.0)

        def timed(kind, layer, name, run):
            if tracer is not None:
                tracer.call = f"p{idx}.{kind}"
            with _span(tracer, layer, name, tag=kind):
                watch = host.Stopwatch()
                first, verdict_df = run()
                # the call returns a lazy verdict; collecting it is part
                # of the call (for compareDb it is all of the work)
                verdict = verdict_df.collect()
                iv = watch.read()
                res.calls[kind] = iv.seconds
                return first, verdict, iv

        def migrate_call(kind, run):
            reports, verdict, iv = timed(kind, "migrate", "migrate.call", run)
            res.reports += reports
            # a table ran inside its call: net of the call's steal share
            res.objects += [(r.table, r.elapsed_s * (1.0 - iv.steal_share)) for r in reports]
            res.table_calls.update((r.table, f"p{idx}.{kind}") for r in reports)
            res.attempted += len(reports)
            # failed tables, verdicts other than YES, and verified
            # tables missing from the verdict
            res.failed += (
                sum(not r.ok for r in reports)
                + sum(v.is_ok != "YES" for v in verdict)
                + sum(r.ok for r in reports) - len(verdict)
            )

        def compare_db():
            names = sorted(f[: -len(".parquet")] for f in os.listdir(d["bulk_src"]))
            src = {t: spark.read.parquet(f"{d['bulk_src']}/{t}.parquet") for t in names}
            dest = {t: spark.read.parquet(f"{d['bulk_dest']}/{t}.parquet") for t in names}
            return names, compare.compare_tables(spark, src, dest)

        watch = host.Stopwatch()
        migrate_call("bulk", lambda: migrate.migrate_directory(spark, d["bulk_src"], d["bulk_dest"], self.cfg))
        names, verdict, _iv = timed("compare", "compare", "compare.compareDb", compare_db)
        res.attempted += len(names)
        res.failed += sum(v.is_ok != "YES" for v in verdict) + len(names) - len(verdict)
        migrate_call("many", lambda: migrate.migrate_directory(spark, d["many_src"], d["many_dest"], self.cfg))
        pk_map = {t: pk for t, (pk, _types) in inputs.JDBC_TABLES.items()}
        migrate_call(
            "jdbc", lambda: migrate.migrate_jdbc(spark, self.src, self.dest, pk_map, self.cfg, page_size=1_250)
        )
        iv = watch.read()
        res.wall_s, res.wall_raw_s, res.steal_share = iv.seconds, iv.wall_s, iv.steal_share
        if tracer is not None:
            tracer.call = None

        res.compare_s = res.calls["compare"]
        res.call_s = sum(v for k, v in res.calls.items() if k != "compare")
        res.rows = sum(r.rows for r in res.reports if r.ok)
        src_bytes = sum(self.record[k]["bytes"] for k in ("bulk", "many", "jdbc"))
        dest_bytes = (
            _dir_bytes(d["bulk_dest"]) + _dir_bytes(d["many_dest"])
            + _dir_bytes(f"{self.work}/derby_dest/seg0")
        )
        res.space_amp = dest_bytes / src_bytes
        return res

    def check(self, spark) -> tuple[int, list[str]]:
        """(objects checked, names that failed)."""
        bad = checks.check_parquet_copies(self.dirs["bulk_src"], self.dirs["bulk_dest"])
        bad += checks.check_parquet_copies(self.dirs["many_src"], self.dirs["many_dest"])
        bad += checks.check_jdbc_copies(spark, self.src, self.dest, list(inputs.JDBC_TABLES))
        n = len(self.spec.bulk_rows) + len(self.spec.many_rows) + len(inputs.JDBC_TABLES)
        return n, bad


#: the registry entries one query_mix pass runs (order set by the seed)
MIX_QUERIES = (
    "q1_pricing_summary",
    "migration_compare_checksums",
    "migration_row_diff",
    "events_sessionization",
    "graph_pagerank_purchases",
)

#: the mix's compareDb-style entries (their walls are query_mix's compare_s)
MIX_COMPARE = ("migration_compare_checksums", "migration_row_diff")


class QueryMix:
    """One pass: build each registry query with ``queries()[name]`` and
    collect its rows, in the seed's order. Every pass, the warm-up too,
    does the same, so the warm-up warms exactly the timed path; ``check``
    compares the rows of every pass with the oracles, so the outputs
    checked are the outputs timed."""

    name = "query_mix"

    def __init__(self, seed: int, work: str, cores: int):
        self.order = [MIX_QUERIES[i] for i in np.random.default_rng([seed, 3]).permutation(len(MIX_QUERIES))]
        self.sf_dir = f"{work}/fixtures"
        self.record: dict = {"order": self.order}
        self.results: dict = {}

    def make_inputs(self) -> None:
        self.record["fixtures"] = inputs.write_fixtures(self.sf_dir)

    def seed_spark_inputs(self, spark) -> None:
        from mysqldatasynctool_spark.operators import collect_registry

        self.queries, self.oracles = collect_registry()

    def one_pass(self, spark, idx: int, tracer=None) -> PassResult:
        sc = spark.sparkContext
        traced = tracer is not None and tracer.active
        group = f"pass|{idx}"
        if not traced:
            sc.setJobGroup(group, group)
        walls, failed = {}, 0
        watch = host.Stopwatch()
        for q in self.order:
            call = f"p{idx}.{q}"
            q_watch = host.Stopwatch()
            try:
                with _span(tracer, "operators", "operators.build", tag=q, call=call):
                    df = self.queries[q](spark, self.sf_dir)
                with _span(tracer, "operators", "operators.run", tag=q, call=call):
                    self.results.setdefault(idx, {})[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 — counted, the mix goes on
                failed += 1
            walls[q] = q_watch.read().seconds
        iv = watch.read()
        rows, space = 0, 0.0
        if not traced:
            sc._jsc.clearJobGroup()
            jobs = job_stats(sc, [group])[group]
            rows = sum(j["input_rows"] for j in jobs)
            in_bytes = sum(j["input_bytes"] for j in jobs)
            written = sum(j["shuffle_write_bytes"] + j["spill_disk_bytes"] for j in jobs)
            space = written / max(1, in_bytes)
        return PassResult(
            wall_s=iv.seconds,
            rows=rows,
            call_s=iv.seconds,
            compare_s=sum(walls[q] for q in MIX_COMPARE),
            objects=list(walls.items()),
            space_amp=space,
            attempted=len(self.order),
            failed=failed,
            wall_raw_s=iv.wall_s,
            steal_share=iv.steal_share,
        )

    def check(self, spark) -> tuple[int, list[str]]:
        bad = checks.check_results(self.results, self.oracles, self.order, self.sf_dir)
        return len(self.order) * len(self.results), bad


WORKLOADS = {w.name: w for w in (Migrate, QueryMix)}
