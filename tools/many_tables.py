"""Many-tables check: `migrate_directory` over N tiny seeded tables,
the reference's regime (thousands of small tables, maxParallel
root.go:104-147), where a call's cost is per-job overhead, not rows.

Usage:
    python tools/many_tables.py --tables 200 --seed 1

Seeds N parquet tables under a fresh /tmp directory with pyarrow (2-6
columns of int/double/string, a few hundred rows each), runs
`migrate_directory` once to warm up and once timed with `SyncConfig`'s
defaults, then times a compareDb (`load` of every source and
destination table, `compare_tables`, verdict collect) and prints one
JSON line: `tables`, `wall_s`, `jobs_per_table`, `compare_s`,
`compare_jobs`, `failed`. Jobs are counted as the id gap between two
tagged probe jobs around each timed call (job ids are global and
monotonic; the per-table pool threads carry no job group), so the
count also covers the verdict collect, which runs none (the verdict
is a local relation). It is evidence, not a benchmark:
one run, no steal correction.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysqldatasynctool_spark.catalog import discover_parquet_tables  # noqa: E402
from mysqldatasynctool_spark.migrate import migrate_directory  # noqa: E402
from mysqldatasynctool_spark.operators.compare import compare_tables  # noqa: E402
from mysqldatasynctool_spark.session import get_spark  # noqa: E402
from mysqldatasynctool_spark.sources.fixtures import load  # noqa: E402


def seed_tables(root: str, n: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    for i in range(n):
        rows = rng.randint(200, 500)
        cols = {"id": pa.array(range(rows), pa.int64())}
        for c in range(rng.randint(1, 5)):
            kind = rng.choice(("int", "double", "string"))
            if kind == "int":
                vals = pa.array([rng.randint(-10**6, 10**6) for _ in range(rows)], pa.int64())
            elif kind == "double":
                vals = pa.array(
                    [round(rng.uniform(-1e4, 1e4), 2) for _ in range(rows)], pa.float64()
                )
            else:
                vals = pa.array([f"v{rng.randint(0, 10**6)}" for _ in range(rows)], pa.string())
            cols[f"c{c}_{kind}"] = vals
        pq.write_table(pa.table(cols), f"{root}/t{i:05d}.parquet")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tables", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    spark = get_spark(app_name="many_tables")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def probe() -> int:
        tag = f"probe_{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            spark.range(1).collect()
        finally:
            sc._jsc.clearJobGroup()
        return max(sc.statusTracker().getJobIdsForGroup(tag))

    root = tempfile.mkdtemp(prefix="many_tables_", dir="/tmp")
    try:
        src = f"{root}/src"
        os.makedirs(src)
        seed_tables(src, args.tables, args.seed)
        migrate_directory(spark, src, f"{root}/warm")[1].collect()
        before = probe()
        t0 = time.monotonic()
        reports, verdict = migrate_directory(spark, src, f"{root}/dest")
        bad = sum(r.is_ok != "YES" for r in verdict.collect())
        wall = time.monotonic() - t0
        jobs = probe() - before - 1
        names = discover_parquet_tables(src)
        before = probe()
        t0 = time.monotonic()
        verdict = compare_tables(
            spark,
            {t: load(spark, src, t) for t in names},
            {t: load(spark, f"{root}/dest", t) for t in names},
        )
        bad += sum(r.is_ok != "YES" for r in verdict.collect())
        compare_s = time.monotonic() - t0
        compare_jobs = probe() - before - 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "tables": args.tables,
        "wall_s": round(wall, 3),
        "jobs_per_table": round(jobs / args.tables, 3),
        "compare_s": round(compare_s, 3),
        "compare_jobs": compare_jobs,
        "failed": sum(not r.ok for r in reports) + bad,
    }))


if __name__ == "__main__":
    main()
