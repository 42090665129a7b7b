"""Optimization harness: isolate + time named registry queries with the
noop sink (guide §1.4) and dump their formatted plans (guide §7.2).

Usage:
    python tools/measure.py time q1_pricing_summary dedup_minhash_lsh ...
    python tools/measure.py plan --out-dir plans/r20 before q1_pricing_summary ...
    python tools/measure.py plan --out-dir plans/r20 after  q1_pricing_summary ...

`time` times each query with bench.py's own loop (`bench.time_entry`:
cache hygiene, probes, burst-filtered median) in cold-steady mode: run
0 is `cold`, `steady` is the median of the kept later runs, and `runs`
lists them all. `plan <tag>` writes <out-dir>/<name>_<tag>.txt with
explain("formatted") — the committed evidence an optimization round's
claims are checked against. The name HEADLINE stands for bench.py's
headline queries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mysqldatasynctool_spark.operators import (  # noqa: E402
    collect_registry,
    reset_trained_state,
    teardown_caches,
)
from mysqldatasynctool_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    pt = sub.add_parser("time", help="time each query with the noop sink")
    pt.add_argument("names", nargs="+")
    pp = sub.add_parser("plan", help="write each query's formatted plan")
    pp.add_argument("--out-dir", required=True, help="directory the plan files go to")
    pp.add_argument("tag", help="file-name suffix, e.g. before / after")
    pp.add_argument("names", nargs="+")
    return ap.parse_args()


def main() -> None:
    args = _args()
    spark = get_spark(app_name="measure")
    queries, _ = collect_registry()
    names = args.names
    if names == ["HEADLINE"]:
        names = [n for n in bench.HEADLINE if n in queries]
    if args.mode == "plan":
        os.makedirs(args.out_dir, exist_ok=True)
    out = {}
    for name in names:
        fn = queries[name]
        if args.mode == "time":
            spark.sparkContext.setJobDescription(f"measure:{name}")
            res = bench.time_entry(
                name,
                lambda: fn(spark, SF_DIR).write.mode("overwrite").format("noop").save(),
                spark,
                cold_steady=True,
            )
            out[name] = (
                {"failed": res["failed"]}
                if "failed" in res
                else {"cold": res["cold"], "steady": res["wall"], "runs": res["runs"]}
            )
            print(f"{name}: {out[name]}", flush=True)
            continue
        spark.catalog.clearCache()
        teardown_caches()
        reset_trained_state()
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    if args.mode == "time":
        print("MEASURE: " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
