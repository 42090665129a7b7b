"""Seeded migrate + query benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 15 --trace 0

One run: build the seeded inputs (untimed), start a Spark session pinned
to half this machine's cores, run ``WARMUP_PASSES`` untimed warm-up
passes, then run passes of the workload closed-loop, one client, until
``--seconds`` have passed and at least ``MIN_PASSES`` passes ran; then
check every output independently and print one JSON object as the last
line of stdout. Every time reported is net of the CPU time the host
stole from this VM while it ran (see ``host``).

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` interleaves untraced and traced passes and reports the
per-layer metrics, the tracing overhead, and writes the spans to
``.perfbench_work/out/``. Details of every run (inputs, machine stamp,
sample counts, per-layer self times) go to stderr and to that folder.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "table_s_p50": "s",
    "table_s_p95": "s",
    "compare_s": "s",
    "mix_s": "s",
    "space_amp": "ratio",
    "retained_mb": "MB",
}

#: untimed passes before the measured ones: the cold first pass, then
#: one more, because the JIT is still compiling through the second pass
#: (a ``migrate`` pass: 13.4 s cold, 7.3 s, 6.7 s, 6.0 s, then 5.6-6.1 s)
WARMUP_PASSES = 2
#: measured passes at least, whatever ``--seconds`` says; every metric
#: is a median over them
MIN_PASSES = 2


def machine_stamp() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(ram / 2**30, 1),
        "python": sys.version.split()[0],
    }


def pin_environment(run_dir: str) -> dict:
    """Pin the engine to this box with its existing knobs, and keep
    every scratch file of Spark, Derby and the JVM inside the checkout.

    Spark gets half the cores: on a shared 4-vCPU host the parallel
    capacity a run gets swings from run to run, and with all four
    cores the query_mix pass wall spread 0.50 (IQR/median, 5 runs)
    against 0.11 with two, at the same median."""
    stamp = machine_stamp()
    stamp["spark_cores"] = max(1, stamp["nproc"] // 2)
    mem_gib = max(1, min(4, int(stamp["ram_gib"]) // 4))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(stamp["spark_cores"]),
        "SPARK_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it to /tmp regardless
        "JDK_JAVA_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={run_dir}/derby.log"
            f" -XX:-UsePerfData"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    stamp["driver_mem"] = f"{mem_gib}g"
    return stamp


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def teardown(spark) -> None:
    """Between passes, untimed: drop the caches a pass left and collect
    garbage, so no pass pays for its predecessor's collection."""
    import gc

    from mysqldatasynctool_spark.operators import teardown_caches

    spark.catalog.clearCache()
    teardown_caches()
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mysqldatasynctool_spark")):
        print("perfbench: engine sources (mysqldatasynctool_spark/) not found "
              f"next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, metrics, stats, workloads
    from perfbench.trace import Tracer, heap_after_gc_mb, install, storage_after_gc_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir, out_dir = os.path.join(WORK, "run"), os.path.join(WORK, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(out_dir, exist_ok=True)
    stamp = pin_environment(run_dir)
    cores = stamp["spark_cores"]
    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir, stamp["nproc"])

    spark = None
    try:
        t0 = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t0

        from mysqldatasynctool_spark import session

        t_sess = time.time()
        watch = host.Stopwatch()
        spark = session.get_spark(app_name="perfbench")
        session_iv = watch.read()
        session_s = session_iv.wall_s
        import pyspark

        stamp["pyspark"] = pyspark.__version__
        stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

        t0 = time.perf_counter()
        wl.seed_spark_inputs(spark)
        inputs_s += time.perf_counter() - t0

        watch = host.Stopwatch()
        warm_walls, attempted, failed = [], 0, 0
        for idx in range(WARMUP_PASSES):
            warm = wl.one_pass(spark, idx)
            attempted += warm.attempted
            failed += warm.failed
            warm_walls.append(warm.wall_s)
            teardown(spark)
        warmup_iv = watch.read()
        heap_setup_mb = heap_after_gc_mb(spark) if args.trace else None

        tracer = Tracer(sc=spark.sparkContext)
        if args.trace:
            install(tracer)
            tracer.spans.append({
                "id": 0, "name": "session.get_spark", "layer": "session", "tag": "",
                "call": "setup", "parent": None, "thread": 0,
                "start": t_sess, "end": t_sess + session_s,
            })

        passes, traced, measured = [], [], []
        t_window = time.perf_counter()
        idx = WARMUP_PASSES
        while True:
            # traced runs alternate untraced and traced passes and end on
            # an untraced one, so a steady warming trend cancels out of
            # the tracing overhead
            tracer.active = bool(args.trace) and len(passes) > len(traced)
            mark = (len(tracer.spans), len(tracer.groups), len(tracer.notes))
            if tracer.active:
                untagged = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
            res = wl.one_pass(spark, idx, tracer)
            measured.append(res)
            attempted += res.attempted
            failed += res.failed
            if tracer.active:
                tracer.active = False
                traced.append(metrics.capture_traced_pass(tracer, idx, res, mark, cores, untagged))
            else:
                passes.append(res)
            teardown(spark)
            idx += 1
            elapsed = time.perf_counter() - t_window
            # a traced run ends on an untraced pass, after at least three
            done = len(passes) >= MIN_PASSES and (not args.trace or len(passes) > len(traced))
            if elapsed >= args.seconds and done:
                break
        window_s = time.perf_counter() - t_window
        retained_mb = heap_after_gc_mb(spark)
        storage_mb = storage_after_gc_mb(spark) if args.trace else None

        t0 = time.perf_counter()
        checked, bad = wl.check(spark)
        check_s = time.perf_counter() - t0
        attempted += checked
        failed += len(bad)

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "machine": stamp,
            "inputs": wl.record,
            "inputs_s": inputs_s,
            "session_s": session_s,
            "warmup_s": warmup_iv.wall_s,
            "setup_steal_share": [session_iv.steal_share, warmup_iv.steal_share],
            "warmup_pass_walls_s": warm_walls,
            "pass_walls_raw_s": [p.wall_raw_s for p in measured],
            "pass_steal_share": [p.steal_share for p in measured],
            "window_s": window_s,
            "check_s": check_s,
            "passes": len(passes),
            "traced_passes": len(traced),
            "check_failures": bad,
            "retained_mb": retained_mb,
            "fail_ratio": stats.fail_ratio(attempted, failed),
        }
        correct = failed == 0
        if args.trace:
            out, extra = metrics.per_layer(
                traced, passes,
                session_s=session_s, heap_setup_mb=heap_setup_mb, storage_mb=storage_mb,
            )
            detail.update(extra)
            correct = (
                correct
                and extra["span_check_max_dev_s"] <= metrics.SPAN_TOLERANCE_S
                and not extra["attribution_misses"]
            )
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s) + "\n")
        else:
            out, extra = metrics.end_to_end(passes, session_iv.seconds + warmup_iv.seconds, retained_mb)
            detail.update(extra)
        with open(os.path.join(out_dir, f"detail-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(json.dumps(detail, default=str), file=sys.stderr)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = END_TO_END if not args.trace else metrics.PER_LAYER_UNITS
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": out[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
