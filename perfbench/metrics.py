"""Turn measured passes into the metrics BENCHMARK.json names."""

from __future__ import annotations

from collections import defaultdict

from . import stats
from .trace import job_stats
from .workloads import MIX_QUERIES

#: a table span's subtree self time may differ from TableReport.elapsed_s
#: by the few Python statements between the span edge and the engine's
#: own clock reads (plus a GIL hand-off under the worker pool)
SPAN_TOLERANCE_S = 0.05

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.heap_after_gc_mb": "MB",
    "catalog.discover_s": "s",
    "partitioning.plan_s": "s",
    "partitioning.jobs": "count",
    "partitioning.read_partitions": "count",
    "sources.load_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.task_run_s": "s",
    "sinks.task_cpu_s": "s",
    "sinks.output_bytes": "bytes",
    "sinks.shuffle_write_bytes": "bytes",
    "compare.verify_s": "s",
    "compare.jobs": "count",
    "compare.task_cpu_s": "s",
    "migrate.wall_s": "s",
    "migrate.driver_gap_s": "s",
    "migrate.jobs_per_table": "count",
    "migrate.overlap": "ratio",
    "migrate.executor_util": "ratio",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.run_s": "s",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.driver_gap_s": "s",
    "operators.executor_util": "ratio",
    "operators.storage_mb": "MB",
    **{f"operators.{q}.wall_s": "s" for q in MIX_QUERIES},
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def end_to_end(passes, setup_s: float, retained_mb: float) -> tuple[dict, dict]:
    """Medians over the measured passes; the per-object percentiles are
    taken over the objects of all measured passes together (the sample
    count is in the detail)."""
    secs = [sec for p in passes for _name, sec in p.objects]
    p50, n = stats.percentile(secs, 50)
    out = {
        "setup_s": setup_s,
        "rows_per_s": stats.median(p.rows / p.call_s for p in passes),
        "table_s_p50": p50,
        "table_s_p95": stats.percentile(secs, 95)[0],
        "compare_s": stats.median(p.compare_s for p in passes),
        "mix_s": stats.median(p.wall_s for p in passes),
        "space_amp": stats.median(p.space_amp for p in passes),
        "retained_mb": retained_mb,
    }
    return out, {
        "table_s_n": n,
        "pass_walls_s": [p.wall_s for p in passes],
        "pass_calls_s": [p.calls for p in passes],
        "pass_objects_s": [dict(p.objects) for p in passes],
    }


def _pass_layer_metrics(spans, groups, jobs, notes, result, cores) -> dict:
    m: dict[str, float] = defaultdict(float)

    def durations(pred):
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    def over_jobs(pred):
        return [j for g, js in jobs.items() if pred(groups[g]) for j in js]

    def total(js, key):
        return sum(j[key] for j in js)

    m["catalog.discover_s"] = durations(lambda s: s["layer"] == "catalog")
    m["sources.load_s"] = durations(lambda s: s["layer"] == "sources")
    m["sinks.write_s"] = durations(lambda s: s["layer"] == "sinks")

    part = over_jobs(lambda g: g[0] == "partitioning")
    m["partitioning.jobs"] = len(part)
    m["partitioning.read_partitions"] = sum(v for k, v in notes if k == "read_partitions")
    m["partitioning.plan_s"] = sum((r.phases or {}).get("plan", 0.0) for r in result.reports)

    copy = over_jobs(lambda g: g[0] in ("sources", "sinks"))
    m["sources.input_rows"] = total(copy, "input_rows")
    m["sources.input_bytes"] = total(copy, "input_bytes")
    sinks = over_jobs(lambda g: g[0] == "sinks")
    m["sinks.jobs"] = len(sinks)
    m["sinks.task_run_s"] = total(sinks, "task_run_ms") / 1e3
    m["sinks.task_cpu_s"] = total(sinks, "task_cpu_ns") / 1e9
    m["sinks.output_bytes"] = total(sinks, "output_bytes")
    m["sinks.shuffle_write_bytes"] = total(sinks, "shuffle_write_bytes")

    comp = over_jobs(lambda g: g[0] == "compare")
    m["compare.jobs"] = len(comp)
    m["compare.task_cpu_s"] = total(comp, "task_cpu_ns") / 1e9
    m["compare.verify_s"] = sum(
        (r.phases or {}).get("verify", 0.0) for r in result.reports
    ) + durations(lambda s: s["name"] == "compare.compareDb")

    def gaps_and_util(call_spans):
        wall = gap = run_s = 0.0
        n_jobs = 0
        for s in call_spans:
            js = over_jobs(lambda g, c=s["call"]: g[1] == c)
            d = s["end"] - s["start"]
            wall += d
            gap += d - stats.union_length(
                [(j["start"], j["end"]) for j in js if j["start"] and j["end"]],
                s["start"], s["end"],
            )
            run_s += total(js, "task_run_ms") / 1e3
            n_jobs += len(js)
        return wall, gap, run_s, n_jobs

    mig_calls = [s for s in spans if s["name"] in ("migrate.migrate_directory", "migrate.migrate_jdbc")]
    wall, gap, run_s, n_jobs = gaps_and_util(mig_calls)
    m["migrate.wall_s"] = wall
    m["migrate.driver_gap_s"] = gap
    if result.reports:
        m["migrate.jobs_per_table"] = n_jobs / len(result.reports)
    if wall:
        m["migrate.overlap"] = sum(r.elapsed_s for r in result.reports) / wall
        m["migrate.executor_util"] = run_s / (wall * cores)

    # one synthetic span per query call: build start .. run end
    per_query: dict[str, list] = defaultdict(list)
    for s in spans:
        if s["layer"] == "operators" and s["parent"] is None:
            per_query[s["call"]].append(s)
    q_spans = [
        {"call": c, "start": min(x["start"] for x in ss), "end": max(x["end"] for x in ss), "tag": ss[0]["tag"]}
        for c, ss in per_query.items()
    ]
    wall, gap, run_s, _ = gaps_and_util(q_spans)
    ops = over_jobs(lambda g: g[0] == "operators")
    m["operators.build_s"] = durations(lambda s: s["name"] == "operators.build")
    m["operators.run_s"] = durations(lambda s: s["name"] == "operators.run")
    m["operators.build_jobs"] = len(over_jobs(lambda g: g[3] == "operators.build"))
    m["operators.jobs"] = len(ops)
    m["operators.tasks"] = total(ops, "tasks")
    m["operators.task_run_s"] = total(ops, "task_run_ms") / 1e3
    m["operators.task_cpu_s"] = total(ops, "task_cpu_ns") / 1e9
    m["operators.shuffle_write_bytes"] = total(ops, "shuffle_write_bytes")
    m["operators.spill_bytes"] = total(ops, "spill_disk_bytes")
    m["operators.driver_gap_s"] = gap
    if wall:
        m["operators.executor_util"] = run_s / (wall * cores)
    for s in q_spans:
        m[f"operators.{s['tag']}.wall_s"] = s["end"] - s["start"]
    m["spark.failed_tasks"] = total(over_jobs(lambda g: True), "failed_tasks")
    return m


def span_check(spans, reports) -> float:
    """Largest |Σ self time over a table's span tree − its
    TableReport.elapsed_s| in the pass (0 when no table ran)."""
    elapsed = {r.table: r.elapsed_s for r in reports}
    worst = 0.0
    for s in spans:
        if s["name"] == "migrate.table" and s["tag"] in elapsed:
            dev = abs(stats.subtree_self_sum(spans, s["id"]) - elapsed[s["tag"]])
            worst = max(worst, dev)
    return worst


def attribution_misses(groups, jobs, result, untagged_jobs) -> list[str]:
    """What the job tagging got wrong in one traced pass: every copied
    table must have run at least one job tagged ``sinks`` (its copy) and
    one tagged ``compare`` (its digest verify) under its own name and
    the migrate call that copied it, and no job of the pass may have run
    without a group."""
    ran = {(groups[g][0], groups[g][1], groups[g][2]) for g, js in jobs.items() if js}
    misses = [
        f"{layer}:{r.table}"
        for r in result.reports if r.ok
        for layer in ("sinks", "compare")
        if (layer, result.table_calls[r.table], r.table) not in ran
    ]
    return misses + [f"untagged:{j}" for j in sorted(untagged_jobs)]


def capture_traced_pass(tracer, idx, res, mark, cores, untagged_before) -> dict:
    """Read one traced pass's jobs from the status store right after it
    ran (before later jobs can evict them) and derive its metrics.
    ``untagged_before`` holds the ids of the group-less jobs that ran
    before the pass."""
    s0, g0, n0 = mark
    spans = [s for s in tracer.spans[s0:] if s["call"].startswith(f"p{idx}.")]
    names = list(tracer.groups)[g0:]
    groups = {g: tracer.groups[g] for g in names}
    jobs = job_stats(tracer.sc, names)
    untagged = set(tracer.sc.statusTracker().getJobIdsForGroup(None)) - untagged_before
    return {
        "wall_s": res.wall_s,
        "metrics": _pass_layer_metrics(spans, groups, jobs, tracer.notes[n0:], res, cores),
        "layer_self_s": stats.layer_self_times(spans),
        "span_dev_s": span_check(spans, res.reports),
        "misses": attribution_misses(groups, jobs, res, untagged),
    }


def per_layer(traced, untraced, *, session_s, heap_setup_mb, storage_mb):
    """Median over traced passes of each per-layer metric, plus the
    tracing overhead (median traced − median untraced pass wall)."""
    out = {
        name: stats.median(t["metrics"].get(name, 0.0) for t in traced)
        for name in PER_LAYER_UNITS
    }
    out["session.get_spark_s"] = session_s
    out["session.heap_after_gc_mb"] = heap_setup_mb
    out["operators.storage_mb"] = storage_mb
    out["trace.overhead_s"] = (
        stats.median(t["wall_s"] for t in traced) - stats.median(p.wall_s for p in untraced)
    )
    layers = sorted({k for t in traced for k in t["layer_self_s"]})
    extra = {
        "layer_self_s": {k: stats.median(t["layer_self_s"].get(k, 0.0) for t in traced) for k in layers},
        "span_check_max_dev_s": max(t["span_dev_s"] for t in traced),
        "attribution_misses": [m for t in traced for m in t["misses"]],
        "traced_pass_walls_s": [t["wall_s"] for t in traced],
        "untraced_pass_walls_s": [p.wall_s for p in untraced],
    }
    return out, extra
