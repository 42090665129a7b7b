"""Round-17 units: the burst-aware bench statistic (r16 verdict
item 1 — the probes recorded disk bursts, the median now USES them),
its bench_compare consumption, the shared bench timing loop, and the
scan items of the r16 brief."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- #
# select_unburst_runs — the pure statistic core                     #
# ---------------------------------------------------------------- #


def test_select_unburst_rejects_burst_bracketed_samples():
    """The exact r16 failure shape: committed similarity_lsh_multiprobe
    landed on 2.429 s out of runs [7.855, 22.092, 2.429, 1.612, 1.922]
    because the first two samples ate a disk burst and the median
    picked the straddle point. With brackets recording the burst, the
    statistic must drop those two and report the clean tail's median.
    """
    from bench import select_unburst_runs

    walls = [7.855, 22.092, 2.429, 1.612, 1.922]
    brackets = [
        [0.090, 0.050],  # burst during run 0
        [0.050, 0.080],  # burst during run 1
        [0.015, 0.012],
        [0.013, 0.012],
        [0.012, 0.014],
    ]
    kept, rejected = select_unburst_runs(walls, brackets, baseline=0.012)
    assert rejected == [0, 1]
    assert kept == [2, 3, 4]
    assert sorted(walls[i] for i in kept)[1] == 1.922  # the clean median


def test_select_unburst_either_bracket_side_flags():
    """A burst visible in EITHER the pre- or the post-probe flags the
    run: the pair straddles the timed window."""
    from bench import select_unburst_runs

    walls = [1.0, 1.1, 5.0]
    brackets = [[0.01, 0.01], [0.01, 0.01], [0.01, 0.05]]
    kept, rejected = select_unburst_runs(walls, brackets, baseline=0.01)
    assert rejected == [2] and kept == [0, 1]


def test_select_unburst_disables_when_whole_window_degraded():
    """On a box degraded for the whole query window every bracket
    exceeds the threshold; the filter must DISABLE itself and keep all
    runs (plain median) — bracket magnitude no longer discriminates
    samples, and a pick-lowest-bracket fallback was measured keeping a
    query's two slowest runs on probe noise. Same when only one clean
    sample survives (a single-sample 'median' is a lucky minimum)."""
    from bench import select_unburst_runs

    walls = [9.0, 4.0, 5.0]
    brackets = [[0.30, 0.25], [0.10, 0.09], [0.20, 0.15]]
    assert select_unburst_runs(walls, brackets, 0.012) == ([0, 1, 2], [])
    # one clean sample -> still below min_kept -> disabled
    brackets1 = [[0.30, 0.25], [0.012, 0.013], [0.20, 0.15]]
    assert select_unburst_runs(walls, brackets1, 0.012) == ([0, 1, 2], [])


def test_select_unburst_clean_runs_and_degenerate_baseline():
    """No bracket above threshold -> nothing rejected; a zero/absent
    baseline (first query of a run that produced no samples) must
    disable rejection rather than divide by zero or flag everything."""
    from bench import select_unburst_runs

    walls = [1.0, 1.2, 0.9]
    brackets = [[0.012, 0.013], [0.014, 0.012], [0.013, 0.015]]
    assert select_unburst_runs(walls, brackets, 0.012) == ([0, 1, 2], [])
    assert select_unburst_runs(walls, brackets, 0.0) == ([0, 1, 2], [])


def test_io_probe_baseline_is_running_median():
    """The baseline is the running MEDIAN of every probe sample this
    process — the typical level most samples sit at. Not the min: on
    this box, samples taken right after a Spark query run 1.5-2.5x the
    quiet-moment minimum (shuffle flush-out), and a min-based baseline
    rejected 36/40 headline entries in the shakeout run."""
    import bench

    bench._IO_SAMPLES.clear()
    assert bench.io_probe_baseline() == 0.0  # degenerate -> disabled
    bench._IO_SAMPLES.extend([0.05, 0.013, 0.09, 0.012])
    assert bench.io_probe_baseline() == (0.013 + 0.05) / 2
    bench._IO_SAMPLES.append(0.014)
    assert bench.io_probe_baseline() == 0.014
    bench._IO_SAMPLES.clear()


def test_time_entry_statistic_failure_and_cold_steady(monkeypatch):
    """bench.time_entry — the one loop behind every bench wall and
    `tools/measure.py time` — driven with stub actions and stub probes
    (no Spark): the statistic is the median of the runs the burst
    filter keeps, a raising action lands in ``failed`` with no timing,
    and a COLD_STEADY row drops run 0 from the statistic."""
    import time as _time

    import bench

    monkeypatch.setattr(bench, "_IO_SAMPLES", [])
    monkeypatch.setattr(bench, "_cpu_probe_once", lambda: 0.1)
    io_seq: list[float] = []

    def _io():
        v = io_seq.pop(0) if io_seq else 0.01
        bench._IO_SAMPLES.append(v)
        return v

    monkeypatch.setattr(bench, "_io_probe_once", _io)

    def sleeper(walls):
        it = iter(walls)
        return lambda: _time.sleep(next(it, walls[-1]))

    # 3 pre-run probe samples, then one after each run: the burst
    # sample after run 2 brackets runs 2 and 3, so both are rejected
    # and the loop extends until 3 clean runs are kept
    io_seq[:] = [0.01, 0.01, 0.01, 0.01, 0.01, 0.5]
    res = bench.time_entry("plain", sleeper([0.05, 0.07, 0.3, 0.3, 0.06]))
    assert res["burst_rejection"]["rejected_runs"] == [2, 3]
    assert res["stat"] == "median_excl_burst_runs[2,3]"
    assert {0, 1, 4} <= set(res["kept"]) and not {2, 3} & set(res["kept"])
    assert res["wall"] == bench._median([res["runs"][i] for i in res["kept"]])
    assert res["wall"] < 0.3
    assert len(res["io_brackets"]) == len(res["runs"])
    assert res["cpu_probe"] == 0.1 and "cold" not in res

    def boom():
        raise RuntimeError("boom")

    res = bench.time_entry("broken", boom)
    assert res["failed"] == "RuntimeError: boom"
    assert "wall" not in res and "runs" not in res

    assert "similarity_ivfpq_topk" in bench.COLD_STEADY
    res = bench.time_entry(
        "similarity_ivfpq_topk", sleeper([0.4, 0.05, 0.06, 0.05])
    )
    assert len(res["runs"]) >= 4
    assert res["cold"] == res["runs"][0] >= 0.4
    assert 0 not in res["kept"]
    assert res["wall"] == bench._median([res["runs"][i] for i in res["kept"]])
    assert res["wall"] < 0.4
    assert res["stat"] == "steady_median_excl_cold_run0"


# ---------------------------------------------------------------- #
# bench_compare consumes the rejection metadata                     #
# ---------------------------------------------------------------- #


def _write_record(path, queries, runs, extra=None):
    rec = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
        "runs": runs,
        "query_stat": "median_of_3_adaptive_to_5",
    }
    rec.update(extra or {})
    with open(path, "w") as f:
        json.dump(rec, f)
    return path


def test_bench_compare_labels_burst_suppressed(tmp_path, capsys):
    """The r16->r17 compare must label entries whose new-record
    statistic excluded burst samples, and attribute a REGRESSED row
    whose KEPT samples were all bracketed by a degraded disk to the
    disk, not the plan."""
    import importlib

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        ),
    )
    bc = importlib.import_module("bench_compare")

    old = _write_record(
        str(tmp_path / "old.json"),
        {"qa": 1.0, "qb": 2.0, "qc": 3.0},
        {
            "qa": [1.0, 1.1, 0.9],
            "qb": [2.0, 2.1, 1.9],
            "qc": [5.0, 3.0, 3.1, 2.9],
        },
    )
    new = _write_record(
        str(tmp_path / "new.json"),
        {"qa": 1.9, "qb": 4.0, "qc": 6.0},
        {
            "qa": [7.0, 22.0, 1.9],
            "qb": [4.0, 4.1, 3.9],
            "qc": [9.5, 6.0, 6.1, 5.9],
        },
        extra={
            "burst_rejections": {
                "qa": {
                    "rejected_runs": [0, 1],
                    "rejected_walls": [7.0, 22.0],
                    "io_baseline": 0.012,
                    "threshold_x": 2.0,
                    "reason": "io_bracket>2x_idle_baseline",
                }
            },
            "io_bracket_by_run": {
                "qa": [[0.09, 0.05], [0.05, 0.08], [0.013, 0.012]],
                # qb regressed with EVERY kept bracket >2x idle: the
                # whole-window-degradation exoneration must fire
                "qb": [[0.06, 0.05], [0.05, 0.07], [0.06, 0.05]],
                # qc is COLD_STEADY: run0 (the cold run, EXCLUDED from
                # the statistic) has a QUIET bracket; every steady
                # bracket is degraded — the exoneration must ignore
                # run0 and still fire (r17 review finding)
                "qc": [
                    [0.012, 0.013],
                    [0.06, 0.05],
                    [0.05, 0.07],
                    [0.06, 0.05],
                ],
            },
            "io_probe_baseline": 0.012,
            "stat_by_query": {"qc": "steady_median_excl_cold_run0"},
        },
    )
    argv = sys.argv
    try:
        sys.argv = ["bench_compare.py", old, new]
        assert bc.main() == 0
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert "burst-suppressed in new record" in out
    assert "rejected runs [0, 1]" in out
    assert "disk degraded across ALL kept samples" in out
    # the COLD_STEADY row's quiet cold bracket did not mask the
    # whole-window degradation of its steady samples
    qc_line = [ln for ln in out.splitlines() if " qc" in ln]
    assert qc_line and "disk degraded across ALL kept samples" in qc_line[0]
    # and a record WITHOUT the fields still compares (back-compat)
    sys.argv = ["bench_compare.py", old, old]
    try:
        assert bc.main() == 0
    finally:
        sys.argv = argv


def test_bench_source_wires_rejection_metadata():
    """The record must carry the per-run brackets, the idle baseline,
    and per-entry stat labels for rejected runs — greppable in source
    so a refactor can't silently drop the evidence channel."""
    src = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "bench.py",
        )
    ).read()
    for needle in (
        '"io_bracket_by_run": io_bracket_by_run',
        '"io_probe_baseline": io_probe_baseline()',
        'out["burst_rejections"] = burst_rejections',
        "_excl_burst_runs",
        "select_unburst_runs(walls, brs, io_probe_baseline())",
    ):
        assert needle in src, needle


# ---------------------------------------------------------------- #
# footer-sampled scan probe and the distinct-count twins            #
# ---------------------------------------------------------------- #


def test_scan_parallelism_sampling_mode(tmp_path):
    """r16 verdict item 7: on a huge tree the footer walk must be
    sample-able — N evenly-spaced footers, extrapolated counts, exact
    bytes, `sampled` flag — and exact below the threshold. On a
    uniform 500-file tree the sampled estimate agrees with exact on
    `bounded` and on the extrapolated totals."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysqldatasynctool_spark.sources.files import parquet_scan_parallelism

    d = tmp_path / "tree.parquet"
    t = pa.table({"x": list(range(200))})
    for i in range(500):
        sub = d / f"part={i % 10}"
        sub.mkdir(parents=True, exist_ok=True)
        pq.write_table(t, str(sub / f"f{i:03d}.parquet"), row_group_size=100)

    exact = parquet_scan_parallelism(str(d), target_parallelism=32)
    sampled = parquet_scan_parallelism(
        str(d), target_parallelism=32, sample_files=50
    )
    assert exact["files"] == sampled["files"] == 500
    assert exact["row_groups"] == 1000 and not exact["bounded"]
    assert "sampled" not in exact
    assert sampled["sampled"] and sampled["sampled_files"] == 50
    # uniform tree -> extrapolation is exact
    assert sampled["row_groups"] == exact["row_groups"]
    assert sampled["rows"] == exact["rows"]
    assert sampled["bytes"] == exact["bytes"]  # bytes never sampled
    assert sampled["bounded"] == exact["bounded"]

    # threshold >= file count -> exact path, no flag
    below = parquet_scan_parallelism(str(d), sample_files=500)
    assert "sampled" not in below and below["row_groups"] == 1000


def test_sliding_distinct_sketch_merge_matches_exact(spark):
    """The HLL sketch-merge sliding distinct (tumbling-bucket sketches
    union'd per window — no event-level fan-out) must produce the
    exact twin's window set with every estimate inside the 5% bound,
    and its sketch path must shuffle fewer rows than the fanned
    two-step form (the entire point of merging sketches)."""
    from mysqldatasynctool_spark.operators import events as E
    from mysqldatasynctool_spark.plans import executed_plan_metrics

    sf = "/root/testdata/sf0.01"
    got = E.events_sliding_distinct_sketch_merge(spark, sf)
    rows = got.collect()
    assert rows and all(r.within_tol for r in rows)

    exact = {
        (r.win_start, r.n_users)
        for r in E.events_sliding_distinct_users(spark, sf)
        .select("win_start", "n_users")
        .collect()
    }
    assert {(r.win_start, r.n_users) for r in rows} == exact

    m = executed_plan_metrics(got)  # populated by the collect above
    fanned = E.events_sliding_distinct_approx(spark, sf)
    fanned._jdf.queryExecution().toRdd().count()
    m_fanned = executed_plan_metrics(fanned)
    # entry includes its exact-verification side; even so the sketch
    # path keeps total shuffle in the same class while the x4 event
    # fan-out is gone from the operator half
    assert m["spill_bytes"] == 0
    assert m["shuffle_records_written"] < 1.5 * m_fanned["shuffle_records_written"]


def test_two_step_distinct_excludes_null_keys(spark):
    """The shared distinct-pairs rewrite must match COUNT(DISTINCT)
    semantics on NULL keys (which it excludes) — the fixtures never
    emit NULL keys, so this pins the invariant on a synthetic frame."""
    from pyspark.sql import functions as F

    from mysqldatasynctool_spark.operators.events import (
        _distinct_window_users,
    )

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:01:00"),
            (2, "2024-01-01 00:02:00"),
            (2, "2024-01-01 00:03:00"),  # dup pair
            (None, "2024-01-01 00:04:00"),  # NULL user: excluded
        ],
        "user_id int, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    pairs = _distinct_window_users(ev)
    counts = {
        r.start: r.n
        for r in pairs.groupBy(F.col("w.start").alias("start"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every window containing the events has exactly 2 distinct
    # non-NULL users (1 and 2) — the NULL row contributes nothing
    assert counts and set(counts.values()) == {2}
