"""Tests of the benchmark's own logic (not of the engine).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, host, inputs, stats  # noqa: E402
from perfbench.workloads import MIX_QUERIES, WORKLOADS, QueryMix  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


# --- seed determinism ---------------------------------------------------

def test_same_seed_same_inputs(tmp_path):
    a, b, c = (inputs.migrate_spec(s) for s in (7, 7, 8))
    assert a == b and a != c
    for run in ("x", "y"):
        inputs.write_migrate_sources(a, str(tmp_path / run / "bulk"), str(tmp_path / run / "many"))
    assert _digest(str(tmp_path / "x")) == _digest(str(tmp_path / "y"))
    for name in inputs.JDBC_TABLES:
        assert inputs.jdbc_table(a, name).equals(inputs.jdbc_table(b, name))
        assert not inputs.jdbc_table(a, name).equals(inputs.jdbc_table(c, name))


def test_seed_moves_sizes_only_a_little():
    rows = [sum(inputs.migrate_spec(s).bulk_rows) for s in range(20)]
    assert max(rows) / min(rows) < 1.05
    assert len({inputs.migrate_spec(s).bulk_kinds[0] for s in range(20)}) > 1


def test_composite_key_is_unique():
    t = inputs.jdbc_table(inputs.migrate_spec(3), "composite_t").to_pandas()
    assert not t.duplicated(["code", "line"]).any()
    assert t.groupby("code")["line"].min().eq(1).all()


def test_fixtures_are_fixed_and_query_order_follows_seed():
    x, y = inputs.fixture_tables(0.001), inputs.fixture_tables(0.001)
    assert all(x[t].equals(y[t]) for t in x)
    orders = {tuple(QueryMix(s, "/unused", 1).order) for s in range(5)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(MIX_QUERIES) for o in orders)
    assert QueryMix(4, "/unused", 1).order == QueryMix(4, "/unused", 1).order


# --- percentiles, spans, failure ratio ------------------------------------

def test_percentile_reports_sample_count():
    assert stats.percentile([5, 1, 3, 2, 4], 50) == (3, 5)
    vals = list(np.random.default_rng(0).random(37))
    got, n = stats.percentile(vals, 95)
    assert n == 37 and got == pytest.approx(float(np.percentile(vals, 95)))
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    assert stats.median([4, 1, 3]) == 3 and stats.median([4, 1, 3, 2]) == 2.5


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0, "migrate"),
        # two pool threads overlap: their union (1..8) is covered once
        _span(2, 1, 1.0, 6.0, "migrate"),
        _span(3, 1, 2.0, 8.0, "migrate"),
        _span(4, 2, 1.5, 2.5, "sinks"),
        _span(5, 2, 3.0, 4.0, "compare"),
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(3.0)
    assert stats.layer_self_times(spans)["sinks"] == pytest.approx(1.0)
    # a table's span tree sums back to its own duration
    assert stats.subtree_self_sum(spans, 2) == pytest.approx(5.0)


def test_union_length_clips_and_merges():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10)], 2, 4) == 2
    assert stats.union_length([]) == 0


def test_fail_ratio_counting():
    assert stats.fail_ratio(40, 0) == 0.0
    assert stats.fail_ratio(4, 1) == 0.25
    for bad in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.fail_ratio(*bad)


def test_steal_share_nets_stolen_time_out_of_wall():
    # 100 busy ticks between the readings, 40 of them stolen
    assert host.steal_share((10, 500), (50, 600)) == pytest.approx(0.4)
    assert host.steal_share((10, 500), (10, 500)) == 0.0
    assert host.Interval(10.0, 0.4).seconds == pytest.approx(6.0)
    assert host.Interval(10.0, 0.0).seconds == 10.0
    stolen, busy = host.cpu_ticks()
    assert 0 <= stolen <= busy


def test_parquet_check_catches_a_changed_row(tmp_path):
    src, dest = tmp_path / "src", tmp_path / "dest"
    src.mkdir()
    dest.mkdir()
    t = inputs.migrate_table(1, 0, ("double", "string"), 50, 0.1)
    pq.write_table(t, src / "a.parquet")
    pq.write_table(t, src / "b.parquet")
    pq.write_table(t.slice(0, 25), dest / "a.parquet")  # order moved,
    pq.write_table(t.slice(25), dest / "a.parquet2")    # same multiset
    os.rename(dest / "a.parquet", dest / "part-0.parquet")
    (dest / "a.parquet").mkdir()
    os.rename(dest / "part-0.parquet", dest / "a.parquet" / "part-0.parquet")
    os.rename(dest / "a.parquet2", dest / "a.parquet" / "part-1.parquet")
    changed = t.set_column(1, t.column_names[1], pa.array([0.5] * 50))
    pq.write_table(changed, dest / "b.parquet")
    assert checks.check_parquet_copies(str(src), str(dest)) == ["b"]


def test_oracle_compare_is_order_free_and_exact():
    rows = [(1, 0.1), (2, 0.2)]
    assert checks.same_result(["a", "b"], rows, ["b", "a"], [(0.2, 2), (0.1, 1)])
    assert not checks.same_result(["a", "b"], rows, ["a", "b"], [(1, 0.1), (2, 0.2000000001)])


def test_query_check_flags_the_pass_that_differs(tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "region.parquet")
    oracles = {"q": "SELECT k FROM region", "empty": "SELECT k FROM region WHERE k > 9"}
    results = {
        0: {"q": (["k"], [(3,), (1,), (2,)]), "empty": (["k"], [])},
        1: {"q": (["k"], [(1,), (2,)])},
    }
    bad = checks.check_results(results, oracles, ["q", "empty"], str(tmp_path))
    assert bad == ["p1.q", "p0.empty", "p1.empty"]


def test_metric_names_match_benchmark_json():
    import json

    from perfbench import metrics, run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_run_refuses_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


# --- job-group attribution across migrate's worker threads ----------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from mysqldatasynctool_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def test_job_groups_follow_worker_threads(spark, tmp_path):
    from mysqldatasynctool_spark import migrate
    from mysqldatasynctool_spark.config import SyncConfig
    from perfbench import metrics
    from perfbench.trace import Tracer, install, job_stats
    from perfbench.workloads import PassResult

    src, dest = tmp_path / "src", tmp_path / "dest"
    src.mkdir()
    for i in range(3):
        pq.write_table(inputs.migrate_table(2, i, ("bigint", "string"), 200, 0.1), src / f"t{i}.parquet")
    tracer = Tracer(sc=spark.sparkContext)
    uninstall = install(tracer)
    try:
        tracer.active, tracer.call = True, "p1.bulk"
        before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        reports, _verdict = migrate.migrate_directory(spark, str(src), str(dest), SyncConfig(max_parallel=3))
        tracer.active = False
    finally:
        uninstall()
    assert all(r.ok for r in reports)
    tables = {s["tag"]: s for s in tracer.spans if s["name"] == "migrate.table"}
    assert sorted(tables) == ["t0", "t1", "t2"]
    assert len({s["thread"] for s in tables.values()}) > 1
    jobs = job_stats(spark.sparkContext, list(tracer.groups))
    for t in tables:
        layers = {tracer.groups[g][0] for g, js in jobs.items() if js and tracer.groups[g][2] == t}
        # the copy (fused read + write) and the dest verify collect
        assert {"sinks", "compare"} <= layers, (t, layers)
    # no job of the call escaped tagging
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert after == before
    for r in reports:
        span = tables[r.table]
        assert stats.subtree_self_sum(tracer.spans, span["id"]) == pytest.approx(r.elapsed_s, abs=0.05)
    # the run's own attribution check agrees, and fails when a table's
    # verify jobs are charged elsewhere or a job ran untagged
    result = PassResult(0.0, 0, 0.0, 0.0, reports=reports,
                        table_calls={r.table: "p1.bulk" for r in reports})
    assert metrics.attribution_misses(tracer.groups, jobs, result, set()) == []
    moved = {g: (("sources",) + v[1:] if v[0] == "compare" and v[2] == "t1" else v)
             for g, v in tracer.groups.items()}
    assert metrics.attribution_misses(moved, jobs, result, {7}) == ["compare:t1", "untagged:7"]
