"""Round-16 units: the bench I/O probe (the disk-side twin of
_cpu_probe that closes the r15 drift-attribution gap) and the record
fields it feeds."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_io_probe_fixed_work_and_cleanup():
    """The probe must return a positive sub-second wall for its fixed
    work (16 fsyncs + one cold 16 MiB read), reuse one scratch file
    per process, and register its removal."""
    import bench

    p1 = bench._io_probe_file()
    assert os.path.isfile(p1)
    assert os.path.getsize(p1) == 16 * (1 << 20)
    assert bench._io_probe_file() == p1  # one file per process
    samples = [bench._io_probe_once() for _ in range(3)]
    assert all(0 < s < 5.0 for s in samples), samples
    med = bench._io_probe()
    assert 0 < med < 5.0
    # the scratch file survives between samples (it is the fixed
    # workload, not a per-sample temp)
    assert os.path.isfile(p1)


def test_parquet_scan_parallelism_probe(tmp_path):
    """The footer-only layout probe must report row groups as the
    scan-parallelism bound (the r16 stress finding: one row group =
    one task regardless of cluster size), sum across part files, and
    refuse a missing path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from mysqldatasynctool_spark.sources.files import parquet_scan_parallelism

    # the sf0.1 fixture is a known single-row-group file
    rep = parquet_scan_parallelism("/root/testdata/sf0.1/lineitem.parquet")
    assert rep["row_groups"] == rep["max_scan_tasks"] == 1
    assert rep["rows"] == 600_000 and rep["bounded"]

    # a bounded-row-group write multiplies max_scan_tasks
    t = pa.table({"x": list(range(10_000))})
    d = tmp_path / "multi.parquet"
    d.mkdir()
    pq.write_table(t, str(d / "part-0.parquet"), row_group_size=1_000)
    pq.write_table(t, str(d / "part-1.parquet"), row_group_size=1_000)
    rep = parquet_scan_parallelism(str(d), target_parallelism=16)
    assert rep["files"] == 2
    assert rep["row_groups"] == rep["max_scan_tasks"] == 20
    assert rep["rows"] == 20_000 and not rep["bounded"]

    # hive-partitioned trees are walked recursively
    h = tmp_path / "hive.parquet"
    for c in (0, 1, 2):
        (h / f"cell={c}").mkdir(parents=True)
        pq.write_table(t, str(h / f"cell={c}" / "part-0.parquet"))
    rep = parquet_scan_parallelism(str(h))
    assert rep["files"] == 3 and rep["rows"] == 30_000

    with _pytest.raises(FileNotFoundError):
        parquet_scan_parallelism(str(tmp_path / "nope"))


def test_bench_record_drops_transition_field():
    """`value_old_stat_definition` was scheduled to drop after r15
    (its own comment said so); the builder source must no longer emit
    it, and bench_compare must keep reading records that carry it."""
    src = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
        if "__file__" in globals()
        else "bench.py"
    ).read()
    assert '"value_old_stat_definition"' not in src
    # io probe fields ARE emitted
    assert '"io_probe"' in src and '"io_probe_by_query"' in src
