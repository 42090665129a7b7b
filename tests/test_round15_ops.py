"""Round-15 additions: the skew-salted anomaly twin (VERDICT r14 item
6), the derived streaming state-partition sizing (item 5), and the
cell-count-scaled IVFPQ probe budget (item 2)."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR, SF_SMALL


def _plan(spark, df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_anomaly_salted_matches_unsalted(spark):
    """The salted twin must be RESULT-IDENTICAL to the unsalted form —
    same rows, same bit-exact doubles (both fold the same decimal(22,6)
    per-element casts into exact decimal sums)."""
    from mysqldatasynctool_spark.operators import events

    a = events.events_anomaly_zscore(spark, SF_DIR).collect()
    b = events.events_anomaly_salted(spark, SF_DIR).collect()
    assert len(a) > 0
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_anomaly_salted_windows_keyed_by_bucket(spark):
    """Plan pin: every per-EVENT window (the ones ordering by
    (ts, event_id)) must partition by (user_id, bucket) — never
    user_id alone — so a hot user spreads across its buckets. The only
    user_id-partitioned window is the carry pass over the PER-BUCKET
    tails frame (it orders by `bucket`, one array row per non-empty
    bucket — calendar-bounded for hot users)."""
    from mysqldatasynctool_spark.operators import events

    plan = _plan(spark, events.events_anomaly_salted(spark, SF_DIR))
    windows = re.findall(r"Window \[.*?\], \[(.*?)\], \[(.*?)\]", plan)
    assert windows, "expected Window nodes in the plan"
    for part, order in windows:
        if "bucket" not in part:
            # user-only partitioning allowed ONLY for the tails carry
            assert "user_id" in part and order.strip().startswith("bucket"), (
                part,
                order,
            )
        else:
            assert "user_id" in part, (part, order)


def test_anomaly_salted_per_event_windows_are_array_free(spark):
    """Plan pin for the r18 stitch rewrite: the per-EVENT windows (the
    (user_id, bucket)-partitioned ones) must compute only long
    sums/counts — never ``collect_list`` — so no per-row struct array
    is ever built or carried into the join on the event-row path. The
    only array-building windows allowed are on the TAILS side (the
    user-only carry pass over one row per non-empty bucket)."""
    from mysqldatasynctool_spark.operators import events

    plan = _plan(spark, events.events_anomaly_salted(spark, SF_DIR))
    windows = re.findall(r"Window \[(.*?)\], \[(.*?)\], \[(.*?)\]", plan)
    assert windows, "expected Window nodes in the plan"
    saw_per_event = False
    for funcs, part, _order in windows:
        if "bucket" in part and "user_id" in part:
            saw_per_event = True
            assert "collect_list" not in funcs, (funcs, part)
    assert saw_per_event, "expected a (user_id, bucket)-keyed window"


def test_size_state_partitions_model():
    """The sizing function must reproduce the measured fixture
    operating points (4 inner / 8 outer at ~100 k rows), clamp at both
    ends, and grow monotonically with volume."""
    from mysqldatasynctool_spark.streaming.jobs import (
        parquet_input_rows,
        size_state_partitions,
    )

    assert size_state_partitions(0) == 2  # floor
    assert size_state_partitions(100_000, outer=False) == 4
    assert size_state_partitions(100_002, outer=True) == 8  # +sentinels
    assert size_state_partitions(10_000_000_000) == 512  # cap
    vals = [size_state_partitions(n) for n in (0, 10**5, 10**6, 10**7, 10**8)]
    assert vals == sorted(vals)
    # half-UP at exact .5 boundaries (r15 advice: Python round() is
    # banker's and would tie 62,500 rows -> 2.5 -> 2, not 3)
    assert size_state_partitions(62_500) == 3
    assert size_state_partitions(87_500) == 4  # 3.5 -> 4
    # production signal (r15 verdict item 5): rows_per_trigger
    # REPLACES corpus size when the stream is rate-limited — a 1 B-row
    # corpus drained at 250 k rows/trigger sizes for the trigger
    # (250k/25k = 10), not the corpus (cap-clamped 512)
    assert size_state_partitions(1_000_000_000) == 512
    assert (
        size_state_partitions(1_000_000_000, rows_per_trigger=250_000) == 10
    )
    assert (
        size_state_partitions(100, rows_per_trigger=250_000, outer=True)
        == 20
    )
    # the footer-metadata row counter agrees with the fixtures
    assert parquet_input_rows("/root/testdata/sf0.1") == 100_000
    assert parquet_input_rows(SF_SMALL) == 1_000
    # a missing table must raise, never silently sum every table in
    # the directory (r15 advice)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        parquet_input_rows("/root/testdata/sf0.1", table="no_such_table")


def test_ivfpq_probe_policy():
    """probes = min(k, max(32, ceil(13% k))): floor rules small
    indexes (every fixture), coverage rules at scale, clamped to the
    cell count; pure integer arithmetic so the oracle's in-SQL twin
    is bit-equal at any k."""
    from mysqldatasynctool_spark.operators import similarity as S
    from mysqldatasynctool_spark.operators.similarity import _ivfpq_probes

    assert _ivfpq_probes(1) == 1
    assert _ivfpq_probes(23) == 23  # sf0.001/0.01: clamp to cells
    assert _ivfpq_probes(45) == 32  # sf0.1: floor
    assert _ivfpq_probes(246) == 32  # last floor-ruled size
    assert _ivfpq_probes(247) == 33  # coverage takes over
    assert _ivfpq_probes(448) == 59  # the x100 stress operating point
    assert _ivfpq_probes(4096) == 533  # production cell cap: 13%
    ks = [1, 10, 100, 1000, 4096, 100_000]
    vals = [_ivfpq_probes(k) for k in ks]
    assert vals == sorted(vals)
    assert all(_ivfpq_probes(k) <= k for k in ks)

    # the per-dataset lookup derives the budget from the trained
    # centroid count and raises while no index is trained
    key = "/no/such/dataset"
    S.reset_trained_state()
    with pytest.raises(ValueError, match="no trained index state"):
        S.ivfpq_probes_for(key)
    S._TRAINED_CENTS[key] = [(i, [0.0]) for i in range(100)]
    assert S.ivfpq_probes_for(key) == _ivfpq_probes(100)
    S.reset_trained_state()
    with pytest.raises(ValueError, match="no trained index state"):
        S.ivfpq_probes_for(key)


def test_pq_codes_ties_go_to_lowest_id():
    """The shared PQ encoder matches a per-row loop in which exact ties
    go to the lowest codeword id. Every codeword is duplicated and all
    values are small integers, so each row's best distance is an exact
    tie between two ids in both computations."""
    import numpy as np

    from mysqldatasynctool_spark.operators.similarity import (
        PQ_BLOCK_DIM,
        PQ_BLOCKS,
        _pq_codes,
    )

    rng = np.random.default_rng(7)
    X = rng.integers(-3, 4, (40, PQ_BLOCKS * PQ_BLOCK_DIM)).astype(float)
    blocks = []
    for _ in range(PQ_BLOCKS):
        base = rng.integers(-3, 4, (5, PQ_BLOCK_DIM)).astype(float)
        ids = sorted(rng.choice(1000, 10, replace=False).tolist())
        blocks.append((ids, np.repeat(base, 2, axis=0)))

    got = _pq_codes(X, blocks)
    for b, (ids, C) in enumerate(blocks):
        want = []
        for x in X[:, b * PQ_BLOCK_DIM : (b + 1) * PQ_BLOCK_DIM].tolist():
            d2 = [sum((xi - ci) ** 2 for xi, ci in zip(x, c)) for c in C.tolist()]
            want.append(min(i for i, d in zip(ids, d2) if d == min(d2)))
        assert got[b].tolist() == want


def test_ivfpq_shortlist_policy():
    """shortlist = max(256, ceil(2.25 k)): floor at every fixture
    (<=45 cells -> 256, results unchanged), the measured 1024-point
    operating curve at the x100 stress (448 cells -> 1008), monotone,
    integer-exact vs the oracle's (9k+3)//4."""
    from mysqldatasynctool_spark.operators.similarity import _ivfpq_shortlist

    assert _ivfpq_shortlist(1) == 256
    assert _ivfpq_shortlist(45) == 256
    assert _ivfpq_shortlist(113) == 256  # last floor-ruled size
    assert _ivfpq_shortlist(114) == 257
    assert _ivfpq_shortlist(448) == 1008  # the x100 operating point
    assert _ivfpq_shortlist(4096) == 9216  # production cell cap
    ks = [1, 50, 200, 448, 4096]
    vals = [_ivfpq_shortlist(k) for k in ks]
    assert vals == sorted(vals)
