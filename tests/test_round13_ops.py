"""Round-13 additions: persisted ANN index-frame reuse, MMR degenerate
-input degradation, bench compact-line size budget."""

from __future__ import annotations

import json

from tests.conftest import SF_SMALL


def test_mmr_degenerate_candidates_lose_not_raise(spark):
    """A zero-norm candidate makes rel/sim non-finite; the greedy pick
    key must let it LOSE every comparison (pre-r12 round() behavior)
    instead of raising from math.floor (r12 advice). Degenerates are
    picked only when nothing finite remains, ties by ascending id."""
    from pyspark.sql import types as T

    from mysqldatasynctool_spark.operators.similarity import MMR_K, _mmr_select

    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("rel", T.DoubleType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("vnorm", T.DoubleType()),
        ]
    )
    nan = float("nan")
    rows = [
        (1, 10, 0.9, [1.0, 0.0], 1.0),
        (1, 11, 0.5, [0.0, 1.0], 1.0),
        # zero-norm degenerates: upstream cosine rel is NaN
        (1, 12, nan, [0.0, 0.0], 0.0),
        (1, 13, nan, [0.0, 0.0], 0.0),
    ]
    cand = spark.createDataFrame(rows, schema)
    out = _mmr_select(cand).collect()
    got = [(r.rank, r.vec_id) for r in out]
    k = min(MMR_K, 4)
    # finite candidates first (10 best rel, then 11), degenerates
    # last in ascending-id order — and no exception anywhere
    assert got[:2] == [(1, 10), (2, 11)]
    assert [v for _, v in got[2:k]] == [12, 13][: k - 2]


def test_ivfpq_reuses_persisted_index_frames(spark):
    """Steady-state calls must REUSE the persisted assignment and PQ
    code frames (r13: the r12 swap-per-call variant re-ran the numpy
    assignment scan and PQ encode on every call), and the cache stays
    bounded at one frame per (dataset, kind)."""
    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    S.similarity_ivfpq_topk(spark, SF_SMALL).count()
    keys = set(S._PERSISTED_WITH_CELLS)
    assert (SF_SMALL, S.ivfpq_probes_for(SF_SMALL)) in keys
    assert (SF_SMALL, "pq_codes") in keys
    first = dict(S._PERSISTED_WITH_CELLS)

    S.similarity_ivfpq_topk(spark, SF_SMALL).count()
    assert set(S._PERSISTED_WITH_CELLS) == keys, "cache must stay bounded"
    for k, frame in S._PERSISTED_WITH_CELLS.items():
        assert frame is first[k], f"{k}: frame must be reused, not rebuilt"
    # full reset releases everything (bench COLD_STEADY cold path)
    S.reset_trained_state()
    assert not S._PERSISTED_WITH_CELLS


def test_bench_compact_line_fits_driver_tail():
    """bench.py's final BENCH_JSON line must stay under the driver's
    2000-char stdout tail with the full current registry priced in —
    the whole point of the line is surviving tail truncation (r12
    verdict item 4)."""
    # simulate the worst case: every HEADLINE query present at 4-char
    # values (e.g. 12.57), plus the migrate rows bench adds — and call
    # bench.compact_bench_line itself (r13 advice: an inline
    # re-implementation kept passing against drifted shipped logic)
    import bench

    timings = {name: 99.99 for name in bench.HEADLINE}
    timings["migrate_full_db_with_verify"] = 99.99
    timings["migrate_jdbc_db_to_db"] = 99.99
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "query_stat": "median_of_3_adaptive_to_5",
    }
    failed = {f"_fail{i}": "x" for i in range(99)}
    line = bench.compact_bench_line(out, timings, failed)
    assert len(line) + len("BENCH_JSON: ") <= 1990
    # the line must parse and carry the headline value + a queries map
    parsed = json.loads(line)
    assert parsed["value"] == out["value"]
    assert parsed["n_failed"] == 99
    assert parsed["queries"]
