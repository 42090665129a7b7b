"""Round-14 hardening tests: artifact-load loudness, plan-audit
full-scan classification, plan-dump drift gate support."""

from __future__ import annotations

import os
import sys

import pytest

from tests.conftest import SF_SMALL

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)


def test_load_trained_index_refuses_empty_artifact(spark, tmp_path):
    """An artifact with zero rows must raise, not pass the version gate
    vacuously and silently let the next call retrain (r13 advice)."""
    from pyspark.sql import types as T

    from mysqldatasynctool_spark.operators import similarity as S

    schema = T.StructType(
        [
            T.StructField("version", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("cache_key", T.StringType()),
            T.StructField("iters", T.IntegerType()),
            T.StructField("block", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("cid", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    path = str(tmp_path / "empty_index")
    spark.createDataFrame([], schema).write.parquet(path)
    with pytest.raises(ValueError, match="zero rows"):
        S.load_trained_index(spark, path)


def test_save_trained_index_refuses_untrained_state(spark, tmp_path):
    """Saving before any training ran must fail at SAVE time (where the
    caller can see why) instead of arming the empty-artifact trap."""
    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    with pytest.raises(ValueError, match="no trained ANN state"):
        S.save_trained_index(spark, str(tmp_path / "untrained"))


def test_full_scan_check_honors_partition_and_data_filters():
    """_full_scans must treat non-empty PartitionFilters/DataFilters as
    'filtered' (r13 advice: PushedFilters alone mis-flags
    partition-pruned scans and filters Parquet can't push)."""
    from plan_audit import _full_scans

    tables = {"lineitem": {f"l_c{i}" for i in range(16)}}
    base = (
        "(1) Scan parquet \n"
        "Output [16]: [cols]\n"
        "Location: InMemoryFileIndex(1 paths)[file:/data/lineitem.parquet]\n"
        "{filters}\n"
        "ReadSchema: struct<l_c0:bigint>"
    )
    # all three filter lists empty -> flagged
    unfiltered = base.format(
        filters="PushedFilters: []\nPartitionFilters: []\nDataFilters: []"
    )
    assert _full_scans(unfiltered, tables)
    # a data filter Parquet could not push -> NOT flagged
    data_only = base.format(
        filters="PushedFilters: []\nPartitionFilters: []\n"
        "DataFilters: [isnotnull(udf(l_c0))]"
    )
    assert not _full_scans(data_only, tables)
    # partition pruning -> NOT flagged
    part_only = base.format(
        filters="PushedFilters: []\nPartitionFilters: [(dt = 2026)]\nDataFilters: []"
    )
    assert not _full_scans(part_only, tables)


def test_full_scan_check_survives_truncated_location():
    """When Spark truncates a long Location path list, the table must
    be identified from the FIRST path or, failing that, from the
    ReadSchema column set — never mis-keyed from the truncation
    ellipsis (r13 advice)."""
    from plan_audit import _full_scans

    tables = {
        "orders": {"o_orderkey", "o_custkey", "o_totalprice", "o_date", "o_clerk"},
        "region": {"r_regionkey", "r_name", "r_comment"},
    }
    # first path parseable despite ', ... 400 entries' truncation
    truncated = (
        "(1) Scan parquet \n"
        "Output [5]: [cols]\n"
        "Location: InMemoryFileIndex(402 paths)[file:/data/orders.parquet, "
        "file:/data/more.parquet, ... 400 entries]\n"
        "PushedFilters: []\n"
        "ReadSchema: struct<o_orderkey:bigint>"
    )
    hits = _full_scans(truncated, tables)
    assert hits and hits[0].startswith("orders(")
    # unparseable location -> ReadSchema column-set fallback
    schema_only = (
        "(1) Scan parquet \n"
        "Output [5]: [cols]\n"
        "Location: InMemoryFileIndex[..., ... 999 entries]\n"
        "PushedFilters: []\n"
        "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
        "o_totalprice:decimal(12,2),o_date:date,o_clerk:string>"
    )
    hits = _full_scans(schema_only, tables)
    assert hits and hits[0].startswith("orders(")


def test_trained_index_artifact_cli_lifecycle(spark, tmp_path):
    """The trained-index artifact lifecycle: train -> save -> full
    reset (driver-restart stand-in) -> load -> query WITHOUT
    retraining, same rows (r13 verdict item 5). bench.py no longer
    times it (its cold_with_artifact walls are on record in
    BENCH_LOCAL_r13-r20); this test is the lifecycle's check, and
    recall numbers live in the STRESS_r{N}.json records, not in the
    bench JSON."""
    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    fresh = [tuple(r) for r in S.similarity_ivfpq_topk(spark, SF_SMALL).collect()]
    path = str(tmp_path / "ivfpq_index")
    n_saved = S.save_trained_index(spark, path)
    assert n_saved > 0
    S.reset_trained_state()
    assert not S._TRAINED_CENTS and not S._TRAINED_CB
    n_loaded = S.load_trained_index(spark, path)
    assert n_loaded == n_saved
    # trained dicts restored -> the query must NOT retrain (the
    # training seed sample is gated behind the dicts); its output is
    # row-identical to the freshly-trained run
    assert (SF_SMALL, S.LLOYD_ITERS) in S._TRAINED_CENTS
    loaded = [tuple(r) for r in S.similarity_ivfpq_topk(spark, SF_SMALL).collect()]
    assert loaded == fresh


def test_index_frames_roundtrip_skips_rebuild(spark, tmp_path):
    """save_index_frames + load_index_frames restore the per-vector
    assignment/code frames (the inverted-lists half of the index):
    after a full reset + load of BOTH artifacts, the query must reuse
    the loaded frames (no rebuild — frame object identity survives the
    call) and return rows identical to the freshly-trained run."""
    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    fresh = [tuple(r) for r in S.similarity_ivfpq_topk(spark, SF_SMALL).collect()]
    kpath = str(tmp_path / "knobs")
    fpath = str(tmp_path / "frames")
    S.save_trained_index(spark, kpath)
    counts = S.save_index_frames(spark, fpath, SF_SMALL)
    assert counts["assign"] > 0 and counts["codes"] > 0

    S.reset_trained_state()
    assert not S._PERSISTED_WITH_CELLS
    S.load_trained_index(spark, kpath)
    meta = S.load_index_frames(spark, fpath)
    assert meta["sf_dir"] == SF_SMALL
    pkey = (SF_SMALL, S.ivfpq_probes_for(SF_SMALL))
    ckey = (SF_SMALL, "pq_codes")
    assert pkey in S._PERSISTED_WITH_CELLS and ckey in S._PERSISTED_WITH_CELLS
    loaded_frames = dict(S._PERSISTED_WITH_CELLS)

    loaded = [tuple(r) for r in S.similarity_ivfpq_topk(spark, SF_SMALL).collect()]
    assert loaded == fresh
    # the query must have REUSED the loaded frames, not rebuilt them
    for k, frame in S._PERSISTED_WITH_CELLS.items():
        assert frame is loaded_frames[k], f"{k}: frame rebuilt after load"


def test_index_frames_refuse_mismatched_knobs(spark, tmp_path):
    """A frame artifact written under different probes/knobs must
    refuse to load (same version-gate contract as the knob artifact)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    S.similarity_ivfpq_topk(spark, SF_SMALL).count()
    fpath = str(tmp_path / "frames")
    S.save_index_frames(spark, fpath, SF_SMALL)
    # corrupt the meta row's probes
    meta = spark.read.parquet(f"{fpath}/meta")
    meta.withColumn("probes", F.lit(999)).write.mode("overwrite").parquet(
        str(tmp_path / "frames2/meta")
    )
    spark.read.parquet(f"{fpath}/assign").write.parquet(
        str(tmp_path / "frames2/assign")
    )
    spark.read.parquet(f"{fpath}/codes").write.parquet(
        str(tmp_path / "frames2/codes")
    )
    # r15: a forged probes value now trips the PROBE-POLICY gate
    # (recomputed from the artifact's own n_cells) before the generic
    # version gate — either way, a loud refusal
    with _pytest.raises(ValueError, match="mismatch"):
        S.load_index_frames(spark, str(tmp_path / "frames2"))


def test_save_index_frames_refuses_unmaterialized(spark, tmp_path):
    from mysqldatasynctool_spark.operators import similarity as S

    S.reset_trained_state()
    with pytest.raises(ValueError, match="no materialized index frames"):
        S.save_index_frames(spark, str(tmp_path / "nope"), SF_SMALL)
