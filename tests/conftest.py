"""Shared pytest fixtures: one SparkSession per test session, plus the
local DuckDB-oracle comparison gate mirroring the driver's check
(row count + column names + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysqldatasynctool_spark.session import get_spark
from mysqldatasynctool_spark.sources.fixtures import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


#: The slow tier (VERDICT r18 item 1 — the driver's pytest gate was
#: truncated two rounds running because the suite outgrew its budget).
#: Tier assignment is MEASURED: every test whose wall exceeded ~8 s in
#: the round-19 full-suite durations run (pytest --durations=80, log
#: in OPTIMIZATION_r19.md) is deselected by default via pytest.ini's
#: `-m "not live and not heavy"`; whole files whose content is plan
#: dumps / executed-plan metrics (the verdict's named candidates) are
#: tiered as files. The heavy tier still runs every round by hand
#: (`pytest -m heavy`) — it is a BUDGET split, not a deletion.
HEAVY_FILES = {
    "test_plans.py",          # ~44 formatted-plan builds
    "test_plan_audit.py",     # 112 s registry-wide plan sweep
    "test_plan_metrics.py",   # executed-plan volume scaling A/Bs
}
HEAVY_TESTS = {
    # (file, test name with parametrization) — measured ≥ ~8 s
    "test_round17_ops.py::test_sliding_distinct_sketch_merge_matches_exact",
    "test_round15_ops.py::test_anomaly_salted_matches_unsalted",
    "test_streaming_state_contract.py::test_stream_stream_join_evicts_state",
    "test_streaming_state_contract.py::test_dedup_within_watermark_evicts_state",
    "test_streaming_state_contract.py::test_dropped_watermark_turns_contract_red",
    "test_northstar.py::test_matches_oracle[pipeline_leakage_safe_split]",
    "test_northstar.py::test_matches_oracle[similarity_ann_recall_report]",
    "test_northstar.py::test_matches_oracle[pipeline_cluster_balanced_sample]",
    "test_northstar.py::test_minhash_lsh_finds_planted_neardups",
    "test_northstar.py::test_matches_oracle[pipeline_incremental_dedup]",
    "test_northstar.py::test_substring_spans_random_corpus_vs_python",
    "test_northstar.py::test_semantic_cells_keeps_a_representative",
    "test_northstar.py::test_matches_oracle[dedup_semantic_cells]",
    "test_northstar.py::test_matches_oracle[pipeline_decontaminate]",
    "test_northstar.py::test_matches_oracle[similarity_incremental_index]",
    "test_northstar.py::test_matches_oracle[similarity_ivfpq_topk]",
    "test_northstar.py::test_matches_oracle[pipeline_token_budget_planner]",
    "test_round12_ops.py::test_teardown_releases_persisted_ann_frame",
    "test_round12_ops.py::test_streaming_left_join_on_int96_fixture",
    "test_streaming.py::test_checkpoint_recovery_exactly_once",
    "test_streaming.py::test_ewma_checkpoint_recovery_exactly_once",
    "test_streaming.py::test_streaming_anomaly_zscore_matches_batch_twin",
    "test_streaming.py::test_stream_stream_funnel_join_matches_batch_twin",
    "test_streaming.py::test_cdc_merge_stream_matches_batch_merge",
    "test_streaming.py::test_cdc_merge_stream_checkpoint_recovery",
    "test_round13_ops.py::test_ivfpq_reuses_persisted_index_frames",
    "test_cli.py::test_migrate_and_compare_roundtrip",
    "test_round2_ops.py::test_clusters_consistent_with_pairs",
    "test_round2_ops.py::test_ivf_multiprobe_recall_not_worse",
    "test_round7_ops.py::test_markov_rows_sum_to_one",
    "test_migration.py::test_migration_queries_match_oracle",
    "test_advanced.py::test_matches_oracle[agg_correlation_manual]",
    "test_round8_ops.py::test_ann_recall_report_consistency",
    "test_round8_ops.py::test_incremental_index_invariants",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        short_id = f"{fname}::{item.name}"
        if fname in HEAVY_FILES or short_id in HEAVY_TESTS:
            item.add_marker(pytest.mark.heavy)


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark(app_name="tests", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf_dir in {SF_DIR, SF_SMALL}:
        schema = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {schema}.{t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact float identity is the goal; repr keeps full precision
        return repr(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows_key(cols, rows):
    """Order-insensitive multiset of rows with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=repr,
    )


def assert_matches_oracle(spark_df, sql, duck, sf_dir=SF_DIR):
    """The local stand-in for the driver's CORRECTNESS gate."""
    schema = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"SET schema '{schema}'")
    oracle = duck.execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), f"columns differ: {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"row count differs: {len(s_rows)} vs {len(o_rows)}"
    sk = rows_key(s_cols, s_rows)
    ok = rows_key(o_cols, o_rows)
    mismatches = [(a, b) for a, b in zip(sk, ok) if a != b]
    if mismatches:
        # dump BOTH full sides for post-mortem (zip misalignment after
        # one divergent row makes the inline "first 3" misleading —
        # the SET difference in the dump is the real signal)
        import json
        import tempfile

        fd, dump = tempfile.mkstemp(prefix="oracle_mismatch_", suffix=".json")
        with open(fd, "w") as f:
            json.dump(
                {
                    "spark_only": [repr(r) for r in set(sk) - set(ok)],
                    "oracle_only": [repr(r) for r in set(ok) - set(sk)],
                    "spark": [repr(r) for r in sk],
                    "oracle": [repr(r) for r in ok],
                },
                f,
                indent=1,
            )
        raise AssertionError(
            f"{len(mismatches)} zip-misaligned rows; set diff: "
            f"{len(set(sk) - set(ok))} spark-only / "
            f"{len(set(ok) - set(sk))} oracle-only; full dump: {dump}; "
            f"first 3: {mismatches[:3]}"
        )
