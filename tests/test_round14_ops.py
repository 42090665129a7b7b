"""Round-14 hardening tests: plan-audit full-scan classification,
plan-dump drift gate support."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)


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
