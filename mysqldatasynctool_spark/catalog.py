"""Catalog discovery + exclusion — reference operators #1-#3
(SURVEY.md §2A).

The reference enumerates base tables from information_schema with an
appended NOT IN exclusion (/root/reference/cmd/root.go:222-241) and
looks up PK columns ordered by ordinal position (root.go:327-340).
Here discovery is pluggable: a parquet directory (fixtures/lakehouse)
or an information_schema query over JDBC (production MySQL). Exclusion
is one Python rule, ``exclude_tables``, that each verb applies once to
what discovery found, whichever discovery it was; ``catalog_scan_sql``
keeps the reference's NOT IN statement as text.
"""

from __future__ import annotations

import glob
import os.path

from pyspark.sql import SparkSession

#: PKs of the fixture tables (what information_schema.key_column_usage
#: would report; lineitem is the composite-PK case — FIXTURES.md).
FIXTURE_PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def catalog_scan_sql(exclude: tuple[str, ...] = ()) -> str:
    """The discovery SQL for a MySQL source — same statement the
    reference builds (root.go:222-234), views deliberately excluded."""
    sql = (
        "select table_name from information_schema.tables "
        "where table_schema = database() and table_type = 'BASE TABLE'"
    )
    if exclude:
        quoted = ",".join("'" + t.replace("'", "''") + "'" for t in exclude)
        sql += f" and table_name not in ({quoted})"
    return sql


def primary_key_sql(table: str) -> str:
    """PK lookup SQL (composite-PK aware) — root.go:327-340."""
    escaped = table.replace("'", "''")
    return (
        "SELECT lower(COLUMN_NAME) FROM information_schema.key_column_usage "
        "WHERE constraint_name = 'PRIMARY' AND table_schema = DATABASE() "
        f"AND table_name = '{escaped}' ORDER BY ORDINAL_POSITION"
    )


def all_primary_keys_sql() -> str:
    """One grouped PK query for the WHOLE schema — at the reference's
    thousands-of-tables regime, a per-table lookup (root.go:327-340,
    re-issued per table) costs one round-trip each; this single
    information_schema scan replaces all of them."""
    return (
        "SELECT table_name, lower(COLUMN_NAME) AS column_name, ORDINAL_POSITION "
        "FROM information_schema.key_column_usage "
        "WHERE constraint_name = 'PRIMARY' AND table_schema = DATABASE()"
    )


def discover_jdbc_pks(spark: SparkSession, endpoint) -> dict[str, list[str]]:
    """Live-source catalog + PK discovery over JDBC — the reference's
    startup sequence (root.go:222-241 discovery, root.go:327-340 PK
    lookup) as exactly TWO pushed-down information_schema queries per
    run (table list + one grouped PK scan), independent of table
    count.

    MySQL-dialect information_schema only (the reference's single
    dialect); databases without it (e.g. embedded Derby in tests) pass
    an explicit pk_map instead — same escape hatch the CLI exposes as
    --pk-map.
    """
    from .sources.jdbc import read_table

    tables = [
        r[0]
        for r in read_table(
            spark, endpoint, "", custom_sql=catalog_scan_sql()
        ).collect()
    ]
    pk_rows = sorted(
        read_table(spark, endpoint, "", custom_sql=all_primary_keys_sql()).collect(),
        key=lambda r: (r[0], r[2]),  # (table, ordinal) — PK column order matters
    )
    by_table: dict[str, list[str]] = {}
    for r in pk_rows:
        by_table.setdefault(r[0], []).append(r[1])
    # tables without a PRIMARY constraint still need an entry (no-PK →
    # full-scan plan tier)
    return {t: by_table.get(t, []) for t in tables}


def discover_parquet_tables(path: str) -> list[str]:
    """Directory-based discovery: every *.parquet entry is a table."""
    names = [
        os.path.basename(p)[: -len(".parquet")]
        for p in glob.glob(os.path.join(path, "*.parquet"))
    ]
    return sorted(names)


def exclude_tables(tables, exclude) -> list[str]:
    """The one exclusion rule of every verb (root.go:222-232's NOT IN):
    ``tables`` minus the names in ``exclude``, in discovery order."""
    drop = set(exclude)
    return [t for t in tables if t not in drop]
