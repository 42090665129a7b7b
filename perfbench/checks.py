"""Independent output checks. None of them is timed; each failing
table or query adds one to the run's ``failed`` count.

- parquet copies: DuckDB row count and an order-independent row hash of
  source vs destination (DuckDB shares no code with the engine's own
  Spark checksum verify);
- JDBC copies: a Spark read-back of both Derby databases and
  ``exceptAll`` in both directions;
- registry queries: the query's ``oracle_sql()`` text run in DuckDB over
  the same fixture files, compared cell by cell.
"""

from __future__ import annotations

import glob
import math
import os


def _parquet_glob(path: str) -> str:
    """A plain file, or the part files of a Spark-written directory."""
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def duck_fingerprint(con, path: str) -> tuple[int, int]:
    """(row count, sum of per-row hashes) of one parquet table."""
    src = f"read_parquet('{_parquet_glob(path)}')"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    row_hash = "hash(" + ", ".join(f'"{c}"' for c in cols) + ")"
    cnt, total = con.execute(
        f"SELECT count(*), coalesce(sum({row_hash}::HUGEINT), 0) FROM {src}"
    ).fetchone()
    return int(cnt), int(total)


def check_parquet_copies(src_dir: str, dest_dir: str) -> list[str]:
    """Tables under ``src_dir`` whose copy in ``dest_dir`` is missing or
    differs in row count or row-hash multiset."""
    import duckdb

    con = duckdb.connect()
    bad = []
    try:
        for path in sorted(glob.glob(f"{src_dir}/*.parquet")):
            name = os.path.basename(path)
            dest = f"{dest_dir}/{name}"
            if not os.path.exists(dest) or duck_fingerprint(con, path) != duck_fingerprint(con, dest):
                bad.append(name[: -len(".parquet")])
    finally:
        con.close()
    return bad


def check_jdbc_copies(spark, src, dest, tables) -> list[str]:
    """Tables whose Derby destination differs from the source as a
    multiset of rows (``exceptAll`` both ways must be empty)."""
    from mysqldatasynctool_spark.sources.jdbc import read_table

    bad = []
    for t in tables:
        s = read_table(spark, src, t)
        d = read_table(spark, dest, t).select(*s.columns)
        if s.exceptAll(d).limit(1).count() or d.exceptAll(s).limit(1).count():
            bad.append(t)
    return bad


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows_key(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive multiset of rows, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def same_result(s_cols, s_rows, o_cols, o_rows) -> bool:
    return (
        sorted(s_cols) == sorted(o_cols)
        and len(s_rows) == len(o_rows)
        and rows_key(list(s_cols), s_rows) == rows_key(list(o_cols), o_rows)
    )


def duck_fixture_connection(sf_dir: str):
    """DuckDB with one view per fixture table, as the oracles expect."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_results(results, oracles, names, sf_dir) -> list[str]:
    """``results`` maps a pass index to ``{query: (columns, rows)}``.
    Returns ``p<index>.<query>`` for every pass whose rows differ from
    the DuckDB oracle, are missing, or are empty (a 0-row match proves
    nothing). Each oracle runs once."""
    con = duck_fixture_connection(sf_dir)
    bad = []
    try:
        for name in names:
            cur = con.execute(oracles[name])
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            for idx, got in sorted(results.items()):
                if name not in got or not got[name][1] or not same_result(*got[name], o_cols, o_rows):
                    bad.append(f"p{idx}.{name}")
    finally:
        con.close()
    return bad
