"""Seeded input generators.

Everything a workload reads is built here, in set-up, before any timed
metric starts. The same seed always gives byte-identical parquet files:
all randomness comes from one ``numpy.random.Generator`` per table,
derived from the run seed and the table's position.

- ``migrate``: a parquet source directory (a few bulk tables plus many
  small tables of varying shape) and an embedded-Derby source holding
  one table per JDBC plan tier.
- ``query_mix``: the TPC-H-ish fixture layout the registry queries read
  (FIXTURES.md), at a fixed seed; the run seed only orders the queries.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: column kinds of the migrate tables
KINDS = ("bigint", "decimal", "double", "string", "timestamp")

#: bulk tables share one column multiset, so the seed permutes column
#: order and names but leaves the per-row cost unchanged
BULK_KINDS = (
    "bigint", "bigint", "decimal", "decimal", "double", "double",
    "double", "string", "string", "string", "timestamp",
)  # plus the bigint primary key ``id`` = 12 columns

WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
)

_TS0 = 1_577_836_800_000_000  # 2020-01-01 UTC in microseconds
_TS_SPAN = 5 * 365 * 86_400 * 1_000_000


#: fixed sizes of one ``migrate`` input set; the seed moves each row
#: count by a few percent only
BULK_TABLES, BULK_ROWS = 2, 10_000
MANY_TABLES, MANY_ROWS = 4, 2_000
JDBC_ROWS = 5_000


@dataclass(frozen=True)
class MigrateSpec:
    """Sizes of one ``migrate`` input set, all derived from the seed."""

    seed: int
    bulk_rows: list[int]
    bulk_kinds: list[tuple[str, ...]]
    bulk_null_share: float
    many_rows: list[int]
    many_kinds: list[tuple[str, ...]]
    jdbc_rows: int


def migrate_spec(seed: int) -> MigrateSpec:
    """Schemas, rows and NULL share for one seed.

    The seed picks each table's column types and order, which small
    table gets which column count (3 to 6, a fixed multiset), its
    values, its row count within a few percent and the NULL share; the
    table count and the total column count stay fixed. Run-to-run spread
    then measures the program, not the amount of work a seed drew."""
    rng = np.random.default_rng([seed, 0])
    widths = rng.permutation(np.resize(np.arange(3, 10), MANY_TABLES))
    return MigrateSpec(
        seed=seed,
        bulk_rows=[int(BULK_ROWS * rng.uniform(0.98, 1.02)) for _ in range(BULK_TABLES)],
        bulk_null_share=float(rng.uniform(0.06, 0.08)),
        many_rows=[int(MANY_ROWS * rng.uniform(0.95, 1.05)) for _ in range(MANY_TABLES)],
        many_kinds=[tuple(str(k) for k in rng.choice(KINDS, size=w)) for w in widths],
        jdbc_rows=int(JDBC_ROWS * rng.uniform(0.98, 1.02)),
        bulk_kinds=[tuple(str(k) for k in rng.permutation(BULK_KINDS)) for _ in range(BULK_TABLES)],
    )


def _column(rng: np.random.Generator, kind: str, n: int, null_share: float) -> pa.Array:
    mask = rng.random(n) < null_share if null_share > 0 else None
    if kind == "bigint":
        vals = pa.array(rng.integers(-(10**12), 10**12, n, dtype=np.int64), mask=mask)
    elif kind == "decimal":
        cents = rng.integers(-(10**9), 10**9, n, dtype=np.int64) / 100.0
        vals = pc.cast(pa.array(cents, mask=mask), pa.decimal128(18, 2), safe=False)
    elif kind == "double":
        vals = pa.array(rng.normal(0.0, 1000.0, n), mask=mask)
    elif kind == "string":
        words = np.array(WORDS)[rng.integers(0, len(WORDS), n)]
        nums = rng.integers(0, 100_000, n).astype(str)
        vals = pa.array(np.char.add(np.char.add(words, "-"), nums), mask=mask)
    elif kind == "timestamp":
        us = _TS0 + rng.integers(0, _TS_SPAN, n, dtype=np.int64)
        vals = pa.array(us, mask=mask).cast(pa.timestamp("us", tz="UTC"))
    else:
        raise ValueError(kind)
    return vals


def migrate_table(seed: int, index: int, kinds: tuple[str, ...], rows: int, null_share: float) -> pa.Table:
    """One migrate source table: ``id`` bigint key, then ``kinds``."""
    rng = np.random.default_rng([seed, 1, index])
    cols = {"id": pa.array(np.arange(rows, dtype=np.int64))}
    for i, kind in enumerate(kinds):
        cols[f"c{i:02d}_{kind[:3]}"] = _column(rng, kind, rows, null_share)
    return pa.table(cols)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def write_migrate_sources(spec: MigrateSpec, bulk_dir: str, many_dir: str) -> dict:
    """Write the bulk and many-small-table parquet sources; returns a
    record of tables, rows and bytes."""
    os.makedirs(bulk_dir, exist_ok=True)
    os.makedirs(many_dir, exist_ok=True)
    for i, (rows, kinds) in enumerate(zip(spec.bulk_rows, spec.bulk_kinds)):
        t = migrate_table(spec.seed, i, kinds, rows, spec.bulk_null_share)
        pq.write_table(t, f"{bulk_dir}/bulk_{i:02d}.parquet", row_group_size=rows // 4 + 1)
    for i, (rows, kinds) in enumerate(zip(spec.many_rows, spec.many_kinds)):
        t = migrate_table(spec.seed, 100 + i, kinds, rows, spec.bulk_null_share)
        pq.write_table(t, f"{many_dir}/t{i:03d}.parquet")
    return {
        "bulk": {
            "tables": len(spec.bulk_rows),
            "rows": sum(spec.bulk_rows),
            "bytes": _dir_bytes(bulk_dir),
        },
        "many": {
            "tables": len(spec.many_rows),
            "rows": sum(spec.many_rows),
            "bytes": _dir_bytes(many_dir),
        },
    }


#: JDBC plan tiers: name -> (primary key, VARCHAR column override)
JDBC_TABLES = {
    "range_t": (["id"], None),
    "composite_t": (["code", "line"], "code VARCHAR(16)"),
    "nopk_t": ([], None),
}


def jdbc_table(spec: MigrateSpec, name: str) -> pa.Table:
    """Source rows of one JDBC tier table. ``composite_t`` has a
    non-numeric leading key column so the planner takes the boundary
    predicate tier."""
    idx = list(JDBC_TABLES).index(name)
    rng = np.random.default_rng([spec.seed, 2, idx])
    n = spec.jdbc_rows
    base = migrate_table(spec.seed, 200 + idx, BULK_KINDS[2:8], n, spec.bulk_null_share)
    if name == "composite_t":
        groups = np.array([f"K{g:05d}" for g in rng.integers(0, n // 4 + 1, n)])
        order = np.lexsort((np.arange(n), groups))
        line = np.empty(n, dtype=np.int32)
        g_sorted = groups[order]
        starts = np.r_[True, g_sorted[1:] != g_sorted[:-1]]
        run_id = np.cumsum(starts) - 1
        first = np.flatnonzero(starts)
        line[order] = (np.arange(n) - first[run_id] + 1).astype(np.int32)
        base = base.drop(["id"])
        base = base.add_column(0, "line", pa.array(line))
        base = base.add_column(0, "code", pa.array(groups))
    elif name == "nopk_t":
        base = base.drop(["id"])
    return base


def load_jdbc_source(spark, spec: MigrateSpec, endpoint, stage_dir: str) -> dict:
    """Seed the Derby source through the engine's own JDBC sink; the
    key column of ``composite_t`` is declared VARCHAR so Derby does not
    store it as CLOB (which it could neither order nor compare)."""
    from mysqldatasynctool_spark.sources.sinks import write_jdbc

    os.makedirs(stage_dir, exist_ok=True)
    rows = 0
    for name, (_pk, col_types) in JDBC_TABLES.items():
        path = f"{stage_dir}/{name}.parquet"
        t = jdbc_table(spec, name)
        rows += t.num_rows
        pq.write_table(t, path)
        write_jdbc(
            spark.read.parquet(path), endpoint, name, truncate=True,
            column_types=col_types,
        )
    return {"tables": len(JDBC_TABLES), "rows": rows, "bytes": _dir_bytes(stage_dir)}


# --- query_mix fixtures ------------------------------------------------

FIXTURE_SEED = 42


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64)).cast(pa.timestamp("us"))


def fixture_tables(scale: float = 0.01) -> dict[str, pa.Table]:
    """The fixture tables the mix queries read (region, nation,
    customer, orders, lineitem, events), with the FIXTURES.md schemas
    and value domains, at ``scale`` (0.01 = 60k lineitem rows)."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_user = 150
    day = 86_400 * 1_000_000
    d1995 = 788_918_400 * 1_000_000  # 1995-01-01
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
    })
    odate = d1995 + rng.integers(0, 2404, n_ord) * day
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    })
    # lineitem: each order gets 1..7 lines, numbered from 1
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)[:n_li]
    lnum = (np.arange(okey.size) - np.repeat(np.cumsum(per) - per, per)[:n_li] + 1).astype(np.int32)
    n_li = okey.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * day),
    })
    ev_ts = np.sort(1_704_067_200 * 1_000_000 + rng.integers(0, 30 * day, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_user, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(
            ["click", "signup", "error", "view", "purchase"]
        )[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
    })
    return out


def write_fixtures(sf_dir: str) -> dict:
    """Write the fixture tables as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    tables = fixture_tables()
    for name, table in tables.items():
        pq.write_table(table, f"{sf_dir}/{name}.parquet")
    return {
        "tables": len(tables),
        "rows": sum(t.num_rows for t in tables.values()),
        "bytes": _dir_bytes(sf_dir),
    }
