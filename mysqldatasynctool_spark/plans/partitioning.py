"""Read-partitioning plans — the Spark-first replacement for the
reference's paginated scan generator.

The reference generates, per page i, a deferred-join SQL
``SELECT t.* FROM (SELECT pk FROM tbl ORDER BY pk LIMIT i*n, n) temp
LEFT JOIN tbl t ON temp.pk = t.pk`` (/root/reference/cmd/root.go:
321-372; sample readme.md:67-70) — a sort+offset on the narrow PK to
avoid rescanning wide rows at deep offsets.

Spark replaces this with *non-overlapping range predicates*, which are
strictly better (no O(offset) rescan per page — SURVEY.md §4):

- single numeric PK → JDBC ``partitionColumn/lowerBound/upperBound/
  numPartitions`` (Spark generates the range WHERE clauses);
- composite or non-numeric PK → an explicit ``predicates=[...]`` list
  built from sampled PK boundaries that tiles the keyspace exactly
  (the analogue of the reference's composite-PK AND-chains,
  root.go:347-357);
- no PK → one full-scan partition (root.go:341-345 fallback).

Empty tables still yield one partition — mirroring the reference's
deliberate trailing empty page (root.go:367) so zero-row tables
produce a (no-op) task.

Scale note: boundary sampling reads ONLY the PK columns (columnar
scan) and sorts that narrow projection — the same "sort the narrow
key, not the wide row" insight as the reference's deferred join, but
distributed. At 100 TB with a 16-byte composite key this is ~2-3
orders of magnitude less data than the table itself.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from numbers import Number

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PartitionPlan:
    """How to read one table in parallel."""

    table: str
    mode: str  # 'range' | 'predicates' | 'single'
    partition_column: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 1
    predicates: tuple[str, ...] = field(default_factory=tuple)

    def jdbc_read_options(self) -> dict:
        """Options for spark.read.jdbc for this plan."""
        if self.mode == "range":
            return {
                "column": self.partition_column,
                "lowerBound": self.lower_bound,
                "upperBound": self.upper_bound,
                "numPartitions": self.num_partitions,
            }
        if self.mode == "predicates":
            return {"predicates": list(self.predicates)}
        return {}


def _lex_gt(pk_cols: list[str], values: tuple) -> str:
    """Lexicographic (pk1,pk2,...) > (v1,v2,...) without row-value
    syntax (MySQL-portable), as nested AND/OR — the predicate form of
    the reference's composite-key AND-chains (root.go:347-357)."""
    terms = []
    for i in range(len(pk_cols)):
        eqs = [f"{pk_cols[j]} = {_sql_lit(values[j])}" for j in range(i)]
        eqs.append(f"{pk_cols[i]} > {_sql_lit(values[i])}")
        terms.append("(" + " AND ".join(eqs) + ")")
    return "(" + " OR ".join(terms) + ")"


def _lex_le(pk_cols: list[str], values: tuple) -> str:
    """Lexicographic (pk1,...) <= (v1,...)."""
    return f"NOT {_lex_gt(pk_cols, values)}"


def _sql_lit(v) -> str:
    import datetime

    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if v is None:
        raise ValueError("NULL cannot appear in a primary-key boundary")
    return str(v)


def composite_pk_predicates(
    pk_cols: list[str], boundaries: list[tuple], quote: str = ""
) -> list[str]:
    """Tile the keyspace into len(boundaries)+1 predicates from sorted
    PK boundary tuples. Every row satisfies exactly ONE predicate
    (correctness requirement from SURVEY.md §7 "riskiest").

    boundaries = [] → single always-true predicate (empty/small/no-
    stats table: one partition, the root.go:367 empty-page analogue).

    ``quote`` wraps identifiers for the target dialect: '`' for MySQL,
    '"' for ANSI databases whose writer quoted the column names (e.g.
    Derby/Postgres — unquoted identifiers would upcase and miss).
    """
    cols = [f"{quote}{c}{quote}" for c in pk_cols]
    if not boundaries:
        return ["1 = 1"]
    preds = [_lex_le(cols, boundaries[0])]
    for lo, hi in zip(boundaries, boundaries[1:]):
        preds.append(f"({_lex_gt(cols, lo)} AND {_lex_le(cols, hi)})")
    preds.append(_lex_gt(cols, boundaries[-1]))
    return preds


#: boundary sampling never collects more than this many PK tuples
MAX_BOUNDARY_SAMPLE = 100_000


def sample_boundaries(
    df: DataFrame, pk_cols: list[str], page_size: int, count: int | None = None
) -> list[tuple]:
    """PK boundary tuples that cut the table into ``page_count(rows,
    page_size)`` pages, from a bounded SAMPLE of the narrow PK
    projection.

    ``count`` is the table's row count when the caller already holds
    it (migrate_jdbc's pushed-down stats probe); only when it is
    ``None`` does the sampler count the table itself, one more scan.
    A table of at most one page needs no boundaries and runs no job.

    Distributed-safe by construction: the sample (≤ MAX_BOUNDARY_SAMPLE
    tuples, seed-fixed) is collected and sorted driver-side — never a
    global single-task window sort over the full table. Boundaries are
    approximate page edges, which is fine: tiling correctness comes
    from composite_pk_predicates (every row matches exactly one
    predicate regardless of where the boundaries sit); spacing only
    balances partition sizes.
    """
    narrow = df.select(*pk_cols)
    total = narrow.count() if count is None else count
    if total <= page_size:
        return []
    fraction = min(1.0, MAX_BOUNDARY_SAMPLE / total)
    sampled = (
        narrow.sample(fraction=fraction, seed=42).collect()
        if fraction < 1.0
        else narrow.collect()
    )
    tuples = sorted(tuple(r) for r in sampled)
    n_pages = page_count(total, page_size)
    stride = max(1, len(tuples) // n_pages)
    return [tuples[i] for i in range(stride - 1, len(tuples) - 1, stride)][: n_pages - 1]


def page_count(row_count: int, page_size: int) -> int:
    """``ceil(row_count/page_size)``, root.go:359-364's total_page_num."""
    return -(-row_count // page_size)


def plan_table(
    table: str,
    pk_cols: list[str],
    page_size: int,
    max_parallel: int,
    row_count: int | None = None,
    pk_min: int | None = None,
    pk_max: int | None = None,
    boundaries: list[tuple] | None = None,
    quote: str = "",
) -> PartitionPlan:
    """Choose a partitioning strategy for one table.

    Decision tree (reference parity → Spark mechanism):
    - no PK             → single full-scan partition (root.go:341-345)
    - ``pk_min/pk_max`` → range partitioning on the leading PK column
                          (JDBC bounds); partition count =
                          clamp(ceil(rows/page_size), 1, max_parallel) —
                          pageSize and maxParallel keep their reference
                          meanings (example.yml:13-14)
    - otherwise         → boundary predicates (root.go:347-357 analogue)

    ``choose_plan`` passes bounds when the leading PK column is numeric.
    Range partitions on a non-unique leading member of a composite key
    tile the keyspace as completely as the boundary predicates (every
    row falls in exactly one range), for one pushed-down
    COUNT/MIN/MAX and no boundary-sampling scan.
    """
    if not pk_cols:
        return PartitionPlan(table=table, mode="single")
    if pk_min is not None and pk_max is not None:
        return PartitionPlan(
            table=table,
            mode="range",
            partition_column=pk_cols[0],
            lower_bound=pk_min,
            upper_bound=pk_max + 1,
            num_partitions=min(max(1, page_count(row_count or 0, page_size)), max_parallel),
        )
    preds = composite_pk_predicates(pk_cols, boundaries or [], quote=quote)
    return PartitionPlan(table=table, mode="predicates", predicates=tuple(preds))


def choose_plan(
    table: str, pk_cols: list[str], page_size: int, max_parallel: int,
    stats: tuple | None, boundaries: Callable[[int | None], list[tuple]], quote: str = "",
) -> PartitionPlan:
    """The one tier choice, from the leading PK column's ``(count, min,
    max)`` (``None`` when unprobed): no PK or a non-bool numeric min →
    ``plan_table``'s single or range plan; anything else (an empty
    table, a string/date key) → predicates over ``boundaries(count)``,
    which is called only then, with the probe's count (``None`` when
    unprobed) so the sampler need not count the table again. The
    reference pages every PK type the same way (root.go:347-371)."""
    count, lo, hi = stats or (None, None, None)
    if not pk_cols or (isinstance(lo, Number) and not isinstance(lo, bool)):
        return plan_table(table, pk_cols, page_size, max_parallel, count, lo, hi)
    return plan_table(
        table, pk_cols, page_size, max_parallel, boundaries=boundaries(count), quote=quote
    )


def page_queries(table: str, pk_cols: list[str], total_rows: int, page_size: int) -> list[str]:
    """Literal emulation of the reference's page-SQL generation, for
    parity tests: one deferred-join SELECT per page, including the
    deliberate trailing empty page (loop ``i <= totalPageNum``,
    root.go:366-371)."""
    if not pk_cols:
        return [f"select * from `{table}`"]  # root.go:341-345
    total_pages = page_count(total_rows, page_size)
    pk_list = ",".join(pk_cols)
    on = " and ".join(f"temp.{c} = t.{c}" for c in pk_cols)  # root.go:347-357
    out = []
    for i in range(total_pages + 1):  # note: <=, one trailing empty page
        out.append(
            f"SELECT t.* FROM (SELECT {pk_list} FROM `{table}` ORDER BY {pk_list} "
            f"LIMIT {i * page_size},{page_size}) temp LEFT JOIN `{table}` t ON {on}"
        )
    return out
