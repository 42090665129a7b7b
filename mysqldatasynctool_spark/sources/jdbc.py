"""JDBC source — the production scan path (fixtures use parquet).

Replaces the reference's per-page goroutines + pooled connections
(/root/reference/cmd/root.go:133-147, cmd/app.go:34-78): Spark opens
one connection per partition task, so ``numPartitions`` bounds
concurrency the way the reference's semaphore pool did
(root.go:104-106).

No MySQL exists in the test container; these functions are exercised
for option-wiring (unit tests assert the reader config), and run for
real when a JDBC URL + driver jar are present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import Endpoint
from ..plans.partitioning import PartitionPlan


def read_table(
    spark: SparkSession,
    endpoint: Endpoint,
    table: str,
    plan: PartitionPlan | None = None,
    custom_sql: str | None = None,
    fetch_size: int = 10_000,
) -> DataFrame:
    """Partitioned JDBC read of one table (or custom-SQL passthrough).

    - custom SQL (the reference's ``-s`` mode, root.go:95-96, 291-293)
      becomes a derived-table scan: ``(SELECT ...) q`` — Catalyst still
      pushes filters/projections into the outer query;
    - a 'range' plan maps to partitionColumn/bounds;
    - a 'predicates' plan maps to spark.read.jdbc(predicates=[...]).
    """
    from .sinks import _is_embedded_derby, tune_embedded_derby

    if _is_embedded_derby(endpoint):
        # engine sizing must precede the JVM's first embedded boot —
        # a read can be the first Derby touch (see tune_embedded_derby)
        tune_embedded_derby()
    # the single-connection full scan is exactly where streaming fetch
    # matters most — without it Connector/J materializes the whole
    # result set in executor memory; every plan mode sets it
    return spark.read.jdbc(
        endpoint.jdbc_url,
        f"({custom_sql}) q" if custom_sql else table,
        **(plan.jdbc_read_options() if plan is not None else {}),
        properties={**endpoint.jdbc_properties, "fetchsize": str(fetch_size)},
    )


def probe_schema(spark: SparkSession, endpoint: Endpoint, sql: str):
    """Zero-row schema probe: the reference wraps the query in
    ``select * from (<q>) aa where 1=0`` (root.go:280-318); a JDBC
    DataFrame's schema is already resolved lazily without fetching
    rows, so .schema IS the probe."""
    return read_table(spark, endpoint, table="", custom_sql=sql).schema


class _JvmCursor:
    """Minimal PEP-249 cursor over a ``java.sql.Statement``."""

    def __init__(self, jconn):
        self._jconn = jconn
        self._rs = None

    def execute(self, sql: str):
        # ADVICE r7: an execute() issued while a prior result set is
        # still unfetched must not orphan the old java.sql.Statement.
        if self._rs is not None:
            self._rs.getStatement().close()
            self._rs = None
        stmt = self._jconn.createStatement()
        try:
            has_rs = stmt.execute(sql)
            self._rs = stmt.getResultSet() if has_rs else None
        except Exception:
            stmt.close()
            raise
        if self._rs is None:
            stmt.close()
        return self

    def fetchall(self):
        if self._rs is None:
            return []
        meta = self._rs.getMetaData()
        n = meta.getColumnCount()
        rows = []
        while self._rs.next():
            rows.append(tuple(self._rs.getString(i + 1) for i in range(n)))
        self._rs.getStatement().close()
        self._rs = None
        return rows

    def close(self):
        if self._rs is not None:
            self._rs.getStatement().close()
            self._rs = None


def dbapi_connection(spark: SparkSession, endpoint: Endpoint):
    """A PEP-249-shaped connection over the JVM's ``java.sql.DriverManager``
    — the bridge that lets :func:`...ddl.replicate_ddl` (which wants a
    DB-API connection) replay verbatim DDL against ANY live JDBC
    destination using only the driver jar already on Spark's classpath
    (``SPARK_GRAFT_JARS``): no Python DB client needed in the image.

    Implements exactly the surface replicate_ddl and the live tests
    touch: ``cursor() -> execute/fetchall/close``, ``commit``,
    ``rollback``, ``close``. String-typed fetches only (DDL probes /
    SHOW CREATE output) — data movement stays on the Spark JDBC
    reader/writer, never this driver-side path.
    """

    class _Conn:
        def __init__(self):
            jdm = spark._jvm.java.sql.DriverManager
            if endpoint.username:
                self._j = jdm.getConnection(
                    endpoint.jdbc_url, endpoint.username, endpoint.password
                )
            else:
                self._j = jdm.getConnection(endpoint.jdbc_url)
            self._j.setAutoCommit(False)

        def cursor(self):
            return _JvmCursor(self._j)

        def commit(self):
            self._j.commit()

        def rollback(self):
            self._j.rollback()

        def close(self):
            self._j.close()

    return _Conn()
