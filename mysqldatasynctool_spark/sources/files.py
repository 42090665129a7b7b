"""File sources beyond parquet: CSV and JSON-lines (SURVEY.md §2B
"Scans/sources").

Production rules baked in:
- explicit schema always (inferSchema double-reads the data and
  guesses types — never in a pipeline);
- corrupt-record capture (PERMISSIVE + a quarantine column) instead of
  failing the job or silently dropping rows at TB scale;
- both readers parallelize by file splits exactly like parquet
  (``maxPartitionBytes``), so the scan scales with executors.

Caveat: aggregating over a filter on ``_corrupt_record`` can be wrong
— column pruning re-parses rows with a reduced schema, so counts see
raw lines. Select the data columns (or cache) before counting
good/bad splits; tests/test_file_sources.py pins the behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    keep_corrupt: bool = True,
) -> DataFrame:
    schema = _with_corrupt(schema) if keep_corrupt else schema
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    keep_corrupt: bool = True,
) -> DataFrame:
    schema = _with_corrupt(schema) if keep_corrupt else schema
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in [f.name for f in schema.fields]:
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan (columnar like parquet: predicate pushdown, column
    pruning, and split-by-stripe parallelism all apply). Schema is
    optional — ORC is self-describing — but passing one pins the
    contract the same way the CSV/JSONL readers do."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# Versioned snapshots (lakehouse-lite time travel)
# ---------------------------------------------------------------------------

_MANIFEST = "_manifest.json"


def write_versioned(df: DataFrame, root: str) -> int:
    """Write a NEW immutable snapshot version under ``root/v=<n>`` and
    atomically publish it by replacing the manifest pointer — the
    minimal time-travel/rollback mechanism a migration destination
    needs without a table format (Delta/Iceberg) on the classpath.

    Correctness properties (tested):
    - versions are immutable: a new write NEVER touches prior
      directories, so concurrent readers of any published version are
      unaffected;
    - publish is atomic: the manifest is written to a temp file and
      ``os.replace``d (POSIX-atomic), so readers see the old or the
      new pointer, never a torn state;
    - a crash between data-write and publish leaves an orphan
      ``v=<n>`` directory and a consistent older manifest — safe to
      re-run (the next write claims ``n+1``).

    At 100 TB this is exactly the manifest discipline the real table
    formats formalize; swap in Delta/Iceberg where available.

    Returns the published version number (1-based).
    """
    import json
    import os
    import tempfile

    os.makedirs(root, exist_ok=True)
    # next version = max EXISTING directory + 1, not manifest + 1:
    # after a rollback the manifest points below abandoned (immutable,
    # still-readable) versions, which must never be clobbered
    existing = [
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    version = max(existing, default=0) + 1
    df.write.mode("errorifexists").parquet(f"{root}/v={version}")
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._manifest")
    with os.fdopen(fd, "w") as f:
        json.dump({"current": version}, f)
    os.replace(tmp, os.path.join(root, _MANIFEST))
    return version


def read_manifest_version(root: str) -> int:
    """Currently-published version (0 = nothing published yet)."""
    import json
    import os

    path = os.path.join(root, _MANIFEST)
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return int(json.load(f)["current"])


def read_versioned(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Read a published snapshot: the manifest's current version by
    default, or any explicit prior ``version`` (time travel)."""
    v = version if version is not None else read_manifest_version(root)
    if v <= 0:
        raise FileNotFoundError(f"no published snapshot under {root}")
    return spark.read.parquet(f"{root}/v={v}")


def rollback_versioned(root: str, version: int) -> None:
    """Atomically repoint the manifest at a PRIOR version. Data
    directories are immutable, so rollback is a pointer move — the
    abandoned newer versions remain readable via explicit
    ``read_versioned(..., version=n)`` until vacuumed."""
    import json
    import os
    import tempfile

    if version <= 0 or not os.path.isdir(f"{root}/v={version}"):
        raise FileNotFoundError(f"snapshot v={version} does not exist under {root}")
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._manifest")
    with os.fdopen(fd, "w") as f:
        json.dump({"current": version}, f)
    os.replace(tmp, os.path.join(root, _MANIFEST))


def parquet_scan_parallelism(
    path: str,
    target_parallelism: int = 32,
    sample_files: int | None = None,
) -> dict:
    """Preflight layout probe: the MAXIMUM number of tasks a Spark
    parquet scan of ``path`` can fan out to, from file FOOTERS only
    (pyarrow metadata — no Spark job, no data read).

    Spark splits parquet by byte ranges (``maxPartitionBytes``), but a
    ROW GROUP is the atomic read unit: each row group is processed by
    the one split containing its midpoint, so scan parallelism is
    bounded by the TOTAL ROW-GROUP COUNT no matter how many executors
    the cluster has. A "few huge row groups" layout therefore caps a
    1000-executor scan at a handful of tasks — measured in this repo
    at the r16 ANN stress, where a single-row-group 600 k-vector
    corpus serialized every training scan onto ONE task of 32
    (walls dropped 5-13× after rewriting with bounded row groups).
    This probe is the preflight a scheduler runs before sizing a job
    on an unfamiliar dataset; at 100 TB it reads only KB-scale
    footers per file.

    Accepts a single ``.parquet`` file or a directory tree — the walk
    is RECURSIVE, so hive-partitioned layouts (``cell=3/part-0.
    parquet``, ``date=.../...``) are probed, not rejected. Returns ``{files,
    row_groups, rows, bytes, max_scan_tasks, bounded}`` where
    ``max_scan_tasks = row_groups`` and ``bounded`` flags a layout
    that cannot feed ``target_parallelism`` tasks. Raises
    FileNotFoundError for a missing/empty path (a sizing probe must
    not guess).

    ``sample_files=N`` keeps the preflight a PREFLIGHT on huge trees
    (r16 verdict item 7: the footer walk is serial per file — at 100k
    files it is a minutes-long driver loop): when the tree has more
    than N files, footers are read for N evenly-spaced files
    (deterministic, no RNG) and ``row_groups``/``rows`` are
    extrapolated by the file-count ratio; ``bytes`` stays exact (a
    stat per file, no footer read). Exact below the threshold. A
    sampled report carries ``sampled: true`` + ``sampled_files`` so a
    scheduler knows the bound is an estimate."""
    import os

    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
    else:
        files = []
    if not files:
        raise FileNotFoundError(f"no parquet data at {path!r}")
    n_bytes = sum(os.path.getsize(f) for f in files)
    probe_set = files
    sampled = False
    if sample_files is not None and 0 < sample_files < len(files):
        # evenly spaced over the SORTED listing: hive trees interleave
        # partitions through the sample instead of clustering on the
        # first directories a random-free head-take would
        idx = sorted(
            {int(i * len(files) / sample_files) for i in range(sample_files)}
        )
        probe_set = [files[i] for i in idx]
        sampled = True
    n_groups = n_rows = 0
    for f in probe_set:
        meta = pq.ParquetFile(f).metadata
        n_groups += meta.num_row_groups
        n_rows += meta.num_rows
    if sampled:
        scale = len(files) / len(probe_set)
        n_groups = int(round(n_groups * scale))
        n_rows = int(round(n_rows * scale))
    out = {
        "files": len(files),
        "row_groups": n_groups,
        "rows": n_rows,
        "bytes": n_bytes,
        "max_scan_tasks": n_groups,
        "bounded": n_groups < target_parallelism,
    }
    if sampled:
        out["sampled"] = True
        out["sampled_files"] = len(probe_set)
    return out
