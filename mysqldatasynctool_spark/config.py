"""YAML config, same surface as the reference's example.yml.

Reference parity: the reference parses these keys with viper
(/root/reference/cmd/app.go:19-32, cmd/root.go:646-672,
example.yml:1-23). Key mapping into Spark (SURVEY.md §1.3):

- ``pageSize``      → rows per read partition (JDBC partitioned scan)
- ``maxParallel``   → ``numPartitions`` bound / writer parallelism
- ``batchRowSize``  → JDBC writer ``batchsize``
- ``exclude``       → catalog exclusion filter (NOT IN)

``tables`` (per-table custom SQL) is read by the reference's ``-s``
mode only (root.go:95-96), which is not supported here: a config
carrying the key loads, and the key is ignored.
"""

from __future__ import annotations

from dataclasses import dataclass, field

try:
    import yaml
except ImportError:  # pragma: no cover - PyYAML is in the base image
    yaml = None


@dataclass(frozen=True)
class Endpoint:
    """One JDBC side (src or dest). Defaults build a MySQL URL (the
    reference's only dialect); ``url_override``/``driver`` point the
    same machinery at any JDBC database (tests use embedded Derby)."""

    host: str = "localhost"
    port: int = 3306
    database: str = ""
    username: str = ""
    password: str = ""
    url_override: str | None = None
    driver: str = "com.mysql.cj.jdbc.Driver"

    @property
    def jdbc_url(self) -> str:
        if self.url_override:
            return self.url_override
        # The reference forces charset=utf8 & unlimited packet
        # (/root/reference/cmd/app.go:41, 64); JDBC equivalents below.
        # rewriteBatchedStatements makes Connector/J send each
        # executeBatch as ONE multi-row INSERT instead of N statements
        # — the standard ~10x lever for JDBC bulk insert into MySQL,
        # and the closest JDBC analogue of the reference's hand-built
        # multi-VALUES batches (root.go:435-469).
        return (
            f"jdbc:mysql://{self.host}:{self.port}/{self.database}"
            "?characterEncoding=utf8&maxAllowedPacket=0&useSSL=false"
            "&rewriteBatchedStatements=true"
        )

    @property
    def ident_quote(self) -> str:
        """Identifier quote of this endpoint's dialect: a backtick for
        MySQL, whose default sql_mode reads "double-quoted" tokens as
        string LITERALS (a generated predicate would then silently
        degrade every table to one unpartitioned scan), the ANSI
        double quote for everything else (Derby)."""
        return "`" if self.jdbc_url.startswith("jdbc:mysql:") else '"'

    @property
    def jdbc_properties(self) -> dict[str, str]:
        props = {"driver": self.driver}
        if self.username:
            props["user"] = self.username
        if self.password:
            props["password"] = self.password
        return props


@dataclass(frozen=True)
class SyncConfig:
    src: Endpoint = field(default_factory=Endpoint)
    dest: Endpoint = field(default_factory=Endpoint)
    page_size: int = 100_000  # example.yml:13
    max_parallel: int = 30  # example.yml:14
    batch_row_size: int = 1000  # example.yml:15; root.go:563 "sweet spot"
    exclude: tuple[str, ...] = ()

    def __post_init__(self):
        if self.page_size <= 0:
            raise ValueError("pageSize must be positive")
        if self.max_parallel <= 0:
            raise ValueError("maxParallel must be positive")


def _endpoint(d: dict) -> Endpoint:
    return Endpoint(
        host=str(d.get("host", "localhost")),
        port=int(d.get("port", 3306)),
        database=str(d.get("database", "")),
        username=str(d.get("username", "")),
        password=str(d.get("password", "")),
    )


def load_config(path: str) -> SyncConfig:
    """Parse the reference-format YAML into a SyncConfig."""
    if yaml is None:
        raise RuntimeError("PyYAML not available")
    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    exclude_raw = raw.get("exclude") or ()
    if isinstance(exclude_raw, str):
        # viper reads the reference's unindented block as one string
        exclude = tuple(exclude_raw.split())
    else:
        exclude = tuple(exclude_raw)
    return SyncConfig(
        src=_endpoint(raw.get("src") or {}),
        dest=_endpoint(raw.get("dest") or {}),
        page_size=int(raw.get("pageSize", 100_000)),
        max_parallel=int(raw.get("maxParallel", 30)),
        batch_row_size=int(raw.get("batchRowSize", 1000)),
        exclude=exclude,
    )
