"""Per-layer tracing from outside the engine.

``install`` swaps each layer's public functions, in the module
namespaces the engine calls them through, for wrappers that

1. record a span (name, layer, start, end, parent, call id, tag), and
2. tag the Spark jobs the calling thread submits with ``setJobGroup``.

A wrapper leaves its job group set when it returns, so an action run
later on the same thread against a lazily built frame (the ``collect()``
after ``table_summary``) is charged to the layer that built it. Only a
thread's outermost span clears the group. Inside an ``operators`` span
inner wrappers record spans but do not re-tag: a registry query's jobs
all belong to ``operators``.

After a pass, ``job_stats`` reads each group's jobs and their stages
from Spark's status store (it is populated with the UI off).
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: (module, attribute, layer) — every name the engine resolves at call
#: time. ``migrate`` binds load, write_parquet and
#: discover_parquet_tables at import, so its namespace is patched too.
WRAPPED = (
    ("mysqldatasynctool_spark.catalog", "discover_parquet_tables", "catalog"),
    ("mysqldatasynctool_spark.migrate", "discover_parquet_tables", "catalog"),
    ("mysqldatasynctool_spark.plans.partitioning", "plan_table", "partitioning"),
    ("mysqldatasynctool_spark.plans.partitioning", "sample_boundaries", "partitioning"),
    ("mysqldatasynctool_spark.sources.fixtures", "load", "sources"),
    ("mysqldatasynctool_spark.migrate", "load", "sources"),
    ("mysqldatasynctool_spark.sources.jdbc", "read_table", "sources"),
    ("mysqldatasynctool_spark.sources.sinks", "write_parquet", "sinks"),
    ("mysqldatasynctool_spark.migrate", "write_parquet", "sinks"),
    ("mysqldatasynctool_spark.sources.sinks", "write_jdbc", "sinks"),
    ("mysqldatasynctool_spark.operators.compare", "table_summary", "compare"),
    ("mysqldatasynctool_spark.operators.compare", "compare_tables", "compare"),
    ("mysqldatasynctool_spark.migrate", "migrate_directory", "migrate"),
    ("mysqldatasynctool_spark.migrate", "migrate_jdbc", "migrate"),
)


@dataclass
class Tracer:
    """Span recorder and job-group tagger for one SparkContext."""

    sc: object = None
    spans: list = field(default_factory=list)
    #: group -> (layer, call, tag, span name), in creation order
    groups: dict = field(default_factory=dict)
    #: return values some wrappers expose (e.g. plan partition counts)
    notes: list = field(default_factory=list)
    call: str | None = None
    #: wrappers pass straight through while False (untraced passes)
    active: bool = False

    def __post_init__(self):
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, name: str, tag: str = "", parent: dict | None = None,
             call: str | None = None):
        stack = self._stack()
        enclosing = stack[-1] if stack else parent
        call = call or (enclosing["call"] if enclosing else self.call) or ""
        s = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "tag": tag or (enclosing["tag"] if enclosing else ""),
            "call": call,
            "parent": enclosing["id"] if enclosing else None,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
        }
        retag = not any(x["layer"] == "operators" for x in stack)
        if retag:
            group = f"{name}|{call}|{s['tag']}"
            with self._lock:
                self.groups.setdefault(group, (layer, call, s["tag"], name))
            self._set_group(group)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s["end"] = time.time()
            with self._lock:
                self.spans.append(s)
            if not stack:
                self._set_group(None)

    def wrap(self, layer: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            name = f"{layer}.{fn.__name__}"
            span_layer = layer
            tag = ""
            if fn.__name__ == "read_table" and kwargs.get("custom_sql"):
                # migrate_jdbc's COUNT/MIN/MAX stats probe is plan work
                span_layer, name = "partitioning", "partitioning.stats_probe"
            if fn.__name__ in ("load", "read_table", "write_jdbc") and len(args) >= 3:
                tag = str(args[2])
            elif fn.__name__ in ("table_summary", "plan_table") and args:
                tag = str(args[-1] if fn.__name__ == "table_summary" else args[0])
            with tracer.span(span_layer, name, tag=tag):
                out = fn(*args, **kwargs)
            if fn.__name__ == "plan_table":
                tracer.notes.append(("read_partitions", out.num_partitions))
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    def pool_class(self, base):
        """A ThreadPoolExecutor whose ``map`` runs each item inside a
        ``migrate.table`` span parented to the submitting call's span:
        one span per table, covering exactly what TableReport times."""
        tracer = self

        class TracedPool(base):
            def map(self, fn, *iterables, **kwargs):
                if not tracer.active:
                    return super().map(fn, *iterables, **kwargs)
                parent = tracer.current()

                def run(item):
                    with tracer.span("migrate", "migrate.table", tag=str(item), parent=parent):
                        return fn(item)

                return super().map(run, *iterables, **kwargs)

        return TracedPool


def install(tracer: Tracer):
    """Patch every WRAPPED name; returns an ``uninstall`` callable."""
    import importlib

    saved = []
    for mod_name, attr, layer in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, tracer.wrap(layer, orig))
    mig = importlib.import_module("mysqldatasynctool_spark.migrate")
    saved.append((mig, "ThreadPoolExecutor", mig.ThreadPoolExecutor))
    mig.ThreadPoolExecutor = tracer.pool_class(mig.ThreadPoolExecutor)

    def uninstall():
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)

    return uninstall


# --- status store ------------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_disk_bytes": "diskBytesSpilled",
}


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def job_stats(sc, groups) -> dict[str, list[dict]]:
    """group -> one dict per job: start/end (epoch s) and the summed
    STAGE_FIELDS of the stages the job ran. Jobs are walked in id order
    and each stage is counted once, by the first job that lists it, so
    a stage a later job skips (reused shuffle) is not double-counted."""
    # block until the status store has seen every finished job
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    owner = {}
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            owner[jid] = g
    out: dict[str, list[dict]] = {g: [] for g in groups}
    seen: set[int] = set()
    for jid in sorted(owner):
        try:
            j = store.job(jid)
        except Exception:  # noqa: BLE001 — evicted from the store
            continue
        sub, end = j.submissionTime(), j.completionTime()
        rec = {
            "job": jid,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
            **{k: 0 for k in STAGE_FIELDS},
        }
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage, never ran
                continue
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            seen.add(sid)
            for k, m in STAGE_FIELDS.items():
                rec[k] += getattr(st, m)()
        out[owner[jid]].append(rec)
    return out


def full_gc(spark) -> None:
    """Python's collector first, so that dead py4j handles release their
    JVM objects; then three JVM collections one second apart, because
    Spark's ContextCleaner drops the blocks of frames and broadcasts a
    collection freed only afterwards (one collection reads tens of MB
    high)."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    for pause in (1.0, 1.0, 0.0):
        jvm.java.lang.System.gc()
        time.sleep(pause)


def heap_after_gc_mb(spark) -> float:
    """JVM heap in use after ``full_gc``, in MB."""
    full_gc(spark)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def storage_after_gc_mb(spark) -> float:
    """Storage memory the block manager still holds after ``full_gc``,
    in MB: cached blocks and broadcasts nobody released. It is read from
    the memory manager itself; the executor summaries of the status
    store drift upwards by ~9 MB per query_mix pass with no block held."""
    full_gc(spark)
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    return env.memoryManager().storageMemoryUsed() / 2**20
