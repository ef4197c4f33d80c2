"""Span tracing from outside the library, for the traced (``--trace 1``) run.

:meth:`Tracer.install` wraps public functions where their callers look them
up (``cli.ask.generate_sql``, ``nl.ask.repair_sql``, ...). Each call records
a span: name, start, end, parent, and the id of the request or operator run
it belongs to. Each span also runs its Spark jobs under its own job group,
so the jobs, stages, tasks, executor times, shuffle and spill of a span are
read afterwards from Spark's status tracker and status store.

Spans stay in memory; the run writes them out when it ends. The tracer
times its own bookkeeping so the run can report what tracing cost.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: (module, attribute, span name): each function as its caller imports it.
TARGETS = (
    ("ask_duckdb_spark.cli.ask", "main", "cli.ask"),
    ("ask_duckdb_spark.cli.sql", "main", "cli.sql"),
    ("ask_duckdb_spark.cli.ask", "open_source", "sources.open_source"),
    ("ask_duckdb_spark.cli.sql", "open_source", "sources.open_source"),
    ("ask_duckdb_spark.cli.ask", "load_dictionary", "nl.dictionary"),
    ("ask_duckdb_spark.cli.ask", "generate_sql", "nl.ask"),
    ("ask_duckdb_spark.nl.ask", "build_tbl_schema", "introspect.schema"),
    ("ask_duckdb_spark.nl.ask", "list_columns", "introspect.schema"),
    ("ask_duckdb_spark.nl.ask", "select_relevant_context", "nl.context"),
    ("ask_duckdb_spark.nl.ask", "render_context", "nl.context"),
    ("ask_duckdb_spark.nl.ask", "build_prompts", "nl.prompt"),
    ("ask_duckdb_spark.nl.llm.StubLLM", "__call__", "nl.llm"),
    ("ask_duckdb_spark.nl.ask", "build_synonym_map", "nl.repair"),
    ("ask_duckdb_spark.nl.ask", "repair_sql", "nl.repair"),
    ("ask_duckdb_spark.cli.ask", "ensure_readonly", "nl.gate"),
    ("ask_duckdb_spark.cli.sql", "ensure_readonly", "nl.gate"),
    ("ask_duckdb_spark.nl.dialect_shim", "to_spark_sql", "nl.shim"),
    ("ask_duckdb_spark.cli.ask", "display_result", "sources.display"),
    ("ask_duckdb_spark.cli.sql", "display_result", "sources.display"),
    ("pyspark.sql.session.SparkSession", "sql", "spark.sql_analyze"),
    ("perfbench.workloads", "write_parquet", "sources.write_parquet"),
)

#: Stage fields summed per span: (name in the result, StageData accessor, scale)
STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mb", "memoryBytesSpilled", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
)


@dataclass
class Span:
    op: int  # id of the request or operator run
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)


def _resolve(path: str):
    """Import ``a.b.C`` as module ``a.b`` attribute ``C`` where needed."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod, _, attr = path.rpartition(".")
        return getattr(importlib.import_module(mod), attr)


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._op = 0
        self._restore: list[tuple[object, str, object]] = []

    # -- installation --------------------------------------------------
    def install(self) -> None:
        for path, attr, name in TARGETS:
            owner = _resolve(path)
            orig = getattr(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- recording -----------------------------------------------------
    def begin_op(self) -> int:
        """Start a new request or operator run; spans until the next share its id."""
        self._op += 1
        return self._op

    def span(self, name: str):
        return _SpanScope(self, name)

    def _enter(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        s = Span(self._op, len(self.spans), parent, name, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"pb{s.sid}", name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(f"pb{self._stack[-1].sid}", self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - s.end

    def collect_spark(self, first_span: int = 0) -> None:
        """Read each span's jobs and stage metrics (after the timed call)."""
        t = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans[first_span:]:
            if s.spark:
                continue
            agg = defaultdict(float)
            for jid in tracker.getJobIdsForGroup(f"pb{s.sid}"):
                agg["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for stage in info.stageIds if info else ():
                    try:
                        data = store.lastStageAttempt(stage)
                    except Exception:  # skipped stage: no attempt recorded
                        continue
                    agg["stages"] += 1
                    for key, accessor, scale in STAGE_FIELDS:
                        agg[key] += getattr(data, accessor)() * scale
            s.spark = dict(agg) or {"jobs": 0.0}
        self.overhead_s += time.perf_counter() - t

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[int, dict[str, float]]:
        """Per op: span name -> self seconds (duration minus child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s.op][s.name] += s.end - s.start - child[s.sid]
        return out

    def spark_by_op(self, names: tuple[str, ...] | None = None) -> dict[int, dict]:
        """Per op: Spark counters summed over its spans (optionally some names)."""
        out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if names is None or s.name in names:
                for k, v in s.spark.items():
                    out[s.op][k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanScope:
    __slots__ = ("tracer", "name", "span")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.span = self.tracer._enter(self.name)
        return self.span

    def __exit__(self, *exc):
        self.tracer._exit(self.span)
        return False
