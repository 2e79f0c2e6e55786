"""In-memory span recorder and the wrappers that feed it.

A traced run installs wrappers around the public functions of the
engine's layers (writer, bookkeeper, reaper, table, format). Each call
made while recording is on becomes one span: name, start, end, parent
span and thread. Spans stay in memory and are written out once, when
the run ends. Untraced runs install nothing.

Recording can be switched on and off while the wrappers stay installed,
so a traced run can alternate traced and untraced operations and report
the difference as the tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.recording = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> tuple | None:
        if not self.recording:
            return None
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        return (sid, name, parent, time.perf_counter())

    def end(self, token: tuple | None, **attrs) -> Span | None:
        if token is None:
            return None
        t1 = time.perf_counter()
        sid, name, parent, t0 = token
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        span = Span(sid, name, t0, t1, parent, threading.current_thread().name, attrs)
        with self._lock:
            self.spans.append(span)
        return span

    def wrap(self, owner: object, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``owner`` is
        a class (methods) or a module (functions); the engine's own
        modules look these up at call time, so the wrapper sees every
        call made through them. ``attrs(args, result)`` returns counts
        to keep on the span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = original.__func__ if isinstance(original, staticmethod) else original
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            token = tracer.begin(name)
            result = None
            try:
                result = func(*args, **kwargs)
                return result
            finally:
                if token is not None:
                    tracer.end(token, **(attrs(args, result) if attrs else {}))

        setattr(owner, attr, staticmethod(wrapper) if isinstance(original, staticmethod) else wrapper)
        self._undo.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # ---------- queries over the recorded spans ----------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "thread": s.thread,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


class TracedPool:
    """Stands in for a thread pool whose ``map`` calls are each one step
    of the caller: every ``map`` becomes one span on the calling thread,
    named by the mapped function (``names``), covering the whole batch.
    The bookkeeper reads and deletes its monikers this way."""

    def __init__(self, tracer: Tracer, pool, names: dict[str, str]) -> None:
        self._tracer, self._pool, self._names = tracer, pool, names

    def map(self, fn, *iterables):
        token = self._tracer.begin(self._names.get(getattr(fn, "__name__", ""), "pool.map"))
        results = []
        try:
            results = list(self._pool.map(fn, *iterables))
            return iter(results)
        finally:
            self._tracer.end(token, items=len(results))

    def __getattr__(self, attr):
        return getattr(self._pool, attr)


def descendants(span: Span, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span.sid, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def self_ms(span: Span, kids: dict[int, list[Span]]) -> float:
    """The span's duration minus the part its direct children cover
    (children of one span run on its thread, so they do not overlap)."""
    return span.ms - sum(c.ms for c in kids.get(span.sid, []))


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of the engine's metadata and ingest
    layers. Span names are ``<module>.<function>``."""
    from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
    from java_iceberg_table_spark.ingest.reaper import Reaper
    from java_iceberg_table_spark.ingest.writer import Writer
    from java_iceberg_table_spark.table import format as fmt
    from java_iceberg_table_spark.table.table import Table
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap(Writer, "create_data_files", "writer.create_data_files",
                lambda a, r: {"files": a[1]})
    tracer.wrap(Writer, "write_pending_commit", "writer.write_pending_commit")
    for attr in ("run_once", "list_pending"):
        tracer.wrap(Bookkeeper, attr, f"bookkeeper.{attr}")
    tracer.wrap(Reaper, "run_once", "reaper.run_once")
    tracer.wrap(Table, "append_entries", "table.append_entries",
                lambda a, r: {"added": len(a[1])})
    for attr in ("incremental_entries", "expire_snapshots", "scan"):
        tracer.wrap(Table, attr, f"table.{attr}")
    tracer.wrap(Table, "plan_files", "table.plan_files",
                lambda a, r: {"survivors": len(r or ())})
    # the rest of Table.scan: the Spark read of the planned files and
    # the filters it re-applies as residuals
    tracer.wrap(Table, "_read_with_deletes", "table.read_files")
    tracer.wrap(DataFrame, "filter", "spark.filter")
    # the distributed planner reads manifests through Spark, not
    # read_manifest: count the manifests it hands to the JSON scan
    tracer.wrap(Table, "_manifest_entries_df", "table.manifest_entries_df",
                lambda a, r: {"manifests": len(a[2])})
    tracer.wrap(fmt, "write_manifest", "format.write_manifest",
                lambda a, r: {"entries": len(a[1])})
    for attr in ("load_metadata", "read_manifest", "try_commit_version", "commit"):
        tracer.wrap(fmt, attr, f"format.{attr}")
