"""Spans recorded by the benchmark around calls into the engine, plus the
Spark event-log reader that attributes executor work to those spans.

Spans live in memory (name, start, end, parent, attrs) and are written
out once when the run ends. Times are wall-clock epoch seconds so they
line up with the millisecond timestamps Spark writes into its event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Thread-safe in-memory span recorder. Each thread has its own stack
    of open spans; a span opened with an empty stack (e.g. on Spark's
    ``foreachBatch`` callback thread) takes ``root_parent`` as parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root_parent: int | None = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1].id if st else self.root_parent
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=parent,
                      attrs=attrs)
            self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def wrap_module_function(tracer: Tracer, module, attr: str, span_name: str):
    """Replace ``module.attr`` by a wrapper that records a span around
    each call; returns a function that restores the original. Used only
    in traced runs, on the names ``streaming/live_index.py`` binds, to
    split a ``process_available`` call into its steps without editing
    the engine."""
    orig = getattr(module, attr)

    def wrapper(*a, **kw):
        with tracer.span(span_name):
            return orig(*a, **kw)

    setattr(module, attr, wrapper)
    return lambda: setattr(module, attr, orig)


class EventLog:
    """Task metrics read from one uncompressed, non-rolling Spark event
    log (``spark.eventLog.compress=false``, ``rolling.enabled=false``)."""

    def __init__(self, log_dir: str):
        files = [
            f for f in glob.glob(os.path.join(log_dir, "*"))
            if not os.path.basename(f).startswith(".")
        ]
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.tasks: list[dict] = []
        with open(max(files, key=os.path.getsize)) as fh:
            for line in fh:
                # cheap prefilter: most lines are events this never reads
                if '"SparkListenerTaskEnd"' not in line[:40]:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "launch": ev["Task Info"]["Launch Time"] / 1e3,
                    "ok": ev["Task End Reason"]["Reason"] == "Success",
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                })

    def tasks_in(self, start: float, end: float) -> list[dict]:
        """Tasks launched between two epoch times (a span's interval)."""
        return [t for t in self.tasks if start <= t["launch"] <= end]

    def cpu_s(self, start: float, end: float) -> float:
        return sum(t["cpu_s"] for t in self.tasks_in(start, end))

    def shuffle_write(self, start: float, end: float) -> int:
        return sum(t["shuffle_write"] for t in self.tasks_in(start, end))

    def failed_tasks(self) -> int:
        return sum(1 for t in self.tasks if not t["ok"])
