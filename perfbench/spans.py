"""Spans and counters taken from outside the engine.

A span wraps one call into a public function of the package (name,
start, end, parent span, op id). Spark work is attributed to the
innermost open span through a per-span job group: on exit the listener
bus is drained and ``statusTracker()`` gives the jobs of that group,
their stages and completed tasks. JVM GC time comes from the
GarbageCollector MX beans over py4j. Store sizes come from walking the
store directory (``store_walk``): nothing here reads engine internals.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    # the span's extent with the tracer's own bookkeeping on entry and
    # exit, which its parent must not count as the parent's self time
    outer_start: float = 0.0
    outer_end: float = 0.0
    jobs: int = 0      # Spark jobs launched while this span was innermost
    stages: int = 0
    tasks: int = 0
    gc_ms: float = 0.0  # JVM GC time over the whole span
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records nested spans; inactive tracers cost one attribute test."""

    def __init__(self, spark, active: bool):
        self.active = active
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self.bookkeeping_s = 0.0  # the tracer's own bookkeeping time
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        jvm = self.sc._jvm
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._bus = self.sc._jsc.sc().listenerBus()

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        """``fn`` recorded as a span named ``name`` while tracing is on."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- span lifecycle (called by _SpanCtx) ---------------------------------

    def _enter(self, name: str) -> Span:
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.span_id if parent else None, self.op, name, 0.0,
                 outer_start=b0)
        if parent:
            parent.children.append(s.span_id)
        self.spans.append(s)
        self._stack.append(s)
        s.gc_ms = -self.gc_ms()
        self.sc.setLocalProperty(_GROUP, f"pb-span-{s.span_id}")
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - b0
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(_GROUP, f"pb-span-{parent.span_id}" if parent else None)
        self._bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(f"pb-span-{s.span_id}"):
            s.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue  # a stage reused from an earlier job ran there
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    self._seen_stages.add(sid)
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks
        s.gc_ms += self.gc_ms()
        s.outer_end = time.perf_counter()
        self.bookkeeping_s += s.outer_end - s.end

    # -- derived figures ------------------------------------------------------

    def inclusive(self, s: Span, key: str) -> float:
        return getattr(s, key) + sum(self.inclusive(self.spans[c], key) for c in s.children)

    def self_s(self, s: Span) -> float:
        """Duration minus the time its (sequential) children cover,
        their tracer bookkeeping included."""
        return (s.end - s.start) - sum(
            self.spans[c].outer_end - self.spans[c].outer_start for c in s.children
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name, self.s = tracer, name, None

    def __enter__(self):
        if self.t.active:
            self.s = self.t._enter(self.name)
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.t._exit(self.s)
        return False


def store_walk(root: str) -> dict[int, int]:
    """``{inode: bytes}`` of every data file under a store directory.
    Hardlinked carry-over shares its inode, so it counts once."""
    out: dict[int, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


def live_store_bytes(root: str) -> tuple[int, int]:
    """(bytes of the current nodes + edges versions, retained versions),
    read from the ``_CURRENT`` pointers and version directories on disk."""
    total, versions = 0, 0
    for table in ("nodes", "edges"):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        versions += sum(1 for e in os.listdir(tdir) if e.startswith("v") and e[1:].isdigit())
        with open(os.path.join(tdir, "_CURRENT")) as f:
            cur = os.path.join(tdir, f"v{int(f.read().strip())}")
        total += sum(store_walk(cur).values())
    return total, versions
