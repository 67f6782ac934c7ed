"""Spans, py4j call counts and Spark job tags for the traced run.

Spans are kept in memory and read once when the run ends. Wrappers are
installed from here at the binding each caller uses, so the engine's own
files stay untouched.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from dataclasses import dataclass, field

from stats import is_py4j_call, self_time


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""
    py4j_calls: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op so
    the untraced run times the same code without the bookkeeping."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""
        self.group = ""
        self._sc = None
        self._calls = 0
        self._paused = 0

    # -- py4j ------------------------------------------------------------
    def attach(self, spark) -> None:
        """Count py4j call commands sent by this driver from now on."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(command, *args, **kwargs):
            if not self._paused and is_py4j_call(command):
                self._calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def _own_calls(self):
        # the tracer's own JVM calls (job tags, status queries) are not
        # the engine's and stay out of the counts
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # -- job tags --------------------------------------------------------
    def tag(self, op: str, phase: str) -> None:
        """Tag the Spark jobs that follow with ``<workload>/<op>/<phase>``."""
        if not self.enabled:
            return
        self.op = op
        self._set_group(f"{self.workload}/{op}/{phase}")

    def _set_group(self, group: str) -> None:
        self.group = group
        with self._own_calls():
            self._sc.setJobGroup(group, group, False)

    def jobs_in_group(self, group: str) -> int:
        with self._own_calls():
            return len(self._sc.statusTracker().getJobIdsForGroup(group))

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), op=self.op)
        idx = len(self.spans)
        if self._stack:
            sp.parent = self._stack[-1]
            self.spans[sp.parent].children.append(idx)
        self.spans.append(sp)
        self._stack.append(idx)
        calls0 = self._calls
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self._calls - calls0
            self._stack.pop()

    def wrap(self, fn, name: str, phase: str | None = None):
        """``fn`` inside a span; with ``phase``, its Spark jobs are also
        tagged ``<group>/<phase>`` and the caller's tag is restored after."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                if phase is None:
                    return fn(*args, **kwargs)
                outer = self.group
                self._set_group(f"{outer}/{phase}")
                try:
                    return fn(*args, **kwargs)
                finally:
                    self._set_group(outer)

        return wrapper

    def install_wrappers(self) -> None:
        """Wrap the engine functions a traced run attributes time to, at
        the binding each caller resolves at call time."""
        if not self.enabled:
            return
        from datalakeingestion_spark.ingest import merge, pipeline, watermark
        from datalakeingestion_spark.sources import fixtures

        log = watermark.ExecutionLog
        log.id_rows = self.wrap(log.id_rows, "ingest.watermark.log_read")
        log.append = self.wrap(log.append, "ingest.watermark.append")
        # pipeline imports resolve_watermark by name
        pipeline.resolve_watermark = self.wrap(
            pipeline.resolve_watermark, "ingest.watermark.resolve"
        )
        # pipeline imports merge_latest lazily from the module at call time
        merge.merge_latest = self.wrap(merge.merge_latest, "ingest.merge.merge_latest")
        # every plan module binds load_table by name at import
        original = fixtures.load_table
        wrapped = self.wrap(original, "sources.load_table", phase="load_table")
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is original:
                mod.load_table = wrapped

    # -- read-out --------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """The span's duration minus the time its child spans cover."""
        kids = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        return self_time(span.start, span.end, kids)
