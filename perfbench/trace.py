"""In-memory spans around calls into the relay's public layers.

Nothing here reaches inside ``trignis_spark``: the benchmark hands the
program timing proxies (``Traced``) in place of its store, sinks and
source function, and wraps the public methods it calls itself. Spans
carry a name, start, end and parent; a layer's self time is its span
minus the spans nested in it (calls are single-threaded, so children
never overlap). Spark jobs and tasks are attributed to a span through a
job group set around it and read back from the status tracker.

With ``on`` false every wrapper is a plain pass-through, which is how
the traced run takes its untraced reference cycles.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "children_s", "attrs")

    def __init__(self, name: str, parent: "Span | None"):
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.children_s = 0.0
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    def __init__(self, spark=None):
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._groups = 0

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block as a span; with ``jobs`` also count the Spark
        jobs and tasks it launched (``attrs['jobs']``/``['tasks']``)."""
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent)
        group = self._set_group(name) if jobs else None
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
            if group is not None:
                self._clear_group()
                s.attrs["jobs"], s.attrs["tasks"] = self._job_counts(group)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- Spark job attribution -------------------------------------------

    def _set_group(self, name: str) -> str:
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self._sc.setJobGroup(group, name)
        return group

    def _clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self._sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage is not None else 0
        return len(job_ids), tasks

    # -- read-out ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def by_prefix(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        """Write every span as one JSON list (ids are list positions)."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        out = [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": index.get(id(s.parent)),
                "self_s": s.self_s,
                **s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f)


class Traced:
    """Delegate to ``inner``, timing the methods named in ``methods``
    (method name → span name) as spans. Other attributes pass through."""

    def __init__(self, inner, tracer: Tracer, methods: dict[str, str]):
        self._inner = inner
        self._tracer = tracer
        self._methods = methods

    def __getattr__(self, attr):
        value = getattr(self._inner, attr)
        span = self._methods.get(attr)
        return value if span is None else self._tracer.wrap(span, value)
