"""In-memory span recorder for the traced run.

A span is (name, start, end, parent). Spans stay in memory while the run
measures and are written out once, when it ends. A span's self time is
its duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children
    (clipped to the parent's own interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {
        s.id: s.duration - covered(children.get(s.id, []))
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self.clock(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def self_time_by_name(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
        return out

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["self"] = st[s.id]
                fh.write(json.dumps(row) + "\n")


def hook_pipeline(tracer: Tracer):
    """Wrap the stage functions ``plans.pipeline.run_pipeline`` calls in
    spans, from outside: the reader, the transform, the sink
    normalisation, the parquet writer, and the extract / verify counts.
    Returns a function that restores the originals."""
    from etl_airbnb_mex_spark.plans import pipeline

    saved = {}

    def wrap(attr: str, span_name: str) -> None:
        fn = getattr(pipeline, attr, None)
        if fn is None:
            return
        saved[attr] = fn

        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        setattr(pipeline, attr, traced)

    wrap("read_table_set", "sources.readers.read")
    wrap("_transform", "plans.transforms.build")
    wrap("normalize_for_sink", "sources.writers.normalize")
    wrap("write_parquet_overwrite", "sources.writers.write")
    collector = getattr(pipeline, "MetricsCollector", None)
    if collector is not None:
        saved["MetricsCollector"] = collector

        class TracedCollector(collector):
            def timed_count(self, name, df):
                span_name = (
                    "sources.readers.extract" if name.startswith("extrac")
                    else "plans.pipeline.verify" if name.startswith("verif")
                    else "plans.metrics.count")
                with tracer.span(span_name):
                    return super().timed_count(name, df)

        pipeline.MetricsCollector = TracedCollector

    def remove() -> None:
        for attr, fn in saved.items():
            setattr(pipeline, attr, fn)

    return remove
