"""Spans recorded from the benchmark's own files around calls into the
program's layers, and Spark stage metrics read back from the event log.

Spans stay in memory until the run ends. Each operation opens a root
span; its id is the operation id shared by every span under it and the
Spark job group of every job it starts, which is how stage metrics from
the event log are attributed to operations.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from harness import dir_stats


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


@dataclass
class Tracer:
    spark: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op_module: dict[int, str] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _next_id: int = 1
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack else None
        op_id = self._stack[0] if self._stack else sid
        if parent is None:
            self.spark.sparkContext.setJobGroup(f"op-{sid}", name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, op_id))
            if parent is None:
                self.spark.sparkContext.setJobGroup("untraced", "untraced")

    def op(self, name: str, module: str):
        """Root span of one operation, attributed to a registering module."""
        if self.enabled:
            self.op_module[self._next_id] = module
        return self.span(name)

    # ------------------------------------------------ wrapping layer calls

    def _wrap(self, name: str, fn, after=None):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            self.counts[f"{name}.calls"] += 1
            if after is not None:
                after(*args, **kwargs)
            return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, self._wrap(name, original, after))
        self._patched.append((owner, attr, original))

    def patch_layers(self) -> None:
        """Wrap the public layer functions where they are bound:
        ``sources.load_table`` in every program module that imported it,
        and the sink writers the pipeline runner persists through."""
        from pitlapetl_spark import sinks, sources
        from pitlapetl_spark.plans import runner

        original = sources.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("pitlapetl_spark")
                    and getattr(mod, "load_table", None) is original):
                self.patch(mod, "load_table", "sources.load_table")

        def sink_bytes(_df, path, *_rest, **_kw):
            files, size = dir_stats(path)
            self.counts["sinks.files"] += files
            self.counts["sinks.bytes_written"] += size

        for attr in ("merge_upsert_write", "overwrite"):
            if getattr(runner, attr) is getattr(sinks, attr):
                self.patch(runner, attr, f"sinks.{attr}", sink_bytes)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------ span summaries

    def self_times(self) -> dict[str, float]:
        """Seconds of each span name minus the time its child spans cover."""
        children = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] += s.end - s.start  # one client thread: no overlap
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - children[s.span_id]
        return out

    def write(self, path: str) -> None:
        """Write the spans, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def totals(self) -> dict[str, float]:
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return out


STAGE_METRICS = {
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.jvmGCTime": "gc_ms",
}


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: Spark jobs started and summed stage metrics of the
    stages those jobs ran, read from the event log after Spark stopped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untraced")
                    out[group]["spark_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "untraced")
                    for acc in info.get("Accumulables", []):
                        key = STAGE_METRICS.get(acc.get("Name"))
                        if key is not None:
                            out[group][key] += float(acc.get("Value") or 0)
    return out
