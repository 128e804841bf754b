"""Spans around the benchmark's calls into each layer, and the Spark
event-log parse that attributes task metrics to them.

A span records (name, layer, start, end, parent, run id). In a traced
run each span also becomes the ``SparkContext`` job group, so every job,
stage and task it triggers carries the span id into the event log, and
``boundary`` pins a layer's (lazy) output with ``localCheckpoint`` so the
layer's work runs inside its own span. Untraced, ``span`` records nothing
and ``boundary`` is the identity: the program runs exactly as a user
would run it.

Spans live in memory; the run summarises them once, at its end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

LAYERS = (
    "session", "catalog", "operators", "text", "dedup", "graph",
    "similarity", "store", "streaming", "sinks",
)


class Tracer:
    def __init__(self, traced: bool, run_id: str):
        self.traced = traced
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # set once the session exists

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; nested spans record their parent.
        Untraced, nothing is recorded."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if not self.traced:
            yield None
            return
        stack = self._stack.__dict__.setdefault("s", [])
        with self._lock:
            sid = f"{self.run_id}:{len(self.spans)}"
            rec = {"id": sid, "layer": layer, "name": name, "run": self.run_id,
                   "parent": stack[-1]["id"] if stack else None,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(sid, f"{layer}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1]["id"], stack[-1]["layer"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def boundary(self, df):
        """Materialise a layer's output inside its span (traced runs only)."""
        return df.localCheckpoint() if self.traced else df

    def wrap(self, module, attr: str, layer: str, name: str, pin: bool = True,
             probe=None) -> None:
        """Open a span around every call of ``module.attr`` made from
        inside the program (e.g. from a streaming callback); with ``pin``
        the returned DataFrame is materialised inside the span. ``probe(out,
        *args)`` records counts about the call while tracing is on."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, name):
                out = fn(*args, **kwargs)
                out = self.boundary(out) if pin else out
                if probe is not None and self.traced:
                    probe(out, *args)
                return out

        setattr(module, attr, traced)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    # ------------------------------------------------------------ results

    def self_times(self, name: str | None = None) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans;
        with ``name``, only the spans of that name."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or name not in (None, s["name"]):
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in children[s["id"]] if c["end"] is not None]
            )
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def self_time(self, layer: str, name: str) -> float:
        return self.self_times(name).get(layer, 0.0)

    def total(self, layer: str, name: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name) and s["end"]
        )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_metrics(log_dir: str, layer_of_span: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum task metrics per layer from a Spark event log.

    Jobs carry their job group (the span id) in their properties; tasks
    map to jobs through their stage. Returns per layer: jobs, tasks, gc_s,
    shuffle_write_bytes, spill_bytes, input_bytes."""
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = layer_of_span.get(group)
                    if layer is None:
                        continue
                    out[layer]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    acc = out[layer]
                    acc["tasks"] += 1
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return out
