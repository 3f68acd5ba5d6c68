"""Outside-in tracing for the benchmark: spans around the engine's
public calls, recorded from the benchmark's side, and a SparkListener
for the counts Spark keeps (jobs, tasks, executor CPU, input records,
shuffle bytes).

Spans live in memory and are written once, when the run ends.  A span
has a name, start, end, its parent span and the id of the operation
(root span) it belongs to; client threads each keep their own stack.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one
    attribute test and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op = parent["op"] if parent else sid
        rec = {"id": sid, "name": name, "op": op,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned version of itself (for a
        layer the benchmark reaches only through another layer)."""
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of its interval its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "self_s": self.self_times()}, fh)


class SparkCounters:
    """Sums Spark's own counters over completed stages through a py4j
    SparkListener.  ``snapshot`` drains the listener bus first, so a
    reading taken between two calls covers exactly the jobs between
    them.  Detach with ``close`` BEFORE ``spark.stop()``: a listener
    still registered when the Python side goes away makes the JVM log
    connection errors after the result line."""

    FIELDS = ("jobs", "tasks", "cpu_ns", "input_rows", "shuffle_bytes")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.totals = dict.fromkeys(self.FIELDS, 0)
        self._sc = spark.sparkContext._jsc.sc()
        self._bus = self._sc.listenerBus()
        self._listener = _Listener(self.totals)
        self._sc.addSparkListener(self._listener)

    def snapshot(self) -> dict[str, int]:
        self._bus.waitUntilEmpty()
        return dict(self.totals)

    def close(self) -> None:
        self._bus.waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._bus.waitUntilEmpty()


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class _Listener:
    def __init__(self, totals: dict):
        self.totals = totals

    def onJobStart(self, ev):
        self.totals["jobs"] += 1

    def onStageCompleted(self, ev):
        info = ev.stageInfo()
        self.totals["tasks"] += info.numTasks()
        m = info.taskMetrics()
        if m is None:
            return
        self.totals["cpu_ns"] += m.executorCpuTime()
        self.totals["input_rows"] += m.inputMetrics().recordsRead()
        self.totals["shuffle_bytes"] += m.shuffleWriteMetrics().bytesWritten()

    def toString(self):
        return "perfbench-counters"

    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self) & 0x7FFFFFFF

    def __getattr__(self, name):
        # every other SparkListenerInterface event is a no-op
        return lambda *a, **k: None

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]
