"""Outside-in tracing: spans around the benchmark's calls into each layer of
the program, plus Spark status-store counters per span.

Every span gets its own Spark job group, so the jobs, stages, shuffle bytes,
input bytes, task time and GC time it caused can be read back from the
status store after the enclosing op ends. Spans stay in memory and are
written out once, at the end of the run. With tracing off, ``span`` is a
no-op and nothing is read from the JVM.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "input_bytes", "shuffle_write_bytes", "task_ms", "task_gc_ms")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []
        self.bookkeeping_s = 0.0
        self.sc = None
        self.window = (0, None)

    def bind(self, spark) -> None:
        """Attach to the session the spans run in."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"pb{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(f"pb{parent}", self.spans[parent]["name"])

    def jvm_gc_ms(self) -> int:
        """Cumulative collection time of every JVM garbage collector."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def settle(self) -> None:
        """Read the status-store counters of every span closed since the last
        call. Call it between ops, outside the timed region; its own time is
        reported as tracing bookkeeping."""
        if not self.enabled or not self._pending:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        for rec in self._pending:
            job_ids = tracker.getJobIdsForGroup(f"pb{rec['id']}")
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"], c["stages"] = len(job_ids), len(stage_ids)
            for s in stage_ids:
                sd = store.lastStageAttempt(s)
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["task_ms"] += sd.executorRunTime()
                c["task_gc_ms"] += sd.jvmGcTime()
            rec.update(c)
        self._pending.clear()
        self.bookkeeping_s += time.perf_counter() - t0

    def open_window(self) -> None:
        """Start the timed region: ``named`` sees only spans opened after this."""
        self.window = (len(self.spans), None)

    def close_window(self) -> None:
        self.window = (self.window[0], len(self.spans))

    def named(self, name: str) -> list[dict]:
        lo, hi = self.window
        return [s for s in self.spans[lo:hi] if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        """Write every span (with self time) and the run summary as JSON."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        spans = [
            {**s, "ms": (s["end"] - s["start"]) * 1e3,
             "self_ms": (s["end"] - s["start"] - children.get(s["id"], 0.0)) * 1e3}
            for s in self.spans if "end" in s
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)
