"""In-memory spans for the traced run.

A span wraps one call into a layer's public function plus the action
that materializes its result. Spans are kept in memory and written to
JSON when the run ends. Each span records its parent and its root,
the outermost span open when it started. It also carries the engine
counters of the Spark jobs it ran: jobs, completed tasks, shuffle write
bytes, spilled bytes (from the status tracker and the status store,
both live with ``spark.ui.enabled=false``) and JVM GC time (driver and
executors share one JVM in local mode).

Only the traced run creates a ``Tracer``; the untraced timing path
never touches this module.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext


class Engine:
    """Reads Spark's counters for the jobs of one job group."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm
        self.tracker = sc.statusTracker()
        self.store = self.jsc.statusStore()

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def counters(self, group: str) -> dict[str, int]:
        # the status store is fed by the asynchronous listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        stage_ids: set[int] = set()
        job_ids = self.tracker.getJobIdsForGroup(group)
        for job in job_ids:
            info = self.tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        no_status = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


class Tracer:
    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.engine = Engine(sc)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # GC ms of finished children, per open span: a span's own GC
        # time excludes them, like its jobs exclude the children's jobs
        self._child_gc: dict[int, int] = {}
        self.pass_id = -1

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; counts the block puts in the
        yielded dict are stored with the span."""
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "root": self._stack[0] if self._stack else sid,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-span-{sid}"
        self.sc.setJobGroup(group, name)
        gc0 = self.engine.gc_ms()
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            gc = self.engine.gc_ms() - gc0
            engine = self.engine.counters(group)
            engine["gc_ms"] = gc - self._child_gc.pop(sid, 0)
            rec["engine"] = engine
            if self._stack:
                parent = self._stack[-1]
                self._child_gc[parent] = self._child_gc.get(parent, 0) + gc
                self.sc.setJobGroup(f"perfbench-span-{parent}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time covered by its direct children
        (children run sequentially, so their intervals do not overlap)."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: Path, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(dict(extra, spans=spans), indent=1))
