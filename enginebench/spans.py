"""Per-layer spans, taken from outside the engine.

A span wraps one call into a layer's public functions. In a traced run
each span runs under its own Spark job group, and on exit it reads the
group's jobs and their stages from the status store:
``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(sid)`` (per stage: ``stageList`` needs
Scala default arguments, which py4j cannot pass). This works with the UI
off. Spans stay in memory and are written out once, at exit.

With tracing off a span only records its wall time, so the untraced run
pays no listener waits and no status-store reads.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("numTasks", "executorRunTime", "jvmGcTime", "inputRecords",
                "shuffleReadRecords", "shuffleReadBytes", "shuffleWriteBytes",
                "diskBytesSpilled")


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack = []

    @contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        rec = {"span": len(self.spans), "name": name, "parent": parent, **tags}
        self.spans.append(rec)
        self._stack.append(rec["span"])
        group = f"bench-span-{rec['span']}"
        if self.traced:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced:
                t0 = time.perf_counter()
                rec.update(self._counters(group))
                if parent is not None:  # job groups do not nest: restore the parent's
                    self.sc.setJobGroup(f"bench-span-{parent}", self.spans[parent]["name"])
                else:
                    self.sc._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - t0

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(STAGE_FIELDS, 0)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = 0
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped before its first attempt)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            ran += 1
            for f in STAGE_FIELDS:
                out[f] += int(getattr(st, f)())
        out["jobs"] = len(jobs)
        out["stages"] = ran
        return out

    def plan_info(self, df) -> dict:
        """``catalyst.plan_ms``: physical planning before the action (the
        action then reuses the planned ``QueryExecution``), plus the
        optimized plan's line and join counts."""
        if not self.traced:
            return {}
        qe = df._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.executedPlan()
        plan_ms = (time.perf_counter() - t0) * 1000
        t1 = time.perf_counter()
        lines = qe.optimizedPlan().toString().splitlines()
        self.overhead_s += time.perf_counter() - t1
        return {"plan_ms": plan_ms, "plan_lines": len(lines),
                "plan_joins": sum("Join " in ln for ln in lines)}

    def python_ms(self, df) -> float:
        """Python-worker time of the Arrow nodes (``pythonTotalTime`` SQL
        metric) in ``df``'s executed plan, after its action ran."""
        if not self.traced:
            return 0.0
        t0 = time.perf_counter()
        total = 0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            for accessor in ("executedPlan", "plan"):  # AQE wrapper / query stage
                try:
                    todo.append(getattr(node, accessor)())
                except Exception:
                    pass
            metrics = node.metrics()
            if metrics.contains("pythonTotalTime"):
                total += int(metrics.apply("pythonTotalTime").value())
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
        self.overhead_s += time.perf_counter() - t0
        return float(total)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
