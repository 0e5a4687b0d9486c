"""Spans around the benchmark's own calls into the engine, with the Spark
status-store counts of the jobs each span ran.

Every span tags the Spark jobs started inside it (``SparkContext``'s job
tags nest, so a job carries the tags of all enclosing spans); after a pass
the reader resolves each tag to its jobs and stages and sums the stage
counters. Spans stay in memory and are written as JSON lines at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "run_s", "task_cpu_s", "gc_s", "spill_bytes", "shuffle_bytes")


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    def __init__(self) -> None:
        self.sc = None  # set once the session exists; earlier spans are untagged
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stage_cache: dict[int, dict | None] = {}

    @contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "tag": None,
        }
        self.spans.append(s)
        if self.sc is not None:
            s["tag"] = f"perfbench-span-{s['id']}"
            self.sc.addJobTag(s["tag"])
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["dur_s"] = s["end"] - s["start"]
            self._stack.pop()
            if s["tag"] is not None:
                self.sc.removeJobTag(s["tag"])

    def children(self, span: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == span["id"]]

    def self_s(self, span: dict) -> float:
        return span["dur_s"] - sum(c.get("dur_s", 0.0) for c in self.children(span))

    # -- status-store reader ------------------------------------------------
    def _stage(self, store, sid: int) -> dict | None:
        if sid not in self._stage_cache:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never posted
                self._stage_cache[sid] = None
            else:
                status = s.status().toString()
                self._stage_cache[sid] = None if status == "SKIPPED" else {
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "task_cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                }
        return self._stage_cache[sid]

    def read_counts(self, spans: list[dict]) -> None:
        """Fill jobs/stages/task counters (and stage ids) of finished spans."""
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = sc._jsc.sc().statusTracker(), sc._jsc.sc().statusStore()
        for s in spans:
            if s["tag"] is None or "jobs" in s:
                continue
            jobs = sorted(tracker.getJobIdsForTag(s["tag"]))
            stage_ids = sorted({
                sid for jid in jobs for sid in sc.statusTracker().getJobInfo(jid).stageIds
            })
            stages = {sid: self._stage(store, sid) for sid in stage_ids}
            stages = {sid: st for sid, st in stages.items() if st is not None}
            s["jobs"], s["stages"], s["stage_ids"] = len(jobs), len(stages), sorted(stages)
            for f in STAGE_FIELDS:
                s[f] = sum(st[f] for st in stages.values())

    def write(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"context": context}) + "\n")
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k not in ("start", "end", "tag")}
                if "dur_s" in s:
                    rec["self_s"] = self.self_s(s)
                f.write(json.dumps(rec) + "\n")
