"""Spans and Spark counters, read from outside the program.

A span is (id, parent, name, start, end) around one call into a layer, plus
the range of Spark job ids the call launched. Job ids come from the
scheduler's own counter, so a span's job count is exact. With tracing on,
the job and stage records of Spark's status store (UI off) add per-span
stage counts, executor run time, shuffle bytes and job descriptions. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.jobs: dict[int, dict] = {}     # job id -> description, times, stages
        self.stages: dict[int, dict] = {}   # stage id -> run time, shuffle bytes
        self.bookkeeping_s = 0.0            # time the tracer itself spent
        self.warm = False                   # set while the workload warms up

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        """Yield the span's record; once the block ends it holds start, end
        and the job-id range. Records nothing when tracing is off."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        if self.warm:
            rec["warm"] = True
        t = time.perf_counter()
        rec.update(id=len(self.spans), parent=self._stack[-1] if self._stack else None,
                   job_lo=self.next_job_id())
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["job_hi"] = self.next_job_id()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def harvest(self) -> None:
        """Copy the status store's job and stage records before its
        retention limit evicts them. Waits for the listener bus first,
        because job and stage events reach the store asynchronously."""
        if not self.enabled:
            return
        t = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            jid = int(j.jobId())
            if jid in self.jobs:
                continue
            desc, sub, comp = j.description(), j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            self.jobs[jid] = {
                "desc": desc.get() if desc.isDefined() else None,
                "ms": (comp.get().getTime() - sub.get().getTime())
                if sub.isDefined() and comp.isDefined() else 0,
                "stages": [int(sids.apply(k)) for k in range(sids.size())],
            }
        gw = self._sc._gateway
        sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(sl.size()):
            s = sl.apply(i)
            sid = int(s.stageId())
            if sid not in self.stages:
                self.stages[sid] = {
                    "run_ms": int(s.executorRunTime()),
                    "shuffle_bytes": int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
                }
        self.bookkeeping_s += time.perf_counter() - t

    def job_stats(self, lo: int, hi: int) -> dict:
        """Jobs, stages, executor task seconds and shuffle bytes for the
        jobs with ids in [lo, hi)."""
        stage_ids = {s for j in range(lo, hi) for s in self.jobs.get(j, {}).get("stages", [])}
        known = [self.stages[s] for s in stage_ids if s in self.stages]
        return {
            "jobs": hi - lo,
            "stages": len(stage_ids),
            "task_s": sum(s["run_ms"] for s in known) / 1000.0,
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in known),
        }

    def of(self, name: str) -> list[dict]:
        """The finished spans of one name, leaving out warm-up spans."""
        return [s for s in self.spans
                if s["name"] == name and "end" in s and not s.get("warm")]

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name's first dotted part), the summed span
        time not covered by the span's own children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cur = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c.get("end", c["start"]), s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs, "stages": self.stages}, f)


def ms(spans: list[dict]) -> list[float]:
    return [(s["end"] - s["start"]) * 1000.0 for s in spans]
