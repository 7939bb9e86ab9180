"""Spans around layer calls, with Spark counters read from the status store.

A span records one call into a layer's public function: name, start, end,
parent span and run id. Spark counters are attributed by stage range: the
jobs and stages whose ids were created between the call's start and its
end. Ids are assigned in submission order, so this also catches jobs that
the engine submits from its own thread pools, which lose any job group.
The counters are read right after the call, before the status store's
retention limits can drop a stage.

Spans stay in memory; :meth:`Tracer.dump` writes them when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

SPARK_KEYS = ("wall_s", "jobs", "stages", "tasks", "executor_run_s",
              "executor_cpu_s", "busy_ratio", "shuffle_read_bytes",
              "shuffle_write_bytes", "input_bytes", "spill_bytes")


class StatusStore:
    """Stage-range diffs of the JVM status store (works with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ss = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.cores = sc.defaultParallelism

    def _stages(self):
        return self._ss.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) known now; both lists are newest
        first."""
        jobs, stages = self._ss.jobsList(None), self._stages()
        return (jobs.apply(0).jobId() if jobs.size() else -1,
                stages.apply(0).stageId() if stages.size() else -1)

    def since(self, mark: tuple[int, int], wall_s: float) -> dict:
        """Counters **S** of the jobs and stages created after ``mark``."""
        last_job = mark[0]
        jobs = self._ss.jobsList(None)
        n_jobs = 0
        while n_jobs < jobs.size() and jobs.apply(n_jobs).jobId() > last_job:
            n_jobs += 1
        out = dict.fromkeys(SPARK_KEYS, 0)
        for sd in self._stages_since(mark):
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["jobs"] = n_jobs
        out["wall_s"] = wall_s
        out["busy_ratio"] = (out["executor_run_s"] / (wall_s * self.cores)
                             if wall_s > 0 else 0.0)
        return out

    def _stages_since(self, mark: tuple[int, int]):
        """The stages created after ``mark``, newest first. Skipped stages
        (reused shuffle output) ran nothing and are left out."""
        stages = self._stages()
        for i in range(stages.size()):
            sd = stages.apply(i)
            if sd.stageId() <= mark[1]:
                return
            if sd.status().toString() != "SKIPPED":
                yield sd

    def stage_ids_since(self, mark: tuple[int, int]) -> set[int]:
        """Ids of the stages :meth:`since` counts after ``mark``."""
        return {sd.stageId() for sd in self._stages_since(mark)}


class Tracer:
    """In-memory spans; a disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, run_id: str, store: StatusStore | None = None,
                 enabled: bool = True):
        self.run_id = run_id
        self.store = store
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark_counters: bool = True, **counts):
        """Record one call. ``counts`` (and anything the body adds to the
        yielded dict's ``counts``) are outside-computed counts."""
        if not self.enabled:
            yield {"counts": {}}
            return
        rec = {"name": name, "run_id": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = (self.store.mark()
                if spark_counters and self.store is not None else None)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                rec["spark"] = self.store.since(mark,
                                                rec["end"] - rec["start"])

    def record(self, name: str, dur_s: float, **counts) -> None:
        """A span for an interval measured elsewhere, ending now."""
        if not self.enabled:
            return
        end = time.perf_counter()
        self.spans.append({"name": name, "run_id": self.run_id,
                           "id": len(self.spans),
                           "parent": self._stack[-1] if self._stack else None,
                           "counts": counts, "start": end - dur_s,
                           "end": end})

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo."""
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, last_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def by_layer(self) -> dict[str, dict]:
        """Per span name: calls, summed self time, summed **S** and counts."""
        selft = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], {"calls": 0, "dur_s": 0.0,
                                           "self_s": 0.0})
            a["calls"] += 1
            a["dur_s"] += s["end"] - s["start"]
            a["self_s"] += selft[s["id"]]
            for k, v in s.get("spark", {}).items():
                if k != "busy_ratio":
                    a[k] = a.get(k, 0) + v
            for k, v in s["counts"].items():
                a[k] = a.get(k, 0) + v
        cores = self.store.cores if self.store is not None else 1
        for a in agg.values():
            if "wall_s" in a:
                a["busy_ratio"] = (a["executor_run_s"] / (a["wall_s"] * cores)
                                   if a["wall_s"] > 0 else 0.0)
        return agg

    def dump(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        spans = [dict(s, self_s=selft[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans,
                       "layers": self.by_layer(), **extra}, f, indent=1)
