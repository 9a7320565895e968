"""Spans around calls into the program's layers, with Spark job attribution.

A span is (id, name, parent, start, end) plus free attributes. Spans are
held in memory and written as one JSON file when the run ends. While a
span is open its id is the Spark job group (``setJobGroup``), so every
job the call launches carries the span that caused it.

Job, stage and task metrics come from Spark's status store (the data
behind ``statusTracker``): after the run each job is attributed to the
span whose id is its job group, or — for jobs launched on threads that
set their own group, such as structured-streaming micro-batches — to the
innermost span open at the job's submission time. The benchmark drives
one client on one thread, so that fallback is exact.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

#: per-span engine counters, summed over the jobs attributed to the span
ENGINE_KEYS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes")


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs/DataFrames (memory + disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


class Tracer:
    """Span recorder. Spans are recorded only while ``active`` is set;
    otherwise ``span`` costs one attribute test."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs: list[dict] | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield {}
            return
        sc = self.spark.sparkContext
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- attribution ---------------------------------------------------------

    def attribute(self) -> None:
        """Read every job and stage from the status store and add the
        ENGINE_KEYS counters (self, not including children) to each span.
        Call once, after the last traced operation."""
        if not self.spans or self._jobs is not None:
            return
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        quant = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        by_id = {s["id"]: s for s in self.spans}
        seen_stages: set[int] = set()
        self._jobs = []
        rows = sorted((jobs.apply(i) for i in range(jobs.size())),
                      key=lambda j: j.jobId())
        for j in rows:
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime()
            t_sub = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            span = by_id.get(group) or self._innermost(t_sub)
            rec = {"job": j.jobId(), "group": group, "submitted": t_sub,
                   "span": span["id"] if span else None, "stages": []}
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:  # a reused (skipped) stage ran once
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                n = st.numCompleteTasks()
                stage = {
                    "stage": sid, "tasks": n,
                    "task_s": st.executorRunTime() / 1000.0,
                    "gc_s": st.jvmGcTime() / 1000.0,
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled()
                    + st.diskBytesSpilled(),
                }
                if n > 1:
                    summ = store.taskSummary(sid, st.attemptId(), quant)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        stage["task_p50_s"] = rt.apply(0) / 1000.0
                        stage["task_max_s"] = rt.apply(1) / 1000.0
                rec["stages"].append(stage)
            self._jobs.append(rec)
            if span is not None:
                tot = span.setdefault("engine", dict.fromkeys(ENGINE_KEYS, 0))
                tot["jobs"] += 1
                for st in rec["stages"]:
                    for key in ENGINE_KEYS[1:]:
                        tot[key] += st[key]

    def _innermost(self, t: float | None) -> dict | None:
        if t is None:
            return None
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    # -- queries over recorded spans ------------------------------------------

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == prefix
                or s["name"].startswith(prefix + ".")]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return [span] + out

    def engine(self, spans: list[dict]) -> dict:
        """ENGINE_KEYS summed over ``spans`` and all their descendants."""
        tot = dict.fromkeys(ENGINE_KEYS, 0)
        seen: set[str] = set()
        for s in spans:
            for d in self.subtree(s):
                if d["id"] in seen:
                    continue
                seen.add(d["id"])
                for k, v in d.get("engine", {}).items():
                    tot[k] += v
        return tot

    def stages(self, spans: list[dict]) -> list[dict]:
        ids = {d["id"] for s in spans for d in self.subtree(s)}
        return [st for j in self._jobs or [] if j["span"] in ids
                for st in j["stages"]]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self._jobs or [],
                       **extra}, f, indent=1, default=str)
