"""Spans and Spark counters, recorded from outside the engine.

Each span tags the jobs it launches with its own Spark job group
(``setJobGroup``), so after the op the jobs, tasks, shuffle bytes and
executor CPU of that span are read back from the status tracker and the
status store — no code inside the engine is touched. Streaming queries
tag their own jobs with the query's run id; ``group_counters`` reads
those too.

Spans stay in memory and are written as JSON lines at the end of the
run. A span records name, start, end, parent and op id; self time is
its duration minus the part its children cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from perfbench.stats import self_time

COUNTERS = ("jobs", "stages", "skipped_stages", "tasks", "shuffle_bytes",
            "executor_cpu_s", "bytes_written")


def group_counters(sc, group: str) -> dict:
    """Jobs launched under job group ``group`` and the work they did.
    Waits for the listener bus first: status updates arrive
    asynchronously after an action returns."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNTERS, 0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            out["stages"] += 1
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # planned, never submitted
                out["skipped_stages"] += 1
                continue
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["bytes_written"] += st.outputBytes()
    return out


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op, so
    the untraced run executes the same workload code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._op = None
        # job groups must not repeat within a SparkContext's lifetime
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"

    @contextmanager
    def op(self, op_id: int):
        """Spans opened inside belong to op ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    def open(self, name: str) -> dict | None:
        """Start a span and tag the jobs that follow with it. ``close``
        ends it, possibly outside the call that opened it: a pipeline
        stage runs on in the runner after the stage function returns."""
        if not self.enabled:
            return None
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._seq, "name": name, "op": self._op,
              "parent": parent["id"] if parent else None,
              "group": f"{self._prefix}-{self._seq}", "start": time.perf_counter()}
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        return sp

    def close(self, sp: dict | None) -> None:
        if sp is None:
            return
        sp["end"] = time.perf_counter()
        self._stack.remove(sp)
        parent = self._stack[-1] if self._stack else None
        if parent:
            self.sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.sc._jsc.clearJobGroup()
        self.spans.append(sp)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def add(self, name: str, start: float, end: float, **extra) -> None:
        """Record a span measured elsewhere (a streaming query)."""
        if not self.enabled:
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": self._seq, "name": name, "op": self._op,
                           "parent": parent["id"] if parent else None,
                           "start": start, "end": end, **extra})

    def collect_counters(self) -> None:
        """Fill counters for every span that has a job group and none
        yet. Call after an op, outside its timing."""
        for sp in self.spans:
            if "group" in sp and "jobs" not in sp:
                sp.update(group_counters(self.sc, sp["group"]))

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        return {sp["id"]: self_time(sp["start"], sp["end"], children.get(sp["id"], []))
                for sp in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**sp, "self_s": selfs[sp["id"]]}) + "\n")
