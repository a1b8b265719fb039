"""Spans, engine counters and memory readings for the benchmark.

Spans are recorded by the benchmark's own code around its calls into
each layer — nothing inside the package is instrumented. They are kept
in memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

#: micro-batch phases of ``StreamingQueryProgress.durationMs``, in the
#: order ``MicroBatchExecution`` runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


class Tracer:
    """In-memory span log: (name, start, end, parent, run id).

    A disabled tracer records nothing, so the untraced run pays only a
    method call per layer boundary.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run_id,
                           **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), math.nan, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_progress(self, progress: list[dict], parent: int | None,
                     prefix: str) -> None:
        """One span per micro-batch, its ``durationMs`` phases as
        children laid end to end from the trigger start."""
        for p in progress:
            start = progress_start(p)
            d = p.get("durationMs", {})
            b = self.add(f"{prefix}.batch", start,
                         start + d.get("triggerExecution", 0) / 1000, parent,
                         batch=p["batchId"], rows=p.get("numInputRows", 0))
            t = start
            for ph in PHASES:
                if ph in d:
                    self.add(f"{prefix}.{ph}", t, t + d[ph] / 1000, b)
                    t += d[ph] / 1000

    def self_times(self) -> dict[str, float]:
        """Σ over spans of each name of (duration − time covered by its
        children)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def progress_start(p: dict) -> float:
    """Epoch seconds of a progress entry's trigger start."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"]["triggerExecution"] / 1000


class EngineCounters:
    """Jobs, stages and tasks the Spark driver started in a window.

    Job and stage ids are handed out in sequence by the DAG scheduler,
    so the ids consumed across the window count every job started in
    it, on any thread. Tasks are summed over those stages' infos.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        jobs0, stages0 = mark
        jobs1, stages1 = self.mark()
        tracker = self._sc.statusTracker()
        tasks = 0
        for sid in range(stages0, stages1):
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": jobs1 - jobs0, "stages": stages1 - stages0,
                "tasks": tasks}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def geomean(values) -> float:
    import numpy as np

    v = np.asarray(values, dtype=float)
    return float(np.exp(np.log(v).mean()))
