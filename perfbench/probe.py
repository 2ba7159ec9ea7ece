"""Tracing and executor accounting, kept entirely outside the library.

`Tracer` records spans ``{name, start, end, parent, trace_id}`` in memory
around calls into the library's layers, together with the status-store
deltas of each call (task time, GC time, shuffle and spill bytes), and
writes them out as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = float(1 << 20)
#: what `account` reports for each timed call
ACCOUNTING = ("busy_frac", "gc_s", "shuffle_mb", "spill_mb")


def account(before: dict, after: dict, wall_s: float, cores: int) -> dict:
    """Per-call accounting from two `Tracer.totals` snapshots."""
    d = {k: after[k] - before[k] for k in before}
    return {
        "busy_frac": d["task_ms"] / 1000.0 / max(wall_s * cores, 1e-9),
        "gc_s": d["gc_ms"] / 1000.0,
        "shuffle_mb": d["shuffle"] / MB,
        "spill_mb": d["spill"] / MB,
    }


class Tracer:
    """In-memory span recorder. Spans of one pass share a trace id."""

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0
        self._sums = {"task_ms": 0, "gc_ms": 0, "shuffle": 0, "spill": 0}
        self._last_stage = -1

    def totals(self) -> dict:
        """Cumulative task time, GC time, shuffle and spill bytes, summed
        per stage from the application status store. Only the stages that
        appeared since the last call are read (the store lists newest
        first); one call is in flight at a time, so they have finished."""
        stages = self._store.stageList(None, False, False, self._no_quantiles, self._no_tasks)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            self._sums["task_ms"] += s.executorRunTime()
            self._sums["gc_ms"] += s.jvmGcTime()
            self._sums["shuffle"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            self._sums["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = newest
        return dict(self._sums)

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call; yields the span dict so the caller can
        record counts and route flags at the same boundary."""
        before = self.totals()
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.time(),
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            sp.update(account(before, self.totals(), sp["end"] - sp["start"], self.cores))

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """Record a span that was timed elsewhere (the pipeline stages,
        rebuilt from their manifests)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "trace_id": self.trace_id, "start": start, "end": end})

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part of it its child spans cover. One
        call is in flight at a time, so children never overlap."""
        covered = sum(
            max(0.0, min(c["end"], sp["end"]) - max(c["start"], sp["start"]))
            for c in self.spans if c["parent"] == sp["id"]
        )
        return (sp["end"] - sp["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) over a process and its live
    descendants, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
