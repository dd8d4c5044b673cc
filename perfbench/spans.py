"""Spans around the benchmark's calls into the engine, and Spark's own
task metrics folded into them.

A span is opened around each public call (``<workload>:<layer>``). With
Spark labels on, the span name is also the job description of the
driver thread, so every job the call launches, and each of its tasks'
TaskEnd metrics in the event log, lands in that span. Spans live in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

LABEL_RE = re.compile(r"^[a-z][a-z0-9-]*:[a-z][a-z.]*$")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    # which call of the layer this is, when a layer is called more than once
    tag: str | None = None
    # when the engine call returned, before its result was materialized
    returned: float | None = None
    # CPU seconds of the driver, its JVM and workers over the span
    cpu: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``label(sc)`` also tags the Spark jobs they launch."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def label(self, sc) -> None:
        """Tag jobs with span names on this SparkContext from now on."""
        self._sc = sc
        self._describe()

    def _describe(self) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(
                self._stack[-1].name if self._stack else None)

    @contextmanager
    def span(self, layer: str, tag: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), f"{self.workload}:{layer}", time.time(),
                 parent=parent, tag=tag)
        self.spans.append(s)
        self._stack.append(s)
        self._describe()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe()

    def add_steps(self, op: Span, iter_seconds: list[float]) -> None:
        """Superstep child spans of ``op`` from the engine's own
        per-superstep wall times, laid back to back so the last one
        ends when the call returned (the loop is the call's tail; only
        the final state read and cleanup follow it)."""
        t = op.returned
        for k in range(len(iter_seconds) - 1, -1, -1):
            start = t - iter_seconds[k]
            self.spans.append(Span(len(self.spans), f"{op.name}/step{k + 1}",
                                   start, t, parent=op.id))
            t = start

    def self_seconds(self, op: Span) -> float:
        return op.seconds - sum(
            s.seconds for s in self.spans if s.parent == op.id)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _mb(b: float) -> float:
    return b / (1 << 20)


def fold_event_logs(log_dir: str) -> tuple[dict[str, dict], int, int]:
    """Fold every uncompressed event log under ``log_dir`` into per-label
    totals. Returns (per-label metrics, jobs seen, unattributed jobs)."""
    per: dict[str, dict] = {}
    jobs_seen = unattributed = 0
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = (sorted(glob.glob(os.path.join(app, "events_*")))
                 if os.path.isdir(app) else [app])
        stage_label: dict[int, str] = {}
        stage_tasks: dict[int, list[float]] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs_seen += 1
                        desc = (ev.get("Properties") or {}).get(
                            "spark.job.description") or ""
                        if not LABEL_RE.match(desc):
                            unattributed += 1
                            desc = "unattributed"
                        agg = per.setdefault(desc, _empty())
                        agg["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_label.setdefault(sid, desc)
                    elif kind == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics")
                        desc = stage_label.get(ev["Stage ID"])
                        if not tm or desc is None:
                            continue
                        agg = per[desc]
                        run_s = tm["Executor Run Time"] / 1000.0
                        stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        out = tm.get("Output Metrics") or {}
                        agg["task_s"] += run_s
                        agg["gc_s"] += tm["JVM GC Time"] / 1000.0
                        agg["shuffle_read_mb"] += _mb(
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                        agg["shuffle_write_mb"] += _mb(sw.get("Shuffle Bytes Written", 0))
                        agg["spill_mb"] += _mb(tm.get("Disk Bytes Spilled", 0))
                        agg["output_mb"] += _mb(out.get("Bytes Written", 0))
                        agg["peak_exec_mem_mb"] = max(
                            agg["peak_exec_mem_mb"], _mb(tm.get("Peak Execution Memory", 0)))
        for sid, times in stage_tasks.items():
            med = statistics.median(times)
            if len(times) >= 2 and med > 0:
                agg = per[stage_label[sid]]
                agg["task_skew"] = max(agg["task_skew"], max(times) / med)
    return per, jobs_seen, unattributed


def _empty() -> dict:
    return {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
            "peak_exec_mem_mb": 0.0, "task_skew": 0.0}
