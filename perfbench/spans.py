"""Spans around calls into the program, attributed Spark counters.

A span tags every Spark job started inside it with a job description
(``perfbench:<span id>``). The Spark event log carries that description
on each stage it submits, so after the session stops, every task's
metrics can be summed into the span that caused it. Spans stay in
memory; ``Tracer.attribute`` reads the event log once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# the per-span measures, in the order BENCHMARK.json lists them
COUNTERS = (
    "wait_s", "jobs", "tasks", "task_failures", "cpu_s", "gc_s",
    "python_s", "arrow_mb", "shuffle_mb", "spill_mb",
)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PREFIX = "perfbench:"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counters")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.counters = dict.fromkeys(COUNTERS, 0.0)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records a tree of spans. ``enabled=False`` makes ``span`` a no-op,
    so the timed passes and the traced pass run the same code."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext if enabled else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(f"{_PREFIX}{parent.id}" if parent else None)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover."""
        child = dict.fromkeys(range(len(self.spans)), 0.0)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return {s.id: s.duration - child[s.id] for s in self.spans}

    def attribute(self, event_log_dir: str) -> None:
        """Sum task metrics from the (stopped) session's event log into
        the span whose job description submitted each stage."""
        stage_span: dict[int, int] = {}
        stage_submit: dict[tuple[int, int], int] = {}
        by_id = {s.id: s for s in self.spans}
        for ev in _events(event_log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = _span_id(ev.get("Properties") or {})
                if sid in by_id:
                    by_id[sid].counters["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = _span_id(ev.get("Properties") or {})
                if sid in by_id:
                    stage_span[info["Stage ID"]] = sid
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_submit[key] = info.get("Submission Time") or 0
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                c = by_id[sid].counters
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    c["task_failures"] += 1
                sub = stage_submit.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), 0)
                if sub:
                    c["wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                c["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                for acc in info.get("Accumulables") or ():
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_TIME:
                        c["python_s"] += float(upd) / 1e3
                    elif name in (_PY_SENT, _PY_RECV):
                        c["arrow_mb"] += float(upd) / 1e6

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed self time and counters."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"self_s": 0.0, "n": 0, **dict.fromkeys(COUNTERS, 0.0)})
            t["self_s"] += selfs[s.id]
            t["n"] += 1
            for k, v in s.counters.items():
                t[k] += v
        return out

    def check_tree(self) -> list[str]:
        """Problems with the span tree: dangling parents, negative self
        time, children outside their parent's interval."""
        problems = []
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                p = by_id.get(s.parent)
                if p is None:
                    problems.append(f"span {s.id} {s.name}: parent {s.parent} missing")
                elif s.start < p.start or s.end > p.end:
                    problems.append(f"span {s.id} {s.name}: outside parent {p.name}")
        for sid, v in self.self_times().items():
            if v < -1e-6:
                problems.append(f"span {sid} {by_id[sid].name}: self time {v:.6f} < 0")
        return problems


def _span_id(props: dict) -> int | None:
    desc = props.get("spark.job.description") or ""
    if desc.startswith(_PREFIX):
        return int(desc[len(_PREFIX):])
    return None


def _events(event_log_dir: str):
    """Every JSON event of the (single) application log in the dir —
    plain file or rolling ``eventlog_v2_*`` directory, uncompressed."""
    paths = sorted(
        p for p in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith((".inprogress.crc", ".crc"))
        and not os.path.basename(p).startswith("appstatus")
    )
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)
