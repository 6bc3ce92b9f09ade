"""Spans and Spark event-log folding for the traced run.

The benchmark tags every call into the program with a Spark job group
(`<kind>:<label>`, kind one of `sources`, `build`, `exec`, `check`) and, in a
traced run, records a span around it. At the end the uncompressed event log is
folded into per-group job, stage and task counts, which become the per-layer
metrics. Streaming micro-batch jobs run on the stream's own thread; Spark tags
them with the query's run id, which the stream workload registers as `stream`.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PY_SENT = "data sent to Python workers"


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written at the
    end. With `enabled` false the span calls only set the job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.stream_run_ids: set[str] = set()

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if group is not None:
            self.sc.setJobGroup(group, name)
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.time(), "end": None, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str, under: str | None = None) -> list[dict]:
        """Spans called `name`, only those inside an `under` span if given."""
        def inside(s: dict) -> bool:
            while s["parent"] is not None:
                s = self.spans[s["parent"]]
                if s["name"] == under:
                    return True
            return False
        return [s for s in self.spans
                if s["name"] == name and (under is None or inside(s))]

    def total(self, name: str, under: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, under))

    def self_time(self, name: str, under: str | None = None) -> float:
        """Duration of the `name` spans minus the time their children cover
        (children of one span never overlap: calls are sequential)."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        return sum(s["end"] - s["start"] - kids[s["id"]]
                   for s in self.named(name, under))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _zero() -> dict:
    return defaultdict(float)


def fold_event_log(log_dir: str, stream_run_ids: set[str]) -> dict[str, dict]:
    """Per job-group kind ('build', 'exec', 'stream', ...): jobs, stages,
    tasks, failed tasks, summed task metrics. Stages are counted once each
    (a skipped stage never runs tasks and is not counted)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_kind: dict[int, str] = {}
    seen_stages: set[tuple[str, int]] = set()
    out: dict[str, dict] = defaultdict(_zero)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if group in stream_run_ids:
                        k = "stream"
                    else:
                        k = group.split(":", 1)[0] if ":" in group else "other"
                    for sid in ev.get("Stage IDs", []):
                        stage_kind[sid] = k
                    out[k]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    k = stage_kind.get(sid, "other")
                    agg = out[k]
                    if (k, sid) not in seen_stages:
                        seen_stages.add((k, sid))
                        agg["stages"] += 1
                    agg["tasks"] += 1
                    info = ev.get("Task Info", {})
                    if info.get("Failed"):
                        agg["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    agg["run_ms"] += m.get("Executor Run Time", 0)
                    agg["cpu_ns"] += m.get("Executor CPU Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    agg["input_rows"] += im.get("Records Read", 0)
                    agg["input_bytes"] += im.get("Bytes Read", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            agg["python_bytes_sent"] += float(acc.get("Update", 0))
    return out


def idle_frac(run_ms: float, wall_s: float, cores: int) -> float:
    """1 - task run time / (span wall time x cores)."""
    if wall_s <= 0:
        return 0.0
    return 1.0 - (run_ms / 1000.0) / (wall_s * cores)
