"""Measurement plumbing: in-memory spans, Spark job/stage/task counts,
event-log folding and process-tree RSS sampling."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return float(xs[k])


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory and written out
    when the run ends. A span opened with ``group=True`` tags the Spark jobs
    it launches with its own job group, so the event log and the status
    tracker can be folded per span. Disabled, every span is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op=None, group: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": None,
        }
        self.spans.append(sp)
        prev_group = None
        if group and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            sp["group"] = f"perfbench-{sp['id']}"
            self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    @contextmanager
    def paused(self):
        """Record nothing inside (e.g. warm-up ops during set-up)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def duration(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def self_time(self, sp: dict) -> float:
        kids = sum(self.duration(c) for c in self.spans if c["parent"] == sp["id"])
        return self.duration(sp) - kids

    def roots(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["parent"] is None]

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks completed) for one job group, from the
    status tracker. Skipped stages (reused shuffle output) do not count."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        st = tracker.getStageInfo(s)
        if st is not None and st.numCompletedTasks > 0:
            ran += 1
            tasks += st.numCompletedTasks
    return len(jobs), ran, tasks


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task run times per stage, shuffle bytes, spill and GC,
    folded from the (uncompressed) Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out.setdefault(
                        group,
                        {"stage_run_ms": {}, "run_ms": 0, "gc_ms": 0, "spill": 0,
                         "shuffle_write": 0, "shuffle_read": 0},
                    )
                    g["stage_run_ms"].setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
                    g["run_ms"] += m["Executor Run Time"]
                    g["gc_ms"] += m["JVM GC Time"]
                    g["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                    g["shuffle_write"] += sw["Shuffle Bytes Written"]
                    g["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    return out


def task_skew(folded: dict) -> float:
    """max / median task run time in the stage with the most tasks."""
    stages = folded.get("stage_run_ms") or {}
    if not stages:
        return 0.0
    times = max(stages.values(), key=len)
    mid = median(times)
    return max(times) / mid if mid > 0 else 0.0


def process_tree() -> list[int]:
    """This process and every descendant (the JVM and its Python workers)."""
    ppid: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree = frontier = [os.getpid()]
    while frontier:
        frontier = [p for p, pp in ppid.items() if pp in frontier]
        tree = tree + frontier
    return tree


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS of the process tree, sampled from /proc on a thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
