"""Spans, process memory sampling and the event-log layer table.

Spans are kept in memory while the benchmark runs and written out once at
the end.  In a traced run each span around a public engine call also names a
Spark job group, so the jobs, stages and tasks Spark records in its event log
can be charged to the call that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class Tracer:
    """Records one span per benchmark operation and per public call inside it.

    A span is (id, name, parent, request, start, end) with wall-clock
    seconds, so spans join the event log's millisecond timestamps.
    """

    def __init__(self, sc=None):
        self.sc = sc  # a SparkContext when job groups should be set
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"s{len(self.spans)}", "name": name,
             "parent": parent["id"] if parent else None,
             "request": request if request is not None else
             (parent["request"] if parent else None), **attrs}
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s["id"], name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


def _proc_table() -> dict[int, tuple[int, str, int, float]]:
    """pid -> (ppid, comm, rss bytes, cpu seconds) for every readable process."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), comm, int(fields[21]) * page,
                          (int(fields[11]) + int(fields[12])) / tick)
    return out


def descendants(root: int, table=None) -> dict[int, tuple]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out[c] = table[c]
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus everything it started (the
    JVM and the Python workers under it), sampled from ``/proc``."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_total = 0
        self.peak_workers = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        tree = descendants(me, table)
        workers = sum(r for _, comm, r, _ in tree.values() if comm.startswith("python"))
        total = table[me][2] + sum(r for _, _, r, _ in tree.values())
        self.peak_total = max(self.peak_total, total)
        self.peak_workers = max(self.peak_workers, workers)

    @staticmethod
    def cpu_s() -> float:
        """CPU seconds used so far by this process and everything under it."""
        table = _proc_table()
        me = os.getpid()
        return table[me][3] + sum(c for *_, c in descendants(me, table).values())

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# -- event log ---------------------------------------------------------------

# MapInPandas / ArrowEvalPython SQL metrics, summed over the span's tasks
_PY_METRICS = {
    "data sent to Python workers": "py_mb_to_worker",
    "data returned from Python workers": "py_mb_from_worker",
    "time to start Python workers": "py_worker_boot_s",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> tuple[dict, dict]:
    """jobs: id -> {group, start, end, stages}; tasks: stage -> [task dict]."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None, "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                t = {
                    "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                }
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key:
                        t[key] = t.get(key, 0.0) + _num(acc.get("Update"))
                tasks.setdefault(ev["Stage ID"], []).append(t)
    return jobs, tasks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_table(spans: list[dict], jobs: dict, tasks: dict) -> dict[str, dict]:
    """Per public function (``<layer>.<function>``): wall, self and driver
    time, Spark jobs/tasks, task CPU, GC, shuffle, spill, Python-boundary
    bytes and worker start time, and the task skew of its slowest stage.

    A job is charged to the span whose id is its job group; a job without a
    group goes to the innermost span whose interval holds its start.
    """
    by_id = {s["id"]: s for s in spans}
    span_jobs: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs.values():
        if j["end"] is None:
            continue
        sid = j["group"] if j["group"] in by_id else None
        if sid is None:
            inside = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            span_jobs[sid].append(j)
    # self time: a span minus the part of it its child spans cover
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))

    table: dict[str, dict] = {}
    seen_stages: set[int] = set()  # a reused (skipped) stage counts once
    for s in sorted(spans, key=lambda s: s["start"]):
        wall = s["end"] - s["start"]
        js = span_jobs[s["id"]]
        row = table.setdefault(s["name"], {
            "calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0,
            "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "py_mb_to_worker": 0.0,
            "py_mb_from_worker": 0.0, "py_worker_boot_s": 0.0, "task_skew": 1.0,
        })
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - _covered(children.get(s["id"], []), s["start"], s["end"])
        row["driver_s"] += wall - _covered([(j["start"], j["end"]) for j in js],
                                           s["start"], s["end"])
        row["jobs"] += len(js)
        slowest = None
        for j in js:
            for st in j["stages"]:
                if st in seen_stages:
                    continue
                seen_stages.add(st)
                ts = tasks.get(st, [])
                row["tasks"] += len(ts)
                for t in ts:
                    row["task_cpu_s"] += t["cpu"]
                    row["gc_s"] += t["gc"]
                    row["shuffle_write_mb"] += t["shuffle_w"] / MB
                    row["spill_mb"] += t["spill"] / MB
                    row["py_mb_to_worker"] += t.get("py_mb_to_worker", 0.0) / MB
                    row["py_mb_from_worker"] += t.get("py_mb_from_worker", 0.0) / MB
                    row["py_worker_boot_s"] += t.get("py_worker_boot_s", 0.0) / 1000.0
                if ts and (slowest is None or sum(t["dur"] for t in ts) > sum(t["dur"] for t in slowest)):
                    slowest = ts
        if slowest:
            med = statistics.median(t["dur"] for t in slowest)
            row["task_skew"] = max(row["task_skew"],
                                   max(t["dur"] for t in slowest) / med if med > 0 else 1.0)
    return table
