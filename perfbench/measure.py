"""Measurement pieces of the benchmark: percentiles, result hashing, spans,
Spark event-log parsing and process-tree memory sampling.

Nothing here imports the engine or Spark, so the pieces are testable alone.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MIN_BEYOND = 10  # samples a reported tail percentile must leave beyond it


# -- percentiles ------------------------------------------------------------

def tail_percentile(n: int) -> int | None:
    """Highest whole percentile whose nearest-rank sample has at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None when ``n`` is too
    small for any percentile from 50 up."""
    if n <= MIN_BEYOND:
        return None
    p = math.floor(100 * (n - MIN_BEYOND) / n)
    return p if p >= 50 else None


def percentile(values: list[float], p: float) -> float:
    """Percentile of ``values`` (0 <= p <= 100), interpolated linearly
    between the two nearest samples; p50 of an even count is the mean of the
    middle two.  It never exceeds the nearest-rank percentile, so it leaves
    at least as many samples beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    h = (len(ordered) - 1) * p / 100
    lo = math.floor(h)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (h - lo) * (ordered[hi] - ordered[lo])


# -- order-insensitive result hashing ---------------------------------------

def result_hash(cols: list[str], rows, canon) -> str:
    """Hash a result as a multiset of rows, independent of row order and of
    column order; ``canon`` maps one cell to its canonical string (the
    engine's verifier canonicalisation, shared with its DuckDB oracle)."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    bag = Counter(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps([names[i] for i in order]).encode())
    for row, count in sorted(bag.items()):
        h.update(json.dumps([row, count]).encode())
    return h.hexdigest()


# -- spans ------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: str | None
    start: float  # epoch seconds, comparable with the Spark event log
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            s = Span(len(self.spans), stack[-1].sid if stack else None, name, op, time.time())
            self.spans.append(s)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            stack.pop()


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_within(window: tuple[float, float], intervals) -> float:
    """Length of ``window`` covered by ``intervals``."""
    lo, hi = window
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        out[s.name] += (s.end - s.start) - covered_within((s.start, s.end), kids)
    return dict(out)


# -- Spark event log --------------------------------------------------------

@dataclass
class GroupStats:
    """Spark work attributed to one job group (one op execution)."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_intervals: list = field(default_factory=list)  # epoch seconds
    job_wait_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> tuple[dict[str, GroupStats], list[float]]:
    """Attribute every job, stage and task in a Spark event log to the job
    group that submitted it.  Returns the per-group stats and, per stage with
    at least two tasks, its max/median task duration (the skew ratio)."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_submit: dict[int, tuple[str, float, list[int]]] = {}
    stage_first_launch: dict[int, float] = {}
    stage_task_times: dict[int, list[float]] = defaultdict(list)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "<none>"
            stages = list(ev.get("Stage IDs", []))
            job_submit[ev["Job ID"]] = (group, ev["Submission Time"] / 1000.0, stages)
            g = groups[group]
            g.jobs += 1
            for sid in stages:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            group = stage_group.get(sid, "<none>")
            g = groups[group]
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            g.stages.add(sid)
            g.tasks += 1
            g.task_intervals.append((launch, finish))
            stage_first_launch[sid] = min(stage_first_launch.get(sid, launch), launch)
            stage_task_times[sid].append(finish - launch)
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for group, submitted, stages in job_submit.values():
        launches = [stage_first_launch[s] for s in stages if s in stage_first_launch]
        if launches:
            groups[group].job_wait_s += max(0.0, min(launches) - submitted)
    skews = []
    for times in stage_task_times.values():
        if len(times) >= 2:
            med = sorted(times)[(len(times) - 1) // 2]
            skews.append(max(times) / med if med > 0 else 1.0)
    return dict(groups), skews


# -- the machine ------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks so far, from /proc/stat; the stolen share of a
    run tells a slow run on a contended host from a slow program."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


# -- memory -----------------------------------------------------------------

def _tree_rss_kb(root: int) -> dict[str, int]:
    """Resident set of ``root`` and all its descendants, from /proc, summed
    per command name."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    by_name: dict[str, int] = defaultdict(int)
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmRSS" in fields:
            by_name[fields["Name"].strip()] += int(fields["VmRSS"].split()[0])
    return dict(by_name)


class RssSampler:
    """Samples the summed RSS of this process tree (the Python driver, the
    Spark JVM it launched and the Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}  # per command name, at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = _tree_rss_kb(me)
            if sum(sample.values()) > self.peak_kb:
                self.peak_kb, self.at_peak = sum(sample.values()), sample
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
