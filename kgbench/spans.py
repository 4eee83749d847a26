"""Tracing and collectors that sit outside the program.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory; the benchmark opens one around each call into a program
  module and writes them all out when the run ends. Self time is a
  span's duration minus the part of it covered by its child spans.
- :class:`RssSampler` sums the resident set size of this process and
  all its descendants (the JVM and its Python workers) from ``/proc``.
- :func:`spark_counters` reads stage and job counters from Spark's
  status REST API (``sc.uiWebUrl``).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so
    the untraced run pays only a context-manager call per layer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the intervals its direct children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-int(q * len(s)) // 100) - 1))
    return s[k]


def _children_of(pids: set[int]) -> set[int]:
    out = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid in pids:
            out.add(int(entry))
    return out


def tree_rss_bytes(root: int) -> int:
    pids, frontier = {root}, {root}
    while frontier:
        frontier = _children_of(frontier) - pids
        pids |= frontier
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak``
    holds the largest sample. Use as a context manager so the thread
    is always joined."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def _app_url(spark) -> str:
    sc = spark.sparkContext
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def wait_listener(spark, job_ids: list[int], timeout_s: float = 10.0) -> None:
    """The REST API is fed asynchronously by the listener bus: wait
    until every given job shows as finished there."""
    want = set(job_ids)
    deadline = time.monotonic() + timeout_s
    while want and time.monotonic() < deadline:
        done = {j["jobId"] for j in _get_json(f"{_app_url(spark)}/jobs")
                if j["status"] in ("SUCCEEDED", "FAILED")}
        if want <= done:
            return
        time.sleep(0.1)


def spark_counters(spark, group: str) -> dict:
    """Counters of every job in one job group: shuffle-write and spill
    bytes, and the task count and task skew (max over median executor
    run time) of the stage with the most tasks."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(group))
    wait_listener(spark, job_ids)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    base = _app_url(spark)
    shuffle = spill = 0
    widest = None
    for st in _get_json(f"{base}/stages"):
        if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
            continue
        shuffle += st.get("shuffleWriteBytes", 0)
        spill += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        if widest is None or st["numTasks"] > widest["numTasks"]:
            widest = st
    tasks, skew = 0, 1.0
    if widest is not None:
        tasks = widest["numTasks"]
        summary = _get_json(f"{base}/stages/{widest['stageId']}/"
                            f"{widest['attemptId']}/taskSummary"
                            "?quantiles=0.5,1.0")
        med, mx = summary["executorRunTime"]
        skew = mx / med if med else 1.0
    return {"shuffle_write_bytes": shuffle, "spill_bytes": spill,
            "tasks": tasks, "task_skew": skew}
