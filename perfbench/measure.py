"""Measurement helpers for perfbench: spans, Spark job-group counters and
process-tree peak RSS.

Everything here observes the program from outside: spans are recorded
around the benchmark's own calls into the package, Spark counters come
from ``statusTracker`` and the UI REST API of the benchmark's session,
and memory is read from ``/proc``.
"""

from __future__ import annotations

import calendar
import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``; a disabled
    tracer records nothing and costs one attribute check per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> tuple[float, int]:
        """(seconds, calls) over every finished span called ``name``."""
        done = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        return sum(s["end"] - s["start"] for s in done), len(done)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


@contextlib.contextmanager
def wrapped(tracer: Tracer, module, names: list[str], span_prefix: str):
    """Time calls made through ``module.<name>`` for each name, restoring
    the original attributes on exit. Used only in the traced run, on the
    names a pipeline module imported, so the program's code is unchanged."""
    originals = {n: getattr(module, n) for n in names}

    def make(name, fn):
        def call(*args, **kwargs):
            with tracer.span(f"{span_prefix}{name}"):
                return fn(*args, **kwargs)
        return call

    for n, fn in originals.items():
        setattr(module, n, make(n, fn))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(module, n, fn)


# --- Spark job groups -------------------------------------------------------

def _rest_ts(s: str) -> float:
    # the UI REST API formats times as 2026-01-01T00:00:00.000GMT
    return calendar.timegm(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + \
        float("0" + s[19:].replace("GMT", ""))


def _covered(intervals: list[tuple[float, float]]) -> float:
    busy, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        busy += cur[1] - cur[0]
    return busy


SPARK_KEYS = ("s", "jobs", "tasks", "driver_gap_s", "executor_run_s",
              "shuffle_bytes", "spill_bytes", "task_skew")


class SparkGroups:
    """Runs blocks of driver code under named Spark job groups and turns
    each group's jobs into counters: jobs, tasks, executor run time,
    shuffle and spill bytes, task skew (max ÷ median task run time) and
    driver gap (the group's wall time not covered by any of its jobs)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui = self.sc.uiWebUrl
        self.app = self.sc.applicationId
        self.walls: dict[str, tuple[float, float]] = {}

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.walls[name] = (t0, time.time())
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def collect(self) -> dict[str, dict[str, float]]:
        """Counters for every group run so far (call once, at the end)."""
        tracker = self.sc.statusTracker()
        ids = {g: set(tracker.getJobIdsForGroup(g)) for g in self.walls}
        wanted = set().union(*ids.values()) if ids else set()
        # the status store is fed by an asynchronous listener: wait until
        # it has every job of every group as finished
        deadline = time.time() + 30
        while True:
            jobs = {j["jobId"]: j for j in self._get("jobs")}
            if all(i in jobs and "completionTime" in jobs[i] for i in wanted):
                break
            if time.time() > deadline:
                raise RuntimeError("Spark status store did not report all jobs")
            time.sleep(0.2)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("stages?details=true&status=complete")}
        out = {}
        for g, (t0, t1) in self.walls.items():
            gj = [jobs[i] for i in ids[g]]
            sids = {sid for j in gj for sid in j["stageIds"]}
            gs = [s for (sid, _), s in stages.items() if sid in sids]
            task_ms = [t["taskMetrics"]["executorRunTime"]
                       for s in gs for t in s.get("tasks", {}).values()
                       if t.get("taskMetrics")]
            med = statistics.median(task_ms) if task_ms else 0.0
            covered = _covered([(_rest_ts(j["submissionTime"]),
                                 _rest_ts(j["completionTime"])) for j in gj])
            out[g] = {
                "s": t1 - t0,
                "jobs": float(len(gj)),
                "tasks": float(sum(s["numTasks"] for s in gs)),
                "driver_gap_s": max(0.0, (t1 - t0) - covered),
                "executor_run_s": sum(task_ms) / 1000.0,
                "shuffle_bytes": float(sum(s["shuffleWriteBytes"] for s in gs)),
                "spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                         for s in gs)),
                "task_skew": (max(task_ms) / max(med, 1.0)) if task_ms else 0.0,
            }
        return out


# --- memory -----------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    """RSS summed over ``root`` (the driver Python process), the JVM it
    launched and the JVM's Python workers. Other descendants are left
    out: the JVM starts short-lived helpers (process spawn, shell tools)
    that, until they exec, share the JVM's memory and report its RSS."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue  # exited while we scanned
        fields = tail.split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        info[pid] = (head.split("(", 1)[1], int(fields[21]) * _PAGE)
    total = info.get(root, ("", 0))[1]
    todo = [c for c in children.get(root, []) if info[c][0] == "java"]
    total += sum(info[c][1] for c in todo)
    while todo:
        for c in children.get(todo.pop(), []):
            comm, rss = info[c]
            if comm.startswith("python"):
                total += rss
                todo.append(c)
    return total


class PeakRss:
    """Samples the process tree's summed RSS every ``interval`` seconds on
    a background thread; ``peak_mb`` is the highest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
