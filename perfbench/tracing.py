"""Measurement plumbing for the benchmark: process CPU and memory read from
/proc, in-memory spans, and Spark stage metrics read from the status REST
API. Nothing here imports pyspark; the Spark context is passed in.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own cpu_s, reaped children's cpu_s, rss_bytes) of a process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17, rss=24
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped, int(fields[21]) * _PAGE


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def _subtree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def find_jvm() -> int | None:
    """pid of the Spark driver JVM launched by this Python process."""
    kids = _children_map()
    for pid in _subtree(os.getpid(), kids)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


class ProcCpu:
    """CPU seconds of the three process groups a local-mode run consists
    of: this Python driver, the JVM, and the Python workers the JVM forks
    (including workers already reaped, through cutime/cstime)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid

    def driver(self) -> float:
        return time.process_time()

    def jvm(self) -> float:
        st = _stat(self.jvm_pid) if self.jvm_pid else None
        return st[1] if st else 0.0

    def snapshot(self, full: bool = True) -> dict[str, float]:
        """{driver, jvm, py}; ``full=False`` skips the /proc walk for the
        Python workers (cheap enough to take around every point request)."""
        snap = {"driver": self.driver(), "jvm": self.jvm(), "py": 0.0}
        if full and self.jvm_pid:
            kids = _children_map()
            py = 0.0
            for pid in _subtree(self.jvm_pid, kids):
                st = _stat(pid)
                if st is not None:
                    # the JVM's own time is not worker time; its reaped
                    # children (exited worker daemons) are
                    py += st[2] + (st[1] if pid != self.jvm_pid else 0.0)
            snap["py"] = py
        return snap

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


class RssSampler:
    """Background peak of the summed RSS of this process and all its
    descendants. ``peak_mb`` is None when no sweep completed, so an empty
    window can never read as a real-looking 0."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.sweeps = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sweep(self) -> int:
        kids = _children_map()
        total = 0
        for pid in _subtree(os.getpid(), kids):
            st = _stat(pid)
            if st is not None:
                total += st[3]
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            cur = self._sweep()
            self.peak_bytes = max(self.peak_bytes, cur)
            self.sweeps += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        return False

    @property
    def peak_mb(self) -> float | None:
        return self.peak_bytes / 2**20 if self.sweeps else None


class Tracer:
    """Spans kept in memory: name, start, end, parent, request id, and
    optionally a CPU snapshot at each end. Each span runs its Spark jobs
    under its own job group, so stage metrics can be mapped back to the
    innermost span that launched them. Disabled, ``span`` costs nothing
    and records nothing."""

    def __init__(self, enabled: bool, sc=None, cpu: ProcCpu | None = None):
        self.enabled = enabled
        self.sc = sc
        self.cpu = cpu
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 1

    @contextmanager
    def span(self, name: str, req=None, cpu: str | None = None):
        """``cpu``: None, "light" (driver + JVM) or "full" (+ workers)."""
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "req": req}
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        if cpu:
            rec["cpu0"] = self.cpu.snapshot(full=cpu == "full")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if cpu:
                rec["cpu"] = ProcCpu.delta(
                    rec.pop("cpu0"), self.cpu.snapshot(full=cpu == "full"))
            self._stack.pop()
            parent = self._stack[-1] if self._stack else "root"
            self.sc.setJobGroup(f"span-{parent}", "")
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the union of the
        intervals its direct children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "dur_s": s["end"] - s["start"],
                        "self_s": s["end"] - s["start"] - covered})
        return out

    def subtree_ids(self, sid: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, stack = set(), [sid]
        while stack:
            x = stack.pop()
            out.add(x)
            stack.extend(kids.get(x, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_time(), f)


class StageMetrics:
    """Spark job and stage metrics from the status REST API, grouped by the
    job group (one per span) that launched them."""

    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.jobs_by_group: dict[str, list[dict]] = {}
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def load(self) -> "StageMetrics":
        # the status store is fed by an asynchronous listener: wait until it
        # reports no running job and two reads agree
        prev = None
        for _ in range(40):
            jobs = self._get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                break
            prev = key
            time.sleep(0.25)
        for j in jobs:
            self.jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)
        for s in self._get("/stages"):
            if s["status"] == "COMPLETE":
                self.stages[s["stageId"]] = s
        return self

    def jobs_of(self, span_ids) -> list[dict]:
        out = []
        for sid in span_ids:
            out.extend(self.jobs_by_group.get(f"span-{sid}", []))
        return out

    def stages_of(self, span_ids) -> list[dict]:
        ids = sorted({i for j in self.jobs_of(span_ids)
                      for i in j["stageIds"]})
        return [self.stages[i] for i in ids if i in self.stages]

    def task_skew(self, stage: dict) -> float | None:
        """max / median task run time of one stage."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else None
