"""Outside-in probes: process memory and CPU from /proc, Spark's REST
stage and task tables, and an in-memory span tracer."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int) -> tuple[float, float, int]:
    """(RSS of ``root``, RSS of its Python descendants, their count).

    Only descendants running Python count: a child forked by the JVM
    shows the JVM's pages until it execs, which would count them twice.
    """
    own = rest = n = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        rss = int(st[21]) * _PAGE  # rss in pages
        if pid == root:
            own = rss
        elif _comm(pid).startswith("python"):
            rest, n = rest + rss, n + 1
    return own / 1e6, rest / 1e6, n


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU seconds of ``root``, CPU seconds of its descendants), each
    counting reaped children too."""
    own = rest = 0.0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        sec = sum(int(x) for x in st[11:15]) / _TICK  # utime stime cutime cstime
        if pid == root:
            own = sec
        else:
            rest += sec
    return own, rest


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class RssSampler:
    """Samples the RSS of a process tree from a daemon thread and keeps
    the peak since the last :meth:`reset`, with its split between the
    root and its descendants."""

    def __init__(self, root: int, period_s: float = 0.05):
        self.root, self.period_s = root, period_s
        self._peak = (0.0, 0.0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        s = tree_rss_mb(self.root)
        with self._lock:
            if s[0] + s[1] > self._peak[0] + self._peak[1]:
                self._peak = s

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = (0.0, 0.0, 0)
        self._sample()

    def peak(self) -> tuple[float, float, int]:
        """(root MB, descendants MB, descendant count) at the peak."""
        self._sample()
        with self._lock:
            return self._peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkRest:
    """Spark's monitoring REST API for the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def group_stages(self, group: str, timeout_s: float = 20.0) -> list[dict]:
        """Completed stages of every job run under job group ``group``,
        waiting for the listener bus to catch up with the driver."""
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                ids = {s for j in jobs for s in j["stageIds"]}
                stages = [s for s in self._get("/stages")
                          if s["stageId"] in ids and s["status"] == "COMPLETE"]
                if all(j["status"] == "SUCCEEDED" for j in jobs):
                    return stages
                raise RuntimeError(f"job group {group} failed")
            if time.time() > deadline:
                raise TimeoutError(f"job group {group} not reported in time")
            time.sleep(0.2)

    def tasks(self, stage: dict) -> list[dict]:
        return self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         "/taskList?length=100000")


def stage_totals(stages: list[dict]) -> dict[str, float]:
    s = lambda k: sum(st.get(k, 0) for st in stages)  # noqa: E731
    return {
        "task_s": s("executorRunTime") / 1e3,
        "cpu_s": s("executorCpuTime") / 1e9,
        "gc_s": s("jvmGcTime") / 1e3,
        "rows_read": float(s("inputRecords")),
        "shuffle_write_mb": s("shuffleWriteBytes") / 1e6,
        "shuffle_read_mb": s("shuffleReadBytes") / 1e6,
    }


def task_skew(tasks: list[dict]) -> dict[str, float]:
    """Per-task spread of a stage: most records written by one task, and
    the slowest task's run time over the median task's."""
    run = [t["taskMetrics"]["executorRunTime"] for t in tasks]
    written = [t["taskMetrics"]["outputMetrics"]["recordsWritten"] for t in tasks]
    med = statistics.median(run) or 1
    return {"records_per_task_max": float(max(written)),
            "task_s_max_over_median": max(run) / med}


class Tracer:
    """Spans (name, start, end, parent) kept in memory until the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0,
                           self._stack[-1] if self._stack else -1))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, parent = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), parent)

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (count, total seconds, self seconds).  Children never
        overlap each other, so self time is the duration minus theirs."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, list] = {}
        for i, (name, t0, t1, _) in enumerate(self.spans):
            acc = out.setdefault(name, [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += t1 - t0
            acc[2] += t1 - t0 - child[i]
        return {k: tuple(v) for k, v in out.items()}
