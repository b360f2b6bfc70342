"""Observations taken from outside the program: process-tree memory and
CPU from ``/proc``, and Spark job/stage metrics from the Spark UI's REST
API on localhost."""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root`` (the Spark JVM,
    the PySpark daemon and its Python workers), excluding ``root``."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st:
            total += int(st[21]) * _PAGE  # field 24 of stat: rss in pages
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user+system, own and reaped children) of the process
    tree under ``root``, ``root`` included."""
    total = 0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


class RssSampler:
    """Samples the process tree's resident set on a background thread and
    keeps the peak. ``stop`` joins the thread."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s = root, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_jobs(spark) -> list[dict]:
    """Every job the Spark UI retained, each with its stages' summed task
    metrics and the worst max/median task-time ratio among its stages."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"
    stages = {}
    for st in _get(f"{base}/stages?status=complete&withSummaries=true"
                   "&quantiles=0.5,1.0&details=false"):
        dist = st.get("taskMetricsDistributions") or {}
        run = dist.get("executorRunTime") or [0.0, 0.0]
        skew = run[1] / run[0] if run[0] > 0 else 1.0
        stages[st["stageId"]] = {
            "tasks": st.get("numCompleteTasks", 0),
            "task_s": st.get("executorRunTime", 0) / 1000.0,
            "gc_s": st.get("jvmGcTime", 0) / 1000.0,
            "shuffle_read_b": st.get("shuffleReadBytes", 0),
            "shuffle_write_b": st.get("shuffleWriteBytes", 0),
            "spill_b": st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0),
            "skew": skew if st.get("numCompleteTasks", 0) > 1 else 1.0,
        }
    jobs = []
    for job in _get(f"{base}/jobs"):
        mine = [stages[s] for s in job.get("stageIds", []) if s in stages]
        jobs.append({
            "job_id": job["jobId"],
            "submitted": _epoch(job.get("submissionTime")),
            "stages": len(mine),
            **{k: sum(s[k] for s in mine)
               for k in ("tasks", "task_s", "gc_s", "shuffle_read_b",
                         "shuffle_write_b", "spill_b")},
            "skew": max((s["skew"] for s in mine), default=1.0),
        })
    return [j for j in jobs if j["submitted"] is not None]
