"""Measurement from outside the engine: job attribution, the Spark event
log, process-tree memory and box-load records.

Every Spark job the benchmark causes runs under a job group named
``<workload>|<layer>|<op>|<phase>|<pass>`` (see :func:`group_id`), so jobs,
stages and tasks can be attributed to the operation and phase that
launched them without any code inside the engine.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict


def group_id(workload: str, layer: str, op: str, phase: str, pass_no: int) -> str:
    return f"{workload}|{layer}|{op}|{phase}|{pass_no}"


def parse_group(gid: str | None) -> tuple[str, str, str, str, int] | None:
    parts = (gid or "").split("|")
    if len(parts) != 5:
        return None
    return parts[0], parts[1], parts[2], parts[3], int(parts[4])


class JobCounter:
    """Counts a job group's jobs, stages, tasks and failed tasks through
    the SparkContext status tracker (the UI-independent status store)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def jobs(self, gid: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(gid))

    def unattributed_jobs(self) -> int:
        # a None group asks for every known job that carries no group
        return len(self.tracker.getJobIdsForGroup(None))

    def detail(self, gid: str) -> dict:
        jobs = self.jobs(gid)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}


def _lines(files):
    for p in files:
        with open(p, encoding="utf-8") as f:
            yield from f


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold the task-end metrics of every uncompressed event log under
    `log_dir` per job group: executor run ms, GC ms, shuffle bytes
    written and bytes spilled. A stage counts for the group of the first
    job that lists it (a skipped stage re-listed by a later job ran its
    tasks only once)."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            files = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                           key=lambda f: int(f.split("_")[1]))
            files = [os.path.join(path, f) for f in files]
        else:
            files = [path]
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault((app, s), gid)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get((app, ev.get("Stage ID")), "")
                m = ev.get("Task Metrics") or {}
                acc = out[gid]
                acc["task_run_ms"] += m.get("Executor Run Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                acc["tasks"] += 1
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process tree (Python driver,
    JVM, Python workers) on a background thread; `peak` is the maximum
    seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def load_avg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe_s(spark) -> float:
    """Best-of-3 wall of a fixed codegen hash aggregate over an in-memory
    range (the shape of bench.py's calibration probe). It only flags a
    noisy window; results are never rescaled by it."""
    from pyspark.sql import functions as F

    df = spark.range(2_000_000).groupBy((F.col("id") % 101).alias("g")).agg(
        F.sum("id"), F.count("*"))
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best
