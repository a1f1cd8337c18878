"""Measurements taken from outside the program: /proc for the processes the
benchmark starts, and Spark's monitoring REST API for the engine's own
counters."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _read_proc(pid: int) -> tuple[tuple[int, int], float, int] | None:
    """((pid, start tick), cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/statm") as f:
            rss_pages = int(f.read().split()[1])
    except (OSError, IndexError):
        return None
    # fields[0] is stat field 3 (state): utime..cstime are fields 14-17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return (pid, int(fields[19])), cpu, rss_pages * _PAGE


class ProcTree:
    """Samples every descendant of this process (the Spark JVM and any
    Python workers it forks): the peak of their summed resident memory, and
    their CPU time. The benchmark's own interpreter, which also runs the
    DuckDB oracle, is not counted.

    Without ``interval_s`` it samples only when asked (``cpu_s`` before and
    after a job); with it, also on a background thread, which the peak
    memory needs. A process's CPU is its last sampled value, so a process
    that exits between samples loses at most one interval of CPU."""

    def __init__(self, interval_s: float | None = None):
        self.interval_s = interval_s
        self._peak = 0
        self._cpu: dict[tuple[int, int], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = (threading.Thread(target=self._run, daemon=True)
                        if interval_s else None)

    def __enter__(self) -> "ProcTree":
        if self._thread:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=10)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        rss = 0
        seen = {}
        for pid in _descendants(os.getpid()):
            got = _read_proc(pid)
            if got is not None:
                key, cpu, r = got
                seen[key] = cpu
                rss += r
        with self._lock:
            self._cpu.update(seen)
            self._peak = max(self._peak, rss)

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / 1e6

    def cpu_s(self) -> float:
        """CPU seconds used so far by every descendant seen."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _steal_s() -> list[float]:
    """CPU seconds the hypervisor has taken from each CPU since boot."""
    with open("/proc/stat") as f:
        return [int(line.split()[8]) / _TICK for line in f
                if line.startswith("cpu") and line[3].isdigit()]


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM behind it, and wait until the
    JVM has exited (PySpark would otherwise leave it to die with the
    interpreter)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class SparkRest:
    """Stage, task and storage counters of one SparkContext, from its
    monitoring REST API (served by the UI, so the traced run enables it)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        if not self.sc.uiWebUrl:
            raise RuntimeError("Spark UI is off: no REST API to read")
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished job's
        events to the status store the API reads."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()

    def job_ids(self) -> set[int]:
        self.settle()
        return {j["jobId"] for j in self._get("/jobs")}

    def cached_mb(self) -> float:
        self.settle()
        return sum(r["memoryUsed"] + r["diskUsed"]
                   for r in self._get("/storage/rdd")) / 1e6

    def summary(self, since_jobs: set[int]) -> dict[str, float]:
        """Totals over the jobs started after ``since_jobs`` was taken."""
        self.settle()
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in since_jobs]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        ratios = []
        for s in stages:
            if s["numCompleteTasks"] < 4:
                continue
            q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            if q[0] > 0:
                ratios.append(q[1] / q[0])
        mb = 1e6
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in stages) / mb,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            # slowest task over the median task of the same stage, worst
            # stage with at least four tasks
            "spark.straggler_ratio": max(ratios, default=1.0),
            "spark.task_failures": sum(s["numFailedTasks"] for s in stages),
        }


@dataclass
class Clock:
    """Times one call. ``net_s`` is the wall less the time the hypervisor
    took from the most-stolen CPU meanwhile: on a shared VM that steal
    swings from run to run by more than the changes the benchmark must
    resolve, and a Spark stage waits for its slowest task, so a stall on
    one CPU delays the whole job."""

    wall_s: float = 0.0
    steal_s: float = 0.0
    steal_mean_s: float = 0.0   # steal averaged over the CPUs, for comparison

    @property
    def net_s(self) -> float:
        return self.wall_s - self.steal_s

    def __enter__(self) -> "Clock":
        self._steal0 = _steal_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        stolen = [b - a for a, b in zip(self._steal0, _steal_s())]
        self.steal_s = max(stolen)
        self.steal_mean_s = sum(stolen) / len(stolen)
