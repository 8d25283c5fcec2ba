"""Host facts, /proc process-tree accounting and Spark's UI REST API.

Everything here reads; nothing changes the engine.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from datetime import datetime, timezone

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_settings(work_dir: str) -> dict[str, str]:
    """The engine's existing environment settings, sized from this host:
    local parallelism = usable cores, driver heap = an eighth of RAM capped
    at the engine's 32g default, and Spark scratch + warehouse under the
    benchmark's work dir so a run writes nothing into the source tree."""
    heap_mb = min(32 * 1024, mem_total_kb() // 8 // 1024)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work_dir, "spark-warehouse"),
    }


def git_commit(root: str) -> str | None:
    """HEAD's commit read from .git without running git (None outside a
    git checkout)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, command name, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name may hold spaces; the numeric fields follow its ')'.
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, cpu, int(f[21]) * _PAGE


class ProcessTree:
    """CPU and RSS of this process and all its descendants: the Spark JVM
    and, below it, the PySpark daemon and Python workers.

    A live process reports its own CPU plus that of the children it has
    reaped, so summing over the live tree neither loses exited workers
    nor counts them twice."""

    def __init__(self):
        self.me = os.getpid()

    def sample(self) -> dict[str, float]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        tree, frontier = {self.me}, [self.me]
        while frontier:
            parent = frontier.pop()
            kids = [p for p, st in procs.items() if st[0] == parent and p not in tree]
            tree.update(kids)
            frontier.extend(kids)
        tree &= procs.keys()
        workers = [p for p in tree if p != self.me and procs[p][1].startswith("python")]
        # RSS only of the driver, the JVM and the workers: a child the JVM
        # forks to run a shell command shares the JVM's pages until it
        # execs, and summing it would count the heap twice.
        resident = [self.me, *workers, *(p for p in tree if procs[p][1] == "java")]
        return {
            "cpu_s": sum(procs[p][2] for p in tree),
            "pyworker_cpu_s": sum(procs[p][2] for p in workers),
            "rss_mb": sum(procs[p][3] for p in resident) / 2**20,
            "python_rss_mb": sum(procs[p][3] for p in (self.me, *workers)) / 2**20,
            "pyworker_rss_mb": sum(procs[p][3] for p in workers) / 2**20,
            "rss_by_process_mb": {f"{p}:{procs[p][1]}": procs[p][3] / 2**20 for p in tree},
        }


def retained_mb(tree: "ProcessTree") -> float:
    """Driver and Python-worker RSS plus the heap and non-heap memory the
    JVM has in use right after a full collection: what the program holds
    on to, whatever size the JVM had grown its heap to."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return tree.sample()["python_rss_mb"] + used / 2**20


class PeakSampler:
    """Background thread keeping the peak of ProcessTree RSS figures."""

    def __init__(self, tree: ProcessTree, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.peak_pyworker_rss_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            s = self.tree.sample()
            if s["rss_mb"] > self.peak_rss_mb:
                self.at_peak = s["rss_by_process_mb"]
            self.peak_rss_mb = max(self.peak_rss_mb, s["rss_mb"])
            self.peak_pyworker_rss_mb = max(self.peak_pyworker_rss_mb, s["pyworker_rss_mb"])
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _epoch(stamp: str | None) -> float | None:
    """Spark UI timestamps look like 2026-01-02T03:04:05.678GMT."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Job and stage accounting from the driver's UI REST endpoint.

    Jobs carry the job group set with ``setJobGroup`` around each call, so
    stage metrics can be attributed to the call that launched them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        status store holds the jobs that just ran."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def cached_mb(self) -> float:
        rdds = self._get("/storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 2**20

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        """All jobs (with epoch start/end) and completed stage attempts
        keyed by stage id, summed over attempts."""
        self.drain()
        jobs = self._get("/jobs")
        for j in jobs:
            j["start"] = _epoch(j.get("submissionTime"))
            j["end"] = _epoch(j.get("completionTime"))
        stages: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s.get("status") not in ("COMPLETE", "FAILED"):
                continue
            agg = stages.setdefault(s["stageId"], {})
            for k in STAGE_FIELDS:
                agg[k] = agg.get(k, 0) + (s.get(k) or 0)
        return jobs, stages


STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total

