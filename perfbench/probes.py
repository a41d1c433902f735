"""Host settings and process-level probes: CPU and RSS of this process's
subtree (the Spark JVM plus its Python workers), and a reader for Spark's
monitoring REST API.  Nothing here imports pyspark."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
import urllib.request

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_settings() -> dict:
    """Cores as ``nproc`` counts them (the affinity mask) and a driver heap
    that leaves room for the Python workers: a quarter of physical memory,
    between 1 and 8 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    heap_gb = max(1, min(8, total_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "driver_heap": f"{heap_gb}g", "mem_total_gb": round(total_kb / 2**20, 1)}


def host_speed_s(iterations: int = 2_000_000) -> float:
    """Seconds one core takes for a fixed pure-Python loop: recorded next
    to each run so that runs made while the host was slower can be told
    apart."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iterations):
        x += i * i
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for t in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass  # the process exited while we walked it
    return out


def subtree_pids() -> list[int]:
    pids, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p not in pids:
            pids.append(p)
            stack += _children(p)
    return pids


def become_subreaper() -> None:
    """Orphaned descendants (Python workers whose JVM has exited) are
    re-parented to this process instead of init, so that
    ``stop_descendants`` can still find and reap them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> bool:
    """Reaps every child that has exited; False once there are no children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminates every process below this one and waits until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        live = _reap()
        pids = subtree_pids()[1:]
        if not pids and not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def subtree_cpu_s() -> float:
    """utime+stime of every live process in the subtree.  Python workers
    are reused across jobs, so deltas around a rep lose nothing but the
    CPU of processes that exit inside it."""
    total = 0.0
    for p in subtree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except OSError:
            continue
        total += (int(rest[11]) + int(rest[12])) / _TCK
    return total


def subtree_rss_bytes() -> int:
    total = 0
    for p in subtree_pids():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the subtree's summed RSS on a thread while ``active``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.peak = max(self.peak, subtree_rss_bytes())

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkRest:
    """Spark's monitoring REST API for the live application (needs
    ``spark.ui.enabled=true``).  Stages are attributed to the job groups
    the benchmark sets around each traced call."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store has no running jobs or stages."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not self._get("/jobs?status=running") and not self._get("/stages?status=active"):
                return
            time.sleep(0.2)

    def group_totals(self, group: str) -> dict:
        """Summed GC time and shuffle write bytes over the stages of every
        job in ``group``, and per Python UDF node of the group's SQL
        executions, in evaluation order (the graph numbers nodes from the
        root down): bytes sent to the workers and worker initialisation
        time summed over tasks."""
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        gc_ms = shuffle = 0
        for st in self._get("/stages?status=complete"):
            if st["stageId"] in stage_ids:
                gc_ms += st.get("jvmGcTime", 0)
                shuffle += st.get("shuffleWriteBytes", 0)
        job_ids = {j["jobId"] for j in jobs}
        python = []
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if not job_ids & set(ex.get("successJobIds", [])):
                continue
            for node in sorted(ex.get("nodes", []), key=lambda n: -n["nodeId"]):
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if "data sent to Python workers" in m:
                    python.append(
                        {
                            "node": node.get("nodeName"),
                            "sent_bytes": _total(m["data sent to Python workers"], _BYTES),
                            "init_s": _total(m.get("time to initialize Python workers", ""), _SECONDS),
                        }
                    )
        return {"gc_s": gc_ms / 1e3, "shuffle_write_bytes": shuffle, "python": python}


_BYTES = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _total(value: str, units: dict) -> float:
    """The total of an SQL metric string: 'total (min, med, max ...)\n12.3 MiB (...)'."""
    for line in value.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1] in units:
            try:
                return float(parts[0]) * units[parts[1]]
            except ValueError:
                continue
    return 0.0
