"""Measurement plumbing for the benchmark: host shape, peak memory from
/proc, in-memory spans, and Spark job/stage counters.

Nothing here imports the engine; it only observes the process tree and the
Spark session the benchmark created.
"""

from __future__ import annotations

import os
import platform
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from layers import COUNTERS


def cores() -> int:
    """Cores this process may run on: the affinity mask, never a default."""
    return len(os.sched_getaffinity(0))


def host_shape(spark) -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine from /proc/stat. Steal is the
    time this machine's virtual CPUs waited for the host, so a rise in the
    steal share over a pass shows a neighbour, not the program, slowed it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


# -- peak resident memory of this process, the Spark JVM and the Python workers --

def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    tree = [root or os.getpid()]
    for pid in tree:
        tree.extend(children.get(pid, ()))
    return tree


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM at its current RSS (clear_refs 5)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_by_name(pids: list[int]) -> dict[str, float]:
    """VmHWM in MiB summed per process name (``java``, ``python3``...)."""
    out: dict[str, float] = {}
    for pid in pids:
        name, kb = "", 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        break
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


# -- spans --

class Tracer:
    """Spans kept in memory (name, start, end, parent, pass id) and written
    out by the caller when the run ends. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()


# -- Spark counters --

def group_counters(spark, group: str) -> dict[str, int]:
    """Counts for every job run under job group ``group``: jobs from the
    status tracker, and per executed stage its tasks, failed tasks, shuffle
    write bytes and disk spill from the application status store. Stages
    skipped because their shuffle output was reused are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    for s in stage_ids:
        try:
            data = store.lastStageAttempt(s)
        except Py4JJavaError:  # a skipped stage has no attempt recorded
            continue
        out["stages"] += 1
        out["tasks"] += data.numTasks()
        out["failed_tasks"] += data.numFailedTasks()
        out["shuffle_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.diskBytesSpilled()
    return out


_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b")


def plan_exchanges(df) -> int:
    """Shuffle and broadcast exchanges in the executed plan of ``df`` (the
    adaptive final plan once an action has run on ``df`` itself)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(text.split("== Initial Plan ==")[0]))
