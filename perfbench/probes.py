"""Outside-in probes: what the benchmark reads about each layer.

Nothing here reaches into the engine's code. Executor numbers come from
Spark's own status store (``statusTracker`` job groups plus the
``AppStatusStore`` stage data), Catalyst phase times from a
``QueryExecutionListener`` registered through the Py4J callback server,
and host numbers from ``/proc``.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor

# stage-level sums read per op; keys are the per-layer metric names
STAGE_FIELDS = (
    "exec.stages",
    "exec.tasks",
    "exec.task_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "sources.input_records",
    "sources.input_bytes",
)
PHASES = ("analysis", "optimization", "planning")


class CatalystListener:
    """Py4J proxy for ``org.apache.spark.sql.util.QueryExecutionListener``:
    sums the planning-tracker phases of every query execution that ends
    while it is registered."""

    def __init__(self) -> None:
        self.ms = dict.fromkeys(PHASES, 0.0)
        self.active = True

    def add_phases(self, qe) -> None:
        phases = qe.tracker().phases()
        for name in PHASES:
            summary = phases.get(name)
            if summary.isDefined():
                self.ms[name] += summary.get().durationMs()

    def onSuccess(self, _func_name, qe, _duration_ns) -> None:  # noqa: N802
        if self.active:
            self.add_phases(qe)

    def onFailure(self, _func_name, qe, _exc) -> None:  # noqa: N802
        if self.active:
            self.add_phases(qe)

    def take(self) -> dict[str, float]:
        out = {f"catalyst.{k}_ms": v for k, v in self.ms.items()}
        self.ms = dict.fromkeys(PHASES, 0.0)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads per-op layer numbers from a live session."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.listener = CatalystListener()
        ensure_callback_server_started(self.sc._gateway)
        self._registered = False

    def listen(self, on: bool) -> None:
        """Register or unregister the Catalyst listener."""
        if on == self._registered:
            return
        manager = self.spark._jsparkSession.listenerManager()
        if on:
            manager.register(self.listener)
        else:
            manager.unregister(self.listener)
        self._registered = on

    def drain(self) -> None:
        """Wait until every queued listener event has been delivered."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the completed stages of ``job_ids`` (skipped stages ran
        nothing and are left out)."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never ran
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += sd.numCompleteTasks()
                out["exec.task_s"] += sd.executorRunTime() / 1e3
                out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                out["exec.gc_s"] += sd.jvmGcTime() / 1e3
                out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["exec.spill_bytes"] += sd.diskBytesSpilled()
                out["sources.input_records"] += sd.inputRecords()
                out["sources.input_bytes"] += sd.inputBytes()
        return out


# ---------------------------------------------------------------- host


def _children(pid: int) -> list[int]:
    path = f"/proc/{pid}/task/{pid}/children"
    try:
        with open(path) as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all its
    descendants: this Python process, the JVM and any Python workers."""
    pids, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def cpu_marker_mc_s(threads: int) -> float:
    """Wall time for ``threads`` concurrent sha256 streams of fixed work
    (hashlib releases the GIL), a gauge of the parallel CPU throughput the
    host gave this run. Context only; never used to scale a metric."""
    block = b"\x00" * (1 << 20)

    def work(_i: int) -> int:
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)
        return h.digest()[0]

    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(work, range(threads)))
        t0 = time.perf_counter()
        list(pool.map(work, range(threads)))
        return time.perf_counter() - t0
