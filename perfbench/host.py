"""The benchmark's view of the Spark session and the processes behind it.

Everything here runs in the untimed gaps between ops: bare no-op job
probes (host-noise diagnostics), JVM GC time from the GC MXBeans, job and
task counts from the scheduler and ``SparkContext.statusTracker``, peak
resident memory from ``/proc``, and an orderly shutdown that waits until
the JVM and its Python workers have exited.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


class Host:
    """Probes on one live session; :meth:`close` stops it."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._gateway = SparkContext._gateway
        self._proc = getattr(self._gateway, "proc", None)
        self.jvm_pid = self._proc.pid if self._proc is not None else None
        # pid -> highest VmHWM seen (kB); VmHWM is each process's own peak
        self._peaks: dict[int, int] = {}
        self.job_ids: list[list[int]] = []
        self.sample_rss()

    # -- host noise ---------------------------------------------------------

    def noop_s(self) -> float:
        """Wall seconds of one bare ``spark.range(1).count()`` job."""
        t = time.perf_counter()
        self.spark.range(1).count()
        return time.perf_counter() - t

    def gc_s(self) -> float:
        """Cumulative JVM garbage-collection seconds, all collectors."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    # -- scheduler counts ---------------------------------------------------

    def next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def note_jobs(self, first: int) -> None:
        """Record the ids of the jobs one op ran, ``first`` up to now."""
        self.job_ids.append(list(range(first, self.next_job_id())))

    def tasks_per_op(self) -> list[int]:
        """Completed tasks of each noted op; read once at the end, when
        the status listener has caught up with every job."""
        tracker = self.spark.sparkContext.statusTracker()
        out = []
        for jobs in self.job_ids:
            n = 0
            for jid in jobs:
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job is not None else ():
                    stage = tracker.getStageInfo(sid)
                    n += stage.numCompletedTasks if stage is not None else 0
            out.append(n)
        return out

    # -- memory -------------------------------------------------------------

    def _pids(self) -> list[int]:
        pids = [os.getpid()]
        if self.jvm_pid is None:
            return pids
        ppid = _ppid_map()
        children: dict[int, list[int]] = {}
        for pid, parent in ppid.items():
            children.setdefault(parent, []).append(pid)
        stack = [self.jvm_pid]
        while stack:
            pid = stack.pop()
            pids.append(pid)
            stack.extend(children.get(pid, ()))
        return pids

    def sample_rss(self) -> None:
        """Fold the current per-process peaks of the driver, the JVM and
        every Python worker under it into the running maxima."""
        for pid in self._pids():
            kb = _peak_rss_kb(pid)
            if kb > self._peaks.get(pid, 0):
                self._peaks[pid] = kb

    def peak_rss_mb(self) -> float:
        """Sum of per-process peak resident sets, in MiB."""
        return sum(self._peaks.values()) / 1024.0

    # -- shutdown -----------------------------------------------------------

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop the session and wait until the JVM and its workers exit."""
        tracked = [p for p in self._peaks if p != os.getpid()]
        self.spark.stop()
        if self._gateway is not None:
            self._gateway.shutdown()
        if self._proc is not None:
            # the gateway JVM exits when its stdin closes
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        for pid in tracked:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended; only its entry is left)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"
