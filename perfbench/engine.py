"""Engine counters read from outside the program.

- jobs: the SparkContext status tracker;
- stage metrics: the application status store through py4j. On Spark
  4.1 the call that works is ``AppStatusStore.stageData(int, boolean,
  java.util.List, boolean, double[])`` per stage (the list form is
  ``stageList(java.util.List, boolean, boolean, double[],
  java.util.List)``; its one-argument form raises);
- memory: ``/proc`` (psutil is not installed), the proportional set
  size summed over the driver JVM and every process below it (the
  Python worker daemon and its workers).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

RSS_INTERVAL_S = 0.1


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces; ppid is the 2nd field after the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    """Resident memory of ``pids`` with each shared page counted once:
    the sum of their proportional set sizes. Summing plain RSS counts
    shared pages once per sharer, so a process the JVM forks for a
    moment (Hadoop's local file system runs shell commands) would add a
    second copy of the whole JVM to the peak."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak of the resident memory of a process tree, sampled on
    a background thread until :meth:`stop`; :meth:`reset` starts a new
    peak."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def sample(self) -> None:
        rss = rss_bytes(process_tree(self.root_pid))
        with self._lock:
            self.peak = max(self.peak, rss)

    def reset(self) -> int:
        """The peak since the last reset; starts a new one."""
        self.sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak


class HeapPeak:
    """Peak used bytes of the driver JVM's heap pools since the last
    :meth:`reset`, summed over the pools (each at its own peak, so an
    upper bound on the heap in use at any one moment). Resident memory
    cannot show this: the heap is committed in full at start."""

    def __init__(self, spark: SparkSession):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_bytes(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self.pools)


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_rows": ("inputRecords", 1),
    "spark.input_bytes": ("inputBytes", 1),
}


class EngineCounters:
    """Snapshots of the engine's job list; :meth:`delta` turns two
    snapshots into the counters of the jobs that ran between them."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = self.sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _drain(self) -> None:
        # task-end events reach the status store through the listener
        # bus; wait for it so the last job's tasks are counted
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def snapshot(self) -> set[int]:
        self._drain()
        return self.jobs()

    def delta(self, before: set[int]) -> dict[str, float]:
        self._drain()
        new_jobs = sorted(self.jobs() - before)
        stage_ids: set[int] = set()
        for j in new_jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {name: 0.0 for name in STAGE_FIELDS}
        out.update({"spark.jobs": len(new_jobs), "spark.stages": 0, "spark.tasks": 0,
                    "spark.task_skew": 1.0})
        largest = -1.0
        for sid in sorted(stage_ids):
            try:
                attempts = self.store.stageData(sid, False, self._empty, True, self._quantiles)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.numCompleteTasks() == 0:
                    continue  # skipped stage: its shuffle output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks()
                for name, (attr, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(s, attr)() * scale
                run_s = s.executorRunTime() * 1e-3
                dist = s.taskMetricsDistributions()
                if run_s > largest and dist.isDefined():
                    largest = run_s
                    rt = dist.get().executorRunTime()
                    out["spark.task_skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
        return out
