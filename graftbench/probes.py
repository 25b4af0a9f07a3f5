"""Measurements read from outside the program: /proc for the process tree,
JVM management beans and Spark's scheduler and status store over py4j."""

from __future__ import annotations

import json
import os
import threading

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after its closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the Python daemon and
    its forked workers, which move to their own process group)."""
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
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each process plus that of its reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: a page shared by forked workers counts once."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


class PeakSampler:
    """Samples the tree's summed PSS on a thread while ``active`` is set."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.active = threading.Event()
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, pss_mb(tree_pids(self.root)))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Jvm:
    """JVM and SparkContext handles used by the probes."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc, self.jvm = sc, sc._jvm
        self.ssc = sc._jsc.sc()
        mf = self.jvm.java.lang.management.ManagementFactory
        self._compile = mf.getCompilationMXBean()
        self._gcs = mf.getGarbageCollectorMXBeans()
        self._runtime = mf.getRuntimeMXBean()
        self._dag = self.ssc.dagScheduler()
        self._store = self.ssc.statusStore()
        self._mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def pid(self) -> int:
        return int(self._runtime.getPid())

    def jit_s(self) -> float:
        return self._compile.getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size())) / 1e3

    def next_job_id(self) -> int:
        """Jobs are numbered in submission order, so the difference of two
        readings counts jobs exactly, whatever the status store retains."""
        return int(self._dag.nextJobId())  # py4j hands the AtomicInteger over as a number

    def describe(self) -> dict:
        rt = self.jvm.java.lang.Runtime.getRuntime()
        return {
            "jvm_max_heap_mb": round(rt.maxMemory() / 2**20),
            "jvm_flags": [str(a) for a in self._runtime.getInputArguments()],
            "master": self.sc.master,
            "default_parallelism": self.sc.defaultParallelism,
        }

    def _json(self, obj) -> dict | list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def job(self, job_id: int) -> dict | None:
        try:
            return self._json(self._store.job(job_id))
        except Py4JJavaError:  # evicted from the status store (NoSuchElementException)
            return None

    def stage(self, stage_id: int) -> dict | None:
        try:
            return self._json(self._store.lastStageAttempt(stage_id))
        except Py4JJavaError:
            return None

    def tasks(self, stage_id: int, attempt: int) -> list[dict]:
        return self._json(self._store.taskList(stage_id, attempt, 2**31 - 1))

    def persisted(self):
        """(count, MB in memory and on disk) of persisted RDDs, checkpoints included."""
        infos = self.ssc.getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
        return int(self.ssc.getPersistentRDDs().size()), mb

    def release_all(self, spark) -> None:
        """Drop every cached table and every persisted RDD, ``localCheckpoint``
        ones included (``clearCache`` leaves those behind)."""
        spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet().toArray()):
            rdds.get(rid).unpersist(True)
