"""Read-only probes of the running engine: process CPU and memory from
``/proc``, JVM garbage-collection time, Spark's status store and block
manager, and a streaming-progress listener. Nothing here changes what the
engine does."""

from __future__ import annotations

import gc
import json
import os
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    own = (int(rest[11]) + int(rest[12])) / _CLK
    reaped = (int(rest[13]) + int(rest[14])) / _CLK
    return comm, int(rest[1]), own, reaped


def process_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the JVM, of this process, and per Python
    worker the JVM forked (its own time plus its reaped children's)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    workers: dict[int, float] = {}
    todo = list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        comm, _, own, reaped = procs[pid]
        if comm.startswith(("python", "pyspark")):
            workers[pid] = own + reaped
        todo.extend(kids.get(pid, []))
    jvm = procs.get(jvm_pid, ("", 0, 0.0, 0.0))[2]
    me = procs.get(os.getpid(), ("", 0, 0.0, 0.0))[2]
    return {"jvm": jvm, "workers": workers, "driver": me}


def workers_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """Worker CPU spent between two samples (workers gone by the second
    sample and not reaped by a live worker are not counted)."""
    return sum(max(0.0, t - before.get(pid, 0.0)) for pid, t in after.items())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Engine:
    """Handles on the session's JVM for the probes."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def retained_heap_mb(self) -> float:
        """Heap still in use after a full collection: what the session
        keeps holding (caches, memos, sink tables) once its work is done."""
        gc.collect()  # drop Python handles first, so their JVM objects die too
        for _ in range(2):  # the second pass frees what the first one's cleanups released
            self.jvm.java.lang.System.gc()
            time.sleep(0.5)
        bean = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return bean.getHeapMemoryUsage().getUsed() / 2**20

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    def max_stage_id(self) -> int:
        return max((s["id"] for s in self.stages()), default=-1)

    def stages(self) -> list[dict]:
        """Every stage the status store still holds, with its task and
        shuffle totals."""
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        store = self.spark.sparkContext._jsc.sc().statusStore()
        it = store.stageList(None, False, False, no_quantiles, None).iterator()
        out = []
        while it.hasNext():
            s = it.next()
            out.append(
                {
                    "id": s.stageId(),
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                }
            )
        return out

    def sink_tables_alive(self) -> int:
        return sum(
            1 for t in self.spark.catalog.listTables() if t.name.startswith("mem_")
        )


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def wait_all_terminated(self, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every query
        seen starting has reported termination."""
        end = time.time() + timeout_s
        while time.time() < end:
            with self._lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.05)
