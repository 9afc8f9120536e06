"""Probes into the running Spark driver and the host.

Jobs are attributed to a query by job-id range: the id the scheduler will
hand out next is read before and after each step, and every job in
between belongs to that step. With one client thread this is exact, and
unlike ``setJobGroup`` it also catches jobs that Structured Streaming
starts on its own micro-batch thread.
"""

from __future__ import annotations

import gc
import os
import time


def next_job_id(spark) -> int:
    """Id the DAG scheduler assigns to the next submitted job."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def drain_listener(spark) -> None:
    """Block until the status store has seen every posted event, so job
    and stage counts read right after a job ends are final."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_counts(spark, lo: int, hi: int) -> dict[str, int]:
    """Jobs, stages run and tasks run for job ids in ``[lo, hi)``.

    A stage that Spark skipped (its shuffle output was reused) completes
    no task and is not counted."""
    st = spark.sparkContext._jsc.sc().statusTracker()
    stages = tasks = 0
    for job in range(lo, hi):
        info = st.getJobInfo(job)
        if info.isEmpty():
            continue
        for sid in info.get().stageIds():
            s = st.getStageInfo(sid)
            done = 0 if s.isEmpty() else s.get().numCompletedTasks()
            if done:
                stages += 1
                tasks += done
    return {"jobs": hi - lo, "stages": stages, "tasks": tasks}


def plan_phases_ms(df) -> dict[str, int]:
    """Plan ``df`` and return Catalyst's analysis/optimization/planning
    times from its ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = int(p.get().durationMs()) if p.isDefined() else 0
    return out


def run_empty_job(spark) -> None:
    """One JVM-only job with a single one-row task."""
    one = spark._jvm.java.util.ArrayList()
    one.add(1)
    spark.sparkContext._jsc.parallelize(one, 1).count()


def cached_mb(spark) -> float:
    """Memory plus disk held by cached RDDs and DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def gc_totals(spark) -> dict[str, int]:
    """JVM garbage-collection count and time (ms) since the JVM started."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {
        "count": sum(b.getCollectionCount() for b in beans),
        "ms": sum(b.getCollectionTime() for b in beans),
    }


def jvm_retained_mb(spark, max_rounds: int = 12) -> dict:
    """Heap and non-heap memory the JVM still uses after full GCs.

    One GC is not enough: Spark's ContextCleaner frees broadcast blocks
    and shuffle state only after a GC has shown them unreachable, on its
    own thread, so the used heap keeps falling for a while. Python's
    collector runs first, so that no Python proxy keeps a JVM object
    alive. Then a GC runs every half second until three readings in a row
    agree within 1 MB, or ``max_rounds`` have run; the heap figure is the
    last reading and ``heap_rounds`` lists them all."""
    gc.collect()
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap: list[float] = []
    while len(heap) < max_rounds:
        if heap:
            time.sleep(0.5)
        jvm.java.lang.System.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        if len(heap) >= 3 and max(heap[-3:]) - min(heap[-3:]) < 1.0:
            break
    return {
        "heap": heap[-1],
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "heap_rounds": heap,
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of regular files under ``path``; with ``since``, only files
    modified at or after that wall-clock time."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                st = os.stat(os.path.join(root, name))
            except OSError:
                continue  # removed while walking
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024
    return float("nan")
