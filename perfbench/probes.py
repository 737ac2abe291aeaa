"""Counters read from outside the program: the process tree in ``/proc``,
the warehouse on disk, and Spark's in-process status store.

None of these run inside a timed region.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


# -- process tree ------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def tree_pids() -> list[int]:
    """This process and every descendant (the JVM is a child)."""
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the process tree so far."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


# -- warehouse bytes ---------------------------------------------------
class DiskLedger:
    """Bytes written under one directory, counted from snapshots: every
    file that is new or changed since the previous snapshot counts once at
    its current size. Call :meth:`snap` after each write step; files made
    and removed between two snapshots (staging files) are not seen."""

    def __init__(self, root: str):
        self.root = root
        self.files: dict[str, tuple] = {}
        self.written = 0

    def _scan(self) -> dict[str, tuple]:
        out = {}
        for d, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
        return out

    def snap(self) -> None:
        now = self._scan()
        self.written += sum(
            sig[1] for p, sig in now.items() if self.files.get(p) != sig
        )
        self.files = now

    def on_disk(self) -> int:
        return sum(sig[1] for sig in self._scan().values())


# -- Spark status store ------------------------------------------------
_STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(spark) -> list[dict]:
    """Every finished job in the status store with its completed stages'
    totals. Waits for the listener bus first, so jobs that just ended are
    complete."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm, gw = sc._jvm, sc._gateway
    stages = {}
    for s in _seq(
        store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
    ):
        if s.status().toString() != "COMPLETE":
            continue
        row = stages.setdefault(s.stageId(), dict.fromkeys(_STAGE_FIELDS + ("tasks",), 0))
        for f in _STAGE_FIELDS:
            row[f] += getattr(s, f)()
        row["tasks"] += s.numCompleteTasks()
    jobs, seen = [], set()
    # a stage reused by a later job is listed there as skipped: count it
    # once, under the first job that lists it
    for j in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
        sub = j.submissionTime()
        if sub.isEmpty():
            continue
        ids = [i for i in _seq(j.stageIds()) if i in stages and i not in seen]
        seen.update(ids)
        mine = [stages[i] for i in ids]
        job = {"submitted_ms": sub.get().getTime(), "stages": len(mine)}
        for f in _STAGE_FIELDS + ("tasks",):
            job[f] = sum(s[f] for s in mine)
        jobs.append(job)
    return jobs


def jvm_gc_ms(spark) -> int:
    """Total collection time of the JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size()))
