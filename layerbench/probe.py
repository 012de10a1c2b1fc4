"""Outside-in measurement: job-group tagging, Spark status stores,
Catalyst phase trackers, cache pins, JVM GC, RSS and hypervisor steal.

Nothing here touches ``eland_spark``. The benchmark tags every phase of
every call with ``setJobGroup`` and reads what Spark recorded about it;
with tracing on it also wraps PySpark's DataFrame actions to read each
executed query's ``queryExecution().tracker()``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

PHASES = ("analysis", "optimization", "planning")


class Spans:
    """Spans kept in memory and written when the run ends. Times are
    seconds since the run's origin."""

    def __init__(self, origin: float):
        self.origin = origin
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call: int, **attrs):
        sid = len(self.items)
        rec = {"id": sid, "name": name, "call": call,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.origin, "end": None}
        rec.update(attrs)
        self.items.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.origin

    def add(self, name: str, call: int, parent: int | None, start: float,
            end: float, **attrs) -> None:
        rec = {"id": len(self.items), "name": name, "call": call,
               "parent": parent, "start": start, "end": end}
        rec.update(attrs)
        self.items.append(rec)


class ActionTracer:
    """Wraps PySpark's collecting DataFrame actions so that each executed
    query's Catalyst phase times land in the current call's record."""

    def __init__(self):
        self.records: list[dict] | None = None
        self._saved = {}

    def install(self, spark) -> None:
        # the session's concrete DataFrame class (PySpark's classic
        # implementation overrides the generic one's actions)
        self._cls = type(spark.range(0))
        for meth in ("toPandas", "collect"):
            orig = self._cls.__dict__.get(meth) or getattr(self._cls, meth)
            self._saved[meth] = orig
            setattr(self._cls, meth, self._wrap(meth, orig))

    def uninstall(self) -> None:
        for meth, orig in self._saved.items():
            setattr(self._cls, meth, orig)
        self._saved.clear()

    def _wrap(self, meth, orig):
        tracer = self

        def wrapped(df, *a, **kw):
            if tracer.records is None:
                return orig(df, *a, **kw)
            t0 = time.perf_counter()
            out = orig(df, *a, **kw)
            t1 = time.perf_counter()
            tracer.records.append({"action": meth, "start": t0, "end": t1, "df": df,
                                   "qe": df._jdf.queryExecution()})
            return out

        return wrapped


def catalyst_phases_ms(qe) -> dict[str, float]:
    ph = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = ph.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    # -- tagging --------------------------------------------------------
    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that just ran."""
        self.jsc.listenerBus().waitUntilEmpty()

    # -- status stores --------------------------------------------------
    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids: list[int], seen_stages: set[int]) -> dict:
        """Jobs' run intervals (epoch ms) and their stages' task metrics.
        Stages already counted for an earlier job are skipped."""
        store = self.jsc.statusStore()
        out = {"intervals": [], "jobs": 0, "stages": 0, "tasks": 0,
               "failed_tasks": 0, "executor_run_ms": 0, "executor_cpu_ns": 0,
               "input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for jid in job_ids:
            jd = store.job(jid)
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append((sub.get().getTime(), done.get().getTime(), jid))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ns"] += sd.executorCpuTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def sql_executions(self) -> int:
        return int(self.spark._jsparkSession.sharedState().statusStore().executionsCount())

    # -- cache pins -----------------------------------------------------
    def pins(self) -> int:
        return int(self.jsc.getPersistentRDDs().size())

    def release_pins(self) -> None:
        """Drop every cached table and persisted RDD."""
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- driver JVM -----------------------------------------------------
    def gc_ms(self) -> int:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    total = sum(vals[:8])
    return total, vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_by_process(root: int | None = None) -> dict[str, float]:
    """Each process's peak RSS (MB) over this process tree."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
