"""Measurement from outside the program: /proc counters for the
benchmark's process tree, Spark's status store, and traced spans.

Nothing here changes what the program computes. The tracer replaces
chosen public functions of the program with timing wrappers that record
only during traced passes, and restores them at the end of the run.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc -------------------------------------------------------------

def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / CLK_TCK


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process and every descendant, split into the
    driver (this interpreter), the JVM, and Python workers (processes
    below the JVM). A child's time moves into its parent's reaped-child
    counters when it exits, so the sums never drop."""
    me = os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        children[ppid].append(pid)
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}

    def walk(pid: int, kind: str) -> None:
        _, comm, cpu = procs[pid]
        if kind == "driver" and pid != me:
            kind = "jvm" if comm == "java" else "pyworker"
        elif kind == "jvm" and pid != me and comm != "java":
            kind = "pyworker"
        out[kind] += cpu
        for c in children.get(pid, ()):
            walk(c, kind)

    if me in procs:
        walk(me, "driver")
    out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
    return out


def since_process_start() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19])
    return up - start / CLK_TCK


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_times`` readings (field 8 is steal; guest time is already in
    user time, so it is left out of the total)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# -- Spark status store ----------------------------------------------

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "exec_run_s": "executorRunTime",   # ms
    "exec_cpu_s": "executorCpuTime",   # ns
    "gc_s": "jvmGcTime",               # ms
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}
SCALE = {"exec_run_s": 1e-3, "exec_cpu_s": 1e-9, "gc_s": 1e-3}


class SparkCounters:
    """Cumulative engine counters, advanced by reading the jobs and
    stages that finished since the last reading. Each read first waits
    for the listener bus to drain, so the status store is complete."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.totals = defaultdict(float)
        self.read()  # absorb jobs that ran before this reader existed
        self.totals.clear()

    def read(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for jid in tracker.getJobIdsForGroup(None):
            if jid in self._seen_jobs:
                continue
            info = tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                continue
            self._seen_jobs.add(jid)
            self.totals["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                self.totals["stages"] += 1
                for k, getter in STAGE_FIELDS.items():
                    self.totals[k] += getattr(sd, getter)() * SCALE.get(k, 1)
        return dict(self.totals)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_relations(spark) -> int:
    """Entries in the session's CacheManager (``df.cache()`` results)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent, pass id, and the
    engine and process counters read at both boundaries."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = None
        self.active = False  # wrappers record spans only while set
        self._patches: list[tuple[object, str, object]] = []

    def _snapshot(self) -> dict[str, float]:
        snap = {f"spark.{k}": v for k, v in self.counters.read().items()}
        snap.update({f"proc.{k}": v for k, v in tree_cpu().items()})
        return snap

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (and every module-level alias of the
        same function inside the program's package) with a wrapper that
        opens span ``name`` around each call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("ipydataclean_spark"):
                    for k, v in list(vars(mod).items()):
                        if v is orig and (mod, k) != (owner, attr):
                            targets.append((mod, k))
        for obj, key in targets:
            self._patches.append((obj, key, orig))
            setattr(obj, key, traced)

    def unwrap_all(self) -> None:
        for obj, key, orig in reversed(self._patches):
            setattr(obj, key, orig)
        self._patches.clear()


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.rec = {"name": name}

    def __enter__(self):
        t = self.t
        self.rec.update(
            parent=t._stack[-1] if t._stack else None,
            pass_id=t.pass_id,
            before=t._snapshot(),
            start=time.perf_counter(),
        )
        t.spans.append(self.rec)
        t._stack.append(len(t.spans) - 1)
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["after"] = t._snapshot()
        self.rec["error"] = exc[0].__name__ if exc[0] else None
        t._stack.pop()
        return False


def span_delta(rec: dict, key: str) -> float:
    return rec["after"].get(key, 0.0) - rec["before"].get(key, 0.0)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover
    (children of one span never overlap: calls are synchronous)."""
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out
