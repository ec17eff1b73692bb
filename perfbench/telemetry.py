"""Measurement plumbing for the benchmark: process-tree CPU and memory from
/proc, environment telemetry, in-memory spans around the engine's public
calls, and the Spark event-log summary that attributes jobs, stages, tasks,
shuffle and Python-worker traffic to benchmark ops through their job group.

Nothing here changes the engine: spans wrap its public functions from the
outside, and the event log is Spark's own listener output."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc
def _stat(pid: int):
    """(comm, utime+stime, cutime+cstime) in seconds, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw.rsplit(")", 1)[1].split()
    return (comm, (int(f[11]) + int(f[12])) / _HZ,
            (int(f[13]) + int(f[14])) / _HZ)


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(root: int) -> list[int]:
    """Every live descendant pid of `root` (not root itself)."""
    seen, frontier = [], [root]
    while frontier:
        for c in _children(frontier.pop()):
            if c not in seen:
                seen.append(c)
                frontier.append(c)
    return seen


def cpu_split() -> dict:
    """CPU seconds of the benchmark's process tree, split three ways:
    driver = this Python process; jvm = its `java` child; pyworker = the
    python processes under the JVM (the pyspark daemon and its forked
    workers, including CPU of workers already reaped by the daemon).
    A co-tenant inflates these far less than wall time (only through
    shared caches and SMT siblings)."""
    root = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    st = _stat(root)
    if st is not None:
        out["driver"] = st[1]
    for c in _children(root):
        cs = _stat(c)
        if cs is None or not cs[0].startswith("java"):
            continue
        out["jvm"] += cs[1]
        for d in descendants(c):
            ds = _stat(d)
            if ds is not None and ds[0].startswith("python"):
                out["pyworker"] += ds[1] + ds[2]
    return out


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def rss_parts_mb() -> list:
    """[(name, peak resident set MB)] — VmHWM of each live process of the
    tree: driver, JVM, pyspark daemon and Python workers."""
    out = []
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
            out.append((st["Name"].strip(),
                        int(st["VmHWM"].split()[0]) / 1024.0))
        except (OSError, KeyError):
            pass
    return out


def jvm_heap_mb(spark) -> tuple[float, float]:
    """(committed, live) MB of the JVM heap; live is what is in use right
    after a full GC, so it counts retained data such as persisted blocks
    and not the garbage that happened to be uncollected."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    mx.gc()
    heap = mx.getHeapMemoryUsage()
    return heap.getCommitted() / 2 ** 20, heap.getUsed() / 2 ** 20


def env_sample() -> dict:
    """Host load telemetry: loadavg counts runnable threads host-wide (a
    co-tenant shows here), steal jiffies count vCPU time given away."""
    out = {}
    with open("/proc/loadavg") as f:
        out["loadavg_1m"] = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    out["jiffies_total"] = sum(int(x) for x in cpu[1:])
    out["jiffies_steal"] = int(cpu[8])
    return out


def env_report(start: dict, end: dict, spark) -> dict:
    import pyspark
    dt = end["jiffies_total"] - start["jiffies_total"]
    ds = end["jiffies_steal"] - start["jiffies_steal"]
    jvm = spark.sparkContext._jvm
    return {
        "loadavg_1m_start": start["loadavg_1m"],
        "loadavg_1m_end": end["loadavg_1m"],
        "steal_pct": 100.0 * ds / dt if dt > 0 else 0.0,
        "nproc": os.cpu_count(),
        "pyspark_version": pyspark.__version__,
        "java_version": str(jvm.java.lang.System.getProperty(
            "java.version")),
    }


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: (name, start, end, parent, op). Spans are recorded
    only while an op is open and tracing is on for it; they are written out
    once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.on = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, targets):
        """Temporarily wrap callables so each call records a span.
        targets: [(owner, attribute, span_name)]."""
        saved = []
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))

            def wrapper(*a, __orig=orig, __name=name, **kw):
                with self.span(__name):
                    return __orig(*a, **kw)
            wrapper.__wrapped__ = orig
            setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def by_op(self) -> dict:
        """{op: {span name: [total ms, calls, self ms]}} — self time is a
        span's duration minus what its direct children cover."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += 1e3 * (s["end"] - s["start"])
        out: dict = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            ms = 1e3 * (s["end"] - s["start"])
            agg = out.setdefault(s["op"], {}).setdefault(
                s["name"], [0.0, 0, 0.0])
            agg[0] += ms
            agg[1] += 1
            agg[2] += ms - child_ms[i]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "by_op": self.by_op(), **extra},
                      f)


# ------------------------------------------------------------- event log
_SQL = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_run_ms",
    "number of input batches": "input_batches",
    "scan time": "scan_ms",
}


def eventlog_by_group(log_dir: str) -> dict:
    """Summarize Spark's uncompressed JSON event log per job group:
    {group: {jobs, stages, tasks, deser_ms, sched_ms, input_bytes,
    shuffle_bytes, shuffle_records, fetch_wait_ms, + the Python and
    scan SQL metrics in _SQL}}. Stages count only those that ran (skipped
    stages are never submitted)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) or \
        sorted(glob.glob(os.path.join(log_dir, "*")))
    stage_group: dict = {}
    out: dict = {}

    def grp(g):
        return out.setdefault(g, {
            "jobs": 0, "stages": 0, "tasks": 0, "deser_ms": 0.0,
            "sched_ms": 0.0, "input_bytes": 0, "shuffle_bytes": 0,
            "shuffle_records": 0, "fetch_wait_ms": 0.0,
            **{v: 0 for v in _SQL.values()}})

    for path in files:
        if os.path.isdir(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = e.get("Properties", {}).get("spark.jobGroup.id")
                    grp(g)["jobs"] += 1
                elif ev == "SparkListenerStageSubmitted":
                    g = e.get("Properties", {}).get("spark.jobGroup.id")
                    stage_group[e["Stage Info"]["Stage ID"]] = g
                    grp(g)["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    g = grp(stage_group.get(e["Stage ID"]))
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    g["tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    deser = tm.get("Executor Deserialize Time", 0)
                    g["deser_ms"] += deser
                    g["sched_ms"] += max(
                        0, info["Finish Time"] - info["Launch Time"] - run
                        - deser - tm.get("Result Serialization Time", 0))
                    g["input_bytes"] += tm.get("Input Metrics", {}).get(
                        "Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics", {})
                    g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_records"] += sw.get(
                        "Shuffle Records Written", 0)
                    g["fetch_wait_ms"] += tm.get(
                        "Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                    for a in info.get("Accumulables", []):
                        key = _SQL.get(a.get("Name"))
                        if key is not None:
                            g[key] += int(a.get("Update") or 0)
    return out


def flush_listener_bus(spark, timeout_ms: int = 30000) -> None:
    """Block until Spark's listener bus has delivered every queued event
    (so the event log holds all finished jobs)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def jvm_gc_ms(spark) -> float:
    """Cumulative GC time of the (single, local-mode) JVM, all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime()
                     for b in mf.getGarbageCollectorMXBeans()))


def cached_bytes(spark) -> int:
    """Bytes Spark's block manager holds for persisted data (memory+disk)."""
    return int(sum(i.memSize() + i.diskSize() for i in
                   spark.sparkContext._jsc.sc().getRDDStorageInfo()))
