"""Measurement helpers that read only public surfaces: /proc for memory,
load and steal, ``StreamingQuery.recentProgress`` for micro-batches, the
SparkContext status tracker for job counts, and a span recorder for the
benchmark's own calls into each layer."""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import threading
import time
from datetime import datetime


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- machine state ---------------------------------------------------------


def _stat_cpu() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


class MachineStamp:
    """Load average and hypervisor steal before and during a run."""

    def __init__(self):
        self.before_load = os.getloadavg()[0]
        self._cpu0 = _stat_cpu()

    def finish(self) -> dict:
        total1, steal1 = _stat_cpu()
        d_total = max(total1 - self._cpu0[0], 1)
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "load1_before": round(self.before_load, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "steal_frac_during": round((steal1 - self._cpu0[1]) / d_total, 4),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a tree's sum
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class MemSampler:
    """Samples the resident memory (PSS) of this process tree every
    ``interval`` seconds.

    The tree is split into the JVM (a ``java`` process), Python workers
    (``pyspark.daemon`` / ``pyspark.worker``) and the rest (this Python
    process and the deposit generator).  Peaks are of the per-sample
    sums, so ``total`` is the most memory the tree held at one time.

    A JVM heap committed up front is resident whether or not it holds
    objects, so ``heap``, once set, is called each sample for the bytes
    the heap holds after the last garbage collection; its peak is
    ``jvm_heap_after_gc``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.heap = None
        self.peak = {"total": 0.0, "jvm": 0.0, "pyworker": 0.0, "jvm_heap_after_gc": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def sample(self) -> None:
        kids = _children()
        stack, tree = [os.getpid()], []
        while stack:
            pid = stack.pop()
            tree.append(pid)
            stack.extend(kids.get(pid, []))
        parts = {"total": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in tree:
            mb = _pss_mb(pid)
            cmd = _cmdline(pid)
            parts["total"] += mb
            if "java" in cmd.split(" ", 1)[0]:
                parts["jvm"] += mb
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                parts["pyworker"] += mb
        if self.heap is not None:
            try:
                parts["jvm_heap_after_gc"] = self.heap() / 2**20
            except Exception:  # the JVM is starting or stopping
                pass
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span has a name, start, end, an id and the id of the span that
    caused it.  Spans opened on a thread nest under that thread's open
    span; spans on callback threads (``foreachBatch`` sinks) name their
    parent explicitly.  When ``sc`` is given, each span runs under its own
    Spark job group and records how many jobs it started.  A disabled
    tracer records nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        group = None
        if self.sc is not None:
            group = f"perfbench-{sid}"
            self.sc.setJobGroup(group, name)
        stack.append(sid)
        start = time.perf_counter()
        cost = start - c0
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            jobs = None
            if group is not None:
                jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setJobGroup(f"perfbench-{stack[-1]}" if stack else "perfbench-0", "")
            rec = {"id": sid, "parent": parent, "name": name, "start": start,
                   "end": end, "jobs": jobs}
            with self._lock:
                self.spans.append(rec)
                self.cost_s += cost + (time.perf_counter() - end)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (duration
        minus the part of its interval that child spans cover)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out


# --- streaming progress --------------------------------------------------


def epoch(ts: str) -> float:
    """Progress ``timestamp`` (ISO-8601, UTC, 'Z') as epoch seconds."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batches(query) -> list[dict]:
    """Completed micro-batches of one query from ``recentProgress``:
    start, listing end, commit time (epoch s), rows read and durations."""
    out = []
    for p in query.recentProgress:
        start = epoch(p["timestamp"])
        d = p.get("durationMs", {})
        out.append({
            "start": start,
            "listed": start + d.get("latestOffset", 0) / 1000.0,
            "commit": start + d.get("triggerExecution", 0) / 1000.0,
            "rows": p.get("numInputRows", 0),
            "dur": d,
            "state": p.get("stateOperators", []),
        })
    return out


def file_batches(renamed: list[float], qbatches: list[dict]) -> list[dict | None]:
    """For each file (by rename time), the first batch with input whose
    file listing ended after the rename; None if no such batch."""
    with_rows = [b for b in qbatches if b["rows"] > 0]
    out: list[dict | None] = []
    j = 0
    for r in renamed:
        while j < len(with_rows) and with_rows[j]["listed"] < r:
            j += 1
        out.append(with_rows[j] if j < len(with_rows) else None)
    return out


def dir_stats(path: str) -> tuple[int, float]:
    """(data file count, MB) under ``path``, ignoring hidden/marker files."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20


def heap_after_gc(jvm):
    """A function returning the bytes the JVM heap held after its most
    recent garbage collection (0 before the first), read from the
    collectors' MXBeans."""
    mf = jvm.java.lang.management.ManagementFactory
    pools = [p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
    collectors = list(mf.getGarbageCollectorMXBeans())

    def read() -> int:
        last = None
        for c in collectors:
            info = c.getLastGcInfo()
            if info is not None and (last is None or info.getEndTime() > last.getEndTime()):
                last = info
        if last is None:
            return 0
        after = last.getMemoryUsageAfterGc()
        return sum(after[n].getUsed() for n in pools if n in after)

    return read
