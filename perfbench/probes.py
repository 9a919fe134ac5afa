"""Measurement from outside the engine: process-tree RSS, Spark's own status
store, and an in-memory span tracer.

Nothing here changes how the engine runs. Spark numbers come from the
application status store that every SparkContext keeps (the same store the
web UI reads), read over py4j only in traced runs.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------
def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(ppid -> child pids, pid -> rss pages) for every live process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # comm (field 2) may hold spaces: split after its closing paren;
        # the rest starts at field 3, so ppid is [1] and rss is [21]
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU was ready to run but the host ran something
    else: the share of it over a run tells a noisy host from a slow run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_rss_bytes(root: int) -> int:
    children, rss = _proc_table()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total * PAGE


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM and
    its Python workers) on a background thread; `peak_mb` is the maximum."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def dir_bytes(root: str) -> dict[str, int]:
    """path -> size of every regular file under `root`."""
    out = {}
    for d, _subdirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # replaced mid-walk
    return out


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------
def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkStatus:
    """Reads job, stage and storage numbers from the SparkContext's status
    store. Job ids are assigned in submission order, so the jobs a code
    region submitted are the ids between two `next_job_id()` reads."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def next_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        if jobs.isEmpty():
            return 0
        return max(jobs.head().jobId(), jobs.last().jobId()) + 1

    def jobs_between(self, first: int, end: int) -> dict:
        """Totals over jobs first..end-1: jobs, tasks run, the union of job
        intervals (s), and task CPU/GC/run time, shuffle and spill bytes
        summed over their stages."""
        out = {
            "jobs": 0, "tasks": 0, "job_s": 0.0, "task_cpu_s": 0.0,
            "task_run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
        }
        intervals, stages = [], set()
        for jid in range(first, end):
            try:
                job = self.store.job(jid)
            except Exception:  # evicted from the store or never created
                continue
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if t0 is not None and t1 is not None:
                intervals.append((t0, t1))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        out["job_s"] = union_length(intervals) / 1000.0
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def storage(self) -> tuple[float, int]:
        """(MB of storage memory held by cached blocks, persisted RDD count)."""
        rdds = self.store.rddList(True)
        used = sum(rdds.apply(i).memoryUsed() for i in range(rdds.size()))
        return used / 2**20, self.sc._jsc.getPersistentRDDs().size()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent and run id, plus the Spark
    jobs, tasks and job time inside each span's interval. Disabled, `span`
    costs one perf_counter pair and records nothing.

    Span names are `<layer>` or `<layer>:<detail>`; the layer is the engine
    module (or benchmark step) the span wraps. Counting Spark jobs reads the
    status store, so it only happens with tracing on; the time spent doing
    so is the tracer's own overhead (`overhead_s`)."""

    def __init__(self, run_id: str, status: SparkStatus | None) -> None:
        self.run_id = run_id
        self.status = status
        self.enabled = status is not None
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        first_job = self.status.next_job_id()
        stack = self._stack()
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": stack[-1] if stack else None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        c1 = time.perf_counter()
        rec["start"] = c1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec.update(self.status.jobs_between(first_job, self.status.next_job_id()))
            with self._lock:
                self.overhead_s += (c1 - c0) + (time.perf_counter() - rec["end"])

    def add(self, name: str, start: float, end: float, parent: int | None, **counts) -> None:
        """Record a span measured elsewhere (e.g. from a Spark listener)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({
                "name": name, "run_id": self.run_id, "parent": parent,
                "id": len(self.spans), "start": start, "end": end, **counts,
            })

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Per layer: span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            inside = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in kids.get(s["id"], ())
                if b > s["start"] and a < s["end"]
            ]
            own = (s["end"] - s["start"]) - union_length(inside)
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + own
        return out
