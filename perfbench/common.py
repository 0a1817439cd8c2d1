"""Measurement plumbing shared by the workloads: spans, Spark
executor and job counters read from outside the engine, process-tree
memory from /proc, and the percentile rules the report uses."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, int]:
    """(value, percentile) of the highest whole percentile that still
    has at least ten samples above it; (max, 0) when there are fewer
    than eleven samples."""
    vals = sorted(values)
    n = len(vals)
    if n < 11:
        return (float(vals[-1]) if vals else 0.0), 0
    pct = min(99, int(100 * (n - 10) / n))
    return float(vals[min(n - 1, int(pct / 100 * n))]), pct


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, request) recorded by
    the benchmark around its calls into each layer. Disabled, `span`
    is a no-op context manager, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.request: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "request": self.request, "start": time.perf_counter()}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


# ------------------------------------------------------- spark counters

EXEC_FIELDS = {
    "task_s": ("totalDuration", 1e-3),
    "gc_s": ("totalGCTime", 1e-3),
    "shuffle_read_bytes": ("totalShuffleRead", 1),
    "shuffle_write_bytes": ("totalShuffleWrite", 1),
    "tasks": ("completedTasks", 1),
    "failed_tasks": ("failedTasks", 1),
}


def executor_totals(spark) -> dict[str, float]:
    """Sum of the status store's executor summaries (active + dead),
    after the listener bus has delivered every finished task."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(False)
    out = dict.fromkeys(EXEC_FIELDS, 0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, (getter, scale) in EXEC_FIELDS.items():
            out[key] += getattr(e, getter)() * scale
    return out


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


_group_ids = itertools.count()


@contextlib.contextmanager
def job_group(spark, counts: list[int]):
    """Tag the Spark jobs started inside the block; append their count."""
    sc = spark.sparkContext
    group = f"perfbench-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# ----------------------------------------------------------- memory


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes (forked Python workers) counted 1/n per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """PSS summed over `root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


class MemSampler:
    """Peak PSS of this process and all its descendants (JVM, Python
    workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a Parquet table directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for nm in names:
            if nm.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, nm))
    return files, size
