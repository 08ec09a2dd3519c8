"""Measurement from outside the engine: spans around calls into its layers,
Spark's own status store, and resident memory read from ``/proc``.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager

# Spark job-group property; jobs carry the group of the thread that ran them
JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans: name, start, end, parent and the operation id they
    belong to. Each span runs its Spark jobs under its own job group, so
    the jobs a span launched are counted from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "op": op if op is not None else parent["op"],
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"perfbench-{sid}",
        }
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def count_jobs(self, spans) -> None:
        """Attach each span's job count. Call soon after the spans end:
        the status tracker keeps only the most recent jobs."""
        tracker = self.sc.statusTracker()
        for rec in spans:
            rec.setdefault("jobs", len(tracker.getJobIdsForGroup(rec["group"])))

    @contextmanager
    def wrap(self, module, attr: str, span_name: str):
        """Replace ``module.attr`` with a spanned call while the block runs.
        Module-level functions are looked up at call time, so callers in
        that module see the wrapper."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            if not self._local.__dict__.get("stack"):
                return orig(*args, **kwargs)
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        try:
            yield
        finally:
            setattr(module, attr, orig)


class ExecCounters:
    """Deltas of the local executor's totals in Spark's status store."""

    FIELDS = (
        ("tasks", "totalTasks"),
        ("failed_tasks", "failedTasks"),
        ("task_ms", "totalDuration"),
        ("gc_ms", "totalGCTime"),
        ("shuffle_read_b", "totalShuffleRead"),
        ("shuffle_write_b", "totalShuffleWrite"),
    )

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()

    def snapshot(self) -> dict[str, int]:
        # the status store is fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()
        s = self._jsc.statusStore().executorSummary("driver")
        return {k: int(getattr(s, m)()) for k, m in self.FIELDS}

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, int]:
        return {k: after[k] - before[k] for k in before}


def descendants(root: int) -> list[int]:
    """Live (not zombie) descendant pids of ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the Python
    driver, the driver JVM and the Python workers the JVM forks."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak of ``tree_rss_bytes`` sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
