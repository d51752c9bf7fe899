"""Measurement taken from outside the program under test.

* ``ProcTree`` samples ``/proc`` for the Spark JVM and every process
  below it (the ``pyspark.daemon`` and its forked Python workers):
  summed CPU seconds and peak summed PSS.
* ``SparkStatus`` reads the Spark status store through its REST API and
  returns per-stage deltas between two marks.
* ``Tracer`` keeps spans in memory around the benchmark's own calls into
  the program's public functions and writes them out once, at the end.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited between listdir and open
        return None
    rest = s[s.rindex(")") + 2:].split()
    cpu = sum(int(x) for x in rest[11:15]) / _TICK  # utime stime cutime cstime
    return int(rest[1]), cpu


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    split between the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited since the tree was listed
        pass
    return 0


class ProcTree:
    """Process tree rooted at ``root_pid``, sampled by a daemon thread.

    CPU counts each live process plus the children it has reaped, so a
    worker that exits moves its CPU into its parent's total rather than
    dropping out of the sum.  Memory is summed PSS, not RSS: the Python
    workers are forked from one daemon and share its pages, which a sum
    of RSS would count once per worker."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root = root_pid
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = {"total": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._last_tree: set[int] = {root_pid}

    def sample(self) -> dict:
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[int(pid)] = st
        tree, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        live = [p for p in tree if p in stats]
        self._last_tree = set(live)
        mem = {p: _pss(p) for p in live}
        jvm = mem.get(self.root, 0)
        total = sum(mem.values())
        return {
            "cpu_s": sum(stats[p][1] for p in live),
            "mem": total,
            "jvm_mem": jvm,
            "workers_mem": total - jvm,
        }

    def pids(self) -> set[int]:
        """The tree as last sampled, root included."""
        return set(self._last_tree)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            s = self.sample()
            with self._lock:
                self._peak["total"] = max(self._peak["total"], s["mem"])
                self._peak["jvm"] = max(self._peak["jvm"], s["jvm_mem"])
                self._peak["workers"] = max(self._peak["workers"], s["workers_mem"])

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> dict:
        """Peak PSS bytes since the previous call, then reset."""
        s = self.sample()
        with self._lock:
            out = {
                "total": max(self._peak["total"], s["mem"]),
                "jvm": max(self._peak["jvm"], s["jvm_mem"]),
                "workers": max(self._peak["workers"], s["workers_mem"]),
            }
            self._peak = {"total": 0, "jvm": 0, "workers": 0}
        return out


# Stage fields summed into per-run deltas: REST name -> (metric, scale).
_STAGE_SUMS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
    "numCompleteTasks": ("spark.tasks", 1),
    "numFailedTasks": ("spark.failed_tasks", 1),
}
STAGE_METRICS = sorted({m for m, _ in _STAGE_SUMS.values()} | {"spark.task_skew"})


class SparkStatus:
    """Per-stage deltas from the status store's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def mark(self) -> int:
        """Highest stage id the store knows of."""
        return max((s["stageId"] for s in self._get("/stages")), default=-1)

    def delta(self, since: int, skew: bool = False) -> dict:
        """Sums over stages with id > ``since``; with ``skew``, also the
        max/median task run time of the stage that ran longest."""
        stages = [s for s in self._get("/stages") if s["stageId"] > since]
        out = {m: 0.0 for m in STAGE_METRICS}
        for s in stages:
            for field, (metric, scale) in _STAGE_SUMS.items():
                out[metric] += s.get(field, 0) * scale
        out["spark.task_skew"] = 0.0
        done = [s for s in stages if s.get("status") == "COMPLETE" and s.get("numCompleteTasks")]
        if skew and done:
            top = max(done, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["spark.task_skew"] = q[1] / max(q[0], 1.0)
        return out


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id, tags."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0
        self._restore: list = []

    @contextmanager
    def span(self, name: str, **tags):
        sid = len(self.spans)
        rec = {
            "id": sid, "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name, "start": time.perf_counter(), "end": None, "tags": tags,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, tag=None) -> None:
        """Replace ``owner.attr`` by a spanned call until ``unwrap_all``;
        ``tag(*args)`` gives the span's tags from the call arguments."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name, **(tag(*args, **kwargs) if tag else {})):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._restore.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def select(self, name: str, **tags) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s["tags"].get(k) == v for k, v in tags.items())
        ]

    def total_s(self, name: str, **tags) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, **tags))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
