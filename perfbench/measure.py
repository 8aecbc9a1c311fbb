"""Measurement from the benchmark's side: stream progress, CPU time
stolen by the hypervisor, summed RSS, spans around calls into the
package, and the Spark event log.

Nothing here changes what the program does. The progress log and the
steal meter run in every run (they feed ``op_s_p50``, ``events_per_s``
and ``setup_s``); the RSS sampler, spans and the event log only in
traced runs.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch's ``StreamingQueryProgress`` as a dict."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.items.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def of(self, query_ids: set[str], settle_s: float = 0.5, limit_s: float = 15.0) -> list[dict]:
        """Progress of the given queries, once the listener bus has
        delivered everything (no new item for ``settle_s``)."""
        deadline = time.monotonic() + limit_s
        seen, still = -1, time.monotonic()
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.items)
            if n != seen:
                seen, still = n, time.monotonic()
            elif time.monotonic() - still >= settle_s:
                break
            time.sleep(0.1)
        with self._lock:
            items = [p for p in self.items if p["id"] in query_ids]
        return sorted(items, key=lambda p: (p["timestamp"], p["batchId"]))


def query_id(checkpoint_dir: str) -> str:
    """A stream's id, which its checkpoint keeps across restarts."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.loads(f.readline())["id"]


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the machine since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class Steal:
    """Share of the CPU time this machine's busy vCPUs wanted that the
    hypervisor gave to other guests, over the intervals measured with
    ``with meter(): ...``. An idle vCPU accrues no steal, so the share is
    taken over busy plus stolen ticks: a thread that ran for ``w``
    seconds of wall time had about ``w * (1 - share)`` of CPU."""

    def __init__(self) -> None:
        self.busy = 0
        self.stolen = 0

    @contextmanager
    def __call__(self):
        b0, s0 = _cpu_ticks()
        try:
            yield
        finally:
            b1, s1 = _cpu_ticks()
            self.busy += b1 - b0
            self.stolen += s1 - s0

    @property
    def share(self) -> float:
        total = self.busy + self.stolen
        return self.stolen / total if total else 0.0


def _tree(root_pid: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of a process and all its descendants (the
    JVM and its Python workers), sampled every ``interval_s``."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in _tree(self.root_pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Spans:
    """Spans (name, start, end, parent) around calls into the package,
    kept in memory and written out by :meth:`dump`. When tracing is off
    a span only runs its body."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def __call__(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.items)
        span = {"name": name, "parent": self._stack[-1] if self._stack else None,
                "start": time.time()}
        self.items.append(span)
        self._stack.append(idx)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(self.items[self._stack[-1]]["name"] if self._stack else None)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


# ------------------------------------------------------------ event log

_BATCH_RE = re.compile(r"id = ([0-9a-f-]+)\s+runId = [0-9a-f-]+\s+batch = (\d+)")


class EventLog:
    """What one Spark event log says about jobs, tasks and SQL scans.

    Jobs are keyed by their description, which is either a span name
    (set by :class:`Spans`) or a micro-batch description
    (``id = <query id> runId = ... batch = <n>``)."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # per task: job, launch ms, metrics
        self.executions: dict[int, str] = {}  # SQL execution id -> description
        self.scan_metrics: dict[int, tuple[int, str, str]] = {}  # accum id -> (exec, location, metric)
        self.accum: dict[int, int] = defaultdict(int)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan parquet"):
            loc = node.get("metadata", {}).get("Location", "")
            for m in node.get("metrics", []):
                self.scan_metrics[m["accumulatorId"]] = (exec_id, loc, m["name"])
        for child in node.get("children", []):
            self._plan(exec_id, child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "description": props.get("spark.job.description") or "",
                "submitted": e.get("Submission Time", 0),
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "job": self.stage_job.get(e["Stage ID"]),
                "launch": info.get("Launch Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            })
            for acc in info.get("Accumulables", []):
                if acc.get("ID") in self.scan_metrics and isinstance(acc.get("Update"), (int, str)):
                    self.accum[acc["ID"]] += int(acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[e["executionId"]] = e.get("description") or ""
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in self.scan_metrics:
                    self.accum[acc_id] += int(value)

    def jobs_where(self, pred) -> set[int]:
        return {j for j, info in self.jobs.items() if pred(info["description"])}

    def task_sum(self, key: str, jobs: set[int] | None = None, windows=None) -> float:
        total = 0
        for t in self.tasks:
            if jobs is not None and t["job"] not in jobs:
                continue
            if windows is not None and not any(lo <= t["launch"] <= hi for lo, hi in windows):
                continue
            total += t[key]
        return total

    def batch_jobs(self, query_ids: set[str]) -> dict[tuple[str, int], int]:
        """Jobs per micro-batch of the given queries."""
        out: dict[tuple[str, int], int] = defaultdict(int)
        for info in self.jobs.values():
            m = _BATCH_RE.search(info["description"])
            if m and m.group(1) in query_ids:
                out[(m.group(1), int(m.group(2)))] += 1
        return out

    def scan(self, metric: str, location_part: str, desc_pred) -> dict[int, int]:
        """A parquet scan metric summed per SQL execution, over scans
        whose location mentions ``location_part``, in executions whose
        description satisfies ``desc_pred``."""
        out: dict[int, int] = defaultdict(int)
        for acc_id, (exec_id, loc, name) in self.scan_metrics.items():
            if name == metric and location_part in loc and desc_pred(self.executions.get(exec_id, "")):
                out[exec_id] += self.accum.get(acc_id, 0)
        return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
