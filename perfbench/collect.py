"""Outside-in collectors: everything the benchmark learns about the
engine's layers without calling into the engine's internals.

* ``Spans``: the benchmark's own timing of each call it makes into a
  layer, kept in memory and written out when the run ends.
* ``StreamCollector``: micro-batch phases, input rows and state-store
  figures from the public ``StreamingQueryListener`` API. It sees the
  streams that start inside ``run_full_pipeline`` and
  ``run_stateful_totals`` as well as the ones the benchmark starts.
* ``EngineProcs``: CPU seconds and peak resident memory of the JVM and
  its Python workers, read from ``/proc``.
* ``parse_event_log`` / ``layer_record``: Spark's own task metrics from
  an uncompressed event log (traced runs only), attributed to the
  benchmark's operations by job group or by time window.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` that has
    at least ``beyond`` samples above it. When that percentile would not
    lie above the median (fewer than 2 * beyond samples), the maximum
    (percentile 100) is returned; the caller reports n beside it."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - beyond - 1
    if 2 * (i + 1) <= n:
        return float(xs[-1]), 100.0, n
    return float(xs[i]), round(100.0 * (i + 1) / n, 1), n


def iso_ms(ts: str) -> float:
    """Listener ISO-8601 UTC timestamp -> epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Spans:
    """Flat span store; ``span()`` is a context manager that nests by
    the innermost open span. One benchmark thread opens spans."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, /, **attrs):
        s = Span(name, time.time(), parent=self._open[-1] if self._open else None, attrs=attrs)
        self.items.append(s)
        self._open.append(len(self.items) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, /, **attrs) -> int:
        self.items.append(Span(name, start, end, parent, attrs))
        return len(self.items) - 1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.items if s.name == name]

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "parent": s.parent, "name": s.name, "start": s.start,
             "end": s.end, "attrs": s.attrs}
            for i, s in enumerate(self.items)
        ]


# ---------------------------------------------------------------------------
# streaming listener
# ---------------------------------------------------------------------------


class StreamCollector:
    """Accumulates listener events. ``on_*`` take plain dicts so tests
    can feed captured progress JSON; ``listener()`` wraps them in a
    ``StreamingQueryListener`` for a live session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: dict[str, float] = {}  # runId -> start epoch s
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def on_started(self, run_id: str, ts: str) -> None:
        with self._lock:
            self.started[run_id] = iso_ms(ts)

    def on_progress(self, p: dict) -> None:
        with self._lock:
            self.progress.append(p)

    def on_terminated(self, run_id: str) -> None:
        with self._lock:
            self.terminated.add(run_id)

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        coll = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                coll.on_started(str(event.runId), event.timestamp)

            def onQueryProgress(self, event):
                coll.on_progress(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                coll.on_terminated(str(event.runId))

        return _Listener()

    def drain(self, timeout: float = 30.0) -> bool:
        """Wait until every started stream's terminated event arrived
        (listener delivery is asynchronous; a stream's progress events
        precede its terminated event)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if set(self.started) <= self.terminated:
                    return True
            time.sleep(0.02)
        return False

    def batches(self, start: float, end: float) -> list[dict]:
        """Progress of micro-batches whose trigger began in [start, end)."""
        with self._lock:
            return [p for p in self.progress if start <= iso_ms(p["timestamp"]) < end]

    def runs(self, start: float, end: float) -> list[str]:
        """runIds of the streams started in [start, end), in start order."""
        with self._lock:
            return [r for r, t in sorted(self.started.items(), key=lambda kv: kv[1])
                    if start <= t < end]


def phase_ms(batches: list[dict], phase: str) -> float:
    return float(sum(b.get("durationMs", {}).get(phase, 0) for b in batches))


def input_rows(batches: list[dict]) -> int:
    return int(sum(b.get("numInputRows", 0) for b in batches))


def state_figures(batches: list[dict]) -> dict[str, float]:
    """State-store figures of the last batch that reports any."""
    for b in reversed(batches):
        ops = b.get("stateOperators") or []
        if ops:
            return {
                "state.rows_total": float(sum(o.get("numRowsTotal", 0) for o in ops)),
                "state.memory_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in ops)),
                "state.commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
                "state.partitions": float(sum(o.get("numShufflePartitions", 0) for o in ops)),
            }
    return {"state.rows_total": 0.0, "state.memory_bytes": 0.0,
            "state.commit_ms": 0.0, "state.partitions": 0.0}


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (``/proc/stat``). Wall-clock figures taken while it
    grows are inflated by contention the engine did not cause."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class EngineProcs:
    """CPU and memory of the engine's processes: this process (the Python
    driver, where query builders and py4j calls run), the JVM below it
    and the Python workers the JVM forks. Inside the timed region this
    process does almost no benchmark work: the inputs are generated
    beforehand, except the small salary drops.

    Point reads only. A sampling thread would perturb the engine, and
    reading page-table-walking files such as ``smaps_rollup`` stalled
    the JVM measurably. The kernel's per-process high-water mark
    (``VmHWM``) gives the peak without sampling."""

    def __init__(self, root: int | None = None) -> None:
        self.root = os.getpid() if root is None else root

    def cpu_s(self) -> float:
        """utime + stime of this process, plus utime + stime + reaped
        children's of every descendant (a Python worker that exited is
        charged to the daemon that forked it)."""
        cpu = 0.0
        for pid in [self.root] + descendants(self.root):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime stime cutime cstime are fields 14-17 (1-based)
            cpu += sum(int(x) for x in fields[11:13 if pid == self.root else 15]) / _TICK
        return cpu

    def peak_rss_mb(self) -> tuple[float, float]:
        """(JVM peak RSS, summed peak RSS of the live Python workers) in
        MiB. Forked workers share pages, so the second figure overcounts
        and is reported, not gated."""
        jvm = workers = 0
        for pid in descendants(self.root):
            try:
                kb = _status_kb(pid, "VmHWM:")
                if _comm(pid) == "java":
                    jvm += kb
                else:
                    workers += kb
            except OSError:
                continue
        return jvm / 1024.0, workers / 1024.0


# ---------------------------------------------------------------------------
# event log (traced runs)
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def event_log_files(log_dir: str) -> list[str]:
    """Every event file below ``log_dir`` (Spark 4.x rolls them into
    ``eventlog_v2_<app>/events_<n>_<app>``), in roll order."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_") or f.startswith("local-") or f.startswith("app-"):
                if not f.endswith((".crc", ".inprogress.crc")):
                    out.append(os.path.join(root, f))

    def roll(p: str) -> tuple:
        parts = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(out, key=roll)


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from an uncompressed log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(e["Job ID"], (e.get("Properties") or {}).get("spark.jobGroup.id"),
                            e["Submission Time"] / 1000.0, stages=list(e.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Length of the union of job intervals clipped to [start, end]."""
    iv = sorted((max(j.submit, start), min(j.end or end, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_record(jobs: list[Job], start: float, end: float) -> dict[str, float]:
    """The aim-1 layer split of the window [start, end): jobs, time with
    no job running, and the task metrics of the jobs submitted in it."""
    inside = [j for j in jobs if start <= j.submit < end]
    run = sum(j.task_run_s for j in inside)
    cpu = sum(j.task_cpu_s for j in inside)
    return {
        "jobs": float(len(inside)),
        "driver_only_s": max(0.0, (end - start) - busy_seconds(inside, start, end)),
        "task_cpu_s": cpu,
        "task_noncpu_s": max(0.0, run - cpu),
        "gc_s": sum(j.gc_s for j in inside),
        "shuffle_bytes": float(sum(j.shuffle_bytes for j in inside)),
        "spill_bytes": float(sum(j.spill_bytes for j in inside)),
    }


def jobs_in_group(jobs: list[Job], group: str) -> int:
    return sum(1 for j in jobs if j.group == group)
