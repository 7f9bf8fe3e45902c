"""Measurement helpers: resident-memory sampling from /proc, spans
around the benchmark's calls into each layer, and a reader for Spark's
uncompressed event log.

Spans are kept in memory and turned into per-layer figures when the run
ends.  Spark jobs are tied to a span by their submission time, which
Spark records in epoch milliseconds; spans use the same clock.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                text = fh.read()
        except OSError:  # the process ended while we listed it
            continue
        # the command name is in parentheses and may hold spaces
        fields = text[text.rfind(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and each of its descendants, by
    ``pid:command``."""
    out = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as fh:
                out[f"{pid}:{fh.read().strip()}"] = rss
        except OSError:  # the process ended while we read it
            continue
    return out


class RssSampler:
    """Samples the resident memory of this process tree (Python, the
    JVM and its Python workers) every ``period`` seconds; ``peak_mb``
    is the largest sum seen while sampling was on."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self):
        by_process = tree_rss(os.getpid())
        total = sum(by_process.values())
        if total > self.peak:
            self.peak, self.peak_by_process = total, by_process

    def _loop(self):
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            self._stop.wait(self.period)

    def start(self):
        self._on.set()
        if not self._thread.is_alive():
            self._thread.start()

    def pause(self):
        if self._on.is_set():
            self._sample()
        self._on.clear()

    def close(self):
        self.pause()
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Tracer:
    """Spans around calls into the program's layers.  A disabled tracer
    records nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            with self._lock:
                self.spans.append({"layer": layer, "start": start, "end": end})

    def wrap(self, owner, name: str, layer: str, around=None):
        """Replace ``owner.name`` by a wrapper that records a ``layer``
        span per call; ``around(result)`` may wrap the returned value."""
        if not self.enabled:
            return
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            return around(out) if around else out

        self._patched.append((owner, name, fn))
        setattr(owner, name, wrapper)

    def unwrap_all(self):
        while self._patched:
            owner, name, fn = self._patched.pop()
            setattr(owner, name, fn)

    def of(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer]

    def within(self, layer: str, ops: list[dict]) -> list[dict]:
        """The ``layer`` spans that start inside one of ``ops``."""
        return [s for s in self.of(layer) if any(o["start"] <= s["start"] <= o["end"] for o in ops)]

    def total_ms(self, layer: str, ops: list[dict]) -> float:
        return 1000.0 * sum(s["end"] - s["start"] for s in self.within(layer, ops))


def set_phase(spark, workload: str, phase: str) -> None:
    """Job description ``workload:phase`` for the jobs this thread starts."""
    spark.sparkContext.setJobDescription(f"{workload}:{phase}")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

BROADCAST_TIMES = {"time to collect", "time to build", "time to broadcast"}
FILES_READ = {"size of files read"}
_PYTHON_TIME = "time to run Python workers"


class EventLog:
    """The jobs, stages and tasks of one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[tuple[int, int], list[dict]] = {}
        self.stage_job: dict[int, int] = {}
        self.metric_names: dict[int, str] = {}
        self.driver_updates: list[tuple[int, int, int]] = []
        self.exec_start: dict[int, float] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                    for s in ev["Stage Infos"]:
                        self.stage_job[s["Stage ID"]] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    self.stage_tasks.setdefault(key, []).append(_task(ev))
                elif kind in (
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    if "time" in ev:
                        self.exec_start[ev["executionId"]] = ev["time"] / 1000.0
                    self._plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
                    x = ev["executionId"]
                    self.driver_updates.extend((x, int(a), int(v)) for a, v in ev["accumUpdates"])

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.metric_names[int(m["accumulatorId"])] = m["name"]
        for child in node.get("children", ()):
            self._plan_metrics(child)

    @staticmethod
    def find(log_dir: str, app_id: str) -> "EventLog":
        path = os.path.join(log_dir, app_id)
        if not os.path.exists(path):
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        return EventLog(path)

    def jobs_within(self, spans: list[dict]) -> list[int]:
        """Ids of the jobs submitted inside any of ``spans``."""
        return sorted(
            j for j, job in self.jobs.items()
            if any(s["start"] <= job["start"] <= s["end"] for s in spans)
        )

    def tasks_of(self, job_ids: list[int]) -> list[tuple[int, list[dict]]]:
        jobs = set(job_ids)
        return [
            (stage, tasks) for (stage, _attempt), tasks in self.stage_tasks.items()
            if self.stage_job.get(stage) in jobs
        ]

    def idle_ms(self, spans: list[dict]) -> float:
        """Wall time inside ``spans`` during which no job was running."""
        idle = 0.0
        for s in spans:
            busy = sorted(
                (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
                for j in self.jobs.values()
                if j["start"] < s["end"] and (j["end"] or s["end"]) > s["start"]
            )
            covered, cursor = 0.0, s["start"]
            for a, b in busy:
                a = max(a, cursor)
                if b > a:
                    covered += b - a
                    cursor = b
            idle += (s["end"] - s["start"]) - covered
        return 1000.0 * idle

    def driver_metric(self, names: set[str], ops: list[dict]) -> float:
        """Per-operation sum of the driver-side SQL metrics called
        ``names``, over the SQL executions started inside ``ops``."""
        inside = {
            x for x, t in self.exec_start.items() if any(o["start"] <= t <= o["end"] for o in ops)
        }
        total = sum(
            v for x, a, v in self.driver_updates
            if x in inside and self.metric_names.get(a) in names
        )
        return total / max(len(ops), 1)


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in ev["Task Info"].get("Accumulables", ())}
    py = acc.get(_PYTHON_TIME)
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "python_ms": float(py) if py is not None else 0.0,
    }


# per-layer metric -> the span layer whose time, or whose jobs, it sums
SPAN_TIMES = {
    "plans.compile_ms": "plans", "expr.compile_ms": "expr", "operators.joins.build_ms": "operators.joins",
    "llm.pairs_build_ms": "llm", "operators.graph.cc_ms": "operators.graph",
    "operators.er.resolve_ms": "operators.er",
}
SPAN_JOBS = {
    "plans.build_jobs": "plans", "llm.pairs_build_jobs": "llm", "operators.graph.cc_jobs": "operators.graph",
}


def span_layers(tracer: Tracer, log: EventLog, ops: list[dict]) -> dict[str, float]:
    """Per-operation time and Spark jobs of the spans inside ``ops``."""
    n = max(len(ops), 1)
    out = {k: tracer.total_ms(layer, ops) / n for k, layer in SPAN_TIMES.items()}
    out.update({k: len(log.jobs_within(tracer.within(layer, ops))) / n for k, layer in SPAN_JOBS.items()})
    out["operators.joins.broadcast_ms"] = log.driver_metric(BROADCAST_TIMES, ops)
    out["sources.bytes_read"] = log.driver_metric(FILES_READ, ops)
    out["session.start_s"] = statistics.median(s["end"] - s["start"] for s in tracer.of("session"))
    return out


def spark_layer(log: EventLog, ops: list[dict]) -> dict[str, float]:
    """Per-operation Spark figures over the jobs started inside ``ops``."""
    n = max(len(ops), 1)
    jobs = log.jobs_within(ops)
    stages = log.tasks_of(jobs)
    tasks = [t for _, ts in stages for t in ts]
    total = {k: sum(t[k] for t in tasks) for k in (tasks[0] if tasks else {})}
    skew = 0.0
    if stages:
        _, longest = max(stages, key=lambda st: sum(t["run_ms"] for t in st[1]))
        times = [t["run_ms"] for t in longest]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else float(max(times) > 0)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": len(tasks) / n,
        "spark.idle_gap_ms": log.idle_ms(ops) / n,
        "spark.executor_run_ms": total.get("run_ms", 0) / n,
        "spark.executor_cpu_ms": total.get("cpu_ms", 0) / n,
        "spark.gc_ms": total.get("gc_ms", 0) / n,
        "spark.shuffle_read_bytes": total.get("shuffle_read", 0) / n,
        "spark.shuffle_write_bytes": total.get("shuffle_write", 0) / n,
        "spark.spill_bytes": total.get("spill", 0) / n,
        "spark.max_task_skew": skew,
        "sources.bytes_written": total.get("bytes_written", 0) / n,
        "functions.arrow_udf_ms": total.get("python_ms", 0) / n,
    }
