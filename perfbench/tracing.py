"""Spans, Spark job attribution and process memory for the benchmark.

A span wraps one call the benchmark makes into the program: name, layer,
start, end, parent and the run-wide id. Spans are kept in memory and
written once, at the end of a run. With tracing on, every span also tags
the Spark jobs its call launches with a job group of its own, and the
event log Spark writes is read back after the session stops to split a
span's wall time into job time and driver gap (wall time not covered by
any of its jobs).
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import threading
import time
import uuid

GROUP_PREFIX = "perfbench:"


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at least
    ten samples above it, or (nan, 0, n) when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    for pct in range(99, 0, -1):
        idx = math.ceil(pct / 100 * n) - 1
        if idx >= 0 and n - 1 - idx >= 10:
            return xs[idx], pct, n
    return float("nan"), 0, n


class Tracer:
    """Records one span per call. ``jobs=True`` also sets a Spark job
    group per span (restored to the enclosing span's group on exit), so
    the event log can attribute each job to the call that launched it."""

    def __init__(self, spark_context_fn, jobs: bool):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.jobs = jobs
        self._sc = spark_context_fn
        self._stack: list[dict] = []
        self._n = 0
        self.overhead_s = 0.0  # time spent setting job groups

    def _set_group(self, span: dict | None) -> None:
        t0 = time.perf_counter()
        sc = self._sc()
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span['id']}", span["name"])
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        self._n += 1
        rec = {
            "id": self._n,
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(rec)
        traced = self.jobs
        if traced:
            self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["failed"] = True
            raise
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if traced:
                self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        self.peak_bytes = max(self.peak_bytes, total)


def read_event_logs(log_dir: str) -> list[dict]:
    """Jobs from every Spark event log under ``log_dir``: one dict per job
    with its group, submit/end wall times (s), and the shuffle bytes
    written and bytes spilled summed over its stages."""
    jobs: list[dict] = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        by_id: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        for ev in _events(app):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "shuffle_bytes": 0,
                    "spill_bytes": 0,
                }
                by_id[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = job
                jobs.append(job)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
                by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                for acc in info.get("Accumulables", ()) if job else ():
                    key = STAGE_METRICS.get(acc.get("Name"))
                    if key and str(acc.get("Value", "")).isdigit():
                        job[key] += int(acc["Value"])
    for job in jobs:
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


STAGE_METRICS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def _events(app: str):
    """Events of one application: a single log file, or a rolling log
    directory of ``events_<n>_...`` files read in order."""
    if os.path.isdir(app):
        parts = [f for f in os.listdir(app) if f.startswith("events_")]
        paths = [os.path.join(app, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        paths = [app]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Attach to each span the jobs launched under its own job group (and,
    for a streaming drain, under its query's run id), then its job count,
    job time and driver gap. A job another span's group claims is not
    counted in the enclosing span."""
    groups: dict[str, dict] = {}
    for s in spans:
        groups[f"{GROUP_PREFIX}{s['id']}"] = s
        if s.get("stream_run_id"):
            groups[s["stream_run_id"]] = s
        s["jobs"] = []
    for job in jobs:
        owner = groups.get(job["group"])
        job["span"] = owner["id"] if owner else None
        if owner is not None:
            owner["jobs"].append(job)
    for s in spans:
        busy = union_s(((j["start"], j["end"]) for j in s["jobs"]), s["start"], s["end"])
        s["n_jobs"] = len(s["jobs"])
        s["job_s"] = busy
        s["gap_s"] = max(s["dur"] - busy, 0.0)
