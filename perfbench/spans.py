"""Spans recorded around calls into the program, and the Spark stage
metrics and process-tree memory attributed to them.

Spans are kept in memory and written out when the run ends. Spark stages
are attributed to the deepest span open when the stage was submitted: the
program submits some jobs from its own worker threads (for instance the two
parallel appends of ``SignatureState.append``), and those carry no job
group set on the benchmark's thread, so submission time is the one
attribution that covers every job.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# generic per-span metrics, in report order
SPAN_METRICS = (
    "s", "rows", "jobs", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
)
MB = 1024.0 * 1024.0
# how long to wait for Spark's status store to catch up with the jobs
STATUS_SETTLE_S = 30.0
# how often the process tree's resident memory is sampled
RSS_INTERVAL_S = 0.2


class Tracer:
    """Nested spans with wall-clock bounds; one tracer per run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "rows": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def owner(self, t: float) -> int | None:
        """The deepest span whose interval holds time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                best = s["id"]  # spans are recorded parent-first
        return best


def _rest_time(s: str) -> float:
    # e.g. "2026-10-17T03:49:43.123GMT"
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_stage_metrics(spark, tracer: Tracer) -> bool:
    """Add job and stage metrics from Spark's status API to each span.

    The status store is filled asynchronously from the listener bus, so
    this waits until no job is left running and two reads agree; it
    returns False if that did not happen within ``STATUS_SETTLE_S``."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + STATUS_SETTLE_S
    prev = None
    while True:
        jobs = _get(f"{base}/jobs")
        stages = _get(f"{base}/stages")
        key = (len(jobs), len(stages), sum(s["numCompleteTasks"] for s in stages))
        running = any(j["status"] == "RUNNING" for j in jobs) or any(
            s["status"] == "ACTIVE" for s in stages
        )
        settled = not running and key == prev
        if settled or time.time() > deadline:
            break
        prev = key
        time.sleep(0.5)
    for s in tracer.spans:
        for m in SPAN_METRICS[2:]:
            s[m] = 0.0
    for j in jobs:
        owner = tracer.owner(_rest_time(j["submissionTime"]))
        if owner is not None:
            tracer.spans[owner]["jobs"] += 1
    for st in stages:
        if st["status"] not in ("COMPLETE", "FAILED") or "submissionTime" not in st:
            continue
        owner = tracer.owner(_rest_time(st["submissionTime"]))
        if owner is None:
            continue
        s = tracer.spans[owner]
        s["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        s["failed_tasks"] += st["numFailedTasks"]
        s["task_s"] += st["executorRunTime"] / 1e3
        s["cpu_s"] += st["executorCpuTime"] / 1e9
        s["gc_s"] += st["jvmGcTime"] / 1e3
        s["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
        s["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        s["spill_mb"] += st["diskBytesSpilled"] / MB
    return settled


def layer_metrics(tracer: Tracer, layers: dict[str, tuple[str, ...]]) -> dict[str, float]:
    """Sum span metrics per layer. ``layers`` maps a layer name to the
    span names it owns; ``s`` is the layers' summed self time, and stage
    metrics are those of stages submitted inside the span and not inside
    a child span, so layers partition the traced wall."""
    selfs = tracer.self_times()
    out: dict[str, float] = {}
    for layer, names in layers.items():
        mine = [s for s in tracer.spans if s["name"] in names]
        out[f"{layer}.s"] = sum(selfs[s["id"]] for s in mine)
        for m in SPAN_METRICS[1:]:
            out[f"{layer}.{m}"] = float(sum(s.get(m, 0) for s in mine))
    return out


def layer_failures(
    tracer: Tracer, layers: dict[str, tuple[str, ...]], executed: tuple[str, ...]
) -> list[str]:
    """Failures of a traced operation's attribution: a span below the root
    that no layer owns, or a layer the workload executes that owns no
    Spark job (its work ran outside its spans)."""
    owned = {n for names in layers.values() for n in names}
    bad = [
        f"span {s['name']!r} belongs to no layer"
        for s in tracer.spans[1:] if s["name"] not in owned
    ]
    for layer in executed:
        jobs = sum(s.get("jobs", 0) for s in tracer.spans if s["name"] in layers[layer])
        if jobs < 1:
            bad.append(f"layer {layer} ran no Spark job inside its spans")
    return bad


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21])  # resident pages
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo += children.get(p, [])
    return total * os.sysconf("SC_PAGE_SIZE") / MB


class PeakRss:
    """Samples the process tree's resident memory on a thread until closed."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
