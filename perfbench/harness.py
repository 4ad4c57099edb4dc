"""Timing, job counting and trace folding for perfbench.

Every call into the package goes through ``Recorder.timed``: it tags the
calling thread's jobs with the job group ``<workload>:<layer>:<op>#<n>``,
times the call, and counts the call's jobs from the SparkContext status
tracker. A traced run also writes the Spark event log; ``fold_event_log``
turns it into per-layer job wall, task, executor and shuffle totals.
Spans live in memory and are folded after the run.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

LAYERS = ("setup", "plans", "serving", "ingest", "dedup", "ann")


@dataclass
class Span:
    layer: str
    op: str
    group: str
    request: int
    start: float  # epoch seconds
    wall_s: float
    jobs: int


class Recorder:
    """Records one span per call. ``attribute_ungrouped`` adds the jobs
    that ran with no job group during a call (the package's own driver
    thread pools do not inherit the caller's group) to that call's count;
    only valid when one client thread issues calls, and it waits for the
    listener bus around every call. Otherwise jobs are counted per group
    by ``count_jobs`` after the calls."""

    def __init__(self, spark, workload: str, attribute_ungrouped: bool = False):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.workload = workload
        self.attribute_ungrouped = attribute_ungrouped
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._seq = 0

    def rebind(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the status tracker learns of jobs asynchronously."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def timed(self, layer: str, op: str, fn, request: int = -1):
        with self._lock:
            self._seq += 1
            group = f"{self.workload}:{layer}:{op}#{self._seq}"
        self.sc.setJobGroup(group, group)
        if self.attribute_ungrouped:
            self._settle()
            before = self._ungrouped()
        start = time.time()
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            jobs = -1  # counted by count_jobs, outside the timed loop
            if self.attribute_ungrouped:
                self._settle()
                jobs = len(self.tracker.getJobIdsForGroup(group))
                jobs += len(self._ungrouped() - before)
            self.sc.setJobGroup(f"{self.workload}:bench:idle", "perfbench")
            span = Span(layer, op, group, request, start, wall, jobs)
            with self._lock:
                self.spans.append(span)

    def count_jobs(self) -> None:
        """Fill in the job count of every span not counted yet. Waiting for
        the listener bus once, after the calls, keeps that wait out of a
        multi-client loop's wall time."""
        self._settle()
        for s in self.spans:
            if s.jobs < 0:
                s.jobs = len(self.tracker.getJobIdsForGroup(s.group))

    def of(self, layer: str, op: str | None = None, since: int = 0) -> list[Span]:
        return [
            s
            for s in self.spans[since:]
            if s.layer == layer and (op is None or s.op == op)
        ]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 when there are no values."""
    return float(np.quantile(values, q)) if values else 0.0


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def fold_event_log(log_dir: str, spans: list[Span]) -> dict[str, float]:
    """Per-layer totals from a Spark event log written under ``log_dir``.

    A job belongs to the span whose job group it carries. A job with no
    group, or with a group the benchmark did not set (a streaming query
    tags its micro-batch jobs with its own run id), belongs to the span
    whose wall window holds its submission time, when exactly one does.
    ``trace.ungrouped_jobs`` counts the jobs with no group.

    ``<layer>.job_wall_s`` is, summed over the layer's calls, the time at
    least one of the call's jobs was running; ``<layer>.build_gap_s`` is
    the rest of the calls' wall: driver, Catalyst and py4j time."""
    job_group: dict[int, str | None] = {}
    job_time: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    task_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a rolling log: a directory of event files
    for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    t = ev["Submission Time"] / 1000.0
                    job_time[jid] = [t, t]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_time:
                    job_time[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics") or {}
                    if jid is None or not tm:
                        continue
                    acc = task_sums[jid]
                    acc["tasks"] += 1
                    acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )

    by_group = {s.group: s for s in spans}
    span_jobs: dict[str, list[int]] = defaultdict(list)
    out: dict[str, float] = defaultdict(float)
    for jid, group in job_group.items():
        out["trace.ungrouped_jobs"] += group is None
        span = by_group.get(group or "")
        if span is None and ":bench:" not in (group or ""):
            t = job_time[jid][0]
            holders = [s for s in spans if s.start <= t <= s.start + s.wall_s]
            span = holders[0] if len(holders) == 1 else None
        if span is None:
            continue
        span_jobs[span.group].append(jid)
        for key, val in task_sums.get(jid, {}).items():
            out[f"{span.layer}.{key}"] += val
    for s in spans:
        busy = _covered([tuple(job_time[j]) for j in span_jobs.get(s.group, [])])
        out[f"{s.layer}.job_wall_s"] += busy
        out[f"{s.layer}.build_gap_s"] += s.wall_s - busy
    return dict(out)


TRACE_KEYS = {
    "job_wall_s": "s",
    "build_gap_s": "s",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
}

# Every per-layer metric a traced run reports, as (name, unit, better).
# A workload reports 0 for a layer it does not exercise.
PER_LAYER = [
    ("error_rate", "ratio", "lower"),
    ("setup.get_spark_s", "s", "lower"),
    ("setup.ship_package_s", "s", "lower"),
    ("setup.state_build_s", "s", "lower"),
    ("api_p50_ms", "ms", "lower"),
    ("api_p90_ms", "ms", "lower"),
    ("api_qps", "1/s", "higher"),
    ("api_requests", "count", "higher"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("serving.respond_s", "s", "lower"),
    ("serving.exec_jobs", "count", "lower"),
    ("serving.response_bytes", "bytes", "lower"),
    ("ingest_lag_p50_s", "s", "lower"),
    ("ingest_lag_p90_s", "s", "lower"),
    ("ingest_rows_per_s", "1/s", "higher"),
    ("ingest.drain_s", "s", "lower"),
    ("ingest.batches_per_drain", "count", "lower"),
    ("ingest.addBatch_ms", "ms", "lower"),
    ("ingest.walCommit_ms", "ms", "lower"),
    ("ingest.commitOffsets_ms", "ms", "lower"),
    ("ingest.queryPlanning_ms", "ms", "lower"),
    ("ingest.latestOffset_ms", "ms", "lower"),
    ("writers.files_per_krow", "count", "lower"),
    ("writers.bytes_per_row", "bytes", "lower"),
    ("fold_p50_s", "s", "lower"),
    ("fold_p90_s", "s", "lower"),
    ("dedup.fold_jobs", "count", "lower"),
    ("dedup.compact_s", "s", "lower"),
    ("dedup.compact_jobs", "count", "lower"),
    ("dedup.state_files", "count", "lower"),
    ("dedup.state_bytes_per_doc", "bytes", "lower"),
    ("dedup.injected_dup_recall", "ratio", "higher"),
    ("append_p50_s", "s", "lower"),
    ("probe_p50_ms", "ms", "lower"),
    ("ann.probe_jobs", "count", "lower"),
    ("ann.append_jobs", "count", "lower"),
    ("ann.index_files", "count", "lower"),
    ("ann.index_bytes_per_vec", "bytes", "lower"),
    ("ann.recall_at_k", "ratio", "higher"),
    *[(f"{layer}.{key}", unit, "lower") for layer in LAYERS for key, unit in TRACE_KEYS.items()],
    ("trace.ungrouped_jobs", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]
