"""Spans around the benchmark's calls into the program, and the Spark event
log read back per span.

With tracing off, ``NoTrace`` stands in: its spans cost one ``with``
statement and set nothing on the session. With tracing on, ``Tracer``
names a Spark job group ``<workload>/<request>/<phase>`` before each call,
keeps every span in memory, and ``read_event_log`` attributes each job,
stage and task to the phase whose job group started it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class NoTrace:
    def request(self, rid: str):
        return nullcontext()

    def phase(self, name: str):
        return nullcontext()

    def span(self, name: str):
        return nullcontext()


class Tracer:
    """In-memory spans: name, start, end, parent span and request id."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spark = None  # set once the session exists, before any phase
        self.spans: list = []
        self._stack: list = []
        self._rid = "setup"

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "request": self._rid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def request(self, rid: str):
        self._rid = rid
        with self.span("request"):
            yield

    @contextmanager
    def phase(self, name: str):
        sc = self.spark.sparkContext
        group = f"{self.workload}/{self._rid}/{name}"
        sc.setJobGroup(group, group, False)
        try:
            with self.span(name):
                yield
        finally:
            # jobs outside every phase (checks, probes) stay unattributed
            sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list) -> dict:
    """span id -> duration minus the part of it its child spans cover."""
    child = defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return {sp["id"]: sp["end"] - sp["start"] - child[sp["id"]] for sp in spans}


# ---- event log -----------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_returned_b",
}
COUNTERS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "overhead_ms", "shuffle_read_b",
    "shuffle_write_b", *_PY_METRICS.values(),
)


def _events(log_dir: str):
    # Spark 4 writes a rolling log directory: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(log_dir: str) -> dict:
    """job group -> {"jobs", "stages": {stage id: counters}} summed over
    every task the group's jobs ran."""
    stage_group: dict = {}
    groups: dict = defaultdict(lambda: {"jobs": 0, "stages": defaultdict(lambda: dict.fromkeys(COUNTERS, 0))})
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "none")
            c = groups[g]["stages"][ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            c["tasks"] += 1
            run = m.get("Executor Run Time", 0)
            c["run_ms"] += run
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["overhead_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - run)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    c[key] += int(acc.get("Update") or 0)
    return {g: {"jobs": v["jobs"], "stages": dict(v["stages"])} for g, v in groups.items()}


def phase_counters(group: dict) -> dict:
    """One phase's totals: jobs, stages that ran tasks, and summed counters."""
    out = {"jobs": group["jobs"] if group else 0, "stages": 0, **dict.fromkeys(COUNTERS, 0)}
    for c in (group or {}).get("stages", {}).values():
        out["stages"] += 1
        for k in COUNTERS:
            out[k] += c[k]
    return out


def tile_stage(group: dict):
    """The stage that returned the most bytes from Python workers: the tile
    stage of a raster request's execution (None if no stage used Python)."""
    stages = (group or {}).get("stages", {})
    best = max(stages.values(), key=lambda c: c["python_returned_b"], default=None)
    return best if best and best["python_returned_b"] > 0 else None
