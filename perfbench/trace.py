"""Spans recorded around the benchmark's calls into the engine, plus the two
sources of per-layer numbers Spark itself keeps: the event log (jobs, tasks,
executor run/CPU/GC time, shuffle bytes) and the Python UDF perf profiler.

Spans live in memory and are written out once, when the run ends.  A span is
(name, start, end, parent); spans of one op share the op's span as their
root, so a layer's share of the op wall is the sum of its top-level spans
over the op span.  Root spans also record the process tree's CPU seconds.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from contextlib import contextmanager

from .host import tree_cpu_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        root = not self._stack
        rec = {"name": name, "start": None, "end": None,
               "parent": None if root else self._stack[-1]}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if root:
            rec["cpu_s"] = -tree_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if root:
                rec["cpu_s"] += tree_cpu_s()
            self._stack.pop()
            if root:
                self.last_root = rec

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def coverage(self, op_name: str) -> list[float]:
        """Per op span: share of its wall covered by its direct children."""
        out = []
        for i, s in enumerate(self.spans):
            if s["name"] != op_name or s["end"] is None:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == i and c["end"] is not None)
            out.append(kids / max(s["end"] - s["start"], 1e-9))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def trace_submit_args(event_dir: str) -> list[str]:
    """spark-submit flags for the traced run: an uncompressed event log."""
    os.makedirs(event_dir, exist_ok=True)
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false"]


def spark_metrics(event_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs and task totals for work started inside the given wall-clock
    windows (epoch ms), read from the event log after the session stopped.
    The load is a single closed-loop client, so nothing else runs inside an
    op's window."""
    def inside(t):
        return any(a <= t <= b for a, b in windows)

    jobs = tasks = run_ms = cpu_ns = gc_ms = shuffle_b = 0
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> files
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"),
                          recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += inside(ev["Submission Time"])
                elif kind == "SparkListenerTaskEnd":
                    if not inside(ev["Task Info"]["Launch Time"]):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    n = max(len(windows), 1)
    return {"spark.jobs_per_op": jobs / n,
            "spark.tasks_per_op": tasks / n,
            "spark.executor_run_ms_per_op": run_ms / n,
            "spark.executor_cpu_ms_per_op": cpu_ns / 1e6 / n,
            "spark.gc_ms_per_op": gc_ms / n,
            "spark.shuffle_write_bytes_per_op": shuffle_b / n}


def udf_profile_ms(spark, dump_dir: str) -> float:
    """Total time the Python UDF perf profiler recorded since its last clear
    (all UDFs summed), in ms."""
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(path).total_tt
        os.remove(path)
    spark.profile.clear(type="perf")
    return total * 1e3
