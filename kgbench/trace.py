"""Benchmark-side tracing: spans around calls into the package's layers,
Spark job groups per span, and the event-log fold that turns Spark's task
metrics into per-layer numbers.

Spans are recorded only in the traced invocation (``--trace 1``); the
untraced runs that give the end-to-end metrics never construct a Tracer
and never enable the event log.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from pheknowlator_spark.plans.checkpoint import StageStore


# job group of the traced op's work outside any layer span
OP_GROUP = "op"


class Tracer:
    """Spans ``(name, start, end, thread)`` kept in memory; each span sets
    its name as the Spark job group of the calling thread, so the jobs it
    issues fold to it in the event log."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, str]] = []
        self.counts: dict[str, float] = {}
        self._pending_rows: list[tuple[str, object]] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup(OP_GROUP, OP_GROUP)
            with self._lock:
                self.spans.append((name, t0, t1, threading.current_thread().name))

    def rows(self, name: str, df) -> None:
        """Count ``df`` (a materialized layer output) after the op, so the
        count's job stays outside every span and the op's wall time."""
        self._pending_rows.append((name, df))

    def output_bytes(self, name: str, path: str) -> None:
        self.counts[f"{name}.mb"] = dir_bytes(path) / 1e6

    def finish_counts(self) -> None:
        self.sc.setJobGroup("trace.counts", "trace.counts")
        for name, df in self._pending_rows:
            self.counts[f"{name}.rows"] = self.counts.get(f"{name}.rows", 0) + df.count()
        self._pending_rows.clear()

    def seconds(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n == name)


def traced_store_class(tracer: Tracer):
    """A ``StageStore`` whose ``run`` is a span named ``checkpoint.<stage>``
    in whichever thread calls it (``full_build`` runs three stages on a
    thread pool; job groups are per thread, so each stage's jobs still
    fold to that stage)."""

    class TracedStageStore(StageStore):
        def run(self, stage, fn, *args, **kwargs):
            with tracer.span(f"checkpoint.{stage}"):
                df = super().run(stage, fn, *args, **kwargs)
            tracer.counts[f"checkpoint.{stage}.rows"] = parquet_rows(self._dir(stage))
            return df

    return TracedStageStore


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its file footers."""
    return sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
               for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a plain log file, or the numbered
    ``events_<n>_<app>`` parts of a rolling (``eventlog_v2_*``) log."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            out.append(path)
    return out


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from a Spark event log directory.
    Returns ``{group: {jobs, task_run_s, task_cpu_s, shuffle_write_mb,
    spill_mb}}``; a stage belongs to the group of the first job that lists
    it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {"jobs": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
                                      "shuffle_write_mb": 0.0, "spill_mb": 0.0})

    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = bucket(stage_group.get(ev.get("Stage ID"), "none"))
                    b["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return out
