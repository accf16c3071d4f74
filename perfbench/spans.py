"""Spans around the benchmark's calls into each layer, and the Spark stage
metrics that fall inside them.

A span records name, start, end and the span that caused it; all spans of
one run share the run's trace id. Spans are kept in memory and written into
the run's record when it ends. Spark's own per-stage metrics are read once,
after the measured work, from the driver's status store (the store behind
the Spark UI, kept even with the UI off) and attributed to spans by
submission time: the benchmark is a single closed-loop client, so every
stage submitted inside a span's interval was caused by that span.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from statistics import median

# status-store stage field -> (metric, scale to the metric's unit)
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_mb", 1e-6),
    "shuffleReadBytes": ("shuffle_read_mb", 1e-6),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "diskBytesSpilled": ("spill_mb", 1e-6),
    "outputBytes": ("output_mb", 1e-6),
}
SPARK_METRICS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                 "busy_frac", "input_mb", "shuffle_read_mb",
                 "shuffle_write_mb", "spill_mb", "output_mb")
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "busy_frac": "ratio"}


class Tracer:
    """Nested spans on the calling thread. A disabled tracer records
    nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]


def read_status_store(spark) -> tuple[list[dict], list[float]]:
    """Every submitted stage (with its task metrics) and every job's
    submission time (epoch seconds) the driver's status store holds."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                          gw.jvm.java.util.Collections.emptyList())
    stages = []
    for i in range(seq.size()):
        s = seq.apply(i)
        sub = s.submissionTime()
        if not sub.isDefined():  # skipped: its output was reused
            continue
        rec = {"stage_id": s.stageId(), "status": s.status().toString(),
               "submitted": sub.get().getTime() / 1000.0,
               "tasks": s.numCompleteTasks() + s.numFailedTasks()}
        for field, (metric, scale) in STAGE_FIELDS.items():
            rec[metric] = getattr(s, field)() * scale
        stages.append(rec)
    jobs = []
    jseq = store.jobsList(None)
    for i in range(jseq.size()):
        sub = jseq.apply(i).submissionTime()
        if sub.isDefined():
            jobs.append(sub.get().getTime() / 1000.0)
    return stages, jobs


def window_metrics(stages: list[dict], jobs: list[float], start: float,
                   end: float, cores: int) -> dict[str, float]:
    """The spark.* set over the stages and jobs submitted in [start, end].
    Status-store times have millisecond resolution, so the window is
    widened by one millisecond on each side."""
    lo, hi = start - 1e-3, end + 1e-3
    inside = [s for s in stages if lo <= s["submitted"] <= hi]
    out = {"jobs": float(sum(1 for j in jobs if lo <= j <= hi)),
           "stages": float(len(inside)),
           "tasks": float(sum(s["tasks"] for s in inside))}
    for metric, _ in STAGE_FIELDS.values():
        out[metric] = sum(s[metric] for s in inside)
    out["busy_frac"] = out["task_s"] / max((end - start) * cores, 1e-9)
    return out


def median_window(spans: list[dict], stages: list[dict], jobs: list[float],
                  cores: int) -> dict[str, float]:
    """Per-metric median of ``window_metrics`` over repeated spans."""
    ws = [window_metrics(stages, jobs, s["start"], s["end"], cores)
          for s in spans]
    return {m: median(w[m] for w in ws) for m in SPARK_METRICS} if ws else \
        dict.fromkeys(SPARK_METRICS, 0.0)
