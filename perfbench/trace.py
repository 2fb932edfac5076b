"""Spans recorded around calls into the program's layers, and Spark
execution counters attributed to them from the uncompressed event log.

Spans are taken from outside the program: the traced run replaces layer
functions at their module attributes with timing wrappers and puts the
originals back afterwards. Every Spark job, stage and task whose start
falls inside a span's wall-clock window counts toward that span. The
benchmark is a single closed-loop client, so nothing else runs in the
window; nested spans each count their own window in full. Streaming
micro-batches run on Spark's stream thread, so attribution goes by time,
never by a job group set on the calling thread.
"""

from __future__ import annotations

import bisect
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Every counter a span can carry, with its unit.
UNITS = {
    "s": "s",
    "calls": "count",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "idle_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "output_bytes": "bytes",
    "max_task_s": "s",
}
ALL = list(UNITS)
STAGE_COUNTERS = [
    "s", "jobs", "tasks", "executor_run_s", "idle_s",
    "shuffle_write_bytes", "output_bytes", "max_task_s",
]
OPERATOR_COUNTERS = ["s", "calls", "jobs", "idle_s"]
WRITER_COUNTERS = ["s", "calls", "jobs", "output_bytes"]
PROBE_COUNTERS = [
    "s", "calls", "jobs", "stages", "tasks", "executor_run_s", "idle_s", "max_task_s",
]
PIPELINE_STAGES = ("extract", "transform", "roll_up", "merge_census", "write_to_volume")

# span name -> the counters reported for it (the per-layer metric list)
LAYERS: dict[str, list[str]] = {
    "session.start": ["s"],
    "pipeline.run": ["s", "calls", "jobs", "stages", "spill_bytes"],
    "pipeline.remainder": ["s"],
    **{f"pipeline.{st}": STAGE_COUNTERS for st in PIPELINE_STAGES},
    "sources.write_table": WRITER_COUNTERS,
    "sources.single_file_json": WRITER_COUNTERS,
    "sources.single_file_csv": WRITER_COUNTERS,
    "ingest.batch": ALL,
    "dedup.resolve_or_adopt_split": OPERATOR_COUNTERS,
    "dedup.dedup_minhash_incremental": OPERATOR_COUNTERS,
    "dedup.minhash_signature_table": OPERATOR_COUNTERS,
    "graph.connected_components": OPERATOR_COUNTERS,
    "ann_ingest.batch": ALL,
    "similarity.ivf_index_tables": ["s", "calls", "jobs", "executor_run_s", "idle_s"],
    "similarity.ivf_index_append": OPERATOR_COUNTERS,
    "similarity.compact_ivf_assignments": WRITER_COUNTERS,
    "similarity.ann_ivf_query_stored": PROBE_COUNTERS,
    "similarity.ann_ivf_query_stored_int8": PROBE_COUNTERS,
}
# single numbers reported beside the spans: name -> unit
GAUGES = {
    "stored_state.max_files_per_cell": "count",
    "tracing.overhead_frac": "ratio",
}

# (module, attribute, span) for each layer function wrapped in the
# traced run. Modules that bind the same function by a from-import get
# the wrapper too, so callers that resolved the name early see it.
WRAPPED = [
    ("ffi_etl_spark.sources.writers", "write_table", "sources.write_table"),
    ("ffi_etl_spark.sources.writers", "single_file_json", "sources.single_file_json"),
    ("ffi_etl_spark.sources.writers", "single_file_csv", "sources.single_file_csv"),
    ("ffi_etl_spark.operators.dedup", "resolve_or_adopt_split", "dedup.resolve_or_adopt_split"),
    ("ffi_etl_spark.operators.dedup", "dedup_minhash_incremental", "dedup.dedup_minhash_incremental"),
    ("ffi_etl_spark.operators.dedup", "minhash_signature_table", "dedup.minhash_signature_table"),
    ("ffi_etl_spark.operators.graph", "connected_components", "graph.connected_components"),
    ("ffi_etl_spark.operators.similarity", "ivf_index_tables", "similarity.ivf_index_tables"),
    ("ffi_etl_spark.operators.similarity", "ivf_index_append", "similarity.ivf_index_append"),
    ("ffi_etl_spark.operators.similarity", "compact_ivf_assignments", "similarity.compact_ivf_assignments"),
    ("ffi_etl_spark.operators.similarity", "ann_ivf_query_stored", "similarity.ann_ivf_query_stored"),
    ("ffi_etl_spark.operators.similarity", "ann_ivf_query_stored_int8", "similarity.ann_ivf_query_stored_int8"),
]


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{span}.{c}", UNITS[c]) for span, cs in LAYERS.items() for c in cs]
    return out + list(GAUGES.items())


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Collects (name, start_ms, end_ms) spans from any thread."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def add(self, name: str, start_ms: float, end_ms: float) -> None:
        with self._lock:
            self.spans.append((name, start_ms, end_ms))

    @contextmanager
    def span(self, name: str):
        t0 = _now_ms()
        try:
            yield
        finally:
            self.add(name, t0, _now_ms())

    def _timed(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer function, and ``Pipeline.run`` for the
        per-stage spans."""
        import importlib

        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapper = self._timed(orig, span)
            for other in list(sys.modules.values()):
                if (
                    getattr(other, "__name__", "").startswith("ffi_etl_spark")
                    and getattr(other, attr, None) is orig
                ):
                    self._patch(other, attr, wrapper)
        from ffi_etl_spark.pipeline import Pipeline

        self._patch(Pipeline, "run", self._stage_spans(Pipeline.run))

    def _stage_spans(self, run):
        """A stage span runs from its fn's call to the next stage's call
        (or the end of ``run``), so it holds the fn and its table writes."""
        tracer = self

        @functools.wraps(run)
        def traced_run(pipe, spark, inputs=None):
            from ffi_etl_spark.pipeline import Stage

            marks: list[tuple[str, float]] = []

            def mark(st):
                def fn(spark_, tables):
                    marks.append((st.name, _now_ms()))
                    return st.fn(spark_, tables)

                return Stage(st.name, fn, st.materialize)

            saved = pipe.stages
            pipe.stages = [mark(st) for st in saved]
            t0 = _now_ms()
            try:
                return run(pipe, spark, inputs)
            finally:
                t1 = _now_ms()
                pipe.stages = saved
                tracer.add("pipeline.run", t0, t1)
                ends = [t for _, t in marks[1:]] + [t1]
                for (name, start), end in zip(marks, ends):
                    tracer.add(f"pipeline.{name}", start, end)

        return traced_run

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


class EventLog:
    """Job, stage and task records from one uncompressed Spark event log."""

    def __init__(self, lines) -> None:
        jobs, stages, tasks = [], [], []
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stages.append(info["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append((
                    info["Launch Time"],
                    info["Finish Time"],
                    m.get("Executor Run Time", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                ))
        self.jobs = sorted(jobs)
        self.stages = sorted(stages)
        self.tasks = sorted(tasks)
        self._task_starts = [t[0] for t in self.tasks]

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    @staticmethod
    def _count(times: list, lo: float, hi: float) -> int:
        return bisect.bisect_right(times, hi) - bisect.bisect_left(times, lo)

    def window(self, lo: float, hi: float) -> dict[str, float]:
        """Counters for everything started in [lo, hi] (epoch ms)."""
        i, j = (
            bisect.bisect_left(self._task_starts, lo),
            bisect.bisect_right(self._task_starts, hi),
        )
        tasks = self.tasks[i:j]
        busy, cur_lo, cur_hi = 0.0, None, None
        for launch, finish, *_ in tasks:  # sorted by launch: merge intervals
            a, b = max(launch, lo), min(finish, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return {
            "s": (hi - lo) / 1000.0,
            "calls": 1,
            "jobs": self._count(self.jobs, lo, hi),
            "stages": self._count(self.stages, lo, hi),
            "tasks": len(tasks),
            "executor_run_s": sum(t[2] for t in tasks) / 1000.0,
            "idle_s": max(0.0, hi - lo - busy) / 1000.0,
            "shuffle_write_bytes": sum(t[3] for t in tasks),
            "spill_bytes": sum(t[4] for t in tasks),
            "output_bytes": sum(t[5] for t in tasks),
            "max_task_s": max((t[2] for t in tasks), default=0) / 1000.0,
        }


def attribute(spans, log: EventLog) -> dict[str, dict[str, float]]:
    """Per span name: counters summed over its calls (``max_task_s`` is
    the maximum)."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(UNITS, 0))
    for name, lo, hi in spans:
        w = log.window(lo, hi)
        acc = out[name]
        for k, v in w.items():
            acc[k] = max(acc[k], v) if k == "max_task_s" else acc[k] + v
    return out


def layer_metrics(
    per_span: dict[str, dict[str, float]], gauges: dict[str, float]
) -> dict[str, dict]:
    """The per-layer metric block: every declared metric, 0 for spans
    the workload never entered."""
    out = {}
    for span, counters in LAYERS.items():
        vals = per_span.get(span, {})
        for c in counters:
            out[f"{span}.{c}"] = {"value": vals.get(c, 0), "unit": UNITS[c]}
    for name, unit in GAUGES.items():
        out[name] = {"value": gauges.get(name, 0), "unit": unit}
    return out
