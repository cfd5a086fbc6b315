"""Spans around layer calls, and Spark's event log joined to them.

A traced run records one span per call into a layer: name, start, end,
parent span and run id. Each span also sets the Spark job group to its
name, so the event log tags the jobs it started. Spans stay in memory and
are written out when the run ends.

After the session stops, ``EventLog`` reads the uncompressed event log and
attributes every job to a span: the span named by the job's group when one
is open at submission, else the innermost span open at that moment (the
pipeline's own worker threads submit jobs without the group). Task-end
metrics and SQL-node accumulators then sum per span.

Each SQL metric is converted by the unit its plan node declares
(``metricType``): ``nsTiming`` is nanoseconds and ``timing`` milliseconds.
Summing both as milliseconds is how whole-stage-codegen durations come out
a million times too large.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while ``recording`` is set; otherwise does nothing,
    so the untraced run pays no tracing cost."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.name, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """span name → (count, total s, self s); self time is the span's
        duration minus the part of it its child spans cover."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list] = {}
        for s in self.spans:
            d = s.end - s.start
            row = out.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += d
            row[2] += d - child[s.id]
        return {k: tuple(v) for k, v in out.items()}


# ------------------------------------------------------------- event log

#: SQL metric name → layer metric, for the Python crossing of every Arrow
#: node (MapInPandas, FlatMapGroupsInPandas, ArrowEvalPython, …)
PY_METRICS = {
    "time to start Python workers": "pycross.boot_ms",
    "time to initialize Python workers": "pycross.init_ms",
    "time to run Python workers": "pycross.run_ms",
    "data sent to Python workers": "pycross.bytes_sent",
    "data returned from Python workers": "pycross.bytes_received",
}
#: scan-node SQL metrics
SCAN_METRICS = {
    "size of files read": "sources.scan_bytes",
    "number of files read": "sources.files_read",
    "scan time": "sources.scan_ms",
}
#: write-command SQL metrics
WRITE_METRICS = {
    "number of written files": "write.files",
    "written output": "write.bytes",
}
SQL_METRICS = {**PY_METRICS, **SCAN_METRICS, **WRITE_METRICS}


def _to_layer_unit(value: float, metric_type: str) -> float:
    """Timings to milliseconds by their declared unit; others unchanged."""
    if metric_type == "nsTiming":
        return value / 1e6
    return value


class EventLog:
    """Per-span sums of task and SQL metrics from one event-log file."""

    def __init__(self, path: Path, spans: list[Span]) -> None:
        self.spans = spans
        self.per_span: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._parse(path)

    def _span_at(self, t_ms: float, group: str | None) -> int | None:
        """The innermost span open at ``t_ms``, preferring one named
        ``group``."""
        t = t_ms / 1000.0
        open_ = [s for s in self.spans if s.start <= t <= s.end]
        pick = [s for s in open_ if s.name == group] or open_
        return max(pick, key=lambda s: s.start).id if pick else None

    def _parse(self, path: Path) -> None:
        accum: dict[int, tuple[str, str]] = {}  # id → (layer metric, type)
        stage_span: dict[int, int | None] = {}
        exec_span: dict[int, int | None] = {}

        def plan_metrics(info: dict) -> None:
            for m in info.get("metrics", []):
                name = SQL_METRICS.get(m["name"])
                if name is not None:
                    accum[m["accumulatorId"]] = (name, m["metricType"])
            for c in info.get("children", []):
                plan_metrics(c)

        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(ev["sparkPlanInfo"])
                    if kind == "SparkListenerSQLExecutionStart":
                        exec_span[ev["executionId"]] = self._span_at(ev["time"], None)
                elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev["sqlPlanMetrics"]:
                        name = SQL_METRICS.get(m["name"])
                        if name is not None:
                            accum[m["accumulatorId"]] = (name, m["metricType"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    sid = exec_span.get(ev["executionId"])
                    if sid is None:
                        continue
                    for aid, val in ev["accumUpdates"]:
                        if aid in accum:
                            name, mtype = accum[aid]
                            self.per_span[sid][name] += _to_layer_unit(float(val), mtype)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = self._span_at(ev["Submission Time"],
                                        props.get("spark.jobGroup.id"))
                    if sid is not None:
                        self.per_span[sid]["driver.jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    self._task_end(self.per_span[sid], ev, accum)

    @staticmethod
    def _task_end(out: dict[str, float], ev: dict, accum: dict) -> None:
        out["driver.tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        out["exec.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6  # ns
        out["exec.run_ms"] += tm.get("Executor Run Time", 0)  # ms
        out["exec.gc_ms"] += tm.get("JVM GC Time", 0)  # ms
        out["exec.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        out["exec.peak_mem_mb"] = max(out["exec.peak_mem_mb"],
                                      tm.get("Peak Execution Memory", 0) / 2**20)
        sw = tm.get("Shuffle Write Metrics") or {}
        out["shuffle.bytes_written"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle.write_ms"] += sw.get("Shuffle Write Time", 0) / 1e6  # ns
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)  # ms
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = accum.get(a.get("ID"))
            if hit is not None and "Update" in a:
                name, mtype = hit
                out[name] += _to_layer_unit(float(a["Update"]), mtype)

    def total(self, span_ids=None) -> dict[str, float]:
        """Sum (max for peaks) over the given spans, or over all spans."""
        out: dict[str, float] = defaultdict(float)
        for sid, m in self.per_span.items():
            if span_ids is not None and sid not in span_ids:
                continue
            for k, v in m.items():
                out[k] = max(out[k], v) if k.endswith("peak_mem_mb") else out[k] + v
        return out


def find_event_log(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]
