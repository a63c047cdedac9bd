"""Tracing for the benchmark's traced run, measured from outside the program.

* ``Tracer`` keeps spans in memory -- name, start, end, parent, run id --
  around calls into the pipeline's public functions. While a span is open
  its name is the Spark job group, so the event log attributes every task
  to the innermost span that launched it.
* ``patched`` wraps ``pipeline.build``, ``pipeline.metrics_frame`` and
  ``SinkCatalog.write`` for the duration of a ``with`` block; the program
  itself is not modified.
* ``EventLog`` reads a finished Spark event log into per-job-group task
  records.
* ``capture_queries`` records the StreamingQuery objects a call starts, so
  their progress reports (the StreamingQueryListener payload) can be read
  after the query ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming.readwriter import DataStreamWriter

from transcriptpipe import pipeline
from transcriptpipe.sinks import SinkCatalog


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, self.run_id, parent.name if parent else None, time.perf_counter())
        self._open.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", self.group(name))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self.group(parent.name) if parent else None)
            self.spans.append(s)

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        vals = self.seconds(name)
        return statistics.median(vals) if vals else 0.0


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Open a span around every pipeline.build, metrics_frame and
    SinkCatalog.write call made inside the block."""
    build, metrics_frame, write = pipeline.build, pipeline.metrics_frame, SinkCatalog.write

    def traced_build(*a, **k):
        with tracer.span("build"):
            return build(*a, **k)

    def traced_metrics_frame(*a, **k):
        with tracer.span("metrics_frame"):
            return metrics_frame(*a, **k)

    def traced_write(self, df, table, *a, **k):
        with tracer.span(f"sink.{table}"):
            return write(self, df, table, *a, **k)

    pipeline.build, pipeline.metrics_frame = traced_build, traced_metrics_frame
    SinkCatalog.write = traced_write
    try:
        yield
    finally:
        pipeline.build, pipeline.metrics_frame = build, metrics_frame
        SinkCatalog.write = write


@contextlib.contextmanager
def capture_queries(into: list):
    start = DataStreamWriter.start

    def recording_start(self, *a, **k):
        q = start(self, *a, **k)
        into.append(q)
        return q

    DataStreamWriter.start = recording_start
    try:
        yield
    finally:
        DataStreamWriter.start = start


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def gc_seconds(spark) -> float:
    """Cumulative collection time of the session JVM's collectors (local mode:
    one JVM runs every task, so per-task GC times would count a pause once
    per concurrent task)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


@dataclass
class Task:
    stage: int
    seconds: float
    spilled: int
    shuffle_written: int
    shuffle_records: int
    shuffle_read: int
    fetch_wait_s: float


@dataclass
class EventLog:
    tasks_by_group: dict = field(default_factory=dict)
    failed_tasks: int = 0

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = glob.glob(os.path.join(log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        stage_group: dict[int, str | None] = {}
        log = cls()
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    log.failed_tasks += ev["Task End Reason"]["Reason"] != "Success"
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    task = Task(
                        stage=ev["Stage ID"],
                        seconds=(info["Finish Time"] - info["Launch Time"]) / 1e3,
                        spilled=m.get("Disk Bytes Spilled", 0),
                        shuffle_written=sw.get("Shuffle Bytes Written", 0),
                        shuffle_records=sw.get("Shuffle Records Written", 0),
                        shuffle_read=(sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0)),
                        fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
                    )
                    group = stage_group.get(task.stage)
                    log.tasks_by_group.setdefault(group, []).append(task)
        return log

    def tasks(self, group: str) -> list[Task]:
        return self.tasks_by_group.get(group, [])


def self_times(cumulative: dict[str, float], order: list[str]) -> dict[str, float]:
    """Self time of each prefix: its cumulative time minus the previous one."""
    out, prev = {}, 0.0
    for name in order:
        out[name] = cumulative[name] - prev
        prev = cumulative[name]
    return out
