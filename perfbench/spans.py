"""Spans around calls into the program's layers, for the traced run.

A span records name, start, end, parent and run id. Spans that wrap a
Spark build or action put the Spark jobs they launch in a job group named
after the span, then count those jobs through the status tracker. Spans
stay in memory until :meth:`Tracer.write`. The untraced runs use
:class:`NoTracer`, whose spans record nothing and touch no Spark state.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class NoTracer:
    """Tracing off: spans are free and nothing is recorded."""

    enabled = False

    @contextmanager
    def span(self, name: str, parent: str | None = None, jobs: bool = False):
        yield None


class Tracer:
    """Tracing on: spans are kept in memory and written out at the end."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None  # set once a SparkContext exists; needed by job spans
        self._ids = itertools.count(1)
        # seconds spent on tracing's own Spark calls inside spans, i.e. the
        # cost tracing adds to the operations it wraps
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, parent: str | None = None, jobs: bool = False):
        sid = f"{self.run_id}-{next(self._ids)}"
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id}
        if jobs:
            c0 = time.perf_counter()
            self.sc.setJobGroup(sid, name, interruptOnCancel=False)
            self.cost_s += time.perf_counter() - c0
        rec["start"] = time.time()
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if jobs:
                c0 = time.perf_counter()
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(sid))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.cost_s += time.perf_counter() - c0
            self.spans.append(rec)

    def add(self, spans: list[dict]) -> None:
        """Adopt spans recorded elsewhere (the generator process)."""
        self.spans.extend(spans)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        """One JSON object per span, with its self time: its duration less
        the part of it that its children's spans cover."""
        for s in self.spans:
            s["self_s"] = self_time(s, [c for c in self.spans if c.get("parent") == s["id"]])
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Duration of ``span`` minus the union of its children's intervals."""
    covered, edge = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], edge), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            edge = hi
    return span["end"] - span["start"] - covered


def exec_totals(event_log: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Executor-side totals of the Spark jobs submitted in the timed
    windows [since, until] (epoch seconds), read from an uncompressed event
    log: task run time, GC time, shuffle bytes written and bytes spilled."""
    stages: set[int] = set()
    tasks = []
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                at = ev.get("Submission Time", 0) / 1000
                if any(since <= at <= until for since, until in windows):
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out = {"task_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    for stage, m in tasks:
        if stage in stages:
            out["task_ms"] += m.get("Executor Run Time", 0)
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def run_query(tracer, name: str, build) -> tuple[float, float]:
    """Build a DataFrame and run it to Spark's noop sink, each inside its
    own span under one span for the query; returns (build seconds, action
    seconds)."""
    with tracer.span(name) as qid:
        t0 = time.perf_counter()
        with tracer.span(f"{name}.build", parent=qid, jobs=True):
            df = build()
        t1 = time.perf_counter()
        with tracer.span(f"{name}.exec", parent=qid, jobs=True):
            df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1


def query_spans(tracer, name: str) -> dict[str, float]:
    """Medians over the traced runs of query ``name``: build and action
    seconds, and the Spark jobs each launched."""
    import statistics

    out = {}
    for part in ("build", "exec"):
        spans = tracer.named(f"{name}.{part}")
        out[f"{part}_s"] = statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0
        out[f"{part}_jobs"] = statistics.median(s["jobs"] for s in spans) if spans else 0
    return out


def progress_log(spark):
    """Register a listener that keeps every streaming progress record, per
    query in start order; returns the list of per-query record lists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Log(StreamingQueryListener):
        def __init__(self):
            self.order: list[str] = []
            self.records: dict[str, list[dict]] = {}

        def onQueryStarted(self, event):
            self.order.append(str(event.id))
            self.records[str(event.id)] = []

        def onQueryProgress(self, event):
            self.records.setdefault(str(event.progress.id), []).append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def by_start(self) -> list[list[dict]]:
            return [self.records[i] for i in self.order]

    log = Log()
    spark.streams.addListener(log)
    return log
