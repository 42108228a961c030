"""Collector producer (SURVEY §2.1 S1; reference collector/collector.go:
10-38, producer.go:25-76).

The reference schedules each registered collector on its own goroutine
at a 5 s default interval/timeout, pushing parsed metrics into the sink
chain. The Spark-native shape splits acquisition from computation:

- **acquisition (this module, driver/agent-side)**: snapshot the raw
  collector text (/proc files, command output) into the landing zone as
  JSON lines ``{source, captured_at, text}`` — tiny, local, no Spark;
- **computation (distributed)**: the landing stream fans each snapshot
  through its registered parser (`sources/collectors.py`) into metric
  rows — explode/filter built-ins running wherever Spark schedules them.

``snapshot_once`` is one collection tick (the Collect(ctx, sink) call);
interval scheduling belongs to whatever drives the agent loop
(``Trigger(processingTime='5 seconds')`` on the downstream stream gives
the reference's cadence).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yamon_spark.sources.collectors import COLLECTOR_PARSERS

# default file-backed collectors: name -> path to snapshot
PROC_SOURCES = {
    "cpu": "/proc/stat",
    "memory": "/proc/meminfo",
    "load": "/proc/loadavg",
    "uptime": "/proc/uptime",
    "disk_io": "/proc/diskstats",
    "net": "/proc/net/dev",
    "tcp": "/proc/net/netstat",
    "vmstat": "/proc/vmstat",
}


@dataclass
class Snapshot:
    source: str
    captured_at: float
    text: str


def collect_snapshots(sources: dict[str, str] | None = None) -> list[Snapshot]:
    """One collection tick: read each source file that exists (collectors
    silently no-op when their subsystem is absent — the reference's ZFS
    behavior, collector/zfs.go:48-52)."""
    out = []
    now = time.time()
    for name, path in (sources or PROC_SOURCES).items():
        try:
            with open(path, "r") as f:
                out.append(Snapshot(name, now, f.read()))
        except OSError:
            continue
    return out


def snapshot_once(landing_dir: str, sources: dict[str, str] | None = None) -> str | None:
    """Write one tick's snapshots as a JSON-lines file into the landing
    zone. Returns the path (None if nothing was collectable)."""
    snaps = collect_snapshots(sources)
    if not snaps:
        return None
    # the shared atomic-publish helper (dot-prefixed tmp + rename) is the
    # ONE place the landing contract lives; the returned file name embeds
    # the publish millis, which collectors._metric recovers as the metric
    # timestamp (snapshot time, not parse time)
    from yamon_spark.sources.exec_source import _publish

    return _publish(
        landing_dir,
        [json.dumps({"source": s.source, "captured_at": s.captured_at, "text": s.text}) for s in snaps],
        prefix="snap",
    )


def parse_snapshots(lines: DataFrame, col: str = "value") -> DataFrame:
    """Landing snapshots -> metric rows: route each snapshot to its
    collector parser and union. The per-source split/parse is all
    built-ins; the snapshot timestamp becomes the metric time."""
    snap = lines.select(
        F.get_json_object(F.col(col), "$.source").alias("source"),
        F.get_json_object(F.col(col), "$.text").alias("text"),
    )
    outs = []
    for name, parser in COLLECTOR_PARSERS.items():
        if name == "disk_usage":  # exec-backed, not in PROC_SOURCES defaults
            continue
        src = snap.where(F.col("source") == name).select(
            F.explode(F.split("text", "\n")).alias("value")
        )
        outs.append(parser(src))
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df.where(F.col("value").isNotNull())
