"""Measurement helpers that need no Spark: percentiles, the visible-latency
join over streaming checkpoints, memory and on-disk store statistics."""

from __future__ import annotations

import hashlib
import json
import math
import os
from statistics import median
from urllib.parse import unquote, urlparse

# Tail percentiles considered, highest first. A tail is reported only with
# at least TAIL_BEYOND samples above it, so it is not one or two outliers.
TAIL_LADDER = (99, 95, 90, 75, 50)
TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_pct(n: int) -> int | None:
    """Highest percentile of the ladder with at least ten of ``n`` samples
    beyond it (p90 needs 100 samples, p50 needs 20), or None."""
    for pct in TAIL_LADDER:
        if n - math.ceil(pct / 100 * n) >= TAIL_BEYOND:
            return pct
    return None


# --- visible latency from streaming checkpoints ---------------------------


def _log_entries(path: str) -> list[str]:
    """JSON lines of one Spark metadata-log file (first line is a version)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [ln for ln in lines[1:] if ln.strip()]


def commit_times(stream_checkpoint: str) -> dict[str, float]:
    """Landing-file basename -> wall time at which the batch that read it
    committed, for one file-source streaming query.

    The file source logs the files of batch ``b`` in ``sources/0/b`` (or a
    ``b.compact`` file that folds in earlier batches); the query writes
    ``commits/b`` once the batch's sink has finished. A file whose batch
    has no commit yet is absent from the result."""
    sources = os.path.join(stream_checkpoint, "sources", "0")
    commits = os.path.join(stream_checkpoint, "commits")
    if not os.path.isdir(sources) or not os.path.isdir(commits):
        return {}
    done = {}
    for name in os.listdir(commits):
        if name.isdigit():
            done[int(name)] = os.path.getmtime(os.path.join(commits, name))
    out: dict[str, float] = {}
    for name in os.listdir(sources):
        if name.startswith("."):
            continue
        for line in _log_entries(os.path.join(sources, name)):
            entry = json.loads(line)
            when = done.get(entry["batchId"])
            if when is not None:
                out[os.path.basename(unquote(urlparse(entry["path"]).path))] = when
    return out


def visible_latencies(
    acked: dict[str, float], files_by_sha: dict[str, str], checkpoints: list[str]
) -> tuple[list[float], int]:
    """Seconds from each body's 204 to the commit that made it queryable.

    ``acked`` maps a body's sha1 to its ack time, ``files_by_sha`` maps a
    sha1 to the landing file holding that body, and ``checkpoints`` are
    the streams that must all have committed the file (metrics, logs,
    events): the last of their commits counts. Returns the latencies of
    visible bodies and the number of bodies never made visible."""
    per_stream = [commit_times(c) for c in checkpoints]
    latencies, missing = [], 0
    for sha, ack in acked.items():
        name = files_by_sha.get(sha)
        times = [s.get(name) for s in per_stream] if name else [None]
        if any(t is None for t in times):
            missing += 1
        else:
            latencies.append(max(times) - ack)
    return latencies, missing


# --- process and store -----------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_seconds(pid: int | str = "self", tid: int | str | None = None) -> float:
    """User plus system CPU time a process (or one of its threads) has
    used so far, in seconds."""
    path = f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat"
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jit_threads(pid: int) -> list[str]:
    """Thread ids of a HotSpot JVM's JIT compiler threads ("C1 CompilerThre",
    "C2 CompilerThre"). They last as long as the JVM only when it runs with
    -XX:-UseDynamicNumberOfCompilerThreads."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(tid)
        except OSError:
            pass
    return out


def steal_ticks() -> tuple[int, int]:
    """(ticks the hypervisor ran something else on this machine's CPUs,
    all ticks) since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def store_stats(table_dir: str) -> dict[str, float]:
    """Data files, bytes and rows of one parquet table directory."""
    import pyarrow.parquet as pq

    files = rows = size = 0
    for root, _dirs, names in os.walk(table_dir):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                files += 1
                size += os.path.getsize(path)
                rows += pq.ParquetFile(path).metadata.num_rows
    return {"files": files, "bytes": size, "rows": rows}


def dir_bytes(path: str) -> int:
    """Bytes of the visible files under ``path``."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if not n.startswith("."))
    return total


def landed_files(landing_dir: str, skip: set[str] = frozenset()) -> dict[str, str]:
    """sha1 of each landed file's bytes -> its basename, for the files not
    named in ``skip``."""
    out = {}
    for name in os.listdir(landing_dir):
        if not name.startswith(".") and name not in skip:
            with open(os.path.join(landing_dir, name), "rb") as f:
                out[hashlib.sha1(f.read()).hexdigest()] = name
    return out


def stream_summary(progress: list[dict], since: float, until: float) -> dict[str, float]:
    """Per-stream numbers from StreamingQueryProgress records (as dicts)
    of the non-empty batches that started in [since, until] (epoch s).

    ``listing_ms`` is latestOffset + getBatch (finding and planning the
    new files), ``commit_ms`` is walCommit + commitOffsets (the offset and
    commit log writes); both are medians over batches, as are
    ``batch_ms_p50`` (triggerExecution) and ``add_batch_ms`` (the sink).
    ``busy_share`` is the summed batch time over [since, until]."""
    batches = [
        p for p in progress
        if p.get("numInputRows", 0) > 0 and since <= _epoch(p["timestamp"]) <= until
    ]
    if not batches:
        return {"batches": 0, "batch_ms_p50": 0.0, "add_batch_ms": 0.0, "listing_ms": 0.0, "commit_ms": 0.0, "busy_share": 0.0}
    d = [p["durationMs"] for p in batches]
    return {
        "batches": len(batches),
        "batch_ms_p50": median([x.get("triggerExecution", 0) for x in d]),
        "add_batch_ms": median([x.get("addBatch", 0) for x in d]),
        "listing_ms": median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
        "commit_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        "busy_share": sum(x.get("triggerExecution", 0) for x in d) / 1000 / max(until - since, 1e-9),
    }


def _epoch(iso: str) -> float:
    """Spark progress timestamps: '2024-01-01T00:00:00.000Z'."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
