"""Seeded agent-shaped load: body synthesis and the load-generator process.

A body is one ``POST /v1/submit-batch`` payload shaped like an agent
flush: gauge and counter samples for every (host, name) series it
covers, plus logs and events. Bodies depend only on the seed and the
shape arguments, never on the clock, so the same seed gives the same
inputs.

The generator runs as its own process (one thread, one connection at a
time) so that the system under test shares no interpreter with its load:

    python3 perfbench/gen.py --port P --seed N --count K --mode closed
    python3 perfbench/gen.py --port P --seed N --count K --mode open --rate 2

All bodies are encoded before the first send. In ``open`` mode the
process prints ``READY``, reads the schedule's start time (epoch seconds)
from stdin, and sends body ``i`` when it is due at ``start + i / rate``,
whether or not earlier sends were slow. It ends by printing one JSON line
with a record per body: due, sent and acked times, status, size, sha1
and row counts.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import random
import subprocess
import sys
import time
from dataclasses import asdict, dataclass

SERVICES = ("nginx", "api", "db", "cache", "worker")
LEVELS = ("info", "info", "info", "warn", "error")
EVENT_TYPES = ("deploy", "restart", "alert", "config")
WORDS = ("timeout", "request", "served", "upstream", "cache", "miss", "hit", "slow", "query", "retry", "user", "login", "disk", "queue")
DCS = ("dc1", "dc2", "dc3")
ROLES = ("web", "db", "batch")


@dataclass(frozen=True)
class Shape:
    """What every body of a workload looks like."""

    hosts: int = 10
    names: int = 200
    metrics: int = 2000  # samples per body; a subset of hosts x names when fewer
    logs: int = 100
    events: int = 10
    start: float = 1_704_067_200.0  # 2024-01-01T00:00:00Z
    span_s: float = 600.0  # event time covered by the whole sequence of bodies


def series_tags(host: int) -> dict[str, str]:
    """The three tag keys every metric of a host carries."""
    return {"dc": DCS[host % len(DCS)], "role": ROLES[(host // 3) % len(ROLES)], "env": "prod"}


def metric_type(name: int) -> str:
    """Even names are gauges, odd names counters."""
    return "gauge" if name % 2 == 0 else "counter"


def _rfc3339(ts: float) -> str:
    ms = int(round(ts * 1000))
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}Z"


def make_body(seed: int, index: int, count: int, shape: Shape) -> dict:
    """Body ``index`` of ``count``: all samples carry the body's event
    time, spread evenly over ``shape.span_s`` across the sequence."""
    rng = random.Random(seed * 1_000_003 + index)
    when = shape.start + shape.span_s * index / max(count, 1)
    t = _rfc3339(when)
    series = [(h, n) for h in range(shape.hosts) for n in range(shape.names)]
    if shape.metrics < len(series):
        series = rng.sample(series, shape.metrics)
    metrics = []
    for h, n in series:
        mtype = metric_type(n)
        # counters are whole numbers so that sums are exact in any order
        v = float(index * 100 + rng.randrange(100)) if mtype == "counter" else round(rng.uniform(0, 100), 2)
        metrics.append({"t": t, "m": mtype, "h": f"host{h:03d}", "n": f"metric.{n:03d}", "v": v, "g": series_tags(h)})
    logs = [
        {
            "t": t,
            "h": f"host{rng.randrange(shape.hosts):03d}",
            "s": rng.choice(SERVICES),
            "l": rng.choice(LEVELS),
            "d": " ".join(rng.choice(WORDS) for _ in range(8)),
            "g": {"env": "prod"},
        }
        for _ in range(shape.logs)
    ]
    events = [
        {
            "t": t,
            "h": f"host{rng.randrange(shape.hosts):03d}",
            "e": rng.choice(EVENT_TYPES),
            "d": json.dumps({"v": rng.randrange(1000)}),
            "g": {"env": "prod"},
        }
        for _ in range(shape.events)
    ]
    return {"m": metrics, "l": logs, "e": events}


def encode(body: dict) -> bytes:
    """One JSON line, exactly as it will be sent (and landed)."""
    return json.dumps(body, separators=(",", ":")).encode()


def minute_rollups(bodies: list[dict]) -> tuple[dict, set]:
    """Reference 1-minute rollups of the bodies' metrics: counter sums per
    (minute, host, name, tags) and the set of gauge keys, computed in plain
    Python with no Spark and no storage layout."""
    counters: dict[tuple, float] = {}
    gauges: set[tuple] = set()
    for body in bodies:
        for m in body["m"]:
            key = (minute_of(m["t"]), m["h"], m["n"], tuple(sorted(m["g"].items())))
            if m["m"] == "counter":
                counters[key] = counters.get(key, 0.0) + m["v"]
            else:
                gauges.add(key)
    return counters, gauges


def epoch_ms(t: str) -> int:
    """Milliseconds since the epoch of a body timestamp."""
    import calendar

    return calendar.timegm(time.strptime(t[:19], "%Y-%m-%dT%H:%M:%S")) * 1000 + int(t[20:23])


def minute_of(t: str) -> int:
    """Start of the minute of a body timestamp, in epoch seconds."""
    return epoch_ms(t) // 60_000 * 60


def _post(conn: http.client.HTTPConnection, payload: bytes) -> int:
    conn.request("POST", "/v1/submit-batch", body=payload, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    resp.read()
    return resp.status


def send_all(port: int, payloads: list[bytes], due: list[float] | None) -> list[dict]:
    """Send each payload over one keep-alive connection, in order. With
    ``due`` times, wait for each one (open loop); without, send back to
    back (closed loop). A connection that breaks is reopened; a send that
    fails is recorded with status 0."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    records = []
    try:
        for i, payload in enumerate(payloads):
            if due is not None:
                delay = due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
            sent = time.time()
            try:
                status = _post(conn, payload)
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
                status = 0
            records.append({"due": due[i] if due is not None else sent, "sent": sent, "acked": time.time(), "status": status})
    finally:
        conn.close()
    return records


class Generator:
    """Parent side: the generator process for ``count`` bodies starting at
    ``first`` of a seeded sequence of ``total``. Closed loop unless a
    ``rate`` is given; then call :meth:`start` once it is ready."""

    def __init__(self, port: int, seed: int, count: int, shape: Shape, first: int = 0, total: int = 0, rate: float | None = None):
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--port", str(port), "--seed", str(seed), "--count", str(count),
            "--first", str(first), "--total", str(total or first + count),
            "--shape", json.dumps(asdict(shape)),
        ]
        cmd += ["--mode", "open", "--rate", str(rate)] if rate else ["--mode", "closed"]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        if rate and self.proc.stdout.readline().strip() != "READY":
            self.result()  # raises with the generator's exit status

    def start(self, at: float) -> None:
        """Fix the open-loop schedule: body i is due at ``at + i / rate``."""
        self.proc.stdin.write(f"{at!r}\n")
        self.proc.stdin.flush()

    def result(self, timeout: float = 120) -> list[dict]:
        """Wait for the generator and return its per-body records."""
        try:
            out, _ = self.proc.communicate(timeout=timeout)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        if self.proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {self.proc.returncode}")
        return json.loads(out.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--first", type=int, default=0, help="index of the first body in the seeded sequence")
    ap.add_argument("--total", type=int, default=0, help="length of the whole sequence (sets event-time spacing)")
    ap.add_argument("--mode", choices=("open", "closed"), required=True)
    ap.add_argument("--rate", type=float, default=2.0, help="bodies per second (open loop)")
    ap.add_argument("--shape", default="{}", help="JSON object of Shape fields")
    args = ap.parse_args(argv)

    shape = Shape(**json.loads(args.shape))
    total = args.total or args.first + args.count
    bodies = [make_body(args.seed, args.first + i, total, shape) for i in range(args.count)]
    payloads = [encode(b) for b in bodies]
    due = None
    if args.mode == "open":
        print("READY", flush=True)
        start = float(sys.stdin.readline())
        due = [start + i / args.rate for i in range(args.count)]
    records = send_all(args.port, payloads, due)
    for rec, body, payload in zip(records, bodies, payloads):
        rec.update(
            bytes=len(payload),
            sha1=hashlib.sha1(payload + b"\n").hexdigest(),
            rows={"metrics": len(body["m"]), "logs": len(body["l"]), "events": len(body["e"])},
        )
    print(json.dumps(records), flush=True)


if __name__ == "__main__":
    main()

