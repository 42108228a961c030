"""serve_live: engine.serve under an open-loop agent load.

The only workload that runs the HTTP receiver, landing-zone renames,
file-source listing and trigger cadence. It measures latency at a rate
the pipeline sustains (2 agent-shaped bodies per second under the default
5 s trigger); no operator runs.

Set-up builds the session the way ``python -m yamon_spark serve`` does
(no ``data_dir``, so the AQE wide start is 512), lands warm-up bodies,
starts ``engine.serve`` on fresh directories and waits until all three
streams have committed the warm-up: the first batches of a fresh JVM are
several times slower than warm ones. Then the generator serves
LIVE_WARM_S seconds of load, untimed, at the full rate: the JVM is still
compiling hot code then, and the CPU time per body falls by half over
the first half minute of serving.

The schedule starts a fixed phase after a trigger (the processing-time
trigger fires at multiples of its interval since the epoch) and the
timed window a whole number of triggers later, so the bodies' waits for
the next trigger and their split into micro-batches are the same in
every run, and the run-to-run spread is the pipeline's own.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import urllib.request
from datetime import timezone

from gen import Generator, Shape, encode, make_body, minute_rollups
from measure import dir_bytes, landed_files, median, store_stats, stream_summary, visible_latencies
from metrics import STREAMS
from spans import progress_log

RATE = 2.0  # bodies per second
TRIGGER_S = 5.0  # engine.serve's default processing-time trigger
PHASE_S = 0.25  # the schedule starts this long after a trigger
WARM_BODIES = 4
LIVE_WARM_S = 10.0  # untimed serving at the full rate before the timed window
DRAIN_S = 30.0  # how long bodies may take to become visible after the window
SHAPE = Shape(hosts=10, names=200, metrics=2000, logs=100, events=10)


def run(ctx) -> dict:
    from yamon_spark.engine import serve
    from yamon_spark.sources.http_server import SUBMIT_BATCH_DIR

    tr = ctx.tracer
    spark = ctx.session("yamon-serve")
    data, landing, ckpt = ctx.path("data"), ctx.path("landing"), ctx.path("checkpoints")
    submit_dir = os.path.join(landing, SUBMIT_BATCH_DIR)
    checkpoints = [os.path.join(ckpt, s) for s in STREAMS]
    n_live_warm = int(RATE * LIVE_WARM_S)
    n = int(RATE * ctx.seconds)
    total = WARM_BODIES + n_live_warm + n
    shape = Shape(**{**SHAPE.__dict__, "span_s": total / RATE})
    # warm-up bodies land before the streams start, so their first batch
    # (the slow one of a fresh JVM) runs at once, not at the next trigger
    warm = [_land(submit_dir, encode(make_body(ctx.seed, i, total, shape))) for i in range(WARM_BODIES)]
    progress = progress_log(spark) if ctx.traced else None
    with tr.span("engine.serve"):
        receiver, queries, _engine = serve(spark, data_dir=data, landing_dir=landing, checkpoint_dir=ckpt)
    try:
        gen = Generator(receiver.port, ctx.seed, n_live_warm + n, shape, first=WARM_BODIES, total=total, rate=RATE)
        # the live warm-up bodies as the generator will send them, so that
        # their commits can be awaited before the generator reports
        live_warm_bodies = [
            {"sha1": hashlib.sha1(encode(make_body(ctx.seed, WARM_BODIES + i, total, shape)) + b"\n").hexdigest(), "status": 204, "acked": 0.0}
            for i in range(n_live_warm)
        ]
        _wait_visible(warm, submit_dir, checkpoints, time.time() + 60)
        setup_s = ctx.setup_done()
        # the live warm-up runs the schedule at full rate; the timed bodies
        # follow it, a whole number of triggers later
        live = (time.time() // TRIGGER_S + 1) * TRIGGER_S + PHASE_S
        gen.start(live)
        start = live + LIVE_WARM_S
        time.sleep(max(0.0, start - time.time()))
        # CPU time counts from the commit of the last warm-up body, so that
        # the batches it covers hold timed bodies only
        _wait_visible(live_warm_bodies, submit_dir, checkpoints, start + DRAIN_S)
        cpu0, jit0 = ctx.cpu()
        records = gen.result(timeout=LIVE_WARM_S + ctx.seconds + 60)
        live_warm, timed = records[:n_live_warm], records[n_live_warm:]
        if any(r["status"] != 204 for r in live_warm):
            raise RuntimeError("a warm-up body was not accepted")
        end = start + n / RATE
        lat, missing = _wait_visible(timed, submit_dir, checkpoints, end + DRAIN_S)
        cpu1, jit1 = ctx.cpu()
        window = (start, time.time())
        layer = {}
        if ctx.traced:
            tr.add(
                [
                    {"id": f"{tr.run_id}-post{i}", "name": "gen.post", "parent": None, "run": tr.run_id, "start": r["sent"], "end": r["acked"]}
                    for i, r in enumerate(timed)
                ]
            )
            layer.update(_receiver_numbers(receiver.port, submit_dir))
            # serve starts the submit-batch streams first: metrics, logs, events
            for name, recs in zip(STREAMS, progress.by_start()):
                for k, v in stream_summary(recs, *window).items():
                    layer[f"stream.{name}.{k}"] = v
    finally:
        for q in queries:
            q.stop()
        receiver.stop()

    acks = [r for r in timed if r["status"] == 204]
    failed = (n - len(acks)) + missing
    layer["gen.late_ms_max"] = max(r["sent"] - r["due"] for r in records) * 1000
    layer["receiver.ack_p50_ms"] = median([(r["acked"] - r["due"]) * 1000 for r in acks]) if acks else 0.0
    layer["jvm.jit_ms"] = (jit1 - jit0) * 1000 / n
    acked = [i for i, r in enumerate(warm + records) if r["status"] == 204]
    ok = _check(data, [make_body(ctx.seed, i, total, shape) for i in acked])
    e2e = {
        "setup_s": setup_s,
        "work_ms": (cpu1 - cpu0) * 1000 / n,
        "disk_kb": store_stats(data)["bytes"] / 1000 / len(acked),
    }
    return {
        "correct": ok and failed == 0,
        "attempted": n,
        "failed": failed if ok else n,
        "e2e": e2e,
        "layer": layer,
        "windows": [window],
        "lat_ms": [x * 1000 for x in lat],
        "traced_op_s": sum(lat),
    }


def _land(landing_dir: str, payload: bytes) -> dict:
    """Write one body into the landing zone as the receiver would (hidden
    temporary name, then rename); returns its record as if acked now."""
    os.makedirs(landing_dir, exist_ok=True)
    sha = hashlib.sha1(payload + b"\n").hexdigest()
    tmp = os.path.join(landing_dir, f".warm-{sha}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload + b"\n")
    os.rename(tmp, os.path.join(landing_dir, f"warm-{sha}.jsonl"))
    return {"sha1": sha, "status": 204, "acked": time.time()}


def _wait_visible(records: list[dict], submit_dir: str, checkpoints: list[str], deadline: float):
    """Poll the checkpoints (never the tables) until every acked body is
    committed by all streams, or the deadline passes."""
    acked = {r["sha1"]: r["acked"] for r in records if r["status"] == 204}
    landed: dict[str, str] = {}
    while True:
        landed.update(landed_files(submit_dir, skip=set(landed.values())))
        lat, missing = visible_latencies(acked, landed, checkpoints)
        if missing == 0 or time.time() > deadline:
            return lat, missing
        time.sleep(0.2)


def _receiver_numbers(port: int, submit_dir: str) -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as resp:
        text = resp.read().decode()
    bodies = sum(
        float(line.rsplit(" ", 1)[1])
        for line in text.splitlines()
        if line.startswith('yamon_http_requests_total{endpoint="/v1/submit-batch",status="204"}')
    )
    return {"receiver.bodies_204": bodies, "receiver.bytes_landed": dir_bytes(submit_dir)}


def _check(data: str, bodies: list[dict]) -> bool:
    """Detail row counts equal the rows of the acked bodies; the counter
    rollup, after summing block partials per key, equals the counter sums
    of the bodies; the gauge rollup covers the same keys (block gauge
    averages cannot be merged)."""
    import pyarrow.parquet as pq

    for t, key in zip(STREAMS, "mle"):
        want = sum(len(b[key]) for b in bodies)
        got = store_stats(os.path.join(data, t))["rows"]
        if got != want:
            print(f"check: {t} has {got} rows, acked bodies hold {want}", file=sys.stderr)
            return False
    want_c, want_g = minute_rollups(bodies)
    got_c: dict[tuple, float] = {}
    for r in pq.read_table(os.path.join(data, "metrics_counter_lts")).to_pylist():
        key = _lts_key(r)
        got_c[key] = got_c.get(key, 0.0) + r["value"]
    got_g = {_lts_key(r) for r in pq.read_table(os.path.join(data, "metrics_gauge_lts")).to_pylist()}
    for name, got, want in (("counter rollup", got_c, want_c), ("gauge rollup keys", got_g, want_g)):
        if got != want:
            print(f"check: {name} differs from the bodies' rollup", file=sys.stderr)
            return False
    return True


def _lts_key(row: dict) -> tuple:
    return (int(row["when"].replace(tzinfo=timezone.utc).timestamp()), row["host"], row["name"], tuple(sorted(row["tags"])))
