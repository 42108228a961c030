"""backfill_query: drain a landed backlog, then query it and the declared basket.

The only workload where the pipeline runs saturated, so it measures
throughput instead of trigger cadence; it then reads back the layout it
just wrote, so a layout change that trades write cost for read speed
shows in both of its numbers. Its query mix also runs a basket of
declared registry queries, one per operator family, over seeded tables
the pipeline did not write: the only place ``operators/`` run, exposing
Python-side build time, the per-job floor and jobs launched inside a build.

Set-up posts a seeded backlog of agent-shaped bodies (50 hosts, 100
names, spanning 3.5 days so that date pruning matters) through
IngestHTTPServer into an empty landing dir while the session starts
(built the way bench.py builds it, sized from the declared tables). The
timed part first drains the backlog with run_pipeline_once
(Trigger.AvailableNow, block rollups) in the fresh JVM, as a one-off
backfill runs; its cost is the CPU time it takes, JIT compilation
included, which unlike its wall time leaves out the time the hypervisor
gives to other guests.
Then the output checks run untimed; they run every query once. Then one
closed-loop client makes rounds over the query mix -- the six Engine
templates with seeded parameters, then the declared basket, each built
and run to the noop sink -- making at least two rounds and then as
many whole rounds as fit in the run's time.
"""

from __future__ import annotations

import os
import random
import sys
import time

from gen import DCS, WORDS, Generator, Shape, epoch_ms, make_body
from measure import median, store_stats, stream_summary
from metrics import DECLARED, ENGINE_TEMPLATES, STORE_TABLES, STREAMS
from spans import progress_log, query_spans, run_query
from tables import write_tables

BODIES = 40
DAY = 86_400.0
SHAPE = Shape(hosts=50, names=100, metrics=2000, logs=100, events=10, span_s=3.5 * DAY)
DETAIL = ("when", "type", "host", "name", "value")
TABLES_SCALE = 0.01  # declared tables; ~60k lineitem rows
MIN_ROUNDS = 2  # timed rounds of the query mix, at the least


def params(rng: random.Random) -> dict:
    """Seeded parameters of one round of the six templates."""
    day = SHAPE.start + DAY * rng.randrange(3)
    return {
        "gauge": f"metric.{2 * rng.randrange(SHAPE.names // 2):03d}",
        "counter": f"metric.{2 * rng.randrange(SHAPE.names // 2) + 1:03d}",
        "host": f"host{rng.randrange(SHAPE.hosts):03d}",
        "dc": rng.choice(DCS),
        "day": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(day)),
        "day_end": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(day + DAY)),
        "end_3d": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(SHAPE.start + 3 * DAY)),
        "word": rng.choice(WORDS),
    }


def template(engine, kind: str, p: dict):
    """One Engine query template with parameters ``p``."""
    from pyspark.sql import functions as F

    from yamon_spark.engine import Engine

    if kind == "series":
        return engine.series(name=p["gauge"], host=p["host"], start=p["day"], end=p["day_end"]).select(*DETAIL)
    if kind == "tag_filter":
        return Engine.tag_filter(engine.table("metrics").where(F.col("name") == p["counter"]), "dc", p["dc"]).select(*DETAIL)
    if kind == "rate":
        src = engine.table("metrics")
        src = src.where((F.col("type") == "counter") & (F.col("name") == p["counter"]) & (F.col("when") < p["end_3d"]))
        return Engine.rate(src).select("when", "host", "name", "rate")
    if kind == "rollup_5m":
        return engine.rollup("gauge", 300).where(F.col("name") == p["gauge"]).select("when", "host", "name", "value")
    if kind == "lts_sql":
        return engine.sql(
            f"SELECT host, count(DISTINCT when) AS minutes FROM metrics_gauge_lts WHERE name = '{p['gauge']}' GROUP BY host"
        )
    if kind == "log_search":
        return engine.table("logs").where(F.col("data").contains(p["word"])).groupBy("service").count()
    raise ValueError(kind)


def run(ctx) -> dict:
    from yamon_spark.engine import Engine
    from yamon_spark.queries import all_queries
    from yamon_spark.sources.http_server import SUBMIT_BATCH_DIR, IngestHTTPServer
    from yamon_spark.streaming.pipeline import PipelineConfig, run_pipeline_once

    tr = ctx.tracer
    sf = ctx.path("sf")
    write_tables(sf, ctx.seed, TABLES_SCALE)
    # the backlog is posted while the session starts
    receiver = IngestHTTPServer(ctx.path("landing")).start()
    try:
        gen = Generator(receiver.port, ctx.seed, BODIES, SHAPE)
        spark = ctx.session("yamon-bench", data_dir=sf)
        records = gen.result()
    finally:
        receiver.stop()
    if any(r["status"] != 204 for r in records):
        raise RuntimeError("the backlog was not fully accepted")
    cfg = PipelineConfig(
        landing_dir=ctx.path("landing", SUBMIT_BATCH_DIR), out_dir=ctx.path("data"), checkpoint_dir=ctx.path("checkpoints")
    )
    progress = progress_log(spark) if ctx.traced else None
    setup_s = ctx.setup_done()

    drain_window = (time.time(), 0.0)
    with tr.span("stream.run_pipeline_once"):
        cpu0, jit0 = ctx.cpu()
        t0 = time.perf_counter()
        run_pipeline_once(spark, cfg)
        drain_s = time.perf_counter() - t0
        cpu1, jit1 = ctx.cpu()
    drain_window = (drain_window[0], time.time())

    # untimed: the output checks
    rng = random.Random(ctx.seed)
    engine = Engine(spark, ctx.path("data"))
    rows = {t: sum(r["rows"][t] for r in records) for t in STREAMS}
    bodies = [make_body(ctx.seed, i, BODIES, SHAPE) for i in range(BODIES)]
    failed = _check_engine(engine, rows, params(rng), bodies) + _check_declared(spark, sf)

    registry = all_queries()
    mix = [(f"declared.{q}", lambda q=q: registry[q].build(spark, sf)) for q in DECLARED]

    def round_of(p: dict) -> list:
        return [(f"engine.{k}", lambda k=k: template(engine, k, p)) for k in ENGINE_TEMPLATES] + mix

    lat, rounds = [], []
    query_window = (time.time(), 0.0)
    t0 = time.perf_counter()
    # at least MIN_ROUNDS rounds, then as many whole rounds as fit in the
    # run's time
    while len(rounds) < MIN_ROUNDS or time.perf_counter() - t0 + rounds[-1] <= ctx.seconds:
        queries = round_of(params(rng))
        r0 = time.perf_counter()
        for name, build in queries:
            b, x = run_query(tr, name, build)
            lat.append((b + x) * 1000)
        rounds.append(time.perf_counter() - r0)
    query_window = (query_window[0], time.time())

    layer = {}
    if ctx.traced:
        layer.update(_layer(ctx, spark, progress, drain_window, rows))
    layer["stream.drain_ms"] = drain_s * 1000 / BODIES
    layer["jvm.jit_ms"] = (jit1 - jit0) * 1000 / BODIES
    attempted = 1 + len(lat) + len(ENGINE_TEMPLATES) + len(DECLARED)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "e2e": {"setup_s": setup_s, "work_ms": (cpu1 - cpu0) * 1000 / BODIES, "disk_kb": store_stats(ctx.path("data"))["bytes"] / 1000 / BODIES},
        "lat_ms": lat,
        "layer": layer,
        "windows": [drain_window, query_window],
        "traced_op_s": sum(lat) / 1000 + drain_s,
    }


def _layer(ctx, spark, progress, window, rows) -> dict:
    from yamon_spark.sources import wire
    from yamon_spark.sources.http_server import SUBMIT_BATCH_DIR

    out = {}
    time.sleep(1)  # the listener bus delivers the last progress events asynchronously
    for name, recs in zip(STREAMS, progress.by_start()):
        for k, v in stream_summary(recs, *window).items():
            out[f"stream.{name}.{k}"] = v
    for t in STORE_TABLES:
        st = store_stats(ctx.path("data", t))
        out[f"store.{t}.files"] = st["files"]
        out[f"store.{t}.bytes_per_row"] = st["bytes"] / max(st["rows"], 1)
    for kind in ENGINE_TEMPLATES:
        q = query_spans(ctx.tracer, f"engine.{kind}")
        out[f"engine.{kind}.build_ms"] = q["build_s"] * 1000
        out[f"engine.{kind}.exec_ms"] = q["exec_s"] * 1000
        out[f"engine.{kind}.jobs"] = q["build_jobs"] + q["exec_jobs"]
    for name in DECLARED:
        for k, v in query_spans(ctx.tracer, f"declared.{name}").items():
            out[f"declared.{name}.{k}"] = v
    # the parse alone, over the same landing dir, outside the timed window
    lines = spark.read.text(ctx.path("landing", SUBMIT_BATCH_DIR))
    t0 = time.perf_counter()
    with ctx.tracer.span("wire.parse_batch", jobs=True):
        for df in wire.parse_batch(lines).values():
            df.write.format("noop").mode("overwrite").save()
    out["wire.parse_rows_per_s"] = sum(rows.values()) / (time.perf_counter() - t0)
    return out


def _norm(row) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else str(v) for v in row)


def _spark_rows(df) -> list[tuple]:
    """Collected rows with timestamps as epoch microseconds."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    df = df.select(*[F.unix_micros(f.name).alias(f.name) if isinstance(f.dataType, TimestampType) else F.col(f.name) for f in df.schema])
    return sorted(_norm(r) for r in df.collect())


def reference(kind: str, p: dict, bodies: list[dict]) -> list[tuple]:
    """A template's result computed in plain Python from the bodies, with
    no Spark, no layout and no pruning."""
    from collections import Counter, defaultdict

    def ms(t: str) -> int:
        return epoch_ms(t.replace(" ", "T") + ".000Z") if " " in t else epoch_ms(t)

    metrics = [m for b in bodies for m in b["m"]]
    out: list[tuple] = []
    if kind in ("series", "tag_filter"):
        if kind == "series":
            keep = [m for m in metrics if m["n"] == p["gauge"] and m["h"] == p["host"] and ms(p["day"]) <= ms(m["t"]) < ms(p["day_end"])]
        else:
            keep = [m for m in metrics if m["n"] == p["counter"] and m["g"]["dc"] == p["dc"]]
        out = [(ms(m["t"]) * 1000, m["m"], m["h"], m["n"], m["v"]) for m in keep]
    elif kind == "rate":
        series = defaultdict(list)
        for m in metrics:
            if m["m"] == "counter" and m["n"] == p["counter"] and ms(m["t"]) < ms(p["end_3d"]):
                series[(m["h"], tuple(sorted(m["g"].items())))].append(m)
        for samples in series.values():
            samples.sort(key=lambda m: ms(m["t"]))
            prev = None
            for m in samples:
                rate = None
                if prev is not None:
                    secs = ms(m["t"]) // 1000 - ms(prev["t"]) // 1000
                    d = m["v"] - prev["v"] if m["v"] >= prev["v"] else m["v"]
                    rate = d / secs if secs > 0 else None
                out.append((ms(m["t"]) * 1000, m["h"], m["n"], rate))
                prev = m
    elif kind == "rollup_5m":
        groups = defaultdict(list)
        for m in metrics:
            if m["m"] == "gauge" and m["n"] == p["gauge"]:
                bucket = ms(m["t"]) // 1000 // 300 * 300
                groups[(bucket, m["h"], m["n"], tuple(sorted(m["g"].items())))].append(m["v"])
        out = [(k[0] * 1_000_000, k[1], k[2], sum(v) / len(v)) for k, v in groups.items()]
    elif kind == "lts_sql":
        minutes = defaultdict(set)
        for m in metrics:
            if m["m"] == "gauge" and m["n"] == p["gauge"]:
                minutes[m["h"]].add(ms(m["t"]) // 60_000)
        out = [(h, len(v)) for h, v in minutes.items()]
    elif kind == "log_search":
        counts = Counter(lg["s"] for b in bodies for lg in b["l"] if p["word"] in lg["d"])
        out = list(counts.items())
    return sorted(_norm(r) for r in out)


def _check_engine(engine, rows: dict, p: dict, bodies: list[dict]) -> int:
    """Store row counts equal the landed counts, and each template's result
    equals the same filter or aggregate computed from the bodies themselves
    (no layout, no pruning), so a skip that drops rows fails. Returns the
    number of failed checks."""
    failed = 0
    for t in STREAMS:
        got = store_stats(os.path.join(engine.data_dir, t))["rows"]
        if got != rows[t]:
            print(f"check: {t} store has {got} rows, {rows[t]} landed", file=sys.stderr)
            failed += 1
    for kind in ENGINE_TEMPLATES:
        got = _spark_rows(template(engine, kind, p))
        want = reference(kind, p, bodies)
        if got != want:
            print(f"check: {kind} returned {len(got)} rows, the reference {len(want)}", file=sys.stderr)
            failed += 1
    return failed


def _check_declared(spark, sf: str) -> int:
    """Each declared query matches its DuckDB oracle on the same tables."""
    from yamon_spark.oracle import compare_query, duckdb_conn

    con = duckdb_conn(sf)
    failed = 0
    try:
        for name in DECLARED:
            res = compare_query(spark, con, name, sf)
            if not res.ok:
                print(f"check: {name}: {res.detail}", file=sys.stderr)
                failed += 1
    finally:
        con.close()
    return failed
