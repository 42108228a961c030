"""Every metric the benchmark reports: name, unit, and for each per-layer
metric the end-to-end metric it should move and on which workloads.

Every workload reports every metric; a per-layer metric of a layer a
workload does not run reads 0 there. The end-to-end metrics mean, per
workload (README.md has the full definitions):

- ``work_ms``: CPU time (user + system) the system under test -- this
  process and its JVM, JIT compiler threads included -- spends per body.
  serve_live: from the commit of the last warm-up body until every timed
  body is queryable, per timed body. backfill_query: the drain, per landed
  body.
- ``disk_kb``: kilobytes (1000 bytes) of parquet files in the detail
  tables and the rollups per body ingested, at the end of the run.
- ``setup_s``: process start to the first timed operation, less output
  checks and serve_live's fixed live warm-up.

Latencies are per-layer metrics, with no bound: backfill_query's query
latency spread 0.15-0.27 (IQR/median over ten seeds) with the load of
the machine's other guests, and every workload must report every
end-to-end metric, so serve_live's steady 204-to-commit latency is
per-layer too.
"""

from __future__ import annotations

E2E = {"setup_s": "s", "work_ms": "ms", "disk_kb": "KB"}

STREAMS = ("metrics", "logs", "events")
STORE_TABLES = ("metrics", "logs", "events", "metrics_gauge_lts", "metrics_counter_lts")
ENGINE_TEMPLATES = ("series", "tag_filter", "rate", "rollup_5m", "lts_sql", "log_search")
DECLARED = ("dedup_simhash_pairs", "source_overlap", "sim_cosine_topk", "q20_hash_agg")

SERVE, BACKFILL = "serve_live", "backfill_query"
ALL = (SERVE, BACKFILL)

LO, HI = "lower", "higher"

# name -> (unit, better, workloads on which it should move, end-to-end
# metrics it should move)
_LAYER: dict[str, tuple[str, str, tuple[str, ...], tuple[str, ...]]] = {
    "session.get_spark_s": ("s", LO, ALL, ("setup_s",)),
    # peak resident memory of this process plus its JVM; too unsteady
    # from run to run (JVM heap growth) to bound as an end-to-end metric
    "mem.peak_rss_mb": ("MB", LO, ALL, ("setup_s", "work_ms")),
    # the latency samples: serve_live's 204 -> commit of each timed body,
    # backfill_query's build + action of each timed query
    "run.samples": ("count", HI, ALL, ()),
    "run.median_ms": ("ms", LO, ALL, ()),
    "run.tail_pct": ("pct", HI, ALL, ()),
    "run.tail_ms": ("ms", LO, ALL, ()),
    # if it nears receiver.ack_p50_ms, the acks measure the generator, not the receiver
    "gen.late_ms_max": ("ms", LO, (SERVE,), ()),
    "receiver.ack_p50_ms": ("ms", LO, (SERVE,), ("work_ms",)),
    "receiver.bodies_204": ("count", HI, (SERVE,), ("work_ms",)),
    "receiver.bytes_landed": ("bytes", LO, (SERVE,), ("work_ms",)),
    "wire.parse_rows_per_s": ("rows/s", HI, (BACKFILL,), ("work_ms",)),
    "trace.overhead_share": ("ratio", LO, ALL, ("work_ms",)),
    # share of the machine's CPU time the hypervisor gave to other guests
    # during the run; high values explain slow, spread runs
    "run.steal_share": ("ratio", LO, ALL, ("setup_s",)),
    # the part of work_ms spent by the JVM's JIT compiler threads
    "jvm.jit_ms": ("ms", LO, ALL, ("work_ms",)),
    # wall time of the drain per landed body
    "stream.drain_ms": ("ms", LO, (BACKFILL,), ("work_ms",)),
}
for _s in STREAMS:
    for _m, _u, _e in (
        ("batches", "count", ("work_ms", "disk_kb")),
        ("batch_ms_p50", "ms", ("work_ms",)),
        ("add_batch_ms", "ms", ("work_ms",)),
        ("listing_ms", "ms", ("work_ms",)),  # fixed cost per batch
        ("commit_ms", "ms", ("work_ms",)),  # fixed cost per batch
        ("busy_share", "ratio", ("work_ms",)),  # serve_live headroom
    ):
        _LAYER[f"stream.{_s}.{_m}"] = (_u, LO, (SERVE, BACKFILL), _e)
for _t in STORE_TABLES:
    _LAYER[f"store.{_t}.files"] = ("count", LO, (BACKFILL,), ("work_ms", "disk_kb"))
    _LAYER[f"store.{_t}.bytes_per_row"] = ("B", LO, (BACKFILL,), ("disk_kb",))
for _q in ENGINE_TEMPLATES:
    for _m, _u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count")):
        _LAYER[f"engine.{_q}.{_m}"] = (_u, LO, (BACKFILL,), ())
for _q in DECLARED:
    for _m, _u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("exec_jobs", "count")):
        _LAYER[f"declared.{_q}.{_m}"] = (_u, LO, (BACKFILL,), ())
for _m, _u in (("task_ms", "ms"), ("gc_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
    _LAYER[f"exec.{_m}"] = (_u, LO, ALL, ("work_ms",))

LAYER = {name: unit for name, (unit, *_rest) in _LAYER.items()}
BETTER = {name: better for name, (_u, better, *_rest) in _LAYER.items()}
MOVES = {name: {"workloads": w, "end_to_end": e} for name, (_u, _b, w, e) in _LAYER.items()}
