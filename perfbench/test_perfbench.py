"""Tests of the benchmark's own code, at tiny sizes and without Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

import metrics
from gen import Shape, encode, make_body, minute_rollups
from measure import commit_times, cpu_seconds, jit_threads, percentile, steal_ticks, stream_summary, tail_pct, visible_latencies
from run import ROOT, report
from spans import exec_totals, self_time

# --- the percentile rule ------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert tail_pct(n) == pct
    if pct is not None:
        values = list(range(1, n + 1))
        assert sum(v > percentile(values, pct) for v in values) >= 10


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(100, 0, -1)]
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


# --- the visible-latency join over checkpoints --------------------------------


def _stream_checkpoint(root, name, batches, commits):
    """A file-source checkpoint: ``batches`` maps batch id -> landed file
    names; ``commits`` maps committed batch id -> commit time."""
    sources = root / name / "sources" / "0"
    sources.mkdir(parents=True)
    (root / name / "commits").mkdir()
    for b, files in batches.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///landing/{f}", "timestamp": 0, "batchId": b}) for f in files]
        (sources / str(b)).write_text("\n".join(lines) + "\n")
    for b, t in commits.items():
        path = root / name / "commits" / str(b)
        path.write_text("v1\n{}\n")
        os.utime(path, (t, t))
    return str(root / name)


def test_visible_latency_takes_last_commit_and_counts_uncommitted(tmp_path):
    metrics_ck = _stream_checkpoint(tmp_path, "metrics", {0: ["a.jsonl", "b.jsonl"], 1: ["c.jsonl"]}, {0: 1010.0, 1: 1020.0})
    # logs committed batch 0 later than metrics did, and never batch 1
    logs_ck = _stream_checkpoint(tmp_path, "logs", {0: ["a.jsonl", "b.jsonl"], 1: ["c.jsonl"]}, {0: 1012.0})
    acked = {"sha-a": 1000.0, "sha-b": 1001.0, "sha-c": 1015.0, "sha-d": 1016.0}
    files = {"sha-a": "a.jsonl", "sha-b": "b.jsonl", "sha-c": "c.jsonl"}  # d never landed
    lat, missing = visible_latencies(acked, files, [metrics_ck, logs_ck])
    assert sorted(lat) == [11.0, 12.0]
    assert missing == 2  # c is uncommitted in logs; d has no landing file


def test_commit_times_read_compacted_source_logs(tmp_path):
    ck = _stream_checkpoint(tmp_path, "events", {}, {8: 5.0, 9: 6.0})
    lines = ["v1"] + [json.dumps({"path": f"file:///l/{f}", "timestamp": 0, "batchId": b}) for f, b in (("x", 8), ("y", 9), ("z", 10))]
    (tmp_path / "events" / "sources" / "0" / "9.compact").write_text("\n".join(lines) + "\n")
    assert commit_times(ck) == {"x": 5.0, "y": 6.0}


# --- every declared metric is emitted with its unit ---------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("traced", [False, True])
def test_report_emits_every_declared_metric_with_its_unit(traced):
    bench = _declared()
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if traced else "end_to_end"]}
    res = {"correct": True, "attempted": 3, "failed": 0, "e2e": {"setup_s": 1.5}, "layer": {"run.samples": 3}}
    got = report(res, traced)["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == wanted
    assert all(isinstance(v["value"], float) for v in got.values())


def test_benchmark_json_matches_metric_table():
    bench = _declared()
    assert [w["name"] for w in bench["workloads"]] == list(metrics.ALL)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        n: (u, metrics.BETTER[n]) for n, u in metrics.LAYER.items()
    }
    for name, moves in metrics.MOVES.items():
        assert moves["workloads"] and set(moves["end_to_end"]) <= set(metrics.E2E), name


# --- inputs, references and trace arithmetic ----------------------------------


def test_bodies_depend_only_on_seed():
    shape = Shape(hosts=3, names=4, metrics=6, logs=2, events=1)
    a = encode(make_body(7, 2, 5, shape))
    assert a == encode(make_body(7, 2, 5, shape))
    assert a != encode(make_body(8, 2, 5, shape))
    body = json.loads(a)
    assert (len(body["m"]), len(body["l"]), len(body["e"])) == (6, 2, 1)
    assert b"\n" not in a


def test_minute_rollups_sum_counters_per_key():
    shape = Shape(hosts=1, names=2, metrics=2, logs=0, events=0, span_s=1.0)
    bodies = [make_body(1, i, 2, shape) for i in range(2)]  # both in the same minute
    counters, gauges = minute_rollups(bodies)
    (key, total), = counters.items()
    assert total == sum(m["v"] for b in bodies for m in b["m"] if m["m"] == "counter")
    assert len(gauges) == 1 and key[1:3] == ("host000", "metric.001")


def test_cpu_readers_see_this_process():
    threads = os.listdir("/proc/self/task")
    assert 0 <= cpu_seconds(os.getpid(), threads[0]) <= cpu_seconds()
    assert jit_threads(os.getpid()) == []  # Python has no JIT compiler threads
    stolen, ticks = steal_ticks()
    assert 0 <= stolen <= ticks


def test_stream_summary_ignores_empty_and_out_of_window_batches():
    def prog(ts, rows, total, add):
        return {"timestamp": ts, "numInputRows": rows, "durationMs": {"triggerExecution": total, "addBatch": add, "latestOffset": 5, "getBatch": 1, "walCommit": 3, "commitOffsets": 4}}

    progress = [
        prog("2024-01-01T00:00:00.000Z", 5, 9999, 9999),  # before the window
        prog("2024-01-01T00:00:05.000Z", 5, 1000, 800),
        prog("2024-01-01T00:00:10.000Z", 0, 50, 0),  # no data
        prog("2024-01-01T00:00:15.000Z", 5, 2000, 1600),
    ]
    t0 = 1_704_067_203.0
    out = stream_summary(progress, t0, t0 + 20)
    assert out["batches"] == 2
    assert out["batch_ms_p50"] == 1500 and out["add_batch_ms"] == 1200
    assert out["listing_ms"] == 6 and out["commit_ms"] == 7
    assert out["busy_share"] == pytest.approx(3.0 / 20)


def test_self_time_subtracts_overlapping_children_once():
    parent = {"start": 0.0, "end": 10.0}
    children = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 9.0, "end": 12.0}]
    assert self_time(parent, children) == pytest.approx(10.0 - 4.0 - 1.0)


def test_exec_totals_count_only_jobs_in_the_windows(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Submission Time": 5_000, "Stage IDs": [1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 7, "JVM GC Time": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 20, "JVM GC Time": 2, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        }},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert exec_totals(str(log), [(4.0, 6.0)]) == {"task_ms": 20, "gc_ms": 2, "shuffle_bytes": 100, "spill_bytes": 7}
