"""End-to-end Structured Streaming pipeline tests (SURVEY §5.2):
landing-zone JSON -> detail parquet + rollup MVs, exactly-once resume
from checkpoint (journald-cursor semantics), and the T10 audit
sessionization — all through tmp dirs."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from yamon_spark.plans.layout import STORE
from yamon_spark.streaming import pipeline as P
from yamon_spark.streaming import audit as A


def _write_landing(path, bodies):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"b{len(list(path.iterdir()))}.jsonl"
    f.write_text("\n".join(json.dumps(b) for b in bodies) + "\n")


def _metric(ts, mtype, name, value, tags=None):
    return {"t": ts, "m": mtype, "h": "ignored", "n": name, "v": value, "g": tags or {}}


def _batch(metrics=(), logs=(), events=()):
    return {"m": list(metrics), "l": list(logs), "e": list(events)}


@pytest.fixture()
def cfg(tmp_path):
    return P.PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hostname="agent-1",
        static_tags={"dc": "eu"},
    )


def test_pipeline_detail_and_rollups(spark, tmp_path, cfg):
    _write_landing(
        tmp_path / "landing",
        [
            _batch(
                metrics=[
                    _metric("2024-05-01T10:00:05Z", "gauge", "cpu", 1.0, {"c": "0"}),
                    _metric("2024-05-01T10:00:35Z", "gauge", "cpu", 3.0, {"c": "0"}),
                    _metric("2024-05-01T10:01:05Z", "gauge", "cpu", 5.0, {"c": "0"}),
                    _metric("2024-05-01T10:00:10Z", "counter", "reqs", 2.0),
                    _metric("2024-05-01T10:00:50Z", "counter", "reqs", 4.0),
                    _metric("2024-05-01T10:00:50Z", "bogus", "x", 1.0),  # enum gate drops
                ],
                logs=[{"t": "2024-05-01T10:00:00Z", "h": "w", "s": "nginx", "l": "info", "d": "GET /", "g": {}}],
                events=[{"t": "2024-05-01T10:00:00Z", "h": "w", "e": "deploy", "d": "{}", "g": {}}],
            )
        ],
    )
    P.run_pipeline_once(spark, cfg)

    detail = spark.read.parquet(cfg.out_dir + "/metrics")
    rows = detail.orderBy("when").collect()
    assert len(rows) == 5  # bogus type gated out
    assert all(r.host == "agent-1" for r in rows)  # T1 host stamp
    assert all(r.tags.get("dc") == "eu" for r in rows)  # T1 static tags
    assert rows[0].date == dt.date(2024, 5, 1)  # D5 date partition

    gauge = spark.read.parquet(cfg.out_dir + "/metrics_gauge_lts").orderBy("when").collect()
    assert [(r.when.minute, r.value) for r in gauge] == [(0, 2.0), (1, 5.0)]  # 1-min AVG
    counter = spark.read.parquet(cfg.out_dir + "/metrics_counter_lts").collect()
    assert [(counter[0].when.minute, counter[0].value)] == [(0, 6.0)]  # 1-min SUM
    assert counter[0].tags == {"dc": "eu"}

    assert spark.read.parquet(cfg.out_dir + "/logs").count() == 1
    assert spark.read.parquet(cfg.out_dir + "/events").count() == 1


def test_pipeline_checkpoint_resume_no_duplicates(spark, tmp_path, cfg):
    # B4: restart with same checkpoint processes only NEW files
    _write_landing(tmp_path / "landing", [_batch(metrics=[_metric("2024-05-01T10:00:05Z", "gauge", "g1", 1.0)])])
    P.run_pipeline_once(spark, cfg)
    _write_landing(tmp_path / "landing", [_batch(metrics=[_metric("2024-05-01T11:00:05Z", "gauge", "g2", 2.0)])])
    P.run_pipeline_once(spark, cfg)

    detail = spark.read.parquet(cfg.out_dir + "/metrics")
    assert sorted(r.name for r in detail.collect()) == ["g1", "g2"]  # no dupes, no loss


def test_malformed_timestamp_lands_with_null_when(spark, tmp_path, cfg):
    # a "t" that is not a timestamp (garbage text, or a JSON number, which
    # from_json turns into a string) must not fail the micro-batch of an
    # acknowledged body: the record lands with a NULL when, like a missing t
    good, bad = "2024-05-01T10:00:05Z", ("garbage", 1714521600)
    _write_landing(
        tmp_path / "landing",
        [
            _batch(
                metrics=[_metric(t, "gauge", f"m{i}", 1.0) for i, t in enumerate((good, *bad))],
                logs=[{"t": t, "s": f"s{i}", "d": "x"} for i, t in enumerate((good, *bad))],
                events=[{"t": t, "e": f"e{i}", "d": "{}"} for i, t in enumerate((good, *bad))],
            )
        ],
    )
    P.run_pipeline_once(spark, cfg)

    for table, key, p in (("metrics", "name", "m"), ("logs", "service", "s"), ("events", "type", "e")):
        rows = spark.read.parquet(f"{cfg.out_dir}/{table}").collect()
        assert {r[key]: r.when for r in rows} == {
            f"{p}0": dt.datetime(2024, 5, 1, 10, 0, 5),
            f"{p}1": None,
            f"{p}2": None,
        }, table


def test_audit_batch_coalesce(spark):
    lines = spark.createDataFrame(
        [
            ("type=SYSCALL msg=audit(1364481363.243:24287): arch=c000003e syscall=2",),
            ("type=CWD msg=audit(1364481363.243:24287): cwd=\"/home\"",),
            ("type=PATH msg=audit(1364481363.243:24287): item=0 name=\"/etc/ssh\"",),
            ("type=SYSCALL msg=audit(1364481400.100:24288): arch=c000003e syscall=59",),
            ("not an audit line",),
        ],
        "value string",
    )
    out = A.coalesce_audit_batch(A.parse_audit_lines(lines)).orderBy("when").collect()
    assert len(out) == 2
    assert out[0].type == "audit.SYSCALL"  # first record's type
    data = json.loads(out[0].data)
    assert set(data) == {"SYSCALL", "CWD", "PATH"}
    assert out[0].when == dt.datetime.fromtimestamp(1364481363.243, dt.timezone.utc).replace(tzinfo=None)


def test_audit_stream_coalesce(spark, tmp_path):
    src = tmp_path / "audit"
    src.mkdir()
    (src / "a.log").write_text(
        "type=SYSCALL msg=audit(1364481363.243:24287): arch=c000003e\n"
        "type=PATH msg=audit(1364481363.243:24287): item=0\n"
    )
    parsed = A.parse_audit_lines(spark.readStream.text(str(src)))
    q = (
        A.coalesce_audit_stream(parsed, window_ms=1)
        .writeStream.format("memory")
        .queryName("audit_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # first batch buffers state; follow-up batches (scheduled by the
        # engine to fire processing-time timeouts) emit event 24287 after
        # the 1 ms reassembly window. processAllAvailable never settles
        # with pending timeouts, so poll the sink with a deadline.
        import time

        merged = []
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            rows = spark.sql("select * from audit_out").collect()
            merged = [json.loads(r.data) for r in rows if "item=0" in r.data]
            if merged:
                break
            time.sleep(1)
        assert merged and set(merged[0]) == {"SYSCALL", "PATH"}
    finally:
        q.stop()


def test_retention_partition_drop(spark, tmp_path):
    from yamon_spark.plans.retention import apply_retention

    out = tmp_path / "out"
    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-04-25", 2.0)], "d string, value double"
    ).withColumn("date", F.to_date("d"))
    df.write.partitionBy("date").parquet(str(out / "metrics"))
    dropped = apply_retention(str(out), {"metrics": 30}, today=dt.date(2024, 5, 1))
    assert dropped["metrics"] == ["date=2024-01-01"]
    left = spark.read.parquet(str(out / "metrics"))
    assert [r.value for r in left.collect()] == [2.0]


def test_retention_expires_null_date_files_by_age(spark, tmp_path, cfg):
    """Records with a NULL ``when`` land in the default partition, which
    has no date: its files expire by modification time on the table's
    TTL, a fresh file survives, and compaction leaves the partition out
    (a rewrite would reset its files' age)."""
    from yamon_spark.plans.compaction import partition_stats
    from yamon_spark.plans.retention import apply_retention

    null_part = tmp_path / "out" / "metrics" / "date=__HIVE_DEFAULT_PARTITION__"
    _write_landing(
        tmp_path / "landing",
        [_batch([_metric("garbage", "gauge", "old", 1.0), _metric("2024-05-01T10:00:00Z", "gauge", "good", 2.0)])],
    )
    P.run_pipeline_once(spark, cfg)
    aged = (dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=40)).timestamp()
    old_files = sorted(f.name for f in null_part.iterdir())
    assert any(n.endswith(".parquet") for n in old_files)
    for name in old_files:
        os.utime(null_part / name, (aged, aged))

    _write_landing(tmp_path / "landing", [_batch([_metric("garbage", "gauge", "fresh", 3.0)])])
    P.run_pipeline_once(spark, cfg)
    assert "date=__HIVE_DEFAULT_PARTITION__" not in partition_stats(str(tmp_path / "out" / "metrics"))

    dropped = apply_retention(str(tmp_path / "out"), {"metrics": 30})
    assert dropped["metrics"] == [
        "date=2024-05-01", *(f"date=__HIVE_DEFAULT_PARTITION__/{n}" for n in old_files)
    ]
    left = spark.read.parquet(str(tmp_path / "out" / "metrics")).collect()
    assert [(r.name, r.when) for r in left] == [("fresh", None)]


def test_pipeline_uniq_mv_partials_merge(spark, tmp_path, cfg):
    """uniq_mv sink: two micro-batch runs append independent sketch
    partials; merge_uniq over the stored table gives the exact distinct
    host count across both batches."""
    cfg.uniq_mv = True

    def m(ts, host, name):
        return {"t": ts, "m": "gauge", "h": host, "n": name, "v": 1.0, "g": {}}

    # hostname stamping (T1) would overwrite h — use distinct names too
    _write_landing(
        tmp_path / "landing",
        [_batch(metrics=[m("2024-05-01T10:00:05Z", "a", "cpu"), m("2024-05-01T10:00:15Z", "b", "cpu")])],
    )
    P.run_pipeline_once(spark, cfg)
    _write_landing(
        tmp_path / "landing",
        [_batch(metrics=[m("2024-05-01T10:00:25Z", "c", "cpu"), m("2024-05-01T10:00:35Z", "a", "mem")])],
    )
    P.run_pipeline_once(spark, cfg)

    stored = spark.read.parquet(str(tmp_path / "out" / "metrics_uniq_lts"))
    assert stored.count() >= 2  # at least one partial per run
    merged = {r.name: r.uniq_hosts for r in P.merge_uniq(stored).collect()}
    # T1 overwrites host with the agent hostname, so distinct hosts = 1 per name
    assert merged == {"cpu": 1, "mem": 1}


def _layout_bodies(run: int, n_files: int):
    """One body per landing file, each spanning two dates, so a batch
    read from ``n_files`` splits touches both date partitions."""
    bodies = []
    for i in range(n_files):
        metrics, logs, events = [], [], []
        for day in ("2024-05-01", "2024-05-02"):
            for j in range(3):
                ts = f"{day}T10:{j:02d}:{(i * 7 + run) % 60:02d}Z"
                metrics.append(_metric(ts, "gauge", f"g{(i + j) % 4}", float(i + j), {"c": str(j)}))
                metrics.append(_metric(ts, "counter", f"c{(i * j) % 3}", 1.0))
                logs.append({"t": ts, "h": "w", "s": f"svc{(i + j) % 3}", "l": "info", "d": "x", "g": {}})
                events.append({"t": ts, "h": "w", "e": f"ev{(i - j) % 3}", "d": "{}", "g": {}})
        bodies.append(_batch(metrics, logs, events))
    return bodies


def _files_by_date(table_dir):
    return {part.name: sorted(part.glob("*.parquet")) for part in sorted(table_dir.glob("date=*"))}


def _assert_files_sorted(table_dir, table):
    """Every parquet file of ``table`` is ordered by its ORDER BY key."""
    keys = [*STORE[table].sort_keys, "when"]
    for files in _files_by_date(table_dir).values():
        for f in files:
            rows = pq.read_table(f, columns=keys).to_pylist()
            ordered = [tuple(r[k] for k in keys) for r in rows]
            assert ordered == sorted(ordered), (table, f.name)


def _run_layout(spark, tmp_path, cfg):
    # more landing files than cores: without a rebalance the text source
    # splits each batch by file, and every split writes its own file per date
    n_files = int(os.environ["SPARK_GRAFT_CPUS"]) + 2
    for run in range(2):
        for body in _layout_bodies(run, n_files):
            _write_landing(tmp_path / "landing", [body])
        P.run_pipeline_once(spark, cfg)
    return tmp_path / "out"


def test_block_mode_writes_one_sorted_file_per_date_per_batch(spark, tmp_path, cfg):
    out = _run_layout(spark, tmp_path, cfg)
    for table in ("metrics", "logs", "events"):
        by_date = _files_by_date(out / table)
        assert sorted(by_date) == ["date=2024-05-01", "date=2024-05-02"], table
        for date, files in by_date.items():
            assert len(files) == 2, (table, date, [f.name for f in files])
        _assert_files_sorted(out / table, table)
    # the fused writer persists the batch; a rebalance under that cache
    # would escape AQE's coalescing and write one file per shuffle partition
    for table in ("metrics_gauge_lts", "metrics_counter_lts"):
        by_date = _files_by_date(out / table)
        assert sorted(by_date) == ["date=2024-05-01", "date=2024-05-02"], table
        assert all(len(files) <= 2 for files in by_date.values()), (table, by_date)
        _assert_files_sorted(out / table, table)


def test_uniq_rollup_files_sorted_by_name_then_when(spark, tmp_path, cfg):
    cfg.uniq_mv = True
    out = _run_layout(spark, tmp_path, cfg)
    assert sorted(_files_by_date(out / "metrics_uniq_lts")) == ["date=2024-05-01", "date=2024-05-02"]
    assert STORE["metrics_uniq_lts"].sort_keys == ("name",)
    _assert_files_sorted(out / "metrics_uniq_lts", "metrics_uniq_lts")
