"""ClickHouse JDBC sink wiring (SURVEY §2.6; clickhouse_writer.go).

No ClickHouse server or JDBC driver jar exists in this environment, so
these tests drive the sink through its `_jdbc_write` seam: the full
streaming path runs (landing -> parse -> stamp -> foreachBatch), and the
seam captures exactly what would be sent over JDBC — projected columns,
JSON-encoded tags, epoch stamp, per-table routing, replay behavior.
A live-server integration run only needs the seam left alone.
"""

from __future__ import annotations

import json

import pytest

from yamon_spark.streaming import clickhouse as CH
from yamon_spark.streaming import pipeline as P

from tests.test_streaming_pipeline import _batch, _metric, _write_landing


@pytest.fixture()
def captured(monkeypatch):
    """Replace the JDBC seam with a collector of (table, rows, cfg)."""
    sent: list[tuple[str, list, CH.ClickHouseSinkConfig]] = []

    def fake(df, cfg, table):
        sent.append((table, df.collect(), cfg))

    monkeypatch.setattr(CH, "_jdbc_write", fake)
    return sent


@pytest.fixture()
def cfg(tmp_path):
    return P.PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hostname="agent-1",
        static_tags={"dc": "eu"},
        clickhouse=CH.ClickHouseSinkConfig(url="jdbc:clickhouse://ch:8123/yamon"),
    )


def test_sink_projects_reference_columns(spark, tmp_path, cfg, captured):
    _write_landing(
        tmp_path / "landing",
        [
            _batch(
                metrics=[_metric("2024-05-01T10:00:05Z", "gauge", "cpu", 1.5, {"c": "0"})],
                logs=[{"t": "2024-05-01T10:00:00Z", "h": "w", "s": "nginx", "l": "info", "d": "GET /", "g": {}}],
                events=[{"t": "2024-05-01T10:00:00Z", "h": "w", "e": "deploy", "d": "{}", "g": {}}],
            )
        ],
    )
    P.run_pipeline_once(spark, cfg)

    by_table = {t: rows for t, rows, _ in captured}
    assert set(by_table) == {"metrics", "logs", "events"}

    (m,) = by_table["metrics"]
    # column list from clickhouse_writer.go:88 + the replay-dedup stamp
    assert m.asDict().keys() == {"when", "type", "host", "name", "value", "tags", "_epoch"}
    assert (m.type, m.host, m.name, m.value) == ("gauge", "agent-1", "cpu", 1.5)
    # Map column serialized to JSON for JDBC transport
    assert json.loads(m.tags) == {"c": "0", "dc": "eu"}

    (l,) = by_table["logs"]
    assert l.asDict().keys() == {"when", "host", "service", "level", "data", "tags", "_epoch"}
    (e,) = by_table["events"]
    assert e.asDict().keys() == {"when", "host", "type", "data", "tags", "_epoch"}

    # parquet LTS still written alongside the JDBC sink
    assert spark.read.parquet(cfg.out_dir + "/metrics").count() == 1


def test_sink_checkpoint_no_reprocess(spark, tmp_path, cfg, captured):
    """At-least-once contract: a restart with the same checkpoint sends
    only new files; already-committed micro-batches are not re-sent."""
    _write_landing(tmp_path / "landing", [_batch(metrics=[_metric("2024-05-01T10:00:05Z", "gauge", "g1", 1.0)])])
    P.run_pipeline_once(spark, cfg)
    _write_landing(tmp_path / "landing", [_batch(metrics=[_metric("2024-05-01T11:00:05Z", "gauge", "g2", 2.0)])])
    P.run_pipeline_once(spark, cfg)

    metric_names = [r.name for t, rows, _ in captured if t == "metrics" for r in rows]
    assert sorted(metric_names) == ["g1", "g2"]


def test_jdbc_url_session_settings():
    """async_insert (clickhouse_writer.go:178) rides the JDBC url."""
    cfg = CH.ClickHouseSinkConfig(url="jdbc:clickhouse://ch:8123/yamon")
    calls = {}

    class W:
        def __getattr__(self, name):
            def f(*a, **k):
                if name == "option" and len(a) == 2:
                    calls[a[0]] = a[1]
                return self

            return f

    class DF:
        write = W()

    CH._jdbc_write(DF(), cfg, "metrics")
    assert calls["url"].endswith("?async_insert=1")
    assert calls["dbtable"] == "metrics"
    assert calls["batchsize"] == "5000"
    assert calls["isolationLevel"] == "NONE"


def test_failed_insert_replays_same_epoch(spark, tmp_path):
    """The at-least-once contract end-to-end via the INJECTED executor
    (no monkeypatch — the declared cfg.executor seam): the first insert
    attempt fails, the micro-batch fails with it, and a restart on the
    same checkpoint re-sends the SAME rows with the SAME _epoch stamp —
    the idempotency key a ReplacingMergeTree / insert-dedup target needs
    to collapse the replay."""
    sent: list[tuple[str, int, tuple]] = []
    state = {"fail_next": True}

    def flaky(df, cfg_, table):
        rows = df.collect()
        if state["fail_next"] and table == "metrics":
            state["fail_next"] = False
            raise RuntimeError("simulated ClickHouse insert failure")
        for r in rows:
            sent.append((table, r._epoch, (r.name, r.value)))

    cfg = P.PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hostname="agent-1",
        clickhouse=CH.ClickHouseSinkConfig(
            url="jdbc:clickhouse://ch:8123/yamon", executor=flaky
        ),
    )
    _write_landing(
        tmp_path / "landing",
        [_batch(metrics=[_metric("2024-05-01T10:00:05Z", "gauge", "g1", 1.0)])],
    )
    # attempt 1: insert raises -> the stream must FAIL (not drop the batch
    # like clickhouse_writer.go:124-150 does)
    with pytest.raises(Exception):
        P.run_pipeline_once(spark, cfg)
    metrics_sent = [s for s in sent if s[0] == "metrics"]
    assert metrics_sent == []  # nothing recorded for the failed table

    # attempt 2 (same checkpoint): offsets roll back, the SAME batch
    # replays, and the epoch stamp is identical -> replay is idempotent
    P.run_pipeline_once(spark, cfg)
    metrics_sent = [s for s in sent if s[0] == "metrics"]
    assert len(metrics_sent) == 1
    table, epoch, payload = metrics_sent[0]
    assert payload == ("g1", 1.0)
    assert epoch == 0  # first (replayed) micro-batch keeps epoch 0

    # a NEW file after recovery gets the next epoch, no re-send of g1
    _write_landing(
        tmp_path / "landing",
        [_batch(metrics=[_metric("2024-05-01T11:00:05Z", "gauge", "g2", 2.0)])],
    )
    P.run_pipeline_once(spark, cfg)
    names = [p[2][0] for p in sent if p[0] == "metrics"]
    epochs = [p[1] for p in sent if p[0] == "metrics"]
    assert names == ["g1", "g2"]
    assert epochs[1] > epochs[0]  # distinct idempotency keys per batch
