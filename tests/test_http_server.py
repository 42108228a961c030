"""Live HTTP ingestion receiver: submit-batch auth, landing-zone
publication, webhook wrapping, dead-lettered bad JSON, self-metrics —
and the landed files parsing through the wire parsers into typed rows
(the full push -> landing -> parse path)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from yamon_spark.sources.http_server import IngestHTTPServer


def _post(port: int, path: str, body: bytes, headers: dict | None = None) -> int:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, headers=headers or {}, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


BATCH = {
    "m": [
        {"t": "2024-05-01T10:00:00Z", "m": "gauge", "h": "h1", "n": "cpu.load", "v": 1.5, "g": {"dc": "a"}}
    ],
    "l": [{"t": "2024-05-01T10:00:00Z", "h": "h1", "s": "sshd", "l": "info", "d": "hello"}],
    "e": [{"t": "2024-05-01T10:00:00Z", "h": "h1", "e": "deploy", "d": "v2"}],
}


@pytest.fixture()
def server(tmp_path):
    srv = IngestHTTPServer(str(tmp_path / "landing")).start()
    yield srv
    srv.stop()


def test_submit_batch_lands_and_parses(spark, tmp_path, server):
    from yamon_spark.sources.wire import parse_batch

    assert _post(server.port, "/v1/submit-batch", json.dumps(BATCH).encode()) == 204
    streams = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))
    m = streams["metrics"].collect()
    assert len(m) == 1 and m[0].name == "cpu.load" and m[0].value == 1.5 and m[0].tags["dc"] == "a"
    assert streams["logs"].collect()[0].service == "sshd"
    assert streams["events"].collect()[0].type == "deploy"


def test_submit_batch_cr_line_breaks_keep_every_row(spark, tmp_path, server):
    # Spark's text source also breaks lines on a lone CR: a CRLF-indented
    # body must land as one line, or its rows silently vanish after the 204
    from yamon_spark.sources.wire import parse_batch

    body = json.dumps(BATCH, indent=1).replace("\n", "\r\n")
    assert _post(server.port, "/v1/submit-batch", body.encode()) == 204
    streams = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))
    assert {t: df.count() for t, df in streams.items()} == {"metrics": 1, "logs": 1, "events": 1}
    assert streams["metrics"].collect()[0].tags == {"dc": "a"}


def test_push_endpoints_land_one_format(tmp_path, server):
    body = json.dumps(BATCH).encode()
    assert _post(server.port, "/v1/submit-batch", body) == 204
    assert _post(server.port, "/v1/data", json.dumps({"metrics": BATCH["m"]}).encode()) == 204
    assert _post(server.port, "/v1/webhook", body, {"Content-Type": "application/json"}) == 204
    landing = tmp_path / "landing"
    assert [p.name for p in landing.iterdir()] == ["submit_batch"]
    assert len(list((landing / "submit_batch").glob("*.jsonl"))) == 3


def test_post_data_long_form(spark, tmp_path, server):
    from yamon_spark.sources.wire import parse_batch

    body = {"metrics": BATCH["m"], "events": BATCH["e"]}
    assert _post(server.port, "/v1/data", json.dumps(body).encode()) == 204
    streams = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))
    assert streams["metrics"].collect()[0].name == "cpu.load"
    assert streams["events"].collect()[0].type == "deploy"


def test_webhook_wraps_to_event(spark, tmp_path, server):
    from yamon_spark.sources.wire import parse_batch

    assert (
        _post(
            server.port,
            "/v1/webhook",
            json.dumps({"action": "opened", "number": 7}).encode(),
            {"Content-Type": "application/json"},
        )
        == 204
    )
    # urlencoded form: JSON-ish values inline, plain values stay strings
    assert (
        _post(
            server.port,
            "/v1/webhook",
            b"count=3&name=alpha",
            {"Content-Type": "application/x-www-form-urlencoded"},
        )
        == 204
    )
    events = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))[
        "events"
    ].collect()
    assert len(events) == 2
    assert all(e.type == "yamon-agent.webhook" for e in events)
    payloads = [json.loads(e.data) for e in events]
    assert {"action": "opened", "number": 7} in payloads
    assert {"count": 3, "name": "alpha"} in payloads
    assert all(e.tags["content-type"] for e in events)


def test_bad_json_dead_letters(tmp_path, server):
    assert _post(server.port, "/v1/submit-batch", b"{not json") == 400
    rejects = list((tmp_path / "landing" / "rejects").iterdir())
    assert len(rejects) == 1 and rejects[0].read_text().startswith("{not json")


def test_submit_batch_auth(tmp_path):
    srv = IngestHTTPServer(str(tmp_path / "landing"), keys={"agent1": "s3cret"}).start()
    try:
        body = json.dumps(BATCH).encode()
        assert _post(srv.port, "/v1/submit-batch", body) == 401
        assert _post(srv.port, "/v1/submit-batch", body, {"Authorization": "agent1:wrong"}) == 401
        assert _post(srv.port, "/v1/submit-batch", body, {"Authorization": "nobody:s3cret"}) == 401
        assert _post(srv.port, "/v1/submit-batch", body, {"Authorization": "agent1:s3cret"}) == 204
        # /v1/data is the agent-local endpoint: no auth gate (agent/http.go)
        assert _post(srv.port, "/v1/data", json.dumps({"metrics": BATCH["m"]}).encode()) == 204
    finally:
        srv.stop()


def test_auth_rejects_colon_credentials(tmp_path):
    # reference splits on ':' and rejects != 2 parts (forward_server.go:38-56):
    # "agent1:a:b" must NOT authenticate against key "a:b"
    srv = IngestHTTPServer(str(tmp_path / "landing"), keys={"agent1": "a:b"}).start()
    try:
        body = json.dumps(BATCH).encode()
        assert _post(srv.port, "/v1/submit-batch", body, {"Authorization": "agent1:a:b"}) == 401
    finally:
        srv.stop()


def test_oversized_body_rejected_413(tmp_path, server):
    from yamon_spark.sources import http_server as hs

    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/data",
        data=b"{}",
        headers={"Content-Length": str(hs.MAX_BODY_BYTES + 1)},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req):
            status = 200
    except urllib.error.HTTPError as e:
        status = e.code
    except urllib.error.URLError:
        status = 413  # server may cut the connection after responding
    assert status == 413
    assert not (tmp_path / "landing" / "submit_batch").exists()


def test_unknown_paths_bucket_in_stats(server):
    for path in ("/nope1", "/nope2", "/nope3"):
        _post(server.port, path, b"x")
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/metrics") as resp:
        text = resp.read().decode()
    # arbitrary client paths must not mint new series on /metrics
    assert "nope" not in text
    assert 'yamon_http_requests_total{endpoint="other",status="404"} 3' in text


def test_prom_scrape_pull_roundtrip(spark, tmp_path, server):
    """Pull-mode acquisition (prom/scrape.go Run loop): the receiver's
    own /metrics serves expfmt text; scrape_once lands it; the wire
    parser yields typed counter rows. Closes the scrape -> landing ->
    parse -> metrics path with no new infra."""
    from yamon_spark.sources.scrape import scrape_interval, scrape_once
    from yamon_spark.sources.wire import parse_prom_text

    _post(server.port, "/v1/data", json.dumps({"metrics": BATCH["m"]}).encode())
    scrape_dir = tmp_path / "landing" / "prom"
    path = scrape_once(f"http://127.0.0.1:{server.port}/metrics", str(scrape_dir))
    assert path is not None
    rows = parse_prom_text(spark.read.text(str(scrape_dir))).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.name == "yamon_http_requests_total" and r.type == "counter"
    assert r.value == 1.0 and r.tags == {"endpoint": "/v1/data", "status": "204"}

    # dead target: skipped-not-fatal, no landing file (scrape.go:53-57)
    assert scrape_once("http://127.0.0.1:1/metrics", str(scrape_dir), timeout_s=0.5) is None
    # bounded Run() loop lands one file per successful tick
    assert len(scrape_interval(f"http://127.0.0.1:{server.port}/metrics", str(scrape_dir), ticks=2)) == 2


def test_self_metrics_exposition(server):
    _post(server.port, "/v1/data", json.dumps({"metrics": BATCH["m"]}).encode())
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/metrics") as resp:
        text = resp.read().decode()
    assert "# TYPE yamon_http_requests_total counter" in text
    assert 'yamon_http_requests_total{endpoint="/v1/data",status="204"} 1' in text


def test_http_push_to_streaming_pipeline_end_to_end(spark, tmp_path, server):
    """The full agent story over a real socket: HTTP POST -> atomic
    landing file -> Structured Streaming pipeline (readStream.text ->
    wire parse -> detail sinks + 1-min rollup MVs) -> parquet tables."""
    from yamon_spark.streaming.pipeline import PipelineConfig, run_pipeline_once

    for host in ("h1", "h2"):
        batch = {
            "m": [
                {"t": "2024-05-01T10:00:05Z", "m": "gauge", "h": host, "n": "cpu.load", "v": 1.0},
                {"t": "2024-05-01T10:00:35Z", "m": "gauge", "h": host, "n": "cpu.load", "v": 3.0},
                {"t": "2024-05-01T10:00:40Z", "m": "counter", "h": host, "n": "net.rx", "v": 10.0},
            ],
            "l": [{"t": "2024-05-01T10:00:06Z", "h": host, "s": "app", "l": "info", "d": "up"}],
        }
        assert _post(server.port, "/v1/submit-batch", json.dumps(batch).encode()) == 204

    run_pipeline_once(
        spark,
        PipelineConfig(
            landing_dir=str(tmp_path / "landing" / "submit_batch"),
            out_dir=str(tmp_path / "store"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ),
    )

    metrics = spark.read.parquet(str(tmp_path / "store" / "metrics"))
    assert metrics.count() == 6
    gauge = spark.read.parquet(str(tmp_path / "store" / "metrics_gauge_lts"))
    rows = {(r.host, r.name): r.value for r in gauge.collect()}
    assert rows[("h1", "cpu.load")] == 2.0  # 1-min avg of 1.0 and 3.0
    logs = spark.read.parquet(str(tmp_path / "store" / "logs"))
    assert logs.count() == 2


def test_engine_serve_composition(spark, tmp_path):
    """engine.serve(): live receiver + continuously-triggered pipeline +
    Engine facade, composed like the reference's server command. Push
    over HTTP, let the micro-batch fire, query through the engine."""
    from yamon_spark.engine import serve

    receiver, queries, engine = serve(
        spark,
        data_dir=str(tmp_path / "store"),
        landing_dir=str(tmp_path / "landing"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        # one query per detail table: metrics (with its rollups), logs, events
        assert len(queries) == 3
        batch = {"m": [{"t": "2024-05-01T10:00:05Z", "m": "gauge", "h": "h9", "n": "mem.used", "v": 7.0}]}
        assert _post(receiver.port, "/v1/submit-batch", json.dumps(batch).encode()) == 204
        for q in queries:
            q.processAllAvailable()
        rows = engine.table("metrics").collect()
        assert len(rows) == 1 and rows[0].host == "h9" and rows[0].value == 7.0
    finally:
        receiver.stop()
        for q in queries:
            q.stop()


def test_engine_serve_rollup_parity_with_batch(spark, tmp_path):
    """The facade round-trip (VERDICT r4 item 7): serve() -> POST over
    HTTP -> micro-batch fires -> engine.sql over the LTS rollup tables
    must equal the BATCH rollup of the very same landed input — the
    streaming MV cascade and the declarative rollup are one semantics."""
    from yamon_spark.engine import serve
    from yamon_spark.sources.wire import parse_batch
    from yamon_spark.streaming.pipeline import counter_rollup, gauge_rollup

    receiver, queries, engine = serve(
        spark,
        data_dir=str(tmp_path / "store"),
        landing_dir=str(tmp_path / "landing"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        for host in ("h1", "h2"):
            for minute, vals in ((0, (1.0, 3.0)), (1, (5.0,))):
                batch = {
                    "m": [
                        {"t": f"2024-05-01T10:0{minute}:{5 + 10 * i:02d}Z", "m": "gauge",
                         "h": host, "n": "cpu.load", "v": v}
                        for i, v in enumerate(vals)
                    ]
                    + [{"t": f"2024-05-01T10:0{minute}:40Z", "m": "counter",
                        "h": host, "n": "net.rx", "v": 10.0 * (minute + 1)}],
                }
                assert _post(receiver.port, "/v1/submit-batch", json.dumps(batch).encode()) == 204
        for q in queries:
            q.processAllAvailable()

        def key(rows):
            return sorted((r.when, r.host, r.name, r.value) for r in rows)

        landed = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))["metrics"]
        served_gauge = engine.sql("SELECT `when`, host, name, value FROM metrics_gauge_lts")
        assert key(served_gauge.collect()) == key(gauge_rollup(landed).collect())
        assert served_gauge.count() == 4  # 2 hosts x 2 minutes, one avg row each
        served_counter = engine.sql("SELECT `when`, host, name, value FROM metrics_counter_lts")
        assert key(served_counter.collect()) == key(counter_rollup(landed).collect())
    finally:
        receiver.stop()
        for q in queries:
            q.stop()


def test_engine_serve_hot_tags_and_deadman(spark, tmp_path):
    """serve() with the full option set: hot-tag scalar columns land on
    the detail table (pushed-filter tag queries), and the live deadman
    alerter fires for a series that goes silent while the stream moves
    on — all over a real socket."""
    from yamon_spark.engine import Engine, serve

    receiver, queries, engine = serve(
        spark,
        data_dir=str(tmp_path / "store"),
        landing_dir=str(tmp_path / "landing"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
        hot_tag_keys=("env",),
        deadman_horizon_s=3600,
    )
    try:
        def push(ts, host, v):
            batch = {"m": [{"t": ts, "m": "gauge", "h": host, "n": "cpu", "v": v,
                            "g": {"env": "prod"}}]}
            assert _post(receiver.port, "/v1/submit-batch", json.dumps(batch).encode()) == 204

        push("2024-05-01T10:00:00Z", "h1", 1.0)
        push("2024-05-01T10:00:30Z", "h2", 2.0)
        for q in queries:
            q.processAllAvailable()
        # h1 keeps reporting two hours later; h2 stays silent
        push("2024-05-01T12:00:00Z", "h1", 3.0)
        for q in queries:
            q.processAllAvailable()
        push("2024-05-01T12:00:01Z", "h1", 4.0)  # extra batch: timeout fires vs advanced watermark
        for q in queries:
            q.processAllAvailable()

        metrics = engine.table("metrics")
        assert "tag_env" in metrics.columns
        scan = Engine.tag_filter(metrics, "env", "prod")
        assert "EqualTo(tag_env,prod)" in scan._jdf.queryExecution().executedPlan().toString()
        assert scan.count() == 4

        alerts = engine.table("alerts").collect()
        assert [(r.host, r.name) for r in alerts] == [("h2", "cpu")]
    finally:
        receiver.stop()
        for q in queries:
            q.stop()


def test_documents_endpoint_to_corpus_pipeline(spark, tmp_path, server):
    """Training-data intake over the wire: POST JSONL documents ->
    landing -> streaming corpus pipeline (quality gate + digest dedup +
    PII scrub) -> curated (lang, date)-partitioned parquet."""
    from yamon_spark.streaming.corpus import start_corpus_pipeline

    good = "the quick brown fox jumps over a lazy dog and runs far away today"
    lines = [
        json.dumps({"doc_id": 1, "text": good, "lang": "en", "source": "s", "ts": "2024-05-01T10:00:00Z"}),
        json.dumps({"doc_id": 2, "text": good, "lang": "en", "source": "s", "ts": "2024-05-01T10:01:00Z"}),
        "not json",
        json.dumps({"doc_id": 3, "text": "tiny", "lang": "en", "source": "s", "ts": "2024-05-01T10:02:00Z"}),
    ]
    assert _post(server.port, "/v1/documents", "\n".join(lines).encode()) == 204
    # the bad line dead-lettered, not fatal
    assert list((tmp_path / "landing" / "rejects").iterdir())

    q = start_corpus_pipeline(
        spark,
        str(tmp_path / "landing" / "documents"),
        str(tmp_path / "corpus_out"),
        str(tmp_path / "corpus_ckpt"),
    )
    q.awaitTermination()
    corpus = spark.read.parquet(str(tmp_path / "corpus_out" / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1]  # 2 deduped, 3 quality-gated


def test_concurrent_posts_land_atomically(spark, tmp_path, server):
    """The landing contract under concurrency: parallel posts must each
    produce exactly one complete landing file (tmp+rename publish), with
    every metric row surviving the wire parse."""
    import threading

    def push(i: int) -> None:
        batch = {"m": [{"t": "2024-05-01T10:00:00Z", "m": "gauge", "h": f"h{i}", "n": f"m.{j}", "v": float(j)}
                       for j in range(5)]}
        assert _post(server.port, "/v1/submit-batch", json.dumps(batch).encode()) == 204

    threads = [threading.Thread(target=push, args=(i,)) for i in range(20)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    landed = list((tmp_path / "landing" / "submit_batch").glob("*.jsonl"))
    assert len(landed) == 20
    assert not list((tmp_path / "landing" / "submit_batch").glob("*.tmp"))
    from yamon_spark.sources.wire import parse_batch

    metrics = parse_batch(spark.read.text(str(tmp_path / "landing" / "submit_batch")))["metrics"]
    assert metrics.count() == 100
    assert metrics.select("host").distinct().count() == 20


def test_scalar_json_rejected_not_swallowed(tmp_path, server):
    # '[1,2,3]' / '42' parse as JSON but can never produce rows in the
    # struct-typed wire parsers: 400 + dead-letter, like the reference
    # (whose unmarshal-into-struct fails) — never a 204 into a void
    import os

    assert _post(server.port, "/v1/submit-batch", b"[1,2,3]") == 400
    assert _post(server.port, "/v1/data", b"42") == 400
    rejects = os.path.join(str(tmp_path / "landing"), "rejects")
    assert len(os.listdir(rejects)) == 2


def test_routing_ignores_query_string(tmp_path, server):
    # the reference's chi router matches the path only; a proxy-appended
    # query parameter must not turn an intake POST into a 404
    assert _post(server.port, "/v1/data?src=proxy", json.dumps(BATCH).encode()) == 204


def test_non_ascii_auth_rejected_not_crashed(tmp_path):
    # hmac.compare_digest raises TypeError on non-ASCII str; the handler
    # must 401 a latin-1-decoded weird header, not 500/drop the connection
    srv = IngestHTTPServer(str(tmp_path / "landing"), keys={"agent": "k"}).start()
    try:
        code = _post(
            srv.port,
            "/v1/submit-batch",
            json.dumps(BATCH).encode(),
            {"Authorization": "agent:k\xe9y"},
        )
        assert code == 401
        # and the well-formed key still authenticates
        assert (
            _post(srv.port, "/v1/submit-batch", json.dumps(BATCH).encode(), {"Authorization": "agent:k"})
            == 204
        )
    finally:
        srv.stop()


def test_documents_survive_u2028_in_json_strings(tmp_path, server):
    # U+2028 is legal raw inside a JSON string; splitlines() would shear
    # the line in two and reject a valid document
    import os

    doc = json.dumps({"doc_id": 1, "text": "a b", "lang": "en", "source": "s"}, ensure_ascii=False)
    assert _post(server.port, "/v1/documents", doc.encode("utf-8")) == 204
    docs_dir = os.path.join(str(tmp_path / "landing"), "documents")
    landed = open(os.path.join(docs_dir, os.listdir(docs_dir)[0])).read()
    assert json.loads(landed)["text"] == "a b"


def test_engine_serve_consumes_post_data_and_webhook(spark, tmp_path):
    """Every endpoint the receiver 204-acknowledges must have a consumer:
    /v1/data and /v1/webhook land as submit-batch lines, so their metrics
    and events reach the tables through serve()'s one pipeline."""
    from yamon_spark.engine import serve

    receiver, queries, engine = serve(
        spark,
        data_dir=str(tmp_path / "store"),
        landing_dir=str(tmp_path / "landing"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"processingTime": "1 second"},
    )
    try:
        push = {
            "metrics": [
                {"t": "2024-05-01T10:00:05Z", "m": "gauge", "h": "hp", "n": "disk.free", "v": 3.0}
            ]
        }
        assert _post(receiver.port, "/v1/data", json.dumps(push).encode()) == 204
        assert (
            _post(
                receiver.port,
                "/v1/webhook",
                b'{"alert": "disk"}',
                {"Content-Type": "application/json"},
            )
            == 204
        )
        for q in queries:
            q.processAllAvailable()
        m = engine.table("metrics").where("host = 'hp'").collect()
        assert len(m) == 1 and m[0].value == 3.0
        ev = engine.table("events").where("type = 'yamon-agent.webhook'").collect()
        assert len(ev) == 1 and "disk" in ev[0].data
    finally:
        receiver.stop()
        for q in queries:
            q.stop()
