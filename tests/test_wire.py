"""Wire-format parser tests (SURVEY §5.2 ingestion-protocol tests):
JSON fixtures in the reference's exact wire shapes, parsed into the
three streams and asserted row-exact — replacing the reference's manual
yamon-debug inspection with asserted goldens."""

from __future__ import annotations

import datetime as dt
import urllib.request

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

from yamon_spark.sources import wire

UTC = dt.timezone.utc


def _lines(spark, *rows: str):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_parse_batch_short_keys(spark):
    # the agent->server JSON contract: common/batch.go m/l/e, metric t/m/h/n/v/g
    body = (
        '{"m":[{"t":"2024-05-01T10:00:00Z","m":"gauge","h":"web1","n":"cpu.user","v":1.5,"g":{"cpu":"0"}}],'
        '"l":[{"t":"2024-05-01T10:00:01Z","h":"web1","s":"nginx","l":"info","d":"GET /","g":{}}],'
        '"e":[{"t":"2024-05-01T10:00:02Z","h":"web1","e":"deploy","d":"{\\"v\\":2}","g":{"env":"prod"}}]}'
    )
    out = wire.parse_batch(_lines(spark, body))
    m = out["metrics"].collect()
    assert len(m) == 1
    assert m[0].asDict() == {
        "when": dt.datetime(2024, 5, 1, 10, 0, 0),
        "type": "gauge",
        "host": "web1",
        "name": "cpu.user",
        "value": 1.5,
        "tags": {"cpu": "0"},
    }
    lg = out["logs"].collect()
    assert (lg[0].service, lg[0].level, lg[0].data) == ("nginx", "info", "GET /")
    ev = out["events"].collect()
    assert (ev[0].type, ev[0].data, ev[0].tags) == ("deploy", '{"v":2}', {"env": "prod"})


def test_parse_batch_null_sections_and_tags(spark):
    out = wire.parse_batch(
        _lines(spark, '{"m":[{"t":"2024-05-01T00:00:00Z","m":"counter","n":"reqs","v":2}]}')
    )
    m = out["metrics"].collect()
    assert m[0].tags == {}  # tags never null (common/metric.go:34-36)
    assert m[0].host == ""
    assert out["logs"].count() == 0 and out["events"].count() == 0


# POST /v1/data's long-form keys (agent/http.go:36-40) over the same
# short-key records: the reference the receiver's re-keying must match
_LONG_FORM = StructType(
    [
        StructField("metrics", ArrayType(wire.WIRE_METRIC)),
        StructField("events", ArrayType(wire.WIRE_EVENT)),
        StructField("logs", ArrayType(wire.WIRE_LOG)),
    ]
)

_DATA_BODIES = [
    '{"metrics":[{"t":"2024-05-01T00:00:00Z","m":"gauge","n":"x","v":1}],"events":[],"logs":[]}',
    # null elements, empty arrays, {} records and bodies
    '{"metrics":[null,{"t":"2024-05-01T10:00:00Z","m":"counter","n":"b","v":2}],"events":[],"logs":[null]}',
    '{"logs":[{}],"events":[{"t":"2024-05-01T10:00:02Z","e":"deploy"},null]}',
    "{}",
    # extra keys, short keys (a long-form body never used them), short records
    '{"metrics":[{"n":"c","v":3,"x":[1]}],"m":[{"n":"short","v":9}],"e":[{}],"extra":{"logs":[{}]}}',
    # a non-list section before and after a good one
    '{"logs":[{"s":"before"}],"metrics":{"n":"d","v":4},"events":[{"e":"after"}]}',
    # out-of-range and string-typed values, numbers in string fields
    '{"metrics":[{"n":"e","v":1e400},{"n":"f","v":"1.5"},{"n":"g","v":-1e400,"h":1.50}],'
    '"events":[{"e":"num","d":{"x":1.0e-7,"y":[true,null]},"g":{"k":12345678901234567890}}]}',
    # duplicate keys: the last one wins
    '{"metrics":[{"n":"first","v":1}],"metrics":[{"n":"second","v":2,"n":"third"}]}',
    # non-ASCII and lone-surrogate strings
    '{"events":[{"e":"déploiement","d":"\\ud800 ok","g":{"ключ":"值"}}],'
    '"logs":[{"s":"☃","d":"\\udfff","h":"h\\u00e9"}]}',
]


def _long_form_rows(lines):
    """The long-form parse: from_json with the long-form keys, then
    parse_batch's row projection."""
    b = lines.select(F.from_json("value", _LONG_FORM).alias("b"))
    when = F.col("r.t").cast("timestamp")
    host = F.coalesce("r.h", F.lit(""))
    data = F.coalesce("r.d", F.lit(""))
    tags = F.coalesce("r.g", F.create_map().cast("map<string,string>"))
    cols = {
        "metrics": [when, "r.m", host, "r.n", "r.v", tags],
        "logs": [when, host, "r.s", F.coalesce("r.l", F.lit("")), data, tags],
        "events": [when, host, "r.e", data, tags],
    }
    return {t: b.select(F.explode(f"b.{t}").alias("r")).select(*c) for t, c in cols.items()}


def test_data_endpoint_lands_rows_of_the_long_form_parse(spark, tmp_path):
    """/v1/data re-keys its body to the submit-batch keys before landing;
    parse_batch over the landed lines yields exactly the rows a long-form
    from_json yields over the raw bodies."""
    from yamon_spark.sources.http_server import SUBMIT_BATCH_DIR, IngestHTTPServer

    srv = IngestHTTPServer(str(tmp_path)).start()
    try:
        for body in _DATA_BODIES:
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/v1/data", data=body.encode(), method="POST"
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 204, body
    finally:
        srv.stop()

    def rows(streams):
        return {t: sorted(repr(tuple(r)) for r in df.collect()) for t, df in streams.items()}

    got = rows(wire.parse_batch(spark.read.text(str(tmp_path / SUBMIT_BATCH_DIR))))
    assert got == rows(_long_form_rows(_lines(spark, *_DATA_BODIES)))
    assert all(got.values()), got


def test_parse_script_result_singular_plural_and_time(spark):
    # singular + plural fan-out (script.go:88-118); unix-seconds override (:35-38)
    body = (
        '{"metric":{"type":"gauge","name":"a","value":1,"time":1714558800},'
        '"metrics":[{"type":"counter","name":"b","value":2}],'
        '"log":{"service":"s","level":"info","data":"hello"},'
        '"event":{"type":"t","data":"{}","time":1714558801}}'
    )
    out = wire.parse_script_result(_lines(spark, body))
    m = {r.name: r for r in out["metrics"].collect()}
    assert set(m) == {"a", "b"}
    assert m["a"].when == dt.datetime(2024, 5, 1, 10, 20)  # overridden (UTC session)
    assert m["a"].type == "gauge" and m["b"].type == "counter"
    assert m["b"].when is not None  # ingest-time fallback
    assert out["logs"].count() == 1
    ev = out["events"].collect()[0]
    assert ev.when == dt.datetime(2024, 5, 1, 10, 20, 1)


def test_parse_script_result_rejects_unknown_metric_type(spark):
    # type dispatch constructs only gauge|counter (script.go:28-39)
    out = wire.parse_script_result(
        _lines(spark, '{"metric":{"type":"histogram","name":"x","value":1}}')
    )
    assert out["metrics"].count() == 0


def test_parse_journald_field_routing(spark):
    # journal/client.go:44-75: routing, pruning, priority mapping, µs ts
    entry = (
        '{"SYSLOG_IDENTIFIER":"sshd","MESSAGE":"accepted","PRIORITY":"4",'
        '"__REALTIME_TIMESTAMP":"1714558800123456","__CURSOR":"c1","_HOSTNAME":"h",'
        '"_SYSTEMD_INVOCATION_ID":"i","_STREAM_ID":"s","__MONOTONIC_TIMESTAMP":"1",'
        '"_PID":"42"}'
    )
    row = wire.parse_journald(_lines(spark, entry)).collect()[0]
    assert row.service == "sshd"
    assert row.data == "accepted"
    assert row.level == "warning"
    assert row.when == dt.datetime(2024, 5, 1, 10, 20, 0, 123456)
    assert row.tags == {"_PID": "42"}  # noise keys pruned, real fields kept


def test_parse_journald_ignored_services(spark):
    e1 = '{"SYSLOG_IDENTIFIER":"noisy","MESSAGE":"x","PRIORITY":"6","__REALTIME_TIMESTAMP":"1714558800000000"}'
    e2 = '{"SYSLOG_IDENTIFIER":"keep","MESSAGE":"y","PRIORITY":"6","__REALTIME_TIMESTAMP":"1714558800000000"}'
    rows = wire.parse_journald(_lines(spark, e1, e2), ignored_services=["noisy"]).collect()
    assert [r.service for r in rows] == ["keep"]


def test_parse_journald_priority_levels(spark):
    cases = {"0": "critical", "2": "critical", "3": "error", "4": "warning", "6": "info", "7": "debug", "9": ""}
    lines = [
        f'{{"SYSLOG_IDENTIFIER":"s","MESSAGE":"m","PRIORITY":"{p}","__REALTIME_TIMESTAMP":"1714558800000000"}}'
        for p in cases
    ]
    rows = wire.parse_journald(_lines(spark, *lines)).collect()
    assert [r.level for r in rows] == list(cases.values())


def test_parse_prom_text(spark):
    text = [
        "# HELP http_requests_total Total requests.",
        "# TYPE http_requests_total counter",
        'http_requests_total{method="get",code="200"} 1027 1714558800000',
        "# TYPE temp gauge",
        "temp 36.6",
        "# TYPE rpc_duration summary",  # non-gauge/counter family: skipped
        'rpc_duration{quantile="0.5"} 4",',
        "stale_gauge NaN",  # NaN dropped even without TYPE join
        "# TYPE stale_gauge gauge",
    ]
    rows = {r.name: r for r in wire.parse_prom_text(_lines(spark, *text)).collect()}
    assert set(rows) == {"http_requests_total", "temp"}
    r = rows["http_requests_total"]
    assert r.type == "counter"
    assert r.value == 1027.0
    assert r.tags == {"method": "get", "code": "200"}
    assert r.when == dt.datetime(2024, 5, 1, 10, 20)  # explicit ms timestamp
    assert rows["temp"].type == "gauge" and rows["temp"].tags == {}


def test_malformed_lines_reject_and_dont_poison(spark):
    """Garbage landing lines: valid batches still parse, undecodable
    lines surface in the dead-letter set (reference drop-and-count
    semantics), and valid-but-empty JSON is accepted as an empty batch."""
    from yamon_spark.sources.wire import parse_batch, parse_rejects

    lines = spark.createDataFrame(
        [
            ('{"m":[{"t":"2024-05-01T10:00:00Z","m":"gauge","h":"h1","n":"cpu","v":1.5}]}',),
            ("not json at all",),
            ('{"m": [',),
            ("{}",),
            ("",),
        ],
        ["value"],
    )
    metrics = parse_batch(lines)["metrics"]
    assert metrics.count() == 1
    assert metrics.first().name == "cpu"
    rejects = parse_rejects(lines)
    assert rejects.count() == 3  # garbage, truncated, empty body — not {}


_PARSERS = {
    "batch": wire.parse_batch,
    "script": wire.parse_script_result,
}

# null elements, empty arrays, missing keys and `{}` bodies per format
_EDGE_BODIES = {
    "batch": [
        '{"m":[null,{"t":"2024-05-01T10:00:00Z","m":"gauge","n":"a","v":1}],"l":[],"e":[null]}',
        '{"m":[],"l":[{"t":"2024-05-01T10:00:01Z","s":"x"},null]}',
        '{"e":[{}],"m":null,"l":null}',
        "{}",
        "not json",
    ],
    "script": [
        '{"metrics":[null,{"type":"gauge","name":"a","value":1,"time":1714558800}],"logs":[],"event":null}',
        '{"metric":{"type":"counter","name":"b","value":2,"time":1714558801},'
        '"events":[null,{"type":"t","time":1714558802}],"logs":[{"service":"s","time":1714558803},null]}',
        "{}",
    ],
}


def test_each_stream_parses_the_landing_line_once(spark):
    # an inner explode gets an inferred size()>0 filter that re-runs
    # from_json below the projection that already parses the line
    for fmt, parse in _PARSERS.items():
        for table, df in parse(_lines(spark, "{}")).items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert plan.count("from_json(") == 1, (fmt, table, plan)


def test_parse_rows_match_explode(spark, monkeypatch):
    def rows(fmt):
        out = _PARSERS[fmt](_lines(spark, *_EDGE_BODIES[fmt]))
        return {t: sorted(map(repr, df.collect())) for t, df in out.items()}

    got = {fmt: rows(fmt) for fmt in _PARSERS}
    monkeypatch.setattr(
        wire, "_elements", lambda df, arr, alias, *keep: df.select(F.explode(arr).alias(alias), *keep)
    )
    for fmt in _PARSERS:
        assert got[fmt] == rows(fmt), fmt
        assert all(got[fmt].values()), (fmt, got[fmt])  # every stream has rows
    # null array elements survive as rows, as under explode
    assert len(got["batch"]["events"]) == 2 and len(got["batch"]["logs"]) == 2
