"""`table()` timestamp-encoding robustness — the regression test round 3
should have had.

The testdata generator has shipped `events.ts` as TIMESTAMP(NANOS)
(read via nanosAsLong as int64), TIMESTAMP(MICROS) without UTC
adjustment (read as TIMESTAMP_NTZ), and TIMESTAMP(MICROS) adjusted to
UTC (read as TIMESTAMP). `table()` must normalize all three to
session-tz TIMESTAMP so every `unix_micros`-consuming builder resolves,
and the wall-clock values must be identical across encodings (session
tz is pinned UTC)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from yamon_spark.queries import table

_TS = [
    dt.datetime(2024, 5, 1, 10, 0, 0, 123456),
    dt.datetime(2024, 5, 1, 10, 0, 30, 654321),
    dt.datetime(2024, 5, 1, 10, 1, 0, 1),
    dt.datetime(2024, 5, 1, 10, 1, 30, 999999),
]

ENCODINGS = {
    "ns_int64": pa.timestamp("ns"),
    "us_ntz": pa.timestamp("us"),
    "us_ltz": pa.timestamp("us", tz="UTC"),
}


def _write_events(dir_path: str, ts_type: pa.DataType) -> None:
    n = len(_TS)
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), pa.int64()),
            "ts": pa.array(_TS, pa.timestamp("us")).cast(ts_type),
            "user_id": pa.array([7, 7, 8, 8], pa.int64()),
            "event_type": pa.array(["purchase", "error", "purchase", "error"]),
            "value": pa.array([1.5, 2.5, 3.5, 4.5], pa.float64()),
            "props": pa.array(['{"k":1}'] * n),
        }
    )
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(tbl, os.path.join(dir_path, "events.parquet"))


@pytest.mark.parametrize("enc", sorted(ENCODINGS))
def test_table_normalizes_ts_and_unix_micros_resolves(spark, tmp_path, enc):
    sf = str(tmp_path / enc)
    _write_events(sf, ENCODINGS[enc])
    df = table(spark, sf, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), enc
    got = {
        r.event_id: r.us
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    want = {
        i + 1: int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for i, t in enumerate(_TS)
    }
    assert got == want, enc


def test_unix_micros_consumers_resolve_on_every_encoding(spark, tmp_path):
    """The actual call sites that crashed in round 3 (q34/q69/q81 family)
    must build AND execute against each encoding."""
    from yamon_spark.operators.asof import asof_join_events_tolerance

    results = {}
    for enc, ts_type in ENCODINGS.items():
        sf = str(tmp_path / f"c_{enc}")
        _write_events(sf, ts_type)
        events = table(spark, sf, "events")
        rows = asof_join_events_tolerance(events, "error", "purchase", 60_000_000).collect()
        results[enc] = sorted((r.event_id, r.user_id, r.asof_event_id) for r in rows)
    # identical values regardless of the file's physical encoding
    assert results["ns_int64"] == results["us_ntz"] == results["us_ltz"]
    assert results["us_ntz"] == [(2, 7, 1), (4, 8, 3)]


def test_table_memo_miss_sweeps_stopped_sessions(spark, tmp_path):
    """A memo miss drops the entries of every stopped session, not only
    the key being loaded (a process cycling sessions would otherwise keep
    each stopped session and its frame alive)."""
    from types import SimpleNamespace

    from yamon_spark.queries import _TABLE_MEMO

    sc = SimpleNamespace(isStopped=lambda: True)
    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: sc)))
    dead_key = ("stopped-session", "/elsewhere", "events")
    _TABLE_MEMO[dead_key] = (stopped, SimpleNamespace(sparkSession=stopped))

    sf = str(tmp_path / "sf")
    _write_events(sf, ENCODINGS["us_ltz"])
    df = table(spark, sf, "events")
    assert dead_key not in _TABLE_MEMO
    assert table(spark, sf, "events") is df  # the live entry is kept
