"""Engine facade over pipeline-written tables: SQL access, tag filter,
time bucketing, counter delta/rate (SURVEY §7.1.3 query layer)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import functions as F

from yamon_spark.engine import Engine, time_bucket
from yamon_spark.streaming import pipeline as P


def _ingest(spark, tmp, name, metrics):
    """Land one body of ``metrics`` under ``tmp`` and commit it to
    ``tmp/out`` with one pipeline run."""
    landing = tmp / "landing"
    landing.mkdir(exist_ok=True)
    (landing / name).write_text(json.dumps({"m": metrics, "l": [], "e": []}) + "\n")
    cfg = P.PipelineConfig(
        landing_dir=str(landing),
        out_dir=str(tmp / "out"),
        checkpoint_dir=str(tmp / "ckpt"),
        hostname="agent",
    )
    P.run_pipeline_once(spark, cfg)


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("engine")
    metrics = []
    # two counter series + one gauge, 90s apart
    for i, ts in enumerate(["10:00:00", "10:01:30", "10:03:00"]):
        metrics.append({"t": f"2024-05-01T{ts}Z", "m": "counter", "h": "x", "n": "reqs", "v": 100.0 * (i + 1), "g": {"iface": "eth0"}})
    metrics.append({"t": "2024-05-01T10:04:30Z", "m": "counter", "h": "x", "n": "reqs", "v": 50.0, "g": {"iface": "eth0"}})  # reset
    metrics.append({"t": "2024-05-01T10:00:10Z", "m": "gauge", "h": "x", "n": "temp", "v": 36.6, "g": {}})
    _ingest(spark, tmp, "b.jsonl", metrics)
    return Engine(spark, str(tmp / "out"))


def test_sql_over_views(spark, ingested):
    n = ingested.sql("SELECT count(*) AS n FROM metrics").collect()[0].n
    assert n == 5
    lts = ingested.sql("SELECT * FROM metrics_counter_lts ORDER BY value").collect()
    assert len(lts) >= 1


def test_sql_binds_only_the_tables_it_names(spark, ingested):
    session = spark.newSession()
    Engine(session, ingested.data_dir).sql("SELECT count(*) FROM metrics_counter_lts").collect()
    views = [t.name for t in session.catalog.listTables() if t.isTemporary]
    assert views == ["metrics_counter_lts"]


def test_sql_sees_rows_committed_after_the_engine_was_built(spark, tmp_path):
    gauge = {"t": "2024-05-01T10:00:00Z", "m": "gauge", "h": "x", "n": "temp", "v": 1.0, "g": {}}
    _ingest(spark, tmp_path, "b1.jsonl", [gauge])
    engine = Engine(spark, str(tmp_path / "out"))
    count = "SELECT count(*) AS n FROM metrics"
    assert engine.sql(count).first().n == 1
    _ingest(spark, tmp_path, "b2.jsonl", [gauge, {**gauge, "t": "2024-05-02T10:00:00Z"}])
    assert engine.sql(count).first().n == 3


@pytest.mark.parametrize("metrics_dir", ["no committed rows", "missing"])
def test_sql_drops_a_stale_view_when_its_table_cannot_be_bound(
    spark, ingested, tmp_path, metrics_dir
):
    """A second Engine on the same session must not answer from the view
    the first one bound: a table it cannot bind is unknown, as it is to
    a fresh session."""
    from pyspark.errors import AnalysisException

    session = spark.newSession()
    count = "SELECT count(*) AS n FROM metrics"
    assert Engine(session, ingested.data_dir).sql(count).first().n == 5
    if metrics_dir == "no committed rows":
        (tmp_path / "metrics").mkdir()
        (tmp_path / "metrics" / "_SUCCESS").touch()
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        Engine(session, str(tmp_path)).sql(count)


def test_tag_filter_uses_index_columns(spark, ingested):
    df = ingested.table("metrics")
    assert "tag_keys" not in df.columns  # one tag index: the map, no array copies
    rows = Engine.tag_filter(df, "iface", "eth0").collect()
    assert len(rows) == 4 and all(r.tags["iface"] == "eth0" for r in rows)
    assert Engine.tag_filter(df, "iface", "lo").count() == 0
    assert Engine.tag_filter(df, "dc").count() == 0


def test_series_scan(spark, ingested):
    rows = ingested.series(name="reqs", host="agent", start="2024-05-01 10:01:00").collect()
    assert {r.value for r in rows} == {200.0, 300.0, 50.0}


def test_time_bucket(spark):
    df = spark.createDataFrame([("2024-05-01 10:03:59",)], "t string").select(
        F.col("t").cast("timestamp").alias("t")
    )
    got = df.select(time_bucket("t", 300).alias("b")).collect()[0].b
    assert got == dt.datetime(2024, 5, 1, 10, 0, 0)


def test_counter_delta_and_rate(spark, ingested):
    m = ingested.table("metrics").where(F.col("name") == "reqs")
    deltas = [r.delta for r in Engine.delta(m).orderBy("when").collect()]
    assert deltas == [None, 100.0, 100.0, 50.0]  # reset clamps to new value
    rates = [r.rate for r in Engine.rate(m).orderBy("when").collect()]
    assert rates[0] is None
    assert rates[1] == pytest.approx(100.0 / 90)
    assert rates[3] == pytest.approx(50.0 / 90)


def test_adhoc_rollup(spark, ingested):
    r = ingested.rollup("counter", 300).collect()
    assert len(r) == 1 and r[0].value == 650.0  # all four samples in one 5-min bucket
    g = ingested.rollup("gauge", 60).collect()
    assert len(g) == 1 and g[0].value == 36.6


def test_tag_insertion_order_never_splits_a_rollup_group(spark, tmp_path):
    """One series in one minute, its tags inserted as {a,b} and {b,a}:
    every rollup gives one row, with the tags' keys sorted."""
    metrics = spark.sql(
        """SELECT `when`, host, name, type, value, tags FROM VALUES
             (timestamp'2024-05-01 10:00:05', 'x', 'cpu', 'gauge', 1.0D, map('a', '1', 'b', '2')),
             (timestamp'2024-05-01 10:00:35', 'x', 'cpu', 'gauge', 3.0D, map('b', '2', 'a', '1')),
             (timestamp'2024-05-01 10:00:10', 'x', 'reqs', 'counter', 2.0D, map('b', '2', 'a', '1')),
             (timestamp'2024-05-01 10:00:50', 'x', 'reqs', 'counter', 4.0D, map('a', '1', 'b', '2'))
           AS t(`when`, host, name, type, value, tags)"""
    )
    # map_keys, not a collected dict: PySpark hands maps back key-sorted
    keys = F.map_keys("tags").alias("keys")
    assert {tuple(r.keys) for r in metrics.select(keys).collect()} == {("a", "b"), ("b", "a")}
    metrics.withColumn("date", F.to_date("when")).write.partitionBy("date").parquet(
        str(tmp_path / "metrics")
    )
    engine = Engine(spark, str(tmp_path))
    cases = {
        "gauge_rollup": (P.gauge_rollup(metrics), 2.0),
        "counter_rollup": (P.counter_rollup(metrics), 6.0),
        "Engine.rollup(gauge)": (engine.rollup("gauge", 60), 2.0),
        "Engine.rollup(counter)": (engine.rollup("counter", 60), 6.0),
    }
    for label, (df, value) in cases.items():
        rows = df.select("value", "tags", keys).collect()
        assert [(r.value, r.tags, r.keys) for r in rows] == [
            (value, {"a": "1", "b": "2"}, ["a", "b"])
        ], label
