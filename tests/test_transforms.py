"""Unit goldens for the per-record transforms T1-T8 (SURVEY §2.2) —
the asserted replacement for the reference's yamon-debug manual
inspection (cmd/yamon-debug/main.go:33-54)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from yamon_spark.functions import transforms as T


def test_metadata_filter_host_and_static_tags(spark):
    # writer.go:27-35 — host overwritten, static tags win on collision
    df = spark.createDataFrame(
        [("old-host", {"a": "1", "env": "dev"})], "host string, tags map<string,string>"
    )
    out = T.metadata_filter("agent-7", {"env": "prod", "dc": "eu"})(df).collect()[0]
    assert out.host == "agent-7"
    assert out.tags == {"a": "1", "env": "prod", "dc": "eu"}


def test_metadata_filter_null_tags(spark):
    df = spark.createDataFrame([("h", None)], "host string, tags map<string,string>")
    out = T.metadata_filter("x", {"k": "v"})(df).collect()[0]
    assert out.tags == {"k": "v"}


def test_priority_to_level_full_table(spark):
    df = spark.createDataFrame([(p,) for p in ["0", "1", "2", "3", "4", "5", "6", "7", "8", None]], "p string")
    got = [r.l for r in df.select(T.priority_to_level(F.col("p")).alias("l")).collect()]
    assert got == ["critical", "critical", "critical", "error", "warning", "info", "info", "debug", "", ""]


def test_prune_tag_keys(spark):
    df = spark.createDataFrame([({"MESSAGE": "x", "_PID": "1", "__CURSOR": "c"},)], "tags map<string,string>")
    out = df.select(T.prune_tag_keys(F.col("tags")).alias("t")).collect()[0].t
    assert out == {"_PID": "1"}


def test_nan_filter(spark):
    df = spark.createDataFrame([(1.0,), (float("nan"),), (None,)], "value double")
    vals = [r.value for r in T.nan_filter(df).collect()]
    assert vals == [1.0]


def test_prom_enrich_label_wins_and_prefix(spark):
    # prom/scrape.go:69-82 — scraped label beats static on collision
    df = spark.createDataFrame([("up", {"job": "scraped"})], "name string, tags map<string,string>")
    out = T.prom_enrich({"job": "static", "dc": "eu"}, "node.")(df).collect()[0]
    assert out.name == "node.up"
    assert out.tags == {"job": "scraped", "dc": "eu"}


def test_metric_type_gate(spark):
    df = spark.createDataFrame([("gauge",), ("counter",), ("histogram",)], "type string")
    assert {r.type for r in T.metric_type_gate(df).collect()} == {"gauge", "counter"}


def test_script_time_override(spark):
    df = spark.createDataFrame(
        [(1714558800, "2024-06-01 00:00:00"), (0, "2024-06-01 00:00:00"), (None, "2024-06-01 00:00:00")],
        "st long, ingest string",
    ).withColumn("ingest", F.col("ingest").cast("timestamp"))
    got = [
        r.w.isoformat()
        for r in df.select(T.script_time(F.col("st"), F.col("ingest")).alias("w")).collect()
    ]
    assert got == ["2024-05-01T10:20:00", "2024-06-01T00:00:00", "2024-06-01T00:00:00"]
