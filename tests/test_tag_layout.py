"""The D7 tag index as the pipeline writes and the Engine reads it
(plans/layout.py): hot-key scalar ``tag_<key>`` columns where declared,
the ``tags`` map probe everywhere else — across restarts that change the
hot keys, and across partitions written by the older array layout."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from yamon_spark.engine import Engine
from yamon_spark.plans.compaction import compact_table
from yamon_spark.sources.wire import parse_batch
from yamon_spark.streaming.pipeline import PipelineConfig, run_pipeline_once, start_pipeline


def _metric(ts, i, tags):
    return {"t": ts, "m": "gauge", "h": f"h{i % 3}", "n": "cpu", "v": float(i), "g": tags}


def _land(landing, name, body):
    landing.mkdir(parents=True, exist_ok=True)
    (landing / name).write_text(json.dumps(body) + "\n")


def _cfg(tmp_path, hot=()):
    return PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        out_dir=str(tmp_path / "store"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        hot_tag_keys=hot,
    )


def test_hot_key_dropped_across_restart_keeps_every_row(spark, tmp_path):
    """Run 1 materializes ``tag_env``; run 2 (a later date) does not. The
    read schema still has ``tag_env``, NULL in run 2's files, so a plain
    hot-column equality would silently drop run 2's rows."""
    landing = tmp_path / "landing"
    run1 = [_metric(f"2024-05-01T10:00:{i:02d}Z", i, {"env": "prod"}) for i in range(5)]
    run1 += [_metric(f"2024-05-01T10:01:{i:02d}Z", i, {"env": "dev"}) for i in range(2)]
    _land(landing, "b0.jsonl", {"m": run1})
    run_pipeline_once(spark, _cfg(tmp_path, hot=("env",)))

    run2 = [_metric(f"2024-05-02T10:00:{i:02d}Z", i, {"env": "prod"}) for i in range(7)]
    run2 += [_metric("2024-05-02T11:00:00Z", 0, {"env": "dev"}), _metric("2024-05-02T11:00:01Z", 1, {})]
    _land(landing, "b1.jsonl", {"m": run2})
    run_pipeline_once(spark, _cfg(tmp_path))

    m = Engine(spark, str(tmp_path / "store")).table("metrics")
    assert "tag_env" in m.columns
    scan = Engine.tag_filter(m, "env", "prod")
    assert scan.count() == 12
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "Or(EqualTo(tag_env,prod),IsNull(tag_env))" in plan  # still pushed
    assert Engine.tag_filter(m, "env", "dev").count() == 3
    assert Engine.tag_filter(m, "env").count() == 15


def test_clashing_hot_keys_rejected_before_any_query_starts(spark, tmp_path):
    (tmp_path / "landing").mkdir()
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=r"\['Env', 'env'\].*\['a\.b', 'a_b'\]"):
        start_pipeline(spark, _cfg(tmp_path, hot=("Env", "env", "a.b", "a_b")))
    assert len(spark.streams.active) == active
    assert not (tmp_path / "ckpt").exists()


def test_hot_key_named_keys_leaves_other_tags_queryable(spark, tmp_path):
    ms = [_metric(f"2024-05-01T10:00:{i:02d}Z", i, {"keys": f"k{i % 2}", "dc": f"dc{i % 2}"}) for i in range(6)]
    _land(tmp_path / "landing", "b0.jsonl", {"m": ms})
    run_pipeline_once(spark, _cfg(tmp_path, hot=("keys",)))

    m = Engine(spark, str(tmp_path / "store")).table("metrics")
    assert dict(m.dtypes)["tag_keys"] == "string"
    assert Engine.tag_filter(m, "dc", "dc1").count() == 3
    assert Engine.tag_filter(m, "keys", "k0").count() == 3


@pytest.mark.parametrize("hot", [(), ("env",)])
def test_detail_tables_carry_only_wire_columns(spark, tmp_path, hot):
    """Each detail table is exactly its parsed wire columns, the hot-key
    columns and the ``date`` partition: no layout column comes back
    unnoticed."""
    tags = {"env": "prod", "dc": "dc1"}
    body = {
        "m": [_metric("2024-05-01T10:00:00Z", 0, tags)],
        "l": [{"t": "2024-05-01T10:00:00Z", "h": "h", "s": "svc", "l": "info", "d": "x", "g": tags}],
        "e": [{"t": "2024-05-01T10:00:00Z", "h": "h", "e": "deploy", "d": "y", "g": tags}],
    }
    _land(tmp_path / "landing", "b0.jsonl", body)
    run_pipeline_once(spark, _cfg(tmp_path, hot=hot))

    wire = parse_batch(spark.createDataFrame([], "value string"))
    engine = Engine(spark, str(tmp_path / "store"))
    for table in ("metrics", "logs", "events"):
        expect = [*wire[table].columns, *(f"tag_{k}" for k in hot), "date"]
        assert engine.table(table).columns == expect, table


def test_legacy_array_partition_reads_and_compacts_beside_new_layout(spark, tmp_path):
    """A partition written with the older sorted key/value array columns
    next to one written now: tag filters and compaction keep every row,
    whichever schema the read resolves."""
    store = tmp_path / "store"
    legacy = spark.createDataFrame(
        [(f"2024-04-30 10:00:0{i}", "gauge", "h", "cpu", float(i), {"env": "prod" if i % 2 else "dev", "dc": "dc1"})
         for i in range(6)],
        "w string, type string, host string, name string, value double, tags map<string,string>",
    ).select(
        F.col("w").cast("timestamp").alias("when"), "type", "host", "name", "value", "tags",
        F.array_sort(F.map_keys("tags")).alias("tag_keys"),
        F.array_sort(F.map_values("tags")).alias("tag_values"),
        F.to_date(F.col("w").cast("timestamp")).alias("date"),
    )
    for part in range(2):  # two files, so compaction rewrites the partition
        legacy.where(F.col("value") % 2 == part).write.mode("append").partitionBy("date").parquet(
            str(store / "metrics")
        )

    ms = [_metric(f"2024-05-01T10:00:{i:02d}Z", i, {"env": "prod" if i % 2 else "dev"}) for i in range(8)]
    _land(tmp_path / "landing", "b0.jsonl", {"m": ms[:4]})
    run_pipeline_once(spark, _cfg(tmp_path, hot=("env",)))
    _land(tmp_path / "landing", "b1.jsonl", {"m": ms[4:]})
    run_pipeline_once(spark, _cfg(tmp_path, hot=("env",)))

    def counts():
        inferred = spark.read.parquet(str(store / "metrics"))
        merged = spark.read.option("mergeSchema", "true").parquet(str(store / "metrics"))
        assert {"tag_keys", "tag_env"} <= set(merged.columns)
        return [
            (df.count(), Engine.tag_filter(df, "env", "prod").count(),
             Engine.tag_filter(df, "dc", "dc1").count(), Engine.tag_filter(df, "env").count())
            for df in (inferred, merged)
        ]

    assert counts() == [(14, 7, 6, 14)] * 2
    done = compact_table(spark, str(store / "metrics"), sort_keys=["name", "host", "when"], min_files=1)
    assert set(done) == {"date=2024-04-30", "date=2024-05-01"}
    assert counts() == [(14, 7, 6, 14)] * 2
    legacy_back = spark.read.parquet(str(store / "metrics" / "date=2024-04-30"))
    assert {"tag_keys", "tag_values"} <= set(legacy_back.columns)
