"""Structured Streaming ingestion pipeline (SURVEY §2.3/§2.4, §3.1-3.3).

Topology (the reference's agent -> forward server -> ClickHouse dataflow,
re-expressed as Spark streams over a file landing zone):

    landing/*.jsonl --readStream.text--> wire parse --> T1 metadata stamp
        --> detail sinks:   metrics/ logs/ events/   (parquet, ZSTD,
            partitioned by date=to_date(when), sorted within partitions
            by the reference's ORDER BY keys — res/schema.sql:13-14,97-98,
            116-117 — for row-group min/max skipping)
        --> rollup MVs:     metrics_gauge_lts/  (1-min tumbling AVG)
                            metrics_counter_lts/ (1-min tumbling SUM)
            aggregated per micro-batch, grouped by host,name,tags
            (res/schema.sql:39-50,71-82), partitioned and sorted the
            same way by their ORDER BY keys (res/schema.sql:33,65)

Semantics upgrades over the reference (SURVEY §7.4 — intended, not
bug-compatible): at-least-once delivery with checkpointed offsets
(Spark's offset log = the journald cursor tracker, journal/tracker.go)
instead of drop-on-failure (clickhouse_writer.go:124-150); batching and
flush cadence are the trigger interval (Trigger(processingTime='5 s') =
the 5 s ticker, clickhouse_writer.go:203) instead of hand-rolled
row-count thresholds (forward.go:134-161).

Every operator here works identically on batch DataFrames (tests,
backfill) and streaming DataFrames — builders take either.

Scale notes (1000-executor / 100 TB): the rollup groupBy shuffles on
host,name,tags (high cardinality, well-distributed), and each detail
write carries one AQE-sized rebalance by date. The text source splits a
micro-batch by cores, so without it every split writes its own file per
date and the file count follows the core count, not the bytes; with it
a batch writes one file per date (the ClickHouse insert's one part per
partition) and splits a date only above
``spark.sql.adaptive.advisoryPartitionSizeInBytes``. The rollups keep no
streaming state (each micro-batch aggregates on its own), and the date
partitioning makes retention (D4) a pure partition drop.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from yamon_spark.functions.transforms import metadata_filter, metric_type_gate
from yamon_spark.plans.layout import STORE, check_hot_tag_keys, with_hot_tag_cols, with_tag_blooms
from yamon_spark.sources import wire


def gauge_rollup(metrics: DataFrame) -> DataFrame:
    """1-minute tumbling AVG over gauges, grouped by the full dimension
    set — the metrics_gauge_lts MV (res/schema.sql:39-50)."""
    return _rollup(metrics, "gauge", F.avg("value"))


def counter_rollup(metrics: DataFrame) -> DataFrame:
    """1-minute tumbling SUM over counters — the metrics_counter_lts MV
    (res/schema.sql:71-82)."""
    return _rollup(metrics, "counter", F.sum("value"))


def uniq_rollup(metrics: DataFrame) -> DataFrame:
    """uniqState MV: per 1-minute window per metric name, an HLL sketch
    of distinct hosts (binary Datasketches partial). Partials from
    different micro-batches / windows MERGE at read time via
    ``merge_uniq`` — ClickHouse's uniqState→uniqMerge cascade, the only
    way distinct counts survive pre-aggregation. Per-batch partials
    append with no streaming state, exactly like the avg/sum rollups."""
    return (
        metrics.groupBy(F.window("when", "1 minute").alias("w"), "name")
        .agg(F.hll_sketch_agg("host").alias("hosts_sketch"), F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("w.start").alias("when"), "name", "hosts_sketch", "n_rows")
    )


def merge_uniq(rollup: DataFrame, bucket: Column | None = None) -> DataFrame:
    """Read-time uniqMerge: union sketch partials (across micro-batches
    and across windows when re-bucketing) and estimate distinct hosts —
    never re-reads detail rows."""
    keys = [bucket.alias("when")] if bucket is not None else []
    return (
        rollup.groupBy(*keys, "name")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hosts_sketch")).alias("uniq_hosts"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


def _rollup(metrics: DataFrame, mtype: str, agg: Column) -> DataFrame:
    # grouping by the map itself: the planner wraps it in mapsort, so
    # {a,b} and {b,a} are one group and the output keys come out sorted
    return (
        metrics.where(F.col("type") == mtype)
        .groupBy(F.window("when", "1 minute").alias("w"), "host", "name", "tags")
        .agg(agg.alias("value"))
        .select(F.col("w.start").alias("when"), "host", "name", "value", "tags")
    )


def stream_landing(
    spark: SparkSession, landing_dir: str, fmt: str = "batch"
) -> dict[str, DataFrame]:
    """readStream over a JSON-lines landing zone (the file stand-in for
    the HTTP hop, SURVEY §2.1 S23). fmt: 'batch' (submit-batch bodies,
    the one format the HTTP receiver lands), 'script' (ScriptResult),
    'journald'."""
    lines = spark.readStream.text(landing_dir)
    return _parse(lines, fmt)


def read_landing(spark: SparkSession, landing_dir: str, fmt: str = "batch") -> dict[str, DataFrame]:
    """Batch twin of :func:`stream_landing` (backfill / tests)."""
    return _parse(spark.read.text(landing_dir), fmt)


def _parse(lines: DataFrame, fmt: str) -> dict[str, DataFrame]:
    if fmt == "batch":
        return wire.parse_batch(lines)
    if fmt == "script":
        return wire.parse_script_result(lines)
    if fmt == "journald":
        return {"logs": wire.parse_journald(lines)}
    raise ValueError(f"unknown landing format: {fmt}")


@dataclass
class PipelineConfig:
    landing_dir: str
    out_dir: str
    checkpoint_dir: str
    fmt: str = "batch"
    hostname: str = ""
    static_tags: dict[str, str] = field(default_factory=dict)
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # optional uniqState MV: HLL sketch partials of distinct hosts per
    # (window, name) appended per micro-batch to metrics_uniq_lts;
    # merge at read time with merge_uniq. Off by default (new sink =
    # new checkpoint; existing deployments opt in).
    uniq_mv: bool = False
    # hot tag keys to materialize as scalar tag_<key> columns on the
    # detail tables (D7's IO-skipping layer: scalar equality is a
    # pushed parquet predicate; every other key is a map probe —
    # plans/layout.py). Keys that map to one column are rejected.
    hot_tag_keys: tuple[str, ...] = ()
    # optional ClickHouse detail sink (clickhouse_writer.go): when set,
    # each detail table ALSO streams into ClickHouse over JDBC with its
    # own checkpoint — the parquet store stays the query-side LTS, the
    # JDBC sink closes the reference's declared server contract.
    clickhouse: "object | None" = None  # ClickHouseSinkConfig


def _write_order(table: str) -> list[str]:
    """Sort order of one block of ``table`` before its partitioned write.

    date LEADS the sort: the partitioned write requires ordering by the
    partition column and would otherwise insert its OWN sort on date
    over the just-sorted data (a wasted sort per micro-batch whose
    spill-merge can interleave equal-date rows and destroy the secondary
    (keys, when) order that D6 min/max skipping needs). With it, this
    sort replaces the write's, so sorting adds no operator."""
    return ["date", *STORE[table].sort_keys, "when"]


def _write_detail_batch(batch: DataFrame, table: str, cfg: PipelineConfig) -> None:
    """Append one detail block: stamp date partition column, rebalance
    by date (one file per date per batch, AQE-sized), sort within
    partitions by the reference ORDER BY key (D6 -> parquet row-group
    min/max skipping), materialize the hot tag keys as bloom-filtered
    ``tag_<key>`` columns (D7 — the ClickHouse mapKeys/mapValues bloom
    indexes, res/schema.sql:9-10), write ZSTD parquet partitioned by
    date (D5 -> partition pruning; D4 retention drops whole dirs).

    The rebalance lives in this write's own plan: AQE cannot coalesce a
    shuffle under the fused metrics writer's ``persist()``, so the
    cached batch must stay unshuffled."""
    writer = (
        with_hot_tag_cols(batch, cfg.hot_tag_keys)
        .withColumn("date", F.to_date("when"))
        .hint("rebalance", "date")
        .sortWithinPartitions(*_write_order(table))
        .write.mode("append")
        .partitionBy("date")
    )
    with_tag_blooms(writer, hot_keys=cfg.hot_tag_keys).parquet(os.path.join(cfg.out_dir, table))


def _detail_writer(df: DataFrame, table: str, cfg: PipelineConfig) -> StreamingQuery:
    """Standalone detail sink (logs and events)."""

    def write_epoch(batch: DataFrame, _epoch: int) -> None:
        _write_detail_batch(batch, table, cfg)

    return (
        df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, table))
        .trigger(**cfg.trigger)
        .start()
    )


def _fused_metrics_writer(metrics: DataFrame, cfg: PipelineConfig) -> StreamingQuery:
    """ONE streaming query for the whole metrics cascade: each micro-batch
    is parsed once, cached, and fanned out to the detail sink plus the
    per-block rollup MVs — exactly ClickHouse's insert path, where the
    MVs fire on the same insert block the detail table receives
    (clickhouse_writer.go insert -> res/schema.sql:39-50,71-82 cascades).

    Separate per-sink streaming queries each re-read AND re-parse the
    landing text per micro-batch; at ingest scale the wire-JSON parse
    dominates, so the fused form cuts ~3x of the parse work (measured
    ~1.6x ingest throughput at the bench's 2M-row block) and gives the
    sinks shared fate + one checkpoint, i.e. block-atomic MV parity
    instead of three independently-progressing cursors.

    Each block aggregates on its own into plain appends, possibly
    several rows per minute across blocks — EXACT parity with the
    reference MVs, which aggregate each ClickHouse insert block
    independently into a plain-MergeTree target (res/schema.sql:30,49).
    Each rollup block is written sorted by its table's ORDER BY key
    (``layout.STORE``, res/schema.sql:33,65), as a MergeTree part is. The
    rollups take no rebalance: their groupBy exchange is already
    AQE-sized, and only the detail write reads the core-split text
    source directly."""
    rollups = {"metrics_gauge_lts": gauge_rollup, "metrics_counter_lts": counter_rollup}
    if cfg.uniq_mv:
        rollups["metrics_uniq_lts"] = uniq_rollup

    def write_epoch(batch: DataFrame, _epoch: int) -> None:
        batch.persist()
        try:
            _write_detail_batch(batch, "metrics", cfg)
            for table, rollup in rollups.items():
                (
                    rollup(batch)
                    .withColumn("date", F.to_date("when"))
                    .sortWithinPartitions(*_write_order(table))
                    .write.mode("append")
                    .partitionBy("date")
                    .parquet(os.path.join(cfg.out_dir, table))
                )
        finally:
            batch.unpersist()

    return (
        metrics.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, "metrics"))
        .trigger(**cfg.trigger)
        .start()
    )


def start_pipeline(spark: SparkSession, cfg: PipelineConfig) -> list[StreamingQuery]:
    """Wire the full ingest graph and start all sinks. Returns the
    running queries (callers awaitTermination / processAllAvailable)."""
    check_hot_tag_keys(cfg.hot_tag_keys)
    streams = stream_landing(spark, cfg.landing_dir, cfg.fmt)
    stamp = metadata_filter(cfg.hostname, cfg.static_tags)
    queries: list[StreamingQuery] = []
    for table in ("metrics", "logs", "events"):
        df = streams.get(table)
        if df is None:
            continue
        df = stamp(df)
        if table == "metrics":
            df = metric_type_gate(df)
            # fused cascade: detail + block MVs (+uniq) from ONE
            # parsed+cached batch — the ClickHouse insert-block shape
            queries.append(_fused_metrics_writer(df, cfg))
        else:
            queries.append(_detail_writer(df, table, cfg))
        if cfg.clickhouse is not None:
            from yamon_spark.streaming.clickhouse import clickhouse_sink

            queries.append(
                clickhouse_sink(df, table, cfg.clickhouse, cfg.checkpoint_dir, cfg.trigger)
            )
    return queries


def run_pipeline_once(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Run the pipeline to exhaustion of currently-available input
    (Trigger.AvailableNow) and stop — the batch-ish entry used by tests
    and backfills; restart-with-same-checkpoint resumes exactly where
    the offset log left off (journald cursor semantics, B4)."""
    queries = start_pipeline(spark, cfg)
    for q in queries:
        q.awaitTermination()
