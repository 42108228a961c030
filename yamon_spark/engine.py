"""User-facing query layer — what a yamon user queries ClickHouse with,
re-expressed as a thin facade over Spark SQL/DataFrames (SURVEY §7.1.3).

The reference ships DDL and lets users write ClickHouse SQL against
``metrics``/``logs``/``events`` and the two LTS rollups (README.md:11-12).
``Engine`` binds those tables (as written by the streaming pipeline) into
a SparkSession and provides the ClickHouse-isms that don't map 1:1 to
ANSI SQL:

- ``time_bucket``       toStartOfInterval(when, INTERVAL n unit)
- ``rate``/``delta``    counter-series derivative (the query the
                        ``counter`` metric type exists for)
- ``tag_filter``        tags['k'] = 'v' with bloom/stats-indexable
                        rewrite when the tag index columns are present
- ``series``            time-range + name/host/tag scan with partition
                        pruning on the date column

Everything returns DataFrames; compose freely with spark.sql.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yamon_spark.plans.layout import tag_predicate
from yamon_spark.streaming.pipeline import canon_tags

TABLES = ("metrics", "logs", "events", "metrics_gauge_lts", "metrics_counter_lts", "metrics_uniq_lts")


def time_bucket(col: Column | str, seconds: int) -> Column:
    """ClickHouse ``toStartOfInterval(when, INTERVAL n SECOND)``:
    floor the epoch to the bucket. Pure arithmetic — codegen'd, and for
    day-multiples it still aligns with date partitions (UTC session)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(F.floor(F.unix_timestamp(c) / seconds) * seconds)


class Engine:
    """Bind pipeline-written tables and answer queries over them."""

    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir

    # --- table access -----------------------------------------------------

    def table(self, name: str) -> DataFrame:
        path = os.path.join(self.data_dir, name)
        return self.spark.read.parquet(path)

    def register_views(self) -> None:
        from pyspark.errors.exceptions.captured import AnalysisException

        for t in TABLES:
            path = os.path.join(self.data_dir, t)
            if os.path.isdir(path):
                try:
                    self.table(t).createOrReplaceTempView(t)
                except AnalysisException:
                    # a sink that has committed no rows yet has no
                    # readable schema (only _SUCCESS) — skip until data lands
                    continue

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # --- corpus side (streaming/corpus.py output) --------------------------

    def register_corpus_views(self) -> None:
        """Bind the curated corpus + rejects (as written by
        streaming/corpus.py) as SQL views, when present."""
        from pyspark.errors.exceptions.captured import AnalysisException

        for t in ("corpus", "rejects"):
            if os.path.isdir(os.path.join(self.data_dir, t)):
                try:
                    self.table(t).createOrReplaceTempView(t)
                except AnalysisException:
                    # no committed rows yet (only _SUCCESS): no schema
                    continue

    def corpus_search(
        self, needle: str, lang: str | None = None, limit: int = 100
    ) -> DataFrame:
        """Substring search over the curated corpus: the lang partition
        prunes at the directory level and the contains() filter pushes
        into the parquet scan (same pushdown contract as text_search)."""
        df = self.table("corpus")
        if lang is not None:
            df = df.where(F.col("lang") == lang)
        return (
            df.where(F.col("text").contains(needle))
            .select("doc_id", "lang", "source", "text")
            .orderBy("doc_id")
            .limit(limit)
        )

    # --- ClickHouse-ism helpers --------------------------------------------

    @staticmethod
    def tag_filter(df: DataFrame, key: str, value: str | None = None) -> DataFrame:
        """``tags[key] [= value]`` against the best layout the table
        carries (D7): a materialized hot-key scalar column gives a
        fully-pushed equality (row-group stats/dictionary/bloom IO
        skip); flattened ``tag_keys``/``tag_values`` arrays give the
        row-level membership lead-in; else a plain map probe."""
        from yamon_spark.plans.layout import hot_tag_col

        if hot_tag_col(key) in df.columns or "tag_keys" in df.columns:
            return df.where(tag_predicate(key, value, df=df))
        probe = F.element_at("tags", key)
        return df.where(probe.isNotNull() if value is None else (probe == value))

    def series(
        self,
        name: str | None = None,
        host: str | None = None,
        start: str | None = None,
        end: str | None = None,
        table: str = "metrics",
    ) -> DataFrame:
        """Time-range scan in the layout's fast path: equality on the
        leading sort keys (name, host) -> row-group skipping; the date
        bound derived from the time range -> partition pruning."""
        df = self.table(table)
        if name is not None:
            df = df.where(F.col("name") == name)
        if host is not None:
            df = df.where(F.col("host") == host)
        if start is not None:
            df = df.where((F.col("when") >= start) & (F.col("date") >= F.to_date(F.lit(start))))
        if end is not None:
            df = df.where((F.col("when") < end) & (F.col("date") <= F.to_date(F.lit(end))))
        return df

    # --- counter analytics --------------------------------------------------

    @staticmethod
    def _series_window():
        """The ONE series-key window (name, host, canonical tags) ordered
        by event time — shared by delta() and rate() so the series
        identity and reset convention can never diverge between them."""
        return Window.partitionBy(
            "name", "host", canon_tags(F.col("tags")).alias("tg")
        ).orderBy("when")

    @staticmethod
    def _clamped_increase(prev):
        """Counter increase with the standard reset convention: a value
        drop clamps to the new value (counter restarted)."""
        return F.when(F.col("value") >= prev, F.col("value") - prev).otherwise(F.col("value"))

    @staticmethod
    def delta(metrics: DataFrame) -> DataFrame:
        """Per-series counter increase between consecutive samples.
        Monotonic-counter resets (value drops) clamp to the new value,
        the standard counter-rate convention. One shuffle (series key)."""
        prev = F.lag("value").over(Engine._series_window())
        d = F.when(prev.isNull(), None).otherwise(Engine._clamped_increase(prev))
        return metrics.withColumn("delta", d)

    @staticmethod
    def rate(metrics: DataFrame) -> DataFrame:
        """Per-series per-second rate: delta / seconds-elapsed (same
        window + reset clamp as delta(), by construction)."""
        w = Engine._series_window()
        prev_v = F.lag("value").over(w)
        prev_t = F.lag("when").over(w)
        secs = F.unix_timestamp("when") - F.unix_timestamp(prev_t)
        d = Engine._clamped_increase(prev_v)
        return metrics.withColumn(
            "rate", F.when(prev_v.isNull() | (secs <= 0), None).otherwise(d / secs)
        )

    # --- storage maintenance ----------------------------------------------

    def maintain(
        self,
        ttl_days: dict[str, int] | None = None,
        target_file_bytes: int = 128 << 20,
        today=None,
        force: bool = False,
    ) -> dict[str, dict]:
        """One scheduled-maintenance pass over every pipeline table:
        TTL partition drops (MergeTree ttl_only_drop_parts analogue),
        then small-file compaction with each table's sort order restored
        so min/max pruning and tag blooms stay effective.

        Refuses to run while this session has ACTIVE streaming queries
        (pass ``force=True`` to override): compaction's partition
        dir-swap would delete any micro-batch file a live writer appends
        between the rewrite's read and the rename — run maintenance in a
        window, exactly like ClickHouse OPTIMIZE on a paused ingest."""
        if not force and self.spark.streams.active:
            raise RuntimeError(
                "maintain() with active streaming queries would race the "
                "compaction dir-swap and lose freshly-appended files; stop "
                "the pipeline first or pass force=True"
            )
        import os as _os

        from yamon_spark.plans.compaction import compact_table
        from yamon_spark.plans.retention import apply_retention
        from yamon_spark.streaming.pipeline import SORT_KEYS

        dropped = apply_retention(self.data_dir, ttl_days=ttl_days, today=today)
        compacted: dict[str, dict] = {}
        for t in TABLES:
            path = _os.path.join(self.data_dir, t)
            if not _os.path.isdir(path):
                continue
            keys = [*SORT_KEYS.get(t, ("name", "host")), "when"]
            compacted[t] = compact_table(
                self.spark, path, target_file_bytes=target_file_bytes, sort_keys=keys
            )
        return {"dropped": dropped, "compacted": compacted}

    def rollup(self, mtype: str = "gauge", bucket_seconds: int = 60) -> DataFrame:
        """Re-aggregate detail metrics at an arbitrary bucket size (the
        ad-hoc version of the 1-min LTS rollups)."""
        agg = F.avg("value") if mtype == "gauge" else F.sum("value")
        df = self.table("metrics").where(F.col("type") == mtype)
        return (
            df.groupBy(
                time_bucket("when", bucket_seconds).alias("when"),
                "host",
                "name",
                canon_tags(F.col("tags")).alias("tag_entries"),
            )
            .agg(agg.alias("value"))
            .select("when", "host", "name", "value", F.map_from_entries("tag_entries").alias("tags"))
        )


def serve(
    spark: SparkSession,
    data_dir: str,
    landing_dir: str,
    checkpoint_dir: str,
    keys: dict[str, str] | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    trigger: dict | None = None,
    hot_tag_keys: tuple[str, ...] = (),
    deadman_horizon_s: int | None = None,
):
    """The reference's ``yamon server`` composed end-to-end (cmd server
    wiring: forward server -> writer -> ClickHouse; here: HTTP receiver
    -> landing zone -> Structured Streaming -> parquet tables + rollup
    MVs). Returns ``(receiver, queries, engine)``: the live HTTP
    receiver (``receiver.port``), the running streaming queries, and an
    Engine bound to the written tables.

    ``hot_tag_keys`` materializes IO-skipping scalar tag columns on the
    detail tables (plans/layout.py). ``deadman_horizon_s`` additionally
    starts the live silence alerter (streaming/alerts.deadman_alerts)
    writing one alert row per gone-quiet series to ``<data_dir>/alerts``.

    Scale note: the receiver scales horizontally (any number of
    receivers appending to the same landing zone / object-store prefix);
    the streaming side scales with executors. Neither knows about the
    other beyond the directory contract."""
    from yamon_spark.sources.http_server import SUBMIT_BATCH_DIR, IngestHTTPServer
    from yamon_spark.streaming.pipeline import PipelineConfig, start_pipeline, stream_landing

    receiver = IngestHTTPServer(landing_dir, keys=keys, host=host, port=port).start()
    queries: list = []
    try:
        cfg = PipelineConfig(
            landing_dir=os.path.join(landing_dir, SUBMIT_BATCH_DIR),
            out_dir=data_dir,
            checkpoint_dir=checkpoint_dir,
            trigger=trigger or {"processingTime": "5 seconds"},
            hot_tag_keys=hot_tag_keys,
        )
        # the receiver lands every push endpoint (/v1/submit-batch,
        # /v1/data, /v1/webhook) as submit-batch lines in this one dir,
        # so one pipeline consumes every 204-acknowledged body; the file
        # source needs the directory to exist before the streams start
        os.makedirs(cfg.landing_dir, exist_ok=True)
        queries = start_pipeline(spark, cfg)
        if deadman_horizon_s is not None:
            from yamon_spark.streaming.alerts import deadman_alerts

            alerts = deadman_alerts(
                stream_landing(spark, cfg.landing_dir)["metrics"], horizon_s=deadman_horizon_s
            )
            queries = [
                *queries,
                alerts.writeStream.format("parquet")
                .option("path", os.path.join(data_dir, "alerts"))
                .option("checkpointLocation", os.path.join(checkpoint_dir, "alerts"))
                .outputMode("append")
                .trigger(**cfg.trigger)
                .start(),
            ]
        engine = Engine(spark, data_dir)
    except BaseException:
        # never leave the receiver accepting data with no consumer behind
        # it — and never leak queries already started before the failure
        for q in queries:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass
        receiver.stop()
        raise
    return receiver, queries, engine
