"""Live corpus-health monitor — the streaming twin of
``curation.quality_gopher_rules`` (the pattern every batch op has a
live half for; the drift monitor watches the trained head's SCORE
distribution, this watches the raw RULE-failure composition, so the two
alarms separate "the scorer sees different data" from "which ingest
rule is firing").

Every landed document batch produces one 5-row epoch slice — per
Gopher rule: docs failing, failure fraction, batch size — appended as
the (ingest_epoch=N) partition of a health-history table. A pipeline
alarms on a rule's fail_frac jumping between epochs (a crawler
regression, an encoding bug, a garbage flood) long before the corpus
table itself shows it.

Delivery semantics: each epoch's slice lands through
``durable.write_epoch``, so a replayed epoch rewrites its own slice —
history never double-counts a replay. State: none; each epoch's report
depends only on that batch, so checkpoint restarts resume cleanly.

100 TB shape: per batch ONE conditional-sum scan into a 5-row stack
(quality_gopher_rules' plan — map-side partial agg, no data-sized
shuffle) — cost linear in the batch, independent of stream age.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from yamon_spark.plans.durable import replace_partitions, write_epoch
from yamon_spark.streaming.corpus import parse_doc_lines


def health_epoch(batch: DataFrame, out_path: str, epoch: int) -> None:
    """Idempotently record one epoch's rule-failure slice: run the
    Gopher rule report over the batch, stamp batch size and epoch,
    land it as epoch N (``durable.write_epoch``)."""
    from yamon_spark.operators.curation import quality_gopher_rules

    report = quality_gopher_rules(batch.select("doc_id", "text"))
    n_docs = batch.count()
    write_epoch(
        report.withColumn("n_docs", F.lit(int(n_docs)).cast("bigint")), out_path, epoch
    )


def start_health_monitor(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "corpus_health",
) -> StreamingQuery:
    """Start the live corpus-health monitor: landed JSON doc lines ->
    parse -> per-epoch Gopher rule-failure slice."""
    docs = parse_doc_lines(spark.readStream.text(landing_dir))

    def run_epoch(batch: DataFrame, epoch: int) -> None:
        health_epoch(batch, out_path, epoch)

    return (
        docs.writeStream.foreachBatch(run_epoch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def burn_rate_epoch(
    batch: DataFrame, events_path: str, out_path: str, episodes_path: str | None = None
) -> None:
    """Refresh the live SLO burn-rate table for every 6 h block this
    batch touched: recompute q90's frame (`burn_rate_frame` — the SAME
    code path, so live and scheduled alerts cannot drift) over just
    those blocks of the landed events table and replace their ``b6``
    partitions (``durable.replace_partitions``). With ``episodes_path``
    set, the q91 incident-episode rollup (`alert_episodes_frame` —
    again the same code path) is then
    recomputed from the refreshed burn table and overwritten whole: an
    episode can span 6 h blocks, and the burn table is calendar-bounded
    (<= hours in retention, ~8.8k rows/year), so the full recompute is
    O(1) in corpus size and trivially replay-idempotent.

    Block-scoped refresh, not append: a late row changes its whole 6 h
    window's denominator, so every 1 h row of the touched block is
    recomputed — and a replayed epoch rewrites identical partitions
    (idempotent, no double counting). Cost per epoch: the landed-table
    read carries a RAW-ts range predicate (the touched blocks' envelope)
    so parquet row-group min/max stats prune old files at the scan — a
    derived-column filter alone (b6.isin) is unpushable and would rescan
    the whole landing dir every epoch as the stream ages. The exact
    block membership filter stays on top for sparse touched sets.

    Consistency: the landed-table read is pinned to a file-list SNAPSHOT
    captured once at epoch start (``inputFiles()``), not a live
    directory listing — a file that lands mid-epoch would otherwise be
    partially reflected (only in the blocks this epoch happens to
    recompute), skewing the table across blocks until that file's own
    epoch runs. Landing-zone files are immutable once visible, so the
    snapshot is a consistent view; the late file's epoch recomputes its
    blocks from its own snapshot."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from yamon_spark.queries.analytics_ext4 import alert_episodes_frame, burn_rate_frame

    b6 = (F.unix_timestamp("ts") / 21600).cast("bigint")
    blocks = [r[0] for r in batch.select(b6.alias("b6")).distinct().collect()]
    if not blocks:
        return
    spark = batch.sparkSession
    snapshot = spark.read.parquet(events_path)
    files = snapshot.inputFiles()
    if files:
        snapshot = spark.read.parquet(*files)
    lo, hi = min(blocks) * 21600, (max(blocks) + 1) * 21600
    ev = snapshot.where(
        (F.col("ts") >= F.timestamp_seconds(F.lit(lo)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(hi)))
    ).where(b6.isin(blocks))
    br = burn_rate_frame(ev).withColumn(
        "b6", (F.unix_timestamp("ws") / 21600).cast("bigint")
    )
    replace_partitions(br, out_path, "b6")
    if episodes_path is not None:
        burn = spark.read.parquet(out_path).drop("b6")
        alert_episodes_frame(burn).write.mode("overwrite").parquet(episodes_path)


def start_burn_rate_monitor(
    spark: SparkSession,
    events_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema: str = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ),
    trigger: dict | None = None,
    query_name: str = "burn_rate",
    episodes_path: str | None = None,
) -> StreamingQuery:
    """Start the live burn-rate monitor over a parquet events landing
    dir: each landed file batch refreshes the burn table's touched 6 h
    blocks — and, with ``episodes_path``, the q91 incident-episode
    rollup a pager actually consumes. The landing dir doubles as the
    events table (files are the ground truth; the monitor never keeps
    its own state)."""
    stream = spark.readStream.schema(schema).parquet(events_dir)

    def run_epoch(batch: DataFrame, epoch: int) -> None:
        burn_rate_epoch(batch, events_dir, out_path, episodes_path)

    return (
        stream.writeStream.foreachBatch(run_epoch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
