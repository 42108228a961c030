"""ClickHouse sink (SURVEY §2.6; reference clickhouse/clickhouse_writer.go).

The reference buffers rows in memory and flushes to ClickHouse over the
native protocol on a 5 s ticker or a 5,000-row high-water mark
(clickhouse_writer.go:203-214, 220-247), dropping the batch on failure
(:124-150). The Spark restatement keeps the same table contract
(metrics/logs/events column lists at clickhouse_writer.go:42,64,88) but
upgrades the delivery semantics:

- **batching / flush cadence** = the micro-batch trigger interval
  (B1/B2), not a hand-rolled ticker;
- **at-least-once, not drop-on-failure**: a failed JDBC insert fails the
  micro-batch, Spark rolls back the offset and replays it from the
  checkpoint. Replays can duplicate rows, so every row is stamped with
  its micro-batch ``_epoch``; pairing the target table with
  ``ReplacingMergeTree`` (or ClickHouse's insert_deduplication, which
  keys on the identical re-sent block) makes the replay idempotent.
- **parallel inserts**: each partition of the micro-batch opens its own
  JDBC connection and sends one batched INSERT — a 1000-executor
  cluster fans inserts out across the ClickHouse shard targets instead
  of the reference's single writer goroutine.

No ClickHouse server (or JDBC driver jar) ships in this sandbox, so the
actual `.save()` goes through the `_jdbc_write` seam — tests replace it
to assert the wiring; production leaves it alone.

Spark's JDBC writer cannot express Map columns portably, so the
``tags`` map is serialized to a JSON string column (``to_json``);
ClickHouse ingests it into a Map(String,String) column via its JSON
cast or a materialized view — documented here rather than hidden.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import MapType

# reference column order per table (clickhouse_writer.go:42,64,88);
# `when` is the ClickHouse column name for the event time
TABLE_COLUMNS = {
    "metrics": ("when", "type", "host", "name", "value", "tags"),
    "logs": ("when", "host", "service", "level", "data", "tags"),
    "events": ("when", "host", "type", "data", "tags"),
}


@dataclass
class ClickHouseSinkConfig:
    """Connection contract (common.ServerClickhouseConfig: targets,
    database, username, password — clickhouse_writer.go:170-192)."""

    url: str  # jdbc:clickhouse://host:8123/db (first reachable target)
    user: str = "default"
    password: str = ""
    driver: str = "com.clickhouse.jdbc.ClickHouseDriver"
    batchsize: int = 5000  # the reference's flush high-water mark
    table_prefix: str = ""  # e.g. "yamon." when not using the url db
    # async_insert=1 is the reference's server-side batching knob
    # (clickhouse_writer.go:178); passed through as a session setting.
    session_settings: dict[str, str] = field(
        default_factory=lambda: {"async_insert": "1"}
    )


def _jdbc_write(df: DataFrame, cfg: ClickHouseSinkConfig, table: str) -> None:
    """One batched INSERT per partition via Spark's JDBC writer.
    Replaced in tests; the options below are the production contract."""
    url = cfg.url
    if cfg.session_settings:
        sep = "&" if "?" in url else "?"
        url = url + sep + "&".join(f"{k}={v}" for k, v in sorted(cfg.session_settings.items()))
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", cfg.table_prefix + table)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("driver", cfg.driver)
        .option("batchsize", str(cfg.batchsize))
        # ClickHouse has no JDBC transactions; NONE skips setAutoCommit
        .option("isolationLevel", "NONE")
        .mode("append")
        .save()
    )


def prepare_rows(batch: DataFrame, table: str, epoch: int) -> DataFrame:
    """Project a micro-batch onto the reference's column list for
    ``table``, JSON-encode map columns (JDBC has no portable Map type),
    and stamp the replay-dedup ``_epoch``."""
    cols = []
    for name in TABLE_COLUMNS[table]:
        if isinstance(batch.schema[name].dataType, MapType):
            cols.append(F.to_json(F.col(name)).alias(name))
        else:
            cols.append(F.col(name).alias(name))
    return batch.select(*cols).withColumn("_epoch", F.lit(epoch))


def clickhouse_sink(
    df: DataFrame,
    table: str,
    cfg: ClickHouseSinkConfig,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start a streaming JDBC append for one detail table. The
    checkpoint dir gives exactly-once offset tracking; the insert itself
    is at-least-once (see module docstring for the dedup pairing)."""

    def write_epoch(batch: DataFrame, epoch: int) -> None:
        _jdbc_write(prepare_rows(batch, table, epoch), cfg, table)

    return (
        df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, f"ch_{table}"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
