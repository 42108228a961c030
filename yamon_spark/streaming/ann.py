"""Streaming IVF index maintenance — the live half of
``similarity.ivf_append``, matching the pattern every other batch op
already has a streaming twin for (heavy hitters, EWMA, near-dup triage,
the corpus pipeline).

Embedding batches land as JSON lines (vec_id + embedding array); each
micro-batch is assigned to the EXISTING persisted cells via the shared
:func:`yamon_spark.operators.similarity.assign_cells` kernel (broadcast-
centroid argmin, cost independent of index size) and written under the
index root partitioned by (ingest_epoch, cell).

Delivery semantics: each epoch's vectors land through
``durable.write_epoch``, so a replayed batch rewrites its own
(ingest_epoch=N, cell=*) partitions instead of appending duplicates.
Probe-side reads are unchanged: `cell` is still a partition column, so
ivf_search/ivf_recall directory-prune on it at the second level.

Observability: every epoch logs one row (n_rows, n_cells_touched,
recall) to ``<index>_epochlog``, landed the same way (a replayed epoch
rewrites its own log row — the log can never disagree with the data).
With ``recall_every=N``, every Nth distinct epoch runs the one-pass
:func:`ivf_recall` drift gate and records recall@k — the number that
schedules a quantizer rebuild. The streaming query itself is named, so
the self-metrics listener
(`streaming.monitor`) reports its per-batch input rows for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import ArrayType, DoubleType, StructType

from yamon_spark.plans.durable import write_epoch

VEC_WIRE_SCHEMA = (
    StructType().add("vec_id", "long").add("embedding", ArrayType(DoubleType()))
)


def parse_vector_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """One JSON vector per landed line -> typed rows; unparseable lines
    drop via the null gate (dead-lettering mirrors parse_doc_lines)."""
    parsed = lines.select(F.from_json(F.col(col), VEC_WIRE_SCHEMA).alias("v")).select("v.*")
    return parsed.where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())


def ivf_append_epoch(
    batch: DataFrame,
    index_path: str,
    epoch: int,
    recall_every: int = 0,
    recall_embeddings: DataFrame | None = None,
    recall_k: int = 10,
    recall_n_probe: int = 2,
) -> None:
    """Idempotently land one epoch's vectors in the epochal IVF index:
    assign to existing cells, dynamic-overwrite the epoch's own
    partitions, refresh the epoch's log row. Calling this twice with the
    same epoch (a foreachBatch replay) leaves the index byte-identical
    in content — the replay rewrites only its own partitions."""
    from yamon_spark.operators.similarity import _ivf_read_guard, assign_cells, ivf_recall

    spark = batch.sparkSession
    root = index_path.rstrip("/")
    _ivf_read_guard(index_path)
    cents = spark.read.parquet(root + "_centroids")
    assigned = assign_cells(batch.dropDuplicates(["vec_id"]), cents)
    counts = assigned.groupBy("cell").count().collect()
    if not counts:
        return
    write_epoch(assigned, index_path, epoch, "cell")
    # cadence count from the epochlog's partition LISTING — no data read
    # (the log is epoch-partitioned, so distinct epochs ARE the directory
    # names; the previous distinct().count() re-read every prior epoch's
    # file on every batch: cumulative O(epochs^2) IO over a long stream).
    # A replayed epoch's own directory is excluded so replay keeps the
    # same n_prior it saw the first time (idempotent gate cadence).
    from yamon_spark.operators.similarity import _log_partition_values

    log_path = root + "_epochlog"
    n_prior = sum(
        1 for v in _log_partition_values(spark, log_path, "ingest_epoch") if v != int(epoch)
    )
    recall = None
    if recall_every > 0 and recall_embeddings is not None and (n_prior + 1) % recall_every == 0:
        recall = float(
            ivf_recall(
                spark, index_path, recall_embeddings, k=recall_k, n_probe=recall_n_probe
            ).first()["recall"]
        )
    log_row = spark.createDataFrame(
        [(sum(r["count"] for r in counts), len(counts), recall)],
        "n_rows long, n_cells_touched int, recall double",
    )
    write_epoch(log_row, log_path, epoch)


def start_ivf_maintenance(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    recall_every: int = 0,
    recall_embeddings: DataFrame | None = None,
    recall_k: int = 10,
    recall_n_probe: int = 2,
    query_name: str = "ivf_maintenance",
) -> StreamingQuery:
    """Start the streaming IVF maintenance pipeline: landed vector lines
    -> parse -> per-epoch idempotent cell-append, with the optional
    recall drift gate every N epochs. Requires the coarse quantizer
    (``<index>_centroids``) to exist — fit it once offline with
    ivf_build on a bootstrap sample; the stream only ever appends."""
    vecs = parse_vector_lines(spark.readStream.text(landing_dir))

    def append_epoch(batch: DataFrame, epoch: int) -> None:
        ivf_append_epoch(
            batch,
            index_path,
            epoch,
            recall_every=recall_every,
            recall_embeddings=recall_embeddings,
            recall_k=recall_k,
            recall_n_probe=recall_n_probe,
        )

    return (
        vecs.writeStream.foreachBatch(append_epoch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
