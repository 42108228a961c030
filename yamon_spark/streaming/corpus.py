"""Streaming corpus ingestion: documents land as JSON lines, flow through
the curation gates, and append to a curated parquet corpus — the
training-data twin of the metrics pipeline (SURVEY §2.7 curation suite,
streaming form).

Stages per micro-batch (fused, one parse — same insert-block shape as
_fused_metrics_writer):
  1. parse + schema-gate the landed JSON documents
  2. quality gate (shuffle-free, same rules as text_quality_filter)
  3. exact dedup: batch-local digest dedup + cross-batch
     dropDuplicatesWithinWatermark on the content digest (bounded state:
     digests inside the watermark horizon, not corpus history)
  4. PII scrub (shuffle-free)
  5. append to parquet partitioned by (lang, date), with a rejects
     side-channel (quality failures with reasons) for pipeline triage.

At 100 TB/day the stateful digest dedup is the only stateful operator;
its state is bounded by the watermark horizon, and the downstream batch
dedup_canonical/dedup_clusters passes own full-corpus dedup — streaming
dedup here is the cheap first line that stops intra-day duplicate
floods at the door.

Two delivery-semantics decisions, both learned the hard way:
- the dedup watermark keys on ARRIVAL time (current_timestamp at
  parse), not the document's own `ts`: dropDuplicatesWithinWatermark
  DROPS later-than-watermark rows outright, so keying on document
  metadata time would silently discard an entire backfill of unique
  but old-timestamped documents. Arrival time is never late, so the
  operator only ever dedups — the doc's event time rides along as data.
- foreachBatch is at-least-once; both tables land through
  ``durable.write_epoch``, so a replayed batch rewrites its own
  ingest_epoch=N partitions instead of appending duplicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from yamon_spark.plans.durable import write_epoch
from yamon_spark.plans.layout import CORPUS_TABLES

DOC_WIRE_SCHEMA = (
    StructType()
    .add("doc_id", "long")
    .add("text", "string")
    .add("lang", "string")
    .add("source", "string")
    .add("ts", "string")
)


def parse_doc_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """One JSON document per landed line -> typed rows; unparseable lines
    drop via the null doc_id gate (dead-lettering mirrors
    wire.parse_rejects)."""
    parsed = lines.select(F.from_json(F.col(col), DOC_WIRE_SCHEMA).alias("d")).select("d.*")
    return (
        parsed.where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withColumn("when", F.coalesce(F.to_timestamp("ts"), F.current_timestamp()))
        # arrival time drives the DEDUP watermark (see module docstring);
        # `when` (the document's own event time) stays a data column
        .withColumn("arrival", F.current_timestamp())
        .drop("ts")
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )


def stream_documents(spark: SparkSession, landing_dir: str) -> DataFrame:
    return parse_doc_lines(spark.readStream.text(landing_dir))


def start_corpus_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    trigger: dict | None = None,
    benchmark_shingles: DataFrame | None = None,
    contam_ngram: int = 5,
    contam_threshold: float = 0.5,
    quality_model: DataFrame | None = None,
) -> StreamingQuery:
    """Wire and start the streaming corpus pipeline. Curated docs append
    to <out_dir>/corpus partitioned by (lang, date); quality rejects to
    <out_dir>/rejects with their failing rule.

    With ``benchmark_shingles`` (a distinct-shingle frame from
    curation.benchmark_shingles over the eval suite), every curated doc
    is additionally STAMPED at ingest with (contam_ratio, contaminated)
    against the broadcast benchmark — the live twin of
    contamination_check, so eval leakage is visible the moment a doc
    lands instead of at the next batch decontamination sweep. The stamp
    marks rather than drops: decontamination policy (drop vs quarantine
    vs re-split) stays a downstream decision on a recorded column.

    With ``quality_model`` (quality_head_fit's 1-row frame), every
    curated doc is also stamped (quality_score, keep_pred) by the
    TRAINED head — train offline, serve at ingest: the model row
    broadcasts and scoring is map-side. Again a stamp, not a gate: the
    rule gate already dropped; the head's score is the ranking signal
    downstream mixing reads."""
    from yamon_spark.operators.curation import (
        contamination_stamp,
        pii_scrub,
        quality_filter,
        quality_head_score,
    )

    docs = stream_documents(spark, landing_dir)
    # cross-batch digest dedup: bounded state inside the ARRIVAL-time
    # watermark (a backfill of old-timestamped docs is never "late")
    docs = docs.withColumn("digest", F.sha2("text", 256))
    deduped = docs.withWatermark("arrival", watermark).dropDuplicatesWithinWatermark(["digest"])

    corpus_path, rejects_path = (os.path.join(out_dir, t) for t in CORPUS_TABLES)

    def land_epoch(batch: DataFrame, epoch: int) -> None:
        # doc_id must be join-unique within the batch: a repeated id with
        # different text would fan out the quality/scrub joins into
        # cross-matched rows (dedup upstream is on the text digest only)
        batch = batch.dropDuplicates(["doc_id"]).persist()
        try:
            quality = quality_filter(batch, ordered=False).select("doc_id", "reason", "keep")
            scored = batch.join(quality, "doc_id")
            kept = scored.where(F.col("keep") == 1).drop("keep", "reason")
            scrubbed = pii_scrub(kept, ordered=False).select(
                "doc_id", "text_scrubbed", "n_email", "n_ip", "n_id", "n_phone"
            )
            from yamon_spark.operators.curation import split_bucket_col

            curated = kept.join(scrubbed, "doc_id")
            if quality_model is not None:
                # score the ORIGINAL text (the head was trained on
                # unscrubbed features; placeholders would shift them)
                curated = quality_head_score(curated, quality_model)
            if benchmark_shingles is not None:
                # stamp against the ORIGINAL text (the text the leak
                # arrived in; scrubbing placeholders would perturb the
                # shingles the benchmark was built from)
                curated = contamination_stamp(
                    curated, benchmark_shingles, ngram=contam_ngram, threshold=contam_threshold
                )
            curated = (
                curated
                .withColumn("date", F.to_date("when"))
                .drop("text", "n_chars", "arrival")  # scrubbed text IS the corpus text
                .withColumnRenamed("text_scrubbed", "text")
                # n_chars describes the text the corpus actually carries
                .withColumn("n_chars", F.length("text").cast("bigint"))
                # leakage-safe split stamped at ingest over the text the
                # trainer will actually read (scrubbed), via the SAME
                # content-hash formula as the batch train_test_split —
                # exact duplicates land on the same side, live or batch
                .withColumn(
                    "split",
                    F.when(split_bucket_col(F.col("text")) < 10, F.lit("test")).otherwise(
                        F.lit("train")
                    ),
                )
            )
            rejects = (
                scored.where(F.col("keep") == 0)
                .select("doc_id", "lang", "source", "reason", "when")
                .withColumn("date", F.to_date("when"))
            )
            write_epoch(curated, corpus_path, epoch, "lang", "date")
            write_epoch(rejects, rejects_path, epoch, "date")
        finally:
            batch.unpersist()

    return (
        deduped.writeStream.foreachBatch(land_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
