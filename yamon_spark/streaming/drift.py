"""Live score-drift monitor — the streaming twin of
``curation.quality_score_psi`` (the pattern every batch op has a live
half for: heavy hitters, EWMA, near-dup triage, the corpus pipeline,
IVF maintenance, the count-min sketch).

Setup is the production shape: train once offline (``quality_head_fit``
-> persist the 1-row model artifact) and persist the TRAINING corpus's
score histogram (``curation.score_histogram``) next to it — the frozen
reference distribution. The stream then scores every landed document
batch with the broadcast model (the same shuffle-free serving pass the
corpus pipeline stamps with), folds the batch's ≤ n_bins histogram
against the frozen reference through the shared
:func:`~yamon_spark.operators.curation.psi_from_histograms` kernel, and
writes ONE psi row per epoch. A pipeline alarms on the latest row
crossing 0.25 (retrain) or watches the 0.1–0.25 band trend.

Delivery semantics: each epoch's row lands through
``durable.write_epoch``, so a replayed epoch rewrites its own row
instead of adding a second. State is zero: each epoch's psi depends
only on that batch and the frozen reference, so a checkpoint restart
resumes cleanly with no rescan.

100 TB shape: per batch one map-side scoring scan into ≤ n_bins cells +
a ≤ n_bins-row fold against a broadcast reference — cost linear in the
batch, independent of stream age and corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from yamon_spark.plans.durable import write_epoch
from yamon_spark.streaming.corpus import parse_doc_lines


def psi_epoch(
    batch: DataFrame,
    model: DataFrame,
    ref_hist: DataFrame,
    out_path: str,
    epoch: int,
    n_bins: int = 10,
) -> None:
    """Idempotently record one epoch's drift row: score the batch with
    the broadcast model, histogram into deciles, PSI against the frozen
    reference, land it as epoch N (``durable.write_epoch``)."""
    from yamon_spark.operators.curation import psi_from_histograms, score_histogram

    new_hist = score_histogram(batch, model, n_bins).withColumnRenamed("n", "n_new")
    row = psi_from_histograms(
        ref_hist.withColumnRenamed("n", "n_ref"), new_hist, n_bins=n_bins
    )
    write_epoch(row, out_path, epoch)


def start_psi_monitor(
    spark: SparkSession,
    landing_dir: str,
    model_path: str,
    ref_hist_path: str,
    out_path: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    trigger: dict | None = None,
    query_name: str = "psi_live",
) -> StreamingQuery:
    """Start the live drift monitor: landed JSON doc lines -> parse ->
    per-epoch PSI row against the persisted model + reference histogram.
    Both artifacts load once at start (they are frozen training-time
    state; a retrain redeploys the pair and resets the checkpoint)."""
    model = spark.read.parquet(model_path)
    ref_hist = spark.read.parquet(ref_hist_path)
    docs = parse_doc_lines(spark.readStream.text(landing_dir))

    def run_epoch(batch: DataFrame, epoch: int) -> None:
        psi_epoch(batch, model, ref_hist, out_path, epoch, n_bins=n_bins)

    return (
        docs.writeStream.foreachBatch(run_epoch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
