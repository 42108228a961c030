"""Streaming MEDIA ingestion — the multimodal twin of the document
corpus pipeline (streaming/corpus.py): opaque payloads land as JSON
lines (media_id + base64 payload + claimed modality), every payload is
REALLY decoded by magic-byte dispatch over the vendored codecs
(:func:`~yamon_spark.operators.multimodal.sniff_decode` — BMP/PNG/JPEG,
WAV PCM16 + IMA-ADPCM, raw and MJPEG AVI), and typed rows append to a
(modality-claim-verified) media table with a dead-letter side channel.

Why decode at the door: in a 100 TB media corpus the format column is a
CLAIM from the crawler, not a fact. Ingest-time decode (a) quarantines
undecodable payloads into rejects with the decoder's reason instead of
poisoning downstream feature extraction, (b) records ground-truth
format/dims/frame/sample metadata next to the opaque bytes so every
later pass can partition-prune by modality without touching payloads,
and (c) flags claim/content mismatches (payload says image, bytes are
audio) — the classic crawl-corruption signal.

Plan shape per micro-batch: one Arrow `mapInPandas` stage carries bytes
Python-side once (the multimodal-column contract from the batch ops);
everything after it is JVM-side. State: none. Delivery: both the media
table and the rejects table land through ``durable.write_epoch``, so a
replayed epoch rewrites its own partitions in each.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from yamon_spark.plans.durable import write_epoch

MEDIA_WIRE_SCHEMA = (
    StructType()
    .add("media_id", "long")
    .add("modality", "string")  # the crawler's CLAIM: image | audio | video
    .add("payload_b64", "string")
    .add("ts", "string")
)

DECODED_SCHEMA = (
    "media_id bigint, modality string, format string, width bigint, height bigint, "
    "n_frames bigint, n_samples bigint, sample_rate bigint, n_bytes bigint, "
    "claim_ok int, err string"
)

def parse_media_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """One JSON media record per landed line -> typed rows with the
    payload decoded from base64 to binary; unparseable lines drop via
    the null gate (dead-lettering for the WIRE happens here; payload
    dead-lettering happens after the codec dispatch)."""
    parsed = lines.select(F.from_json(F.col(col), MEDIA_WIRE_SCHEMA).alias("m")).select("m.*")
    return (
        parsed.where(F.col("media_id").isNotNull() & F.col("payload_b64").isNotNull())
        .withColumn("payload", F.unbase64("payload_b64"))
        .drop("payload_b64")
    )


def decode_media_batch(media: DataFrame) -> DataFrame:
    """Magic-dispatch decode of a (media_id, modality, payload) frame:
    one Arrow stage, one output row per payload — decoded metadata for
    the good rows, the decoder's ValueError message for the bad ones
    (err IS NULL partitions the two populations). claim_ok records
    whether the DETECTED format satisfies the CLAIMED modality
    (``multimodal.CLAIM_FORMATS``)."""
    from yamon_spark.operators.multimodal import CLAIM_FORMATS, sniff_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                k: []
                for k in (
                    "media_id",
                    "modality",
                    "format",
                    "width",
                    "height",
                    "n_frames",
                    "n_samples",
                    "sample_rate",
                    "n_bytes",
                    "claim_ok",
                    "err",
                )
            }
            for mid, claim, p in zip(pdf["media_id"], pdf["modality"], pdf["payload"]):
                b = bytes(p) if p is not None else b""
                row = {"format": None, "width": None, "height": None, "n_frames": None,
                       "n_samples": None, "sample_rate": None}
                err = None
                try:
                    row = sniff_decode(b)
                # struct.error/IndexError belong to the same "malformed
                # payload" class as ValueError (the codecs normalize most
                # but a truncated container can still leak one); ONE bad
                # payload must route to rejects, never kill the batch.
                except (ValueError, struct.error, IndexError) as e:
                    err = str(e)[:160]
                out["media_id"].append(mid)
                out["modality"].append(claim)
                out["format"].append(row["format"])
                out["width"].append(row["width"])
                out["height"].append(row["height"])
                out["n_frames"].append(row["n_frames"])
                out["n_samples"].append(row["n_samples"])
                out["sample_rate"].append(row["sample_rate"])
                out["n_bytes"].append(len(b))
                ok = row["format"] in CLAIM_FORMATS.get(claim, set()) if err is None else None
                out["claim_ok"].append(None if ok is None else int(ok))
                out["err"].append(err)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, DECODED_SCHEMA)


def media_epoch(batch: DataFrame, out_dir: str, epoch: int) -> tuple[int, int]:
    """Idempotently land one epoch: decoded rows (epoch, modality)-
    partitioned under <out>/media, rejects epoch-partitioned under
    <out>/rejects — a replayed epoch rewrites only its own partitions.

    Returns ``(n_mismatch, n_rejects)`` — the epoch's claim/content
    mismatches and dead-letter rows — so the caller can feed the ops
    observables (``yamon.media.*`` via the monitor listener). The
    decoded metadata frame (payloads already dropped) is persisted for
    the epoch so the two writes and the count agg share ONE decode
    pass instead of re-running the codecs three times."""
    decoded = decode_media_batch(batch).persist()
    try:
        good = decoded.where(F.col("err").isNull()).drop("err")
        bad = decoded.where(F.col("err").isNotNull()).select(
            "media_id", "modality", "n_bytes", "err"
        )
        write_epoch(good, out_dir.rstrip("/") + "/media", epoch, "modality")
        write_epoch(bad, out_dir.rstrip("/") + "/rejects", epoch)
        n_mismatch, n_rejects = decoded.agg(
            F.coalesce(F.sum((F.col("claim_ok") == 0).cast("long")), F.lit(0)),
            F.coalesce(F.sum(F.col("err").isNotNull().cast("long")), F.lit(0)),
        ).first()
        return int(n_mismatch), int(n_rejects)
    finally:
        decoded.unpersist()


def start_media_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "media_ingest",
    monitor=None,
) -> StreamingQuery:
    """Start the media ingest: landed JSON media lines -> base64 decode
    -> vendored-codec dispatch -> verified media table + dead-letter.

    ``monitor`` (an :class:`~yamon_spark.streaming.monitor.
    IngestCounters`) receives per-epoch claim-mismatch and dead-letter
    counts as the ``yamon.media.{mismatch,rejects}.<query>``
    observables — the crawl-corruption rates an operator alerts on,
    same at-least-once counter semantics as ``yamon.ingested.*`` (a
    replayed epoch counts on every attempt)."""
    media = parse_media_lines(spark.readStream.text(landing_dir))

    def run_epoch(batch: DataFrame, epoch: int) -> None:
        n_mismatch, n_rejects = media_epoch(batch, out_dir, epoch)
        if monitor is not None:
            monitor.record_media(query_name, n_mismatch, n_rejects)

    return (
        media.writeStream.foreachBatch(run_epoch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
