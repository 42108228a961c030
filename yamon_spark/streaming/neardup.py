"""Live near-duplicate detection at ingest: the streaming twin of
`dedup_incremental`'s band-collision verdicts. The batch op asks "is
this landed batch already in the corpus index"; this asks the same
question per ARRIVING document against state accumulated across
micro-batches — the first line that stops a syndication flood of
lightly-edited copies at the door, where the exact-digest dedup
(`streaming/corpus.py` stage 3) only stops byte-identical ones.

Design:
- MinHash signatures are computed PER ROW with higher-order functions
  (array_min over the transformed distinct-shingle array) instead of
  the batch operators' explode+groupBy — a streaming-safe, shuffle-free
  projection with bit-identical results (pinned by
  tests/test_streaming_neardup.py::test_rowwise_signatures_match_batch).
- The stateful core is `applyInPandasWithState` keyed by the LSH band
  key (band, band_key): state is the bucket's OWNER (lowest doc_id seen)
  plus a processing-time TTL that evicts cold buckets, so state is
  bounded by buckets touched within the TTL window, not stream history.
  The reference analogue is the cursor-tracker restart model
  (`/root/reference/journal/tracker.go`): checkpointed state survives
  restarts.
- Emission is append-mode per BAND row: (doc_id, band, owner_doc) where
  owner_doc is NULL when this doc just became the bucket's owner.
  `band_flags_to_verdicts` folds the ≤n_bands flags to one verdict per
  doc (near if ANY band had a prior owner, matched to the lowest owner)
  — run it inside foreachBatch (all of a doc's band rows are emitted in
  the micro-batch its document arrived in).

100 TB/day shape: the per-row signature projection is embarrassingly
parallel; the only shuffle is the band-key groupBy (uniform md5 keys);
state per bucket is two longs. The downstream batch passes
(`dedup_incremental`, `minhash_lsh_pairs`) own corpus-scale dedup —
this operator's job is bounded-latency triage inside the ingest window.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from yamon_spark.operators.dedup import MINHASH_P, band_key, minhash_coeffs, shingle_hash
from yamon_spark.operators.text import shingles_col, words_col

FLAG_SCHEMA = "doc_id long, band int, owner_doc long"
_STATE_SCHEMA = "owner long"


def rowwise_signature_cols(
    text: Column, ngram: int = 3, num_hashes: int = 16
) -> list[Column]:
    """MinHash signature columns computed per row (no explode/groupBy):
    sig_i = min over distinct shingles of (a_i*h + b_i) mod P, h the
    shared ``dedup.shingle_hash`` — the same math as
    operators.dedup.minhash_signatures, in streaming-safe projection
    form."""
    shd = F.array_distinct(shingles_col(words_col(text), ngram))

    def perm(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(shd, lambda s: (F.lit(a) * shingle_hash(s) + F.lit(b)) % MINHASH_P)
        )

    return [perm(a, b).alias(f"sig_{i}") for i, (a, b) in enumerate(minhash_coeffs(num_hashes))]


def band_key_rows(
    docs: DataFrame, ngram: int = 3, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """(doc_id, band, band_key) rows from the per-row signatures — the
    same ``dedup.band_key`` as operators.dedup's _band_rows, so live
    buckets and batch buckets collide identically."""
    n_bands = num_hashes // band_size
    sigs = docs.select("doc_id", *rowwise_signature_cols(docs["text"], ngram, num_hashes))
    bands = [
        F.struct(F.lit(b).alias("band"), band_key(b, band_size).alias("band_key"))
        for b in range(n_bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*bands)).alias("bk")).select(
        "doc_id", "bk.band", "bk.band_key"
    )


def near_dup_flags_live(
    docs: DataFrame,
    ngram: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    state_ttl_s: int = 24 * 3600,
) -> DataFrame:
    """Streaming band-collision flags: one row per (arriving doc, band)
    with the bucket's prior owner (NULL if this doc just claimed the
    bucket). State = one long per touched bucket, TTL-evicted after
    ``state_ttl_s`` of bucket inactivity (processing time, the same
    timeout model as audit sessionization).

    Run the sink with a processing-time trigger (e.g. 5 s): pending
    processing-time timeouts make Spark schedule state-cleanup batches
    whenever the engine is idle, so the default as-fast-as-possible
    trigger spins empty micro-batches back-to-back between arrivals
    (and quiescence-based drains — availableNow/processAllAvailable —
    block until the TTL fires)."""

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"doc_id": [], "band": [], "owner_doc": []})
            return
        (owner,) = state.get if state.exists else (None,)
        out_doc, out_band, out_owner = [], [], []
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["doc_id"].astype("int64"), pdf["band"].astype("int64")))
        # doc_id order makes the within-batch owner deterministic (the
        # lowest id claims a fresh bucket, later ids see it as prior)
        for doc_id, band in sorted(rows):
            out_doc.append(int(doc_id))
            out_band.append(int(band))
            out_owner.append(owner)
            if owner is None or doc_id < owner:
                owner = int(doc_id)
        state.update((owner,))
        state.setTimeoutDuration(state_ttl_s * 1000)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "band": pd.Series(out_band, dtype="int64"),
                "owner_doc": pd.Series(out_owner, dtype="object"),
            }
        )

    return (
        band_key_rows(docs, ngram, num_hashes, band_size)
        .groupBy("band", "band_key")
        .applyInPandasWithState(
            track,
            outputStructType=FLAG_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def band_flags_to_verdicts(flags: DataFrame) -> DataFrame:
    """Fold band-level flags to per-doc verdicts: near (>=1 band had a
    prior owner, matched to the LOWEST such owner) or unique. Batch
    helper — run inside foreachBatch on each micro-batch's emission."""
    return (
        flags.groupBy("doc_id")
        .agg(
            F.min("owner_doc").alias("matched_id"),
            F.count("owner_doc").cast("bigint").alias("n_bands_hit"),
        )
        .select(
            "doc_id",
            F.when(F.col("matched_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            "matched_id",
            "n_bands_hit",
        )
        .orderBy("doc_id")
    )
