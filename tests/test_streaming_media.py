"""Streaming media ingest: every vendored codec decodes at the door
(BMP/PNG/JPEG, WAV PCM + ADPCM, raw + MJPEG AVI), garbage payloads
dead-letter with the decoder's reason instead of failing the batch,
claim/content mismatches are flagged, and a replayed epoch rewrites its
own partitions (idempotent)."""

from __future__ import annotations

import base64
import io
import json
import struct
import wave

from yamon_spark.streaming.media import media_epoch, parse_media_lines, start_media_ingest


def _payloads():
    from yamon_spark.operators.multimodal import (
        JPEG_ZIGZAG,  # noqa: F401 — parity import with the codec tests
        adpcm_decode,
        encode_adpcm_wav,
        encode_avi,
        encode_bmp,
        encode_jpeg,
        encode_mjpeg_avi,
        encode_png,
    )

    qt = [8] * 64
    zz = [0] * 64
    zz[0] = 10
    jf = encode_jpeg(8, 8, [zz], qt)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    return [
        (1, "image", encode_bmp(5, 3), "bmp", {"width": 5, "height": 3}),
        (2, "image", encode_png(4, 6, bytes(range(24))), "png", {"width": 4, "height": 6}),
        (3, "image", jf, "jpeg", {"width": 8, "height": 8}),
        (4, "audio", buf.getvalue(), "wav_pcm", {"n_samples": 4, "sample_rate": 8000}),
        (5, "audio", encode_adpcm_wav([100] + adpcm_decode([1, 2, 3], 100, 0)), "wav_adpcm",
         {"n_samples": 4, "sample_rate": 16000}),
        (6, "video", encode_avi(3, 2, [b"\x00" * 6] * 2), "avi_raw", {"n_frames": 2}),
        (7, "video", encode_mjpeg_avi(8, 8, [jf, jf]), "avi_mjpeg", {"n_frames": 2}),
        (8, "image", buf.getvalue(), "wav_pcm", {}),  # claim mismatch: audio bytes
    ]


def _land(landing, name, rows):
    landing.mkdir(exist_ok=True)
    lines = [
        json.dumps(
            {
                "media_id": mid,
                "modality": claim,
                "payload_b64": base64.b64encode(b).decode(),
                "ts": "2024-05-01T10:00:00Z",
            }
        )
        for mid, claim, b in rows
    ]
    (landing / name).write_text("\n".join(lines) + "\n")


def test_media_ingest_decodes_all_codecs_and_dead_letters(spark, tmp_path):
    rows = [(mid, claim, b) for mid, claim, b, _, _ in _payloads()]
    rows.append((99, "image", b"GIF89a not a supported codec"))
    _land(tmp_path / "landing", "b0.jsonl", rows)
    q = start_media_ingest(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    media = {r.media_id: r for r in spark.read.parquet(str(tmp_path / "store/media")).collect()}
    assert sorted(media) == [1, 2, 3, 4, 5, 6, 7, 8]
    for mid, _claim, _b, fmt, expect in _payloads():
        r = media[mid]
        assert r.format == fmt, (mid, r.format)
        for k, v in expect.items():
            assert getattr(r, k) == v, (mid, k, getattr(r, k))
    # claim verification: 1-7 consistent, 8 claims image but is audio
    assert all(media[i].claim_ok == 1 for i in range(1, 8))
    assert media[8].claim_ok == 0

    rejects = spark.read.parquet(str(tmp_path / "store/rejects")).collect()
    assert len(rejects) == 1 and rejects[0].media_id == 99
    assert "unknown media magic" in rejects[0].err


def test_media_epoch_replay_is_idempotent(spark, tmp_path):
    rows = [(mid, claim, b) for mid, claim, b, _, _ in _payloads()[:3]]
    rows.append((99, "image", b"junk junk junk"))
    _land(tmp_path / "landing", "b0.jsonl", rows)
    batch = parse_media_lines(spark.read.text(str(tmp_path / "landing")))
    media_epoch(batch, str(tmp_path / "store"), epoch=4)
    first_m = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "store/media")).collect())
    first_r = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "store/rejects")).collect())
    media_epoch(batch, str(tmp_path / "store"), epoch=4)  # replay
    again_m = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "store/media")).collect())
    again_r = sorted(r.media_id for r in spark.read.parquet(str(tmp_path / "store/rejects")).collect())
    assert first_m == again_m == [1, 2, 3]
    assert first_r == again_r == [99]


def test_media_monitor_observables_over_replayed_epoch(spark, tmp_path):
    """yamon.media.{mismatch,rejects}.<query> surface the decode-at-the-
    door health counts: one ingest pass counts the claim-mismatched row
    and the dead-lettered payload; a REPLAYED epoch (at-least-once
    foreachBatch) counts again — the documented rows_in counter
    semantics — while the tables themselves stay idempotent."""
    from yamon_spark.streaming.monitor import IngestCounters

    rows = [(mid, claim, b) for mid, claim, b, _, _ in _payloads()]  # 8 = mismatch
    rows.append((99, "image", b"junk junk junk"))  # -> dead-letter
    _land(tmp_path / "landing", "b0.jsonl", rows)
    q = start_media_ingest(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        monitor=(mon := IngestCounters()),
    )
    q.awaitTermination()
    assert mon.media_mismatch["media_ingest"] == 1
    assert mon.media_rejects["media_ingest"] == 1

    # replay the same epoch by hand: counters accumulate, tables do not
    batch = parse_media_lines(spark.read.text(str(tmp_path / "landing")))
    n_mismatch, n_rejects = media_epoch(batch, str(tmp_path / "store"), epoch=0)
    mon.record_media("media_ingest", n_mismatch, n_rejects)
    assert (mon.media_mismatch["media_ingest"], mon.media_rejects["media_ingest"]) == (2, 2)
    assert spark.read.parquet(str(tmp_path / "store/rejects")).count() == 1

    snap = mon.snapshot_metrics(spark)
    got = {r.name: r.value for r in snap.collect() if r.name.startswith("yamon.media.")}
    assert got == {
        "yamon.media.mismatch.media_ingest": 2.0,
        "yamon.media.rejects.media_ingest": 2.0,
    }
    assert all(
        r.type == "counter" for r in snap.collect() if r.name.startswith("yamon.media.")
    )


def _pcm_wav_poisons() -> list[bytes]:
    """Four malformed cuts of one 5-sample PCM16 WAV: the header cut
    inside its fmt chunk, a fmt size of 200, a data size of 1000 over 10
    bytes, and the bare 44-byte header (data declared, none present)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<5h", 1, 2, 3, 4, 5))
    good = buf.getvalue()
    return [
        good[:30],
        good[:16] + struct.pack("<I", 200) + good[20:],
        good[:40] + struct.pack("<I", 1000) + good[44:],
        good[:44],
    ]


def test_media_epoch_dead_letters_malformed_pcm_wavs(spark, tmp_path):
    """A malformed PCM WAV is a reject with the reader's reason, never a
    failed batch: a failed epoch replays on every restart, so one such
    payload would stall the stream."""
    from yamon_spark.operators.multimodal import encode_bmp

    rows = [(1, "image", encode_bmp(5, 3))]
    rows += [(10 + i, "audio", b) for i, b in enumerate(_pcm_wav_poisons())]
    _land(tmp_path / "landing", "b0.jsonl", rows)
    batch = parse_media_lines(spark.read.text(str(tmp_path / "landing")))
    assert media_epoch(batch, str(tmp_path / "store"), epoch=0) == (0, 4)

    media = spark.read.parquet(str(tmp_path / "store/media")).collect()
    assert [(r.media_id, r.format) for r in media] == [(1, "bmp")]
    rejects = spark.read.parquet(str(tmp_path / "store/rejects")).collect()
    assert sorted(r.media_id for r in rejects) == [10, 11, 12, 13]
    assert all(r.err for r in rejects)
