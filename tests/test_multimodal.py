"""Multimodal plumbing stages (mapInPandas, stub codecs): decode,
resize, frame-sample, feature-extract — schemas, batch shapes, and
NotImplementedError gates for the real codecs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from yamon_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 640), (2, "hello world " * 40), (3, "x")], "doc_id bigint, text string"
    )
    return M.attach_binary(docs)


def test_decode_media(spark, media):
    rows = {r.doc_id: r for r in M.decode_media(media).collect()}
    assert rows[1].n_bytes == 640
    assert rows[1].width == 640 % 640 and rows[1].n_frames == 640 % 30
    assert len(rows[1].sha) == 64
    assert rows[3].n_bytes == 1


def test_resize_media(spark, media):
    rows = M.resize_media(media, 224, 224).collect()
    assert all(r.width == 224 and r.height == 224 for r in rows)
    assert all(isinstance(r.payload, (bytes, bytearray)) for r in rows)


def test_sample_frames_expansion(spark, media):
    rows = M.sample_frames(media, every_n=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    # doc 1: 640 bytes -> 10 frames -> sampled 0,2,4,6,8
    assert by_doc[1] == [0, 2, 4, 6, 8]
    assert by_doc[3] == [0]  # tiny payload still yields one frame


def test_extract_features(spark, media):
    rows = {r.doc_id: r.feature for r in M.extract_features(media, dim=8).collect()}
    assert all(len(v) == 8 for v in rows.values())
    assert all(0.0 <= x <= 1.0 for v in rows.values() for x in v)
    # deterministic: same input -> same features
    again = {r.doc_id: r.feature for r in M.extract_features(media, dim=8).collect()}
    assert rows == again


def test_real_codec_gates_without_pillow(spark, media):
    """Sans Pillow the real path must fail loudly, naming the dependency."""
    import importlib.util

    if importlib.util.find_spec("PIL") is not None:
        pytest.skip("Pillow installed; gate does not fire")
    with pytest.raises(Exception, match="Pillow|decode_stub"):
        M.resize_media(media, decode_stub=False).collect()


def _bmp(width: int, height: int, bpp: int = 24, top_down: bool = False) -> bytes:
    """Build a valid uncompressed BITMAPINFOHEADER BMP with zeroed pixels."""
    import struct

    row = (width * bpp + 31) // 32 * 4
    pixels = b"\x00" * (row * height)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height, 1, bpp, 0,
        len(pixels), 2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + len(dib) + len(pixels), 0, 0, 14 + len(dib))
    return header + dib + pixels


def test_bmp_decode_real_path_no_pillow(spark):
    """The vendored BMP codec is a REAL image-bytes->dims path that runs
    in this sandbox: decode_stub=False must work on BMP payloads with no
    Pillow installed (VERDICT r4 item 3). Top-down (negative height)
    bitmaps report the same dims."""
    rows_in = [(1, _bmp(13, 7)), (2, _bmp(32, 24, bpp=32)), (3, _bmp(5, 9, top_down=True))]
    media = spark.createDataFrame(rows_in, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in M.decode_media(media, decode_stub=False).collect()}
    assert (got[1].width, got[1].height, got[1].n_frames) == (13, 7, 1)
    assert (got[2].width, got[2].height) == (32, 24)
    assert (got[3].width, got[3].height) == (5, 9)
    assert all(len(r.sha) == 64 and r.n_bytes == len(p) for (_, p), r in zip(rows_in, [got[1], got[2], got[3]]))


def test_bmp_roundtrip_operator(spark):
    """Encode-then-decode round-trip: recovered dims match the derivation
    and n_bytes matches the exact BMP layout the oracle recomputes."""
    docs = spark.createDataFrame(
        [(1, "abcdef", 6), (2, "x" * 40, 40)], "doc_id bigint, text string, n_chars bigint"
    )
    rows = {r.doc_id: r for r in M.bmp_roundtrip(docs).collect()}
    assert (rows[1].width, rows[1].height) == (6 % 13 + 1, 1 % 7 + 1)
    assert (rows[2].width, rows[2].height) == (40 % 13 + 1, 2 % 7 + 1)
    for r in rows.values():
        assert r.n_bytes == 54 + (r.width * 24 + 31) // 32 * 4 * r.height


def test_avi_roundtrip_operator(spark):
    """Encode-then-demux round-trip: recovered dims/frame counts match
    the derivation and n_bytes matches the exact RIFF layout the oracle
    recomputes (100 fixed + per-frame 8-byte chunks, even-padded)."""
    docs = spark.createDataFrame(
        [(1, "abcdef", 6), (2, "x" * 40, 40)], "doc_id bigint, text string, n_chars bigint"
    )
    rows = {r.doc_id: r for r in M.avi_roundtrip(docs).collect()}
    for doc_id, n_chars in ((1, 6), (2, 40)):
        r = rows[doc_id]
        nf, flen = doc_id % 4 + 1, n_chars % 9 + 1
        assert (r.width, r.height) == (n_chars % 13 + 1, doc_id % 7 + 1)
        assert (r.n_frames, r.frame_bytes) == (nf, nf * flen)
        assert r.n_bytes == 100 + nf * (8 + flen + flen % 2)


def test_bmp_decoder_rejects_malformed():
    import struct

    with pytest.raises(ValueError, match="magic"):
        M.decode_bmp(b"not a bitmap")
    ok = _bmp(4, 4)
    with pytest.raises(ValueError, match="size"):
        M.decode_bmp(ok + b"trailing")  # header/payload size mismatch

    cut = bytearray(ok[:-4])  # drop pixel bytes, re-stamp consistent size
    struct.pack_into("<I", cut, 2, len(cut))
    with pytest.raises(ValueError, match="past payload"):
        M.decode_bmp(bytes(cut))

    rle = bytearray(_bmp(4, 4, bpp=8))
    struct.pack_into("<I", rle, 30, 1)  # compression = BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        M.decode_bmp(bytes(rle))


@pytest.fixture(scope="module")
def png_media(spark):
    """Real PNG payloads (auto-skips when Pillow is absent)."""
    Image = pytest.importorskip("PIL.Image")
    import io

    rows = []
    for doc_id, (w, h) in ((1, (8, 6)), (2, (16, 16))):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), (doc_id * 10, 0, 0)).save(buf, format="PNG")
        rows.append((doc_id, buf.getvalue()))
    return spark.createDataFrame(rows, "doc_id bigint, payload binary")


def test_real_decode_media(spark, png_media):
    rows = {r.doc_id: r for r in M.decode_media(png_media, decode_stub=False).collect()}
    assert (rows[1].width, rows[1].height, rows[1].n_frames) == (8, 6, 1)
    assert (rows[2].width, rows[2].height) == (16, 16)


def test_real_resize_roundtrip(spark, png_media):
    from PIL import Image
    import io

    rows = M.resize_media(png_media, 4, 4, decode_stub=False).collect()
    for r in rows:
        with Image.open(io.BytesIO(bytes(r.payload))) as img:
            assert img.size == (4, 4)


def test_real_frames_and_features(spark, png_media):
    frames = M.sample_frames(png_media, every_n=1, decode_stub=False).collect()
    assert sorted(r.doc_id for r in frames) == [1, 2]  # single-frame PNGs
    feats = {r.doc_id: r.feature for r in M.extract_features(png_media, dim=4, decode_stub=False).collect()}
    assert all(len(v) == 4 for v in feats.values())
    assert all(0.0 <= x <= 1.0 for v in feats.values() for x in v)


def test_sample_video_frames_stub(spark, media):
    """Stub video codec: 256-byte blocks as frames, every_n sampling,
    per-frame dims derived deterministically from block bytes."""
    rows = M.sample_video_frames(media, every_n=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 640 bytes -> 2 blocks -> sampled frame 0 only (every 2nd)
    assert [r.frame_idx for r in by_doc[1]] == [0]
    assert by_doc[3][0].frame_idx == 0  # tiny payload still yields one frame
    for r in rows:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert isinstance(r.frame, (bytes, bytearray))
    # deterministic
    again = M.sample_video_frames(media, every_n=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_video_codec_gates_without_pyav(spark, media):
    """Sans pyav the real video path must fail loudly, naming the dep."""
    import importlib.util

    if importlib.util.find_spec("av") is not None:
        pytest.skip("pyav installed; gate does not fire")
    with pytest.raises(Exception, match="pyav|decode_stub"):
        M.sample_video_frames(media, decode_stub=False).collect()


def _avi(width: int, height: int, frames: list[bytes], compressed: bool = False) -> bytes:
    """Build a minimal RIFF/AVI container: hdrl LIST with an avih main
    header, movi LIST with one '00db' (or '00dc') chunk per frame."""
    import struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) % 2 else b"")

    def list_chunk(list_type: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", list_type + data)

    avih = bytearray(56)
    struct.pack_into("<I", avih, 16, len(frames))  # dwTotalFrames
    struct.pack_into("<II", avih, 32, width, height)
    hdrl = list_chunk(b"hdrl", chunk(b"avih", bytes(avih)))
    cc = b"00dc" if compressed else b"00db"
    movi = list_chunk(b"movi", b"".join(chunk(cc, f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_demux_real_path_no_pyav(spark):
    """The vendored AVI demuxer is a REAL container->frames path that
    runs in this sandbox: decode_stub=False must work on uncompressed
    AVI payloads with no pyav installed — completing the BMP/WAV/AVI
    real-codec trio. Odd-length frames exercise the even-padding rule."""
    frames = [b"frame-zero!", b"f1-odd-len-x", b"frame-two-bytes", b"f3!"]
    media = spark.createDataFrame(
        [(1, _avi(32, 24, frames)), (2, _avi(8, 6, frames[:1]))],
        "doc_id bigint, payload binary",
    )
    rows = M.sample_video_frames(media, every_n=2, decode_stub=False).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [(r.frame_idx, bytes(r.frame)) for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [
        (0, frames[0]), (2, frames[2]),
    ]
    assert all((r.width, r.height) == (32, 24) for r in by_doc[1])
    assert [(r.width, r.height, bytes(r.frame)) for r in by_doc[2]] == [(8, 6, frames[0])]


def test_avi_demuxer_rejects_malformed():
    with pytest.raises(ValueError, match="magic"):
        M.demux_avi(b"RIFFxxxxWAVE")  # right RIFF, wrong form type
    with pytest.raises(ValueError, match="compressed"):
        M.demux_avi(_avi(4, 4, [b"zz"], compressed=True))
    ok = _avi(4, 4, [b"abcd"])
    with pytest.raises(ValueError, match="past payload"):
        M.demux_avi(ok[:-3])  # truncated final chunk
    with pytest.raises(ValueError, match="avih"):
        import struct
        movi_only = b"AVI " + b"LIST" + struct.pack("<I", 4) + b"movi"
        M.demux_avi(b"RIFF" + struct.pack("<I", len(movi_only)) + movi_only)


def test_real_video_frames(spark):
    """Real pyav demux path (auto-skips when pyav is absent): encode a
    tiny synthetic video, round-trip frames through sample_video_frames."""
    av = pytest.importorskip("av")
    pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=4)
        stream.width, stream.height = 32, 24
        stream.pix_fmt = "yuv420p"
        for i in range(6):
            arr = np.full((24, 32, 3), i * 40, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)

    media = spark.createDataFrame([(1, buf.getvalue())], "doc_id bigint, payload binary")
    rows = M.sample_video_frames(media, every_n=3, decode_stub=False).collect()
    assert [r.frame_idx for r in rows] == [0, 3]
    assert all((r.width, r.height) == (32, 24) for r in rows)


def test_extract_features_empty_payload(spark):
    """Empty payloads yield a zero vector (not NaN from a mean of
    nothing) — the convention the SQL oracle's empty-slice sums imply."""
    media = spark.createDataFrame([(1, b""), (2, b"abc")], "doc_id bigint, payload binary")
    rows = {r.doc_id: r.feature for r in M.extract_features(media, dim=4).collect()}
    assert rows[1] == [0.0, 0.0, 0.0, 0.0]
    assert all(x == x for x in rows[2])  # no NaN


def test_audio_windows_stub(spark):
    """Stub PCM16 framing: known samples -> exact window RMS."""
    import struct

    # 96 samples: 64-window every 32 -> 2 windows
    pcm = struct.pack("<96h", *([100] * 64 + [-200] * 32))
    media = spark.createDataFrame([(1, pcm), (2, b"\x01")], "doc_id bigint, payload binary")
    rows = {(r.doc_id, r.win_idx): r for r in M.audio_windows(media, win=64, hop=32).collect()}
    assert rows[(1, 0)].rms == 100.0  # all-100 window
    # window 1 = 32x100 + 32x(-200): rms = sqrt((32*100^2 + 32*200^2)/64)
    assert abs(rows[(1, 1)].rms - 158.1139) < 1e-4
    assert rows[(1, 0)].n_samples == 96
    # doc 2: one dangling byte -> zero samples, one empty window, rms 0
    assert rows[(2, 0)].rms == 0.0 and rows[(2, 0)].n_samples == 0


def test_audio_windows_tiny_payload_oracle_parity(spark):
    """Sub-2-byte payloads hit the oracle's empty-window slice, where
    DuckDB's list_sum([]) is NULL — the COALESCE must land on the same
    0.0 the Spark operator emits (ADVICE r4)."""
    import duckdb
    import pandas as pd

    from yamon_spark.queries import REGISTRY, all_queries

    all_queries()
    oracle = REGISTRY["multimodal_audio_windows"].oracle
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["x", "", "abcd"]})
    media = M.attach_binary(
        spark.createDataFrame(pdf.assign(text=pdf.text.astype(str)))
    )
    got = [
        (r.doc_id, r.win_idx, r.n_samples, r.rms)
        for r in M.audio_windows(media, win=64, hop=32)
        .orderBy("doc_id", "win_idx")
        .collect()
    ]
    con = duckdb.connect()
    con.register("documents", pdf)
    want = [tuple(r) for r in con.execute(oracle).fetchall()]
    assert got == want
    # the 1-byte and empty docs are the empty-slice rows: rms must be 0.0
    assert got[0][3] == 0.0 and got[1][3] == 0.0


def test_audio_windows_real_wav(spark):
    """Real path: the vendored RIFF reader parses an in-memory 16-bit
    mono WAV written by stdlib wave."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(struct.pack("<64h", *([1000] * 64)))
    media = spark.createDataFrame([(1, buf.getvalue())], "doc_id bigint, payload binary")
    rows = M.audio_windows(media, win=64, hop=32, decode_stub=False).collect()
    assert len(rows) == 1 and rows[0].rms == 1000.0 and rows[0].n_samples == 64


def test_decode_png_short_ihdr_raises_valueerror():
    """A 12-byte IHDR with a VALID CRC must still raise ValueError (the
    decoder contract decode_media's fallback relies on), not
    struct.error."""
    import struct
    import zlib

    import pytest

    from yamon_spark.operators.multimodal import decode_png

    data = bytes(12)
    chunk = struct.pack(">I", 12) + b"IHDR" + data
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF)
    payload = b"\x89PNG\r\n\x1a\n" + chunk
    with pytest.raises(ValueError):
        decode_png(payload)


# --- vendored baseline JPEG codec --------------------------------------


def test_jpeg_tables_and_zigzag_valid():
    """Annex K table specs are internally consistent and the generated
    zigzag is a permutation of 0..63 with the spec's first diagonal."""
    from yamon_spark.operators.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        JPEG_ZIGZAG,
    )

    assert sum(JPEG_DC_BITS) == len(JPEG_DC_VALS) == 12
    assert sum(JPEG_AC_BITS) == len(JPEG_AC_VALS) == 162
    assert sorted(JPEG_ZIGZAG) == list(range(64))
    assert JPEG_ZIGZAG[:8] == [0, 1, 8, 16, 9, 2, 3, 10]


def test_jpeg_roundtrip_pixel_exact():
    """The coefficient-domain construction (DC + AC at raster (4,4),
    flat quant 8) decodes to the closed form 128 + dc + s(x)s(y)*ac,
    so the general Huffman+IDCT path is pixel-exact."""
    from yamon_spark.operators.multimodal import JPEG_ZIGZAG, decode_jpeg, encode_jpeg

    qt = [8] * 64
    ac_zz = JPEG_ZIGZAG.index(36)
    s = [1, -1, -1, 1, 1, -1, -1, 1]
    for d in range(12):
        wb, hb = d % 3 + 1, d % 2 + 1
        blocks = []
        for b in range(wb * hb):
            zz = [0] * 64
            zz[0] = (d * 7 + b * 13) % 201 - 100
            zz[ac_zz] = (d + b * 5) % 41 - 20
            blocks.append(zz)
        w, h, pix = decode_jpeg(encode_jpeg(8 * wb, 8 * hb, blocks, qt))
        assert (w, h) == (8 * wb, 8 * hb)
        for y in range(h):
            for x in range(w):
                bi = (y // 8) * wb + (x // 8)
                dc = (d * 7 + bi * 13) % 201 - 100
                ac = (d + bi * 5) % 41 - 20
                assert pix[y * w + x] == 128 + dc + s[x % 8] * s[y % 8] * ac


def test_jpeg_byte_stuffing_and_crop():
    """Scans containing stuffed 0xFF bytes decode identically, and
    non-multiple-of-8 dims crop block edges correctly."""
    from yamon_spark.operators.multimodal import JPEG_ZIGZAG, decode_jpeg, encode_jpeg

    qt = [8] * 64
    ac_zz = JPEG_ZIGZAG.index(36)
    s = [1, -1, -1, 1, 1, -1, -1, 1]
    zz = [0] * 64
    zz[0], zz[ac_zz] = -100, -20  # known to produce a stuffed 0xFF
    b = encode_jpeg(16, 8, [zz, zz], qt)
    assert b"\xff\x00" in b[b.find(b"\xff\xda") + 14 : -2]
    w, h, pix = decode_jpeg(b)
    assert all(
        pix[y * 16 + x] == 128 - 100 + s[x % 8] * s[y % 8] * -20
        for y in range(8)
        for x in range(16)
    )
    # crop: 12x10 = 2x2 blocks with right/bottom edges dropped
    blocks = []
    for b_ in range(4):
        z = [0] * 64
        z[0], z[ac_zz] = 10 * b_ - 15, b_ * 3 - 4
        blocks.append(z)
    w, h, pix = decode_jpeg(encode_jpeg(12, 10, blocks, qt))
    assert (w, h, len(pix)) == (12, 10, 120)
    assert all(
        pix[y * 12 + x] == 128 + (10 * ((y // 8) * 2 + x // 8) - 15)
        + s[x % 8] * s[y % 8] * (((y // 8) * 2 + x // 8) * 3 - 4)
        for y in range(10)
        for x in range(12)
    )


def test_jpeg_decoder_rejects_malformed():
    """Every malformed input raises ValueError (the decode_media
    fallback contract), never struct.error/IndexError."""
    import pytest

    from yamon_spark.operators.multimodal import decode_jpeg, encode_jpeg

    qt = [8] * 64
    good = encode_jpeg(8, 8, [[0] * 64], qt)
    for bad in (
        b"\x00\x11",  # no SOI
        b"\xff\xd8\xff\xd9",  # no SOF/SOS
        good[:-3],  # truncated scan
        good.replace(b"\xff\xc0", b"\xff\xc2", 1),  # progressive
        b"\xff\xd8\xff\xc0\x00\x04\x08\x00",  # short SOF0 payload (struct.error path)
        b"\xff\xd8\xff\xda\x00\x02",  # empty SOS payload (IndexError path)
    ):
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_jpeg_real_decode_media_branch(spark):
    """decode_media's real path routes JPEG payloads through the
    vendored decoder — no Pillow required."""
    from yamon_spark.operators.multimodal import decode_jpeg, decode_media, encode_jpeg

    qt = [8] * 64
    payload = encode_jpeg(16, 8, [[0] * 64, [0] * 64], qt)
    media = spark.createDataFrame([(1, payload)], "doc_id bigint, payload binary")
    row = decode_media(media, decode_stub=False).collect()[0]
    assert (row.width, row.height, row.n_frames) == (16, 8, 1)
    assert decode_jpeg(payload)[:2] == (16, 8)


def test_mjpeg_avi_mux_demux_decodes_every_frame():
    """encode_mjpeg_avi -> demux_mjpeg_avi round-trips a compressed
    video stream: every '00dc' JPEG frame fully decodes to the closed
    form 128 + dc + s(x)s(y)*ac, and the demuxer enforces the MJPG
    handler and frame/container dim agreement."""
    import pytest

    from yamon_spark.operators.multimodal import (
        JPEG_ZIGZAG,
        demux_avi,
        demux_mjpeg_avi,
        encode_jpeg,
        encode_mjpeg_avi,
    )

    qt = [8] * 64
    ac_zz = JPEG_ZIGZAG.index(36)
    s = [1, -1, -1, 1, 1, -1, -1, 1]
    coeffs = [(-100, -20), (0, 7), (93, 20)]
    jpegs = []
    for dc, ac in coeffs:
        zz = [0] * 64
        zz[0], zz[ac_zz] = dc, ac
        jpegs.append(encode_jpeg(8, 8, [zz], qt))
    avi = encode_mjpeg_avi(8, 8, jpegs)
    w, h, frames = demux_mjpeg_avi(avi)
    assert (w, h, len(frames)) == (8, 8, 3)
    for (dc, ac), (fw, fh, pix) in zip(coeffs, frames):
        assert (fw, fh) == (8, 8)
        assert all(
            pix[y * 8 + x] == 128 + dc + s[x] * s[y] * ac
            for y in range(8)
            for x in range(8)
        )
    # the uncompressed demuxer refuses '..dc' chunks (contract unchanged)
    with pytest.raises(ValueError, match="compressed"):
        demux_avi(avi)
    # non-MJPG handler is rejected
    with pytest.raises(ValueError, match="not an AVI|not MJPG"):
        demux_mjpeg_avi(avi.replace(b"MJPG", b"H264", 1))
    # frame dims must match the container
    with pytest.raises(ValueError, match="!= container"):
        demux_mjpeg_avi(encode_mjpeg_avi(16, 8, jpegs))


def test_mjpeg_roundtrip_operator(spark):
    """mjpeg_roundtrip emits per-doc stats matching the closed form the
    oracle recomputes (pixel_sum = sum_f 64*(dc_f+128), wxy_sum =
    sum_f 19600*(dc_f+128) + 64*ac_f)."""
    from yamon_spark.operators.multimodal import mjpeg_roundtrip

    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(9)], "doc_id long, text string")
    rows = {r.doc_id: r for r in mjpeg_roundtrip(docs).collect()}
    assert len(rows) == 9
    for d, r in rows.items():
        nf = d % 3 + 1
        assert (r.width, r.height, r.n_frames) == (8, 8, nf)
        assert r.pixel_sum == sum(64 * ((d * 7 + f * 13) % 201 + 28) for f in range(nf))
        assert r.wxy_sum == sum(
            19600 * ((d * 7 + f * 13) % 201 + 28) + 64 * ((d + f * 5) % 41 - 20)
            for f in range(nf)
        )


def test_audio_trim_silence_and_tone(spark):
    """Synthetic PCM: silence, then a loud tone, then silence. The trim
    must bound exactly the tone's windows (geometry first*hop ..
    last*hop+win capped at length); an all-silent clip trims to 0 with
    NULL bounds."""
    import struct

    from yamon_spark.operators.multimodal import audio_trim

    silence = [0] * 320
    tone = [20000, -20000] * 160  # 320 samples, RMS 20000
    clip = silence + tone + silence  # 960 samples
    payload = struct.pack(f"<{len(clip)}h", *clip)
    quiet = struct.pack("<320h", *silence)
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(quiet))], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in audio_trim(
        media, win=64, hop=32, rms_threshold=1000.0
    ).collect()}
    r = out[1]
    # windows overlapping the tone ([320, 640)): first touching index
    # ceil((320-64)/32)=8, last start <= 639 -> idx 19 (window [608,672))
    assert (r.first_active, r.last_active) == (9, 19)
    assert r.trimmed_samples == min(19 * 32 + 64, 960) - 9 * 32
    assert 0 < r.n_active < r.n_windows
    q = out[2]
    assert q.n_active == 0 and q.trimmed_samples == 0
    assert q.first_active is None and q.last_active is None and q.active_ratio == 0.0


def test_adpcm_codec_roundtrip_and_lattice_exactness():
    """IMA-ADPCM vendored codec: (1) decode/encode state symmetry — a
    signal on the decoder's reachable lattice re-encodes to the exact
    code sequence; (2) the WAV format 0x11 container (fmt cbSize=2,
    fact chunk, block header, low-first nibbles, pad crop) round-trips
    bit-exactly; (3) a non-lattice signal still decodes within one step
    of the input (lossy but bounded)."""
    from yamon_spark.operators.multimodal import (
        ADPCM_STEPS,
        adpcm_decode,
        adpcm_encode,
        decode_adpcm_wav,
        encode_adpcm_wav,
    )

    for did in (0, 1, 7, 499, 4999):
        for n in (8, 9, 48):
            p0 = (did * 29) % 2001 - 1000
            i0 = did % 8
            codes = [
                ((did * 7 + k * 13) % 6) | (8 if (did + k * 5) % 2 == 1 else 0)
                for k in range(1, n)
            ]
            samples = [p0] + adpcm_decode(codes, p0, i0)
            assert adpcm_encode(samples[1:], p0, i0) == codes  # lattice exactness
            wav = encode_adpcm_wav(samples, idx0=i0)
            rate, back = decode_adpcm_wav(wav)
            assert rate == 16000 and back == samples
            assert len(wav) == 64 + n // 2  # 4:1 vs PCM16's 44 + 2n

    # greedy-quantizer contract on an arbitrary (non-lattice) signal:
    # each step moves the predictor TOWARD the sample and overshoots by
    # at most step>>3 (the rounding term) — the codec may lag a jump it
    # cannot reach yet (that is the lossy part), but never runs away
    sig = [0, 500, -300, 1200, 1199, -4000, 32000, -32000, 7]
    codes = adpcm_encode(sig[1:], sig[0], 0)
    dec = [sig[0]] + adpcm_decode(codes, sig[0], 0)
    idx, prev = 0, sig[0]
    for s, d, c in zip(sig[1:], dec[1:], codes):
        step = ADPCM_STEPS[idx]
        resid, move = s - prev, d - prev
        if resid >= 0:
            assert -(step >> 3) <= move <= resid + (step >> 3), (s, d, prev, step)
        else:
            assert resid - (step >> 3) <= move <= (step >> 3), (s, d, prev, step)
        prev, idx = d, max(0, min(88, idx + [-1, -1, -1, -1, 2, 4, 6, 8][c & 7]))


def test_adpcm_wav_rejects_malformed():
    """decode_adpcm_wav keeps the decode_jpeg error contract: malformed
    input raises ValueError (never IndexError/struct.error)."""
    import struct

    import pytest

    from yamon_spark.operators.multimodal import decode_adpcm_wav, encode_adpcm_wav

    good = encode_adpcm_wav([100, 105, 95, 110], idx0=3)
    cases = {
        "empty": b"",
        "not riff": b"JUNK" + good[4:],
        "not wave": good[:8] + b"AVI " + good[12:],
        "no chunks": good[:12],
        "pcm tag": good[:20] + struct.pack("<H", 1) + good[22:],
        "stereo": good[:22] + struct.pack("<H", 2) + good[24:],
        "bad index": good.replace(struct.pack("<hBB", 100, 3, 0), struct.pack("<hBB", 100, 99, 0)),
        "truncated block": good[:-len(good) + 60] if len(good) > 60 else good[:57],
    }
    for label, bad in cases.items():
        with pytest.raises(ValueError):
            decode_adpcm_wav(bad)
        assert label  # keep the label used


def test_adpcm_roundtrip_operator(spark):
    """Operator end-to-end on a small frame: schema, per-doc exact stats
    vs an independent Python replay, and the 4:1 size story."""
    from yamon_spark.operators.multimodal import (
        adpcm_decode,
        adpcm_roundtrip,
    )

    docs = spark.createDataFrame(
        [(i, 40 + 7 * i) for i in range(6)], "doc_id long, n_chars long"
    )
    out = {r.doc_id: r for r in adpcm_roundtrip(docs).collect()}
    assert set(out) == set(range(6))
    for did in range(6):
        n = (40 + 7 * did) % 41 + 8
        p0 = (did * 29) % 2001 - 1000
        codes = [
            ((did * 7 + k * 13) % 6) | (8 if (did + k * 5) % 2 == 1 else 0)
            for k in range(1, n)
        ]
        samples = [p0] + adpcm_decode(codes, p0, did % 8)
        r = out[did]
        assert r.n_samples == n
        assert r.sample_sum == sum(samples)
        assert r.code_sum == sum(codes)
        assert r.n_bytes == 64 + n // 2


def test_sniff_decode_truncated_riff_raises_valueerror_not_structerror():
    """ADVICE r9 regression: a RIFF whose fmt/fact chunk claims more
    bytes than the payload carries must raise ValueError (the decoder
    error contract), never struct.error/IndexError — streaming media's
    dead-letter path depends on the normalized class."""
    import struct

    import pytest

    from yamon_spark.operators.multimodal import decode_adpcm_wav, sniff_decode

    # fmt chunk claims 2 bytes but the payload ends after 1 — the band
    # that used to escape as struct.error from the fmt-tag scan
    trunc_sniff = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"fmt " + struct.pack("<I", 2) + b"\x11"
    with pytest.raises(ValueError):
        sniff_decode(trunc_sniff)

    # fmt chunk shorter than the 16-byte header; fact shorter than 4
    def wav(chunks: bytes) -> bytes:
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    short_fmt = wav(b"fmt " + struct.pack("<I", 4) + b"\x11\x00\x01\x00")
    short_fact = wav(
        b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 0x11, 1, 8000, 4000, 256, 4)
        + b"fact" + struct.pack("<I", 2) + b"\x01\x00"
    )
    for bad in (short_fmt, short_fact):
        with pytest.raises(ValueError):
            decode_adpcm_wav(bad)
