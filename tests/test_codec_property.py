"""Property-based round-trips for the vendored real codecs (hypothesis):
any encode(params) must decode back to exactly those params, and
truncating/corrupting the container must raise ValueError, never return
wrong dims silently. Pure-Python (no Spark job per example)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yamon_spark.operators import multimodal as M


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=512),
    h=st.integers(min_value=1, max_value=512),
)
def test_bmp_encode_decode_roundtrip(w, h):
    b = M.encode_bmp(w, h)
    assert M.decode_bmp(b) == (w, h, 1)


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=64),
    cut=st.integers(min_value=1, max_value=20),
)
def test_bmp_truncation_never_silently_wrong(w, h, cut):
    b = M.encode_bmp(w, h)
    cut = min(cut, len(b) - 1)
    try:
        out = M.decode_bmp(b[: len(b) - cut])
    except ValueError:
        return  # loud failure is the contract
    raise AssertionError(f"truncated BMP decoded to {out}")


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=10_000),
    h=st.integers(min_value=1, max_value=10_000),
    frames=st.lists(st.binary(min_size=0, max_size=64), min_size=0, max_size=8),
)
def test_avi_encode_demux_roundtrip(w, h, frames):
    b = M.encode_avi(w, h, frames)
    got_w, got_h, got_frames = M.demux_avi(b)
    assert (got_w, got_h) == (w, h)
    assert got_frames == frames  # byte-exact, odd lengths unharmed by padding


@settings(max_examples=100, deadline=None)
@given(
    frames=st.lists(st.binary(min_size=1, max_size=32), min_size=1, max_size=4),
    cut=st.integers(min_value=1, max_value=16),
)
def test_avi_truncation_never_silently_wrong(frames, cut):
    b = M.encode_avi(8, 8, frames)
    cut = min(cut, len(b) - 13)  # keep the RIFF magic intact: chunk walk must catch it
    try:
        _, _, got = M.demux_avi(b[: len(b) - cut])
    except ValueError:
        return
    # a clean cut can only ever drop whole trailing chunks, never corrupt
    assert got == frames[: len(got)]


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=64),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_encode_decode_roundtrip(w, h, seed):
    pix = bytes((seed * 31 + y * w + x * 7) % 256 for y in range(h) for x in range(w))
    got_w, got_h, got_sum = M.decode_png(M.encode_png(w, h, pix))
    assert (got_w, got_h) == (w, h)
    assert got_sum == sum(pix)  # inflate + all-5-filter unfilter is bit-exact


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=32),
    h=st.integers(min_value=5, max_value=32),  # h >= 5: every filter type present
    flip=st.integers(min_value=8, max_value=10_000),
)
def test_png_corruption_never_silently_wrong(w, h, flip):
    pix = bytes((y * w + x) % 256 for y in range(h) for x in range(w))
    b = bytearray(M.encode_png(w, h, pix))
    flip = min(flip, len(b) - 1)
    b[flip] ^= 0xFF  # any post-signature bit flip must trip a CRC/structure check
    try:
        out = M.decode_png(bytes(b))
    except Exception:
        return  # loud failure is the contract (ValueError or zlib.error)
    raise AssertionError(f"corrupted PNG decoded to {out}")


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=32),
    h=st.integers(min_value=1, max_value=32),
    cut=st.integers(min_value=1, max_value=64),
)
def test_png_truncation_never_silently_wrong(w, h, cut):
    pix = bytes((y + x) % 256 for y in range(h) for x in range(w))
    b = M.encode_png(w, h, pix)
    cut = min(cut, len(b) - 9)  # keep the signature: the chunk walk must catch it
    try:
        out = M.decode_png(b[: len(b) - cut])
    except Exception:
        return
    raise AssertionError(f"truncated PNG decoded to {out}")


def _riff_payloads() -> dict[str, bytes]:
    """One valid payload per RIFF codec sniff_decode dispatches to."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<7h", 1, -2, 3, -4, 5, -6, 7))
    zz = [0] * 64
    zz[0], zz[M.JPEG_ZIGZAG.index(36)] = 10, -3
    jpeg = M.encode_jpeg(8, 8, [zz], [8] * 64)
    return {
        "wav_pcm": buf.getvalue(),
        "wav_adpcm": M.encode_adpcm_wav([100] + M.adpcm_decode([1, 9, 3, 12, 5], 100, 2), idx0=2),
        "avi_raw": M.encode_avi(3, 2, [b"\x01" * 6, b"\x02" * 5]),
        "avi_mjpeg": M.encode_mjpeg_avi(8, 8, [jpeg, jpeg]),
    }


RIFF_KINDS = sorted(_riff_payloads())


@pytest.mark.parametrize("kind", RIFF_KINDS)
def test_sniff_decode_on_every_prefix_returns_or_raises_valueerror(kind):
    """Every cut of a RIFF payload either decodes or raises ValueError —
    the one class streaming media ingest dead-letters. Any other class
    (EOFError, RuntimeError, struct.error) would fail the batch."""
    b = _riff_payloads()[kind]
    assert M.sniff_decode(b)["format"] == kind
    for cut in range(len(b)):
        try:
            M.sniff_decode(b[:cut])
        except ValueError:
            pass


@pytest.mark.parametrize("kind", RIFF_KINDS)
@settings(max_examples=150, deadline=None)
@given(
    edits=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2**16), st.integers(0, 255)),
        min_size=1,
        max_size=3,
    )
)
def test_sniff_decode_on_corrupted_riff_returns_or_raises_valueerror(kind, edits):
    b = bytearray(_riff_payloads()[kind])
    for pos, val in edits:
        b[pos % len(b)] = val
    try:
        M.sniff_decode(bytes(b))
    except ValueError:
        pass


def test_deeply_nested_riff_lists_raise_valueerror():
    """LIST nesting deeper than the interpreter's recursion limit is
    still walked: the payload lacks an avih, so it is a ValueError."""
    import struct

    nested = b""
    for _ in range(3000):
        nested = b"LIST" + struct.pack("<I", 4 + len(nested)) + b"movi" + nested
    avi = b"RIFF" + struct.pack("<I", 4 + len(nested)) + b"AVI " + nested
    with pytest.raises(ValueError, match="avih"):
        M.sniff_decode(avi)


def test_jpeg_header_dims_are_bounded_by_its_scan():
    """A corrupt SOF0 claiming dims its scan cannot code is rejected
    before the pixel buffer is sized: an 8x8 JPEG relabelled 8192x8192
    would otherwise allocate 64 MiB, and 65535x65535 4 GiB."""
    import tracemalloc

    b = M.encode_jpeg(8, 8, [[0] * 64], [8] * 64)
    sof = b.index(b"\xff\xc0")
    big = b[: sof + 5] + (8192).to_bytes(2, "big") * 2 + b[sof + 9 :]
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="exceed"):
            M.decode_jpeg(big)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
