"""Codec-free PNG/BMP/WAV codecs: round trips, spec edge cases and error
paths. Pure numpy — no Spark session needed."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from logagent_spark.operators import codecs as C

RNG = np.random.default_rng(20260817)


# ---------------------------------------------------------------------------
# BMP

@pytest.mark.parametrize("h,w", [(1, 1), (5, 7), (11, 13), (4, 4), (3, 2)])
def test_bmp_round_trip(h, w):
    a = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_bmp(C.encode_bmp(a)), a)


def test_bmp_row_padding_is_exercised():
    # w=7 -> 21 pixel bytes padded to 24: garbage in the pad must not leak
    a = RNG.integers(0, 256, (3, 7, 3), dtype=np.uint8)
    raw = bytearray(C.encode_bmp(a))
    row = (7 * 3 + 3) // 4 * 4
    for r in range(3):
        raw[54 + r * row + 21 : 54 + r * row + row] = b"\xee" * (row - 21)
    assert np.array_equal(C.decode_bmp(bytes(raw)), a)


def test_bmp_top_down_and_32bit():
    a = RNG.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    # hand-build a top-down 32-bit BGRx BMP for the same pixels
    h, w = a.shape[:2]
    px = np.zeros((h, w, 4), dtype=np.uint8)
    px[:, :, :3] = a[:, :, ::-1]  # BGR
    px[:, :, 3] = 0xAA            # padding byte must be ignored
    off = 54
    data = (
        struct.pack("<2sIHHI", b"BM", off + px.nbytes, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, px.nbytes,
                      2835, 2835, 0, 0)
        + px.tobytes()
    )
    assert np.array_equal(C.decode_bmp(data), a)


def test_bmp_rejects_compressed_and_garbage():
    a = RNG.integers(0, 256, (2, 2, 3), dtype=np.uint8)
    raw = bytearray(C.encode_bmp(a))
    struct.pack_into("<I", raw, 14 + 16, 1)  # BI_RLE8
    with pytest.raises(ValueError):
        C.decode_bmp(bytes(raw))
    with pytest.raises(ValueError):
        C.decode_bmp(b"notabmp")
    with pytest.raises(ValueError):
        C.decode_bmp(C.encode_bmp(a)[:-5])  # truncated pixels


# ---------------------------------------------------------------------------
# PNG

@pytest.mark.parametrize("shape", [(6, 5), (6, 5, 3), (6, 5, 4), (1, 1),
                                   (9, 17, 4), (2, 300, 3)])
@pytest.mark.parametrize("filt", [0, 1, 2, 3, 4, [0, 1, 2, 3, 4], None])
def test_png_round_trip_all_filters(shape, filt):
    a = RNG.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(a, filters=filt)), a)


def test_png_gradient_survives_every_filter():
    # worst case for filter math: smooth gradients (small deltas, all
    # predictors active) plus a hard edge
    y, x = np.mgrid[0:20, 0:30]
    a = ((y * 3 + x * 5) % 256).astype(np.uint8)
    a[10:, :] = 255 - a[10:, :]
    for filt in range(5):
        assert np.array_equal(
            C.decode_png(C.encode_png(a, filters=filt)), a
        ), filt


def test_png_crc_and_structure_errors():
    a = RNG.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    good = C.encode_png(a)
    bad = bytearray(good)
    bad[45] ^= 0x01  # flip a bit inside IDAT payload
    with pytest.raises(ValueError, match="CRC"):
        C.decode_png(bytes(bad))
    with pytest.raises(ValueError):
        C.decode_png(b"\x89PNG\r\n\x1a\n")  # no chunks
    with pytest.raises(ValueError):
        C.decode_png(b"GIF89a....")


def test_png_rejects_unsupported_variants():
    # 16-bit depth and Adam7 interlace must raise, not mis-decode
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    raw = C._PNG_SIG + C._png_chunk(b"IHDR", ihdr) + C._png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="depth/color"):
        C.decode_png(raw)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    raw = C._PNG_SIG + C._png_chunk(b"IHDR", ihdr) + C._png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlace"):
        C.decode_png(raw)


def test_png_multiple_idat_chunks():
    a = RNG.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    # re-split the IDAT stream into 3 chunks; decoders must concatenate
    full = C.encode_png(a, filters=2)
    sig_len = len(C._PNG_SIG)
    (ihdr_len,) = struct.unpack_from(">I", full, sig_len)
    ihdr_end = sig_len + 12 + ihdr_len
    (idat_len,) = struct.unpack_from(">I", full, ihdr_end)
    idat = full[ihdr_end + 8 : ihdr_end + 8 + idat_len]
    parts = [idat[:3], idat[3:10], idat[10:]]
    rebuilt = (
        full[:ihdr_end]
        + b"".join(C._png_chunk(b"IDAT", p) for p in parts)
        + C._png_chunk(b"IEND", b"")
    )
    assert np.array_equal(C.decode_png(rebuilt), a)


# ---------------------------------------------------------------------------
# WAV

@pytest.mark.parametrize("shape,rate", [((64,), 8000), ((100, 2), 44100),
                                        ((1, 1), 11025), ((0,), 16000)])
def test_wav_round_trip(shape, rate):
    s = RNG.integers(-32768, 32768, shape, dtype=np.int16)
    got_rate, got = C.decode_wav(C.encode_wav(s, rate))
    exp = s[:, None] if s.ndim == 1 else s
    assert got_rate == rate
    assert np.array_equal(got, exp)


def test_wav_skips_extra_chunks_and_pads_odd_length():
    s = RNG.integers(-32768, 32768, 10, dtype=np.int16)
    full = C.encode_wav(s, 8000)
    # splice an odd-length LIST chunk (with its pad byte) before data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\0"
    spliced = full[:fmt_end] + extra + full[fmt_end:]
    spliced = spliced[:4] + struct.pack(
        "<I", len(spliced) - 8) + spliced[8:]
    rate, got = C.decode_wav(spliced)
    assert rate == 8000 and np.array_equal(got[:, 0], s)


def test_wav_rejects_non_pcm_and_garbage():
    s = np.zeros(4, dtype=np.int16)
    raw = bytearray(C.encode_wav(s, 8000))
    struct.pack_into("<H", raw, 20, 3)  # IEEE float tag
    with pytest.raises(ValueError, match="format tag"):
        C.decode_wav(bytes(raw))
    with pytest.raises(ValueError):
        C.decode_wav(b"RIFFxxxxAVI ")
    with pytest.raises(ValueError):
        C.decode_wav(C.encode_wav(s, 8000)[:-3])  # truncated data


def _png_with(payloads):
    return C._PNG_SIG + b"".join(
        C._png_chunk(t, p) for t, p in payloads
    )


def test_malformed_inputs_funnel_through_valueerror():
    """ADVICE r6: every malformed-input path must raise ValueError —
    zlib.error (garbage IDAT under a VALID chunk CRC), struct.error
    (short IHDR payload) and ZeroDivisionError (0-channel WAV fmt)
    would escape the batch decoders' except clause and kill the task."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    garbage_idat = _png_with([
        (b"IHDR", ihdr),
        (b"IDAT", b"definitely not a zlib stream"),  # CRC is valid
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError):
        C.decode_png(garbage_idat)
    short_ihdr = _png_with([
        (b"IHDR", ihdr[:12]),  # 12-byte IHDR, CRC valid
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError):
        C.decode_png(short_ihdr)
    # 0-channel WAV: fmt says PCM/16-bit but 0 channels
    fmt = struct.pack("<HHIIHH", 1, 0, 8000, 0, 0, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(ValueError):
        C.decode_wav(wav)
