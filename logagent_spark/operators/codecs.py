"""Codec-free media decoders: PNG, BMP, WAV in stdlib zlib/struct + numpy.

The container has no image/audio codec LIBRARIES (Pillow/cv2/soundfile),
but these three formats need none: PNG is zlib (stdlib) + per-scanline
filter reconstruction, BMP is raw padded pixel rows, WAV is raw PCM
sample frames. Implementing them here turns the multimodal decode step
from a stub into a real, testable operator for every payload a synthetic
or screenshot-heavy corpus actually carries, while compressed formats
(JPEG/GIF/video) stay out of scope by construction.

Matching ENCODERS live here too: tests and driver gates synthesize
payloads from a closed-form pixel/sample formula, push real bytes through
encode -> Spark binary column -> decode, and verify the decoded sums
against the same formula computed independently in SQL — the round trip
proves the decoder inverts the encoder AND matches an engine-independent
derivation.

Scale notes: decoders are per-payload (a payload is one row); batching
across rows happens in multimodal.py's mapInPandas operators, so Arrow
moves the bytes and numpy does the arithmetic. Per-scanline PNG
unfiltering is O(pixels) with numpy row ops (Up and Sub fully
vectorized; Average/Paeth walk pixels along the row but vectorize over
channels) — decode throughput is bounded by zlib, as in any PNG stack.

No reference parity: logagent (Go) has no media path at all; this is
north-star scope (multimodal columns for a training-data pipeline).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER, uncompressed BI_RGB)

_BMP_FILE_HDR = struct.Struct("<2sIHHI")
_BMP_INFO_HDR = struct.Struct("<IiiHHIIiiII")


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BI_RGB BMP bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_bmp expects (h, w, 3) RGB")
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, row_size), dtype=np.uint8)
    # bottom-up row order, BGR channel order
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    pixels = rows.tobytes()
    off = _BMP_FILE_HDR.size + _BMP_INFO_HDR.size
    return (
        _BMP_FILE_HDR.pack(b"BM", off + len(pixels), 0, 0, off)
        + _BMP_INFO_HDR.pack(40, w, h, 1, 24, 0, len(pixels), 2835, 2835,
                             0, 0)
        + pixels
    )


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB.

    Accepts 24-bit BGR and 32-bit BGRx, BI_RGB (uncompressed) only,
    BITMAPINFOHEADER or any of its larger successors (V4/V5 — the first
    40 info bytes read the same); top-down (negative height) and
    bottom-up both handled. Everything else raises ValueError."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP payload")
    _, _, _, _, off = _BMP_FILE_HDR.unpack_from(data, 0)
    (hdr_size, w, h, planes, bpp, compression, _, _, _, _, _) = (
        _BMP_INFO_HDR.unpack_from(data, _BMP_FILE_HDR.size)
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    nch = bpp // 8
    row_size = (w * nch + 3) // 4 * 4
    need = off + row_size * h
    if len(data) < need:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h,
                         offset=off).reshape(h, row_size)
    img = rows[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        img = img[::-1]
    # BGR(x) -> RGB; the 32-bit fourth byte is padding/alpha — dropped
    return np.ascontiguousarray(img[:, :, 2::-1])


# ---------------------------------------------------------------------------
# PNG (bit depth 8; grayscale / truecolor / truecolor+alpha; no interlace)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type -> samples per pixel


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(
        ">I", crc
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (int16 math, uint8 result)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def encode_png(arr: np.ndarray, filters: "list[int] | int | None" = None
               ) -> bytes:
    """uint8 array -> PNG bytes. (h, w) -> grayscale, (h, w, 3) ->
    truecolor, (h, w, 4) -> truecolor+alpha.

    `filters` picks the per-scanline filter type (0..4): an int applies
    one everywhere, a list gives row r filters[r % len], None means 0
    (fastest). Filtering predicts from RAW neighbor scanlines, so every
    filter vectorizes at encode time."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color, nch = 0, 1
        flat = arr[:, :, None]
    elif arr.ndim == 3 and arr.shape[2] in (3, 4):
        color = 2 if arr.shape[2] == 3 else 6
        nch = arr.shape[2]
        flat = arr
    else:
        raise ValueError("encode_png expects (h,w), (h,w,3) or (h,w,4)")
    h, w = flat.shape[:2]
    raw = flat.reshape(h, w * nch)
    prev = np.zeros(w * nch, dtype=np.uint8)
    out = bytearray()
    for r in range(h):
        if filters is None:
            ft = 0
        elif isinstance(filters, int):
            ft = filters
        else:
            ft = filters[r % len(filters)]
        line, up = raw[r], prev
        left = np.zeros_like(line)
        left[nch:] = line[:-nch]
        ul = np.zeros_like(up)
        ul[nch:] = up[:-nch]
        if ft == 0:
            filt = line
        elif ft == 1:
            filt = line - left
        elif ft == 2:
            filt = line - up
        elif ft == 3:
            filt = line - (
                (left.astype(np.uint16) + up.astype(np.uint16)) // 2
            ).astype(np.uint8)
        elif ft == 4:
            filt = line - _paeth(left, up, ul)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out.append(ft)
        out += filt.astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array ((h, w) gray / (h, w, 3) / (h, w, 4)).

    Bit depth 8, color types 0/2/6, no interlace (Adam7 raises —
    progressive rendering has no batch-pipeline use). Chunk CRCs are
    verified; filter types 0-4 reconstructed per the spec."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length or pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if len(payload) != 13:
                # struct.error would escape the ValueError funnel and
                # kill the task (ADVICE r6)
                raise ValueError(f"bad IHDR length {len(payload)}")
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG depth/color {depth}/{color}")
    if comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported PNG compression/filter/interlace")
    nch = _PNG_CHANNELS[color]
    stride = w * nch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # a producer can write garbage IDAT bytes with a VALID chunk
        # CRC; all malformed-input paths funnel through ValueError
        raise ValueError(f"PNG IDAT zlib error: {e}") from None
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = lines[:, 0]
    recon = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft = int(ftypes[r])
        line = lines[r, 1:].copy()
        if ft == 0:
            pass
        elif ft == 2:  # Up: fully vectorized
            line += prev
        elif ft == 1:  # Sub: cumsum over pixel columns per channel lane
            line = np.cumsum(
                line.reshape(w, nch).astype(np.uint64), axis=0
            ).astype(np.uint8).reshape(stride)
        elif ft == 3:  # Average: left-sequential, channel-vectorized
            px = line.reshape(w, nch)
            up = prev.reshape(w, nch)
            left = np.zeros(nch, dtype=np.uint8)
            for x in range(w):
                left = px[x] = px[x] + (
                    (left.astype(np.uint16) + up[x].astype(np.uint16)) // 2
                ).astype(np.uint8)
            line = px.reshape(stride)
        elif ft == 4:  # Paeth: left-sequential, channel-vectorized
            px = line.reshape(w, nch)
            up = prev.reshape(w, nch)
            left = np.zeros(nch, dtype=np.uint8)
            ul = np.zeros(nch, dtype=np.uint8)
            for x in range(w):
                left = px[x] = px[x] + _paeth(left, up[x], ul)
                ul = up[x]
            line = px.reshape(stride)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        recon[r] = line
        prev = recon[r]
    img = recon.reshape(h, w, nch)
    return img[:, :, 0] if nch == 1 else img


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, 16-bit PCM)

def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """int16 samples ((n,) mono or (n, ch)) -> 16-bit PCM WAV bytes."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError("encode_wav expects (n,) or (n, channels)")
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> "tuple[int, np.ndarray]":
    """WAV bytes -> (sample_rate, (n, channels) int16 array).

    16-bit PCM (format tag 1) only; chunks other than fmt/data are
    skipped (odd-length chunks carry the spec's pad byte)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = ch = bits = None
    pcm = None
    while pos + 8 <= len(data):
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError("truncated WAV chunk")
        if ctype == b"fmt ":
            if length < 16:
                raise ValueError("short WAV fmt chunk")
            tag, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH",
                                                           payload, 0)
            if tag != 1:
                raise ValueError(f"unsupported WAV format tag {tag}")
            if bits != 16:
                raise ValueError(f"unsupported WAV bit depth {bits}")
            if ch == 0:
                # would divide/reshape by zero below (ADVICE r6)
                raise ValueError("WAV fmt declares 0 channels")
        elif ctype == b"data":
            pcm = payload
        pos += 8 + length + (length & 1)  # spec pad byte on odd chunks
    if rate is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    if len(pcm) % (2 * ch):
        raise ValueError("WAV data length not a frame multiple")
    arr = np.frombuffer(pcm, dtype="<i2").reshape(-1, ch)
    return int(rate), arr
