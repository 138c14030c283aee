"""Pure-stdlib PNG codec (zlib inflate + per-scanline unfilter).

The container ships no image libraries, so the image pipeline's real-
codec path mirrors the WAV move (multimodal._wav_decode): PNG's IDAT
stream is stdlib ``zlib``, and the five scanline filters (None / Sub /
Up / Average / Paeth) are spec'd byte math — everything needed to run
the m_resize / m_phash / m_patchify kernels on REAL encoded payloads
is implementable without a dependency. Format details follow the
public W3C PNG specification (ISO/IEC 15948).

Scope: 8-bit greyscale (color type 0) and 8-bit RGB (color type 2),
non-interlaced — the fixture shapes plus the common ML-preprocessing
case. Interlaced or exotic bit depths raise ValueError (a payload
error, not a silent misread), the same policy as the WAV decoder's
8-bit rejection.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (supported subset)
_CHANNELS = {0: 1, 2: 3}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    *,
    channels: int = 1,
    filter_type: int = 4,
    compress_level: int = 9,
) -> bytes:
    """Encode raw 8-bit pixels (row-major, ``channels`` samples per
    pixel) as a real PNG. ``filter_type`` applies one spec filter to
    every scanline (0..4); ``compress_level`` is passed to zlib (0 =
    stored blocks). Defaults produce the hardest decode path — Paeth
    filtering under full DEFLATE."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"bad filter type {filter_type}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes; {stride * height} expected"
        )
    color_type = 0 if channels == 1 else 2
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    bpp = channels  # bytes per pixel at bit depth 8
    # spec filters predict from RAW neighbor bytes (current + previous
    # scanline), so ENCODING is fully vectorizable — including Paeth
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride)
    cur = img.astype(np.int16)
    left = np.zeros_like(cur)
    left[:, bpp:] = cur[:, :-bpp]
    up = np.zeros_like(cur)
    up[1:] = cur[:-1]
    upleft = np.zeros_like(cur)
    upleft[1:, bpp:] = cur[:-1, :-bpp]
    if filter_type == 0:
        filtered = cur
    elif filter_type == 1:  # Sub
        filtered = cur - left
    elif filter_type == 2:  # Up
        filtered = cur - up
    elif filter_type == 3:  # Average
        filtered = cur - (left + up) // 2
    else:  # Paeth
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
        )
        filtered = cur - pred
    raw_lines = (filtered & 0xFF).astype(np.uint8)
    raw = np.empty((height, stride + 1), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = raw_lines
    idat = zlib.compress(raw.tobytes(), compress_level)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG to ``(width, height, channels, pixels)`` — raw 8-bit
    row-major samples. Verifies chunk CRCs, concatenates multi-IDAT
    streams, inflates with stdlib zlib and inverts all five scanline
    filters. Raises ValueError on anything outside the supported subset
    (interlace, bit depth != 8, palette/alpha color types) so a payload
    the codec cannot faithfully decode is an error, never a misread."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = channels = -1
    idat = bytearray()
    seen_end = False
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("truncated chunk body")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        pos += 12 + length
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError(f"IHDR body is {length} bytes; 13 required")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if width == 0 or height == 0:
                raise ValueError("zero image dimension")
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}; 8 required")
            if color not in _CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            if comp != 0 or filt != 0:
                raise ValueError("unsupported compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            channels = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_end = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped by construction
    if width < 0:
        raise ValueError("missing IHDR")
    if not seen_end:
        raise ValueError("missing IEND")
    stride = width * channels
    expected = (stride + 1) * height
    # bound the inflate by the size IHDR promises BEFORE allocating: a
    # few-MiB stream of compressed zeros inflates ~1000:1, and the
    # repo's other declared-length bounds (MAX_RECV_MESSAGE etc.) would
    # otherwise be bypassed by a decompression bomb inside the payload
    dobj = zlib.decompressobj()
    try:
        raw = dobj.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc
    if len(raw) != expected or dobj.unconsumed_tail or not dobj.eof:
        raise ValueError("inflated size does not match dimensions")
    bpp = channels
    # unfiltering depends on DECODED neighbors, so scanlines reconstruct
    # top-down; within a line, None/Sub/Up vectorize (Sub is a per-
    # channel cumulative sum), Average/Paeth stay sequential (left
    # dependency on the decoded value)
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = arr[:, 0]
    if ftypes.max(initial=0) > 4:
        raise ValueError(f"bad scanline filter {int(ftypes.max())}")
    lines = arr[:, 1:]
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = int(ftypes[y])
        line = lines[y]
        if ftype == 0:
            decoded = line.copy()
        elif ftype == 1:  # Sub: out[i] = raw[i] + out[i-bpp]
            decoded = (
                line.reshape(-1, bpp).astype(np.int64).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            decoded = line + prev  # uint8 wraparound is the mod-256 math
        else:  # Average / Paeth: sequential left dependency
            decoded = np.empty(stride, dtype=np.uint8)
            lb = line.tolist()
            pb = prev.tolist()
            db = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    left = db[i - bpp] if i >= bpp else 0
                    db[i] = (lb[i] + (left + pb[i]) // 2) & 0xFF
            else:
                for i in range(stride):
                    left = db[i - bpp] if i >= bpp else 0
                    upleft = pb[i - bpp] if i >= bpp else 0
                    db[i] = (lb[i] + _paeth(left, pb[i], upleft)) & 0xFF
            decoded[:] = db
        out[y] = decoded
        prev = decoded
    return width, height, channels, out.tobytes()
