"""Pure-stdlib PNG codec (multimodal/png.py): roundtrips across all
five scanline filters and zlib levels, hand-built spec vectors, and
the Spark plumbing (attach_png_payload -> the png-grey8 decoder)."""

from __future__ import annotations

import struct
import zlib

import pytest

from bristle_spark.multimodal import _png_decode
from bristle_spark.multimodal.png import _paeth, decode_png, encode_png


def _pixels(n: int, seed: int = 7) -> bytes:
    # deterministic, covers the full byte range with local gradients
    # (gradients make filter bugs visible: Sub/Up/Avg/Paeth all differ)
    return bytes((i * seed + (i * i) % 251) % 256 for i in range(n))


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("level", [0, 1, 9])
def test_roundtrip_grey_all_filters_and_levels(filter_type, level):
    px = _pixels(16 * 16)
    blob = encode_png(px, 16, 16, filter_type=filter_type, compress_level=level)
    w, h, c, out = decode_png(blob)
    assert (w, h, c) == (16, 16, 1)
    assert out == px


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_rgb_all_filters(filter_type):
    px = _pixels(5 * 3 * 3)  # 5x3 RGB: odd dims, bpp=3 offsets matter
    blob = encode_png(px, 5, 3, channels=3, filter_type=filter_type)
    w, h, c, out = decode_png(blob)
    assert (w, h, c) == (5, 3, 3)
    assert out == px


def test_roundtrip_extreme_shapes():
    for w, h in [(1, 1), (1, 16), (16, 1), (33, 7)]:
        px = _pixels(w * h)
        assert decode_png(encode_png(px, w, h))[3] == px


def test_paeth_predictor_spec_cases():
    # predictor picks the neighbor minimizing |p - neighbor|, ties
    # broken left, then up (PNG spec 9.4)
    assert _paeth(0, 0, 0) == 0
    assert _paeth(10, 20, 15) == 15  # p=15 -> pc=0 is the exact match
    assert _paeth(10, 20, 30) == 10  # p=0 -> pa=10, pb=20, pc=30 -> left
    # a=100,b=2,c=3 -> p=99, pa=1, pb=97, pc=96 -> left wins
    assert _paeth(100, 2, 3) == 100
    # b nearest: a=1,b=100,c=2 -> p=99, pa=98, pb=1, pc=97 -> up wins
    assert _paeth(1, 100, 2) == 100


def test_known_vector_stored_block_filter0():
    """A fully hand-checkable PNG: 2x2 grey, filter 0, stored DEFLATE.
    The pixel bytes must appear verbatim inside the IDAT stream."""
    px = bytes([10, 20, 30, 40])
    blob = encode_png(px, 2, 2, filter_type=0, compress_level=0)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    raw = b"\x00" + px[:2] + b"\x00" + px[2:]  # filter byte + scanline, x2
    assert raw in zlib.decompress(_idat(blob)) or zlib.decompress(_idat(blob)) == raw
    assert decode_png(blob) == (2, 2, 1, px)


def _idat(blob: bytes) -> bytes:
    pos, out = 8, bytearray()
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            out += blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
    return bytes(out)


def test_corrupt_crc_rejected():
    blob = bytearray(encode_png(_pixels(16), 4, 4))
    blob[20] ^= 0xFF  # flip a bit inside IHDR body
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_truncated_and_non_png_rejected():
    blob = encode_png(_pixels(16), 4, 4)
    with pytest.raises(ValueError):
        decode_png(blob[: len(blob) - 6])
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF" + blob)


def test_unsupported_subset_rejected_not_misread():
    # interlaced IHDR
    px = _pixels(16)
    blob = bytearray(encode_png(px, 4, 4))
    body = bytearray(blob[16:29])
    body[12] = 1  # interlace = Adam7
    ihdr = struct.pack(">I", 13) + b"IHDR" + bytes(body)
    ihdr += struct.pack(">I", zlib.crc32(b"IHDR" + bytes(body)))
    patched = bytes(blob[:8]) + ihdr + bytes(blob[33:])
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(patched)


def test_multi_idat_streams_concatenate():
    """Encoders may split IDAT arbitrarily; the decoder must join them."""
    px = _pixels(16 * 16)
    blob = encode_png(px, 16, 16)
    idat = _idat(blob)
    sig_ihdr = blob[: 8 + 25]
    iend = blob[len(blob) - 12 :]
    parts = b""
    for i in range(0, len(idat), 7):
        chunk = idat[i : i + 7]
        parts += (
            struct.pack(">I", len(chunk)) + b"IDAT" + chunk
            + struct.pack(">I", zlib.crc32(b"IDAT" + chunk))
        )
    assert decode_png(sig_ihdr + parts + iend)[3] == px


def test_png_backend_rejects_rgb():
    blob = encode_png(_pixels(4 * 4 * 3), 4, 4, channels=3)
    with pytest.raises(ValueError, match="greyscale"):
        _png_decode(blob)


def test_spark_png_pipeline_end_to_end(spark):
    """attach_png_payload -> the png-grey8 decoder recovers exactly the
    md5-derived pixels of the raw ``fake-rgb`` payload — so every
    kernel's output on PNG payloads equals its output on raw ones."""
    import hashlib

    from bristle_spark import multimodal

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "")], ["doc_id", "text"]
    )
    rows = multimodal.attach_png_payload(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in rows] == [1, 2, 3]
    for r, text in zip(rows, ["alpha", "beta", ""]):
        expected = b"".join(
            hashlib.md5((text + str(i)).encode()).digest() for i in range(16)
        )
        assert bytes(r.payload)[:8] == b"\x89PNG\r\n\x1a\n"
        assert _png_decode(bytes(r.payload)) == expected
        assert r.meta.width == 16 and r.meta.format == "png-grey8"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    channels=st.sampled_from([1, 3]),
    filter_type=st.integers(0, 4),
    level=st.sampled_from([0, 6, 9]),
    data=st.data(),
)
def test_roundtrip_property(w, h, channels, filter_type, level, data):
    """decode(encode(x)) == x for arbitrary dims, channels, filters and
    zlib levels — the codec's whole contract."""
    n = w * h * channels
    px = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    blob = encode_png(
        px, w, h, channels=channels,
        filter_type=filter_type, compress_level=level,
    )
    assert decode_png(blob) == (w, h, channels, px)


@settings(max_examples=40, deadline=None)
@given(blob=st.binary(max_size=200))
def test_arbitrary_bytes_never_crash_decoder(blob):
    """Garbage in -> ValueError (or a clean decode for the rare valid
    prefix), never an unhandled exception type."""
    try:
        decode_png(b"\x89PNG\r\n\x1a\n" + blob)
    except ValueError:
        pass
    try:
        decode_png(blob)
    except ValueError:
        pass


def test_corrupt_idat_stream_is_value_error():
    """zlib failures inside IDAT must surface as ValueError (the
    documented payload-error class), not leak zlib.error."""
    blob = bytearray(encode_png(_pixels(256), 16, 16))
    # corrupt the zlib stream body but FIX the chunk CRC so the chunk
    # parser passes and the inflate path is actually reached
    pos = 8 + 25  # first chunk after signature+IHDR is IDAT
    (length,) = struct.unpack(">I", blob[pos : pos + 4])
    body = bytearray(blob[pos + 8 : pos + 8 + length])
    body[0] ^= 0xFF  # break the zlib header
    crc = zlib.crc32(b"IDAT" + bytes(body))
    blob[pos + 8 : pos + 8 + length] = body
    blob[pos + 8 + length : pos + 12 + length] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="corrupt IDAT"):
        decode_png(bytes(blob))


def test_short_ihdr_is_value_error():
    ihdr = struct.pack(">I", 4) + b"IHDR" + b"\x00" * 4
    ihdr += struct.pack(">I", zlib.crc32(b"IHDR" + b"\x00" * 4))
    with pytest.raises(ValueError, match="13 required"):
        decode_png(b"\x89PNG\r\n\x1a\n" + ihdr)


def test_decompression_bomb_is_bounded():
    """An IDAT that inflates past the size IHDR promises must be
    rejected WITHOUT materializing the full inflated stream."""
    # a 4x4 grey IHDR, but an IDAT of 10 MB of compressed zeros
    good = encode_png(_pixels(16), 4, 4)
    sig_ihdr = good[: 8 + 25]
    iend = good[len(good) - 12 :]
    bomb = zlib.compress(b"\x00" * (10 * 1024 * 1024), 9)
    idat = struct.pack(">I", len(bomb)) + b"IDAT" + bomb
    idat += struct.pack(">I", zlib.crc32(b"IDAT" + bomb))
    with pytest.raises(ValueError, match="does not match dimensions"):
        decode_png(sig_ihdr + idat + iend)
