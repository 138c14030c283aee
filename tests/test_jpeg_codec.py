"""Pure-stdlib baseline JPEG codec (multimodal/jpeg.py): the
constant-block exactness contract the graded keys build on, lossy
roundtrip bounds, T.81 bit-level vectors, unsupported-subset
rejection, and the Spark plumbing (attach_jpeg_payload -> the
jpeg-grey8 decoder)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from bristle_spark.multimodal import _jpeg_decode
from bristle_spark.multimodal.jpeg import (
    AC_BITS,
    AC_HUFFVAL,
    DC_BITS,
    DC_HUFFVAL,
    _BitReader,
    _canonical_codes,
    _magnitude,
    decode_jpeg,
    encode_jpeg,
)


def _block_image(blocks: list[int]) -> bytes:
    """16x16 greyscale, four constant 8x8 blocks (row-major block ids)."""
    img = np.empty((16, 16), dtype=np.uint8)
    for b, v in enumerate(blocks):
        img[8 * (b // 2) : 8 * (b // 2) + 8, 8 * (b % 2) : 8 * (b % 2) + 8] = v
    return img.tobytes()


def _noise(w: int, h: int, seed: int = 7) -> bytes:
    return bytes((i * seed + (i * i) % 251) % 256 for i in range(w * h))


def test_constant_blocks_roundtrip_byte_exact():
    """The oracle contract: DC-only spectra survive encode->decode
    byte-for-byte under unit quantization (including DC values at both
    extremes, which exercise the largest DC size categories)."""
    for blocks in ([0, 255, 128, 1], [255, 0, 255, 0], [7, 7, 7, 7],
                   [200, 199, 198, 197]):
        px = _block_image(blocks)
        assert decode_jpeg(encode_jpeg(px, 16, 16)) == (16, 16, 1, px)


def test_dc_prediction_chains_across_blocks():
    """DC coefficients are coded differentially; a long chain of blocks
    with alternating extremes stresses prediction both directions."""
    img = np.empty((8, 64), dtype=np.uint8)
    for b, v in enumerate([0, 255, 0, 255, 1, 254, 127, 128]):
        img[:, 8 * b : 8 * b + 8] = v
    px = img.tobytes()
    assert decode_jpeg(encode_jpeg(px, 64, 8))[3] == px


def test_general_roundtrip_error_bounded_at_unit_quant():
    """Arbitrary pixels are lossy (FDCT coefficient rounding), but with
    a unit quantization table the error is bounded by the rounding
    alone — a small single-digit band."""
    px = _noise(24, 32)
    out = decode_jpeg(encode_jpeg(px, 24, 32))[3]
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(np.int64)
        - np.frombuffer(px, np.uint8).astype(np.int64)
    ).max()
    assert err <= 4, err


def test_larger_quant_compresses_smaller_and_stays_plausible():
    px = _noise(16, 16)
    fine = encode_jpeg(px, 16, 16, quant=1)
    coarse = encode_jpeg(px, 16, 16, quant=16)
    assert len(coarse) < len(fine)
    out = decode_jpeg(coarse)[3]
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(np.int64)
        - np.frombuffer(px, np.uint8).astype(np.int64)
    ).max()
    assert err <= 16 * 8  # quantization-scaled bound


def test_byte_stuffing_roundtrip():
    """Entropy streams containing 0xFF bytes must be stuffed (0xFF00)
    and unstuffed transparently; sweep seeds until stuffing provably
    occurred in at least one stream."""
    saw_stuffed = False
    for seed in range(40):
        px = _noise(16, 16, seed=seed + 1)
        blob = encode_jpeg(px, 16, 16)
        # entropy segment = after SOS header, before trailing EOI
        sos = blob.index(b"\xff\xda")
        entropy = blob[sos + 2 + 8 : -2]
        if b"\xff\x00" in entropy:
            saw_stuffed = True
        out = decode_jpeg(blob)[3]
        assert len(out) == 256
    assert saw_stuffed, "no stream exercised byte stuffing in 40 seeds"


def test_magnitude_category_vectors():
    """T.81 F.1.2.1: size category and amplitude bits, both signs."""
    assert _magnitude(0) == (0, 0)
    assert _magnitude(1) == (1, 1)
    assert _magnitude(-1) == (1, 0)
    assert _magnitude(3) == (2, 3)
    assert _magnitude(-3) == (2, 0)
    assert _magnitude(-2) == (2, 1)
    assert _magnitude(1016) == (10, 1016)
    assert _magnitude(-1016) == (10, 7)  # (−1016−1) & 0x3FF


def test_receive_extend_inverts_magnitude():
    from bristle_spark.multimodal.jpeg import _receive_extend

    for v in [-1016, -255, -3, -2, -1, 0, 1, 2, 3, 255, 1016]:
        s, amp = _magnitude(v)
        # feed the amplitude bits to a reader and decode them back
        if s == 0:
            assert v == 0
            continue
        payload = bytes([(amp << (8 - s)) & 0xFF]) if s <= 8 else bytes(
            [(amp >> (s - 8)) & 0xFF, (amp << (16 - s)) & 0xFF]
        )
        # a real stream stuffs 0x00 after any 0xFF data byte
        payload = payload.replace(b"\xff", b"\xff\x00")
        reader = _BitReader(payload, 0)
        assert _receive_extend(reader, s) == v


def test_annex_k_tables_are_canonical_and_prefix_free():
    for bits, huffval in [(DC_BITS, DC_HUFFVAL), (AC_BITS, AC_HUFFVAL)]:
        codes = _canonical_codes(bits, huffval)
        assert len(codes) == sum(bits) == len(huffval)
        seen = set()
        for value, (code, length) in codes.items():
            assert code < (1 << length)
            bitstr = format(code, f"0{length}b")
            assert not any(s for s in seen if bitstr.startswith(s) or s.startswith(bitstr))
            seen.add(bitstr)
    assert len(_canonical_codes(AC_BITS, AC_HUFFVAL)) == 162


def test_non_jpeg_and_truncation_rejected():
    blob = encode_jpeg(_noise(16, 16), 16, 16)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG" + blob)
    with pytest.raises(ValueError):
        decode_jpeg(blob[:40])
    with pytest.raises(ValueError, match="entropy"):
        decode_jpeg(blob[: len(blob) - 40])  # cut inside the scan


def test_progressive_and_multicomponent_rejected_not_misread():
    blob = bytearray(encode_jpeg(_noise(16, 16), 16, 16))
    sof = blob.index(b"\xff\xc0")
    progressive = bytes(blob[:sof]) + b"\xff\xc2" + bytes(blob[sof + 2 :])
    with pytest.raises(ValueError, match="SOF0 only"):
        decode_jpeg(progressive)
    # 3-component SOF0 header on a 1-component segment: the declared
    # component list overruns the body (3 components are supported
    # since round 13, but a lying header is still a payload error)
    multi = bytearray(blob)
    multi[sof + 9] = 3  # ncomp byte of SOF0 body
    with pytest.raises(ValueError, match="truncated SOF0 component list"):
        decode_jpeg(bytes(multi))
    # 2-component frames remain outside the subset
    two = bytearray(blob)
    two[sof + 9] = 2
    with pytest.raises(ValueError, match="unsupported"):
        decode_jpeg(bytes(two))


def test_restart_interval_rejected():
    blob = bytearray(encode_jpeg(_noise(16, 16), 16, 16))
    sos = blob.index(b"\xff\xda")
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 8)  # interval 8
    patched = bytes(blob[:sos]) + dri + bytes(blob[sos:])
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(patched)


def test_bad_dimensions_rejected_by_encoder():
    with pytest.raises(ValueError, match="multiples of 8"):
        encode_jpeg(b"\x00" * 100, 10, 10)
    with pytest.raises(ValueError, match="expected"):
        encode_jpeg(b"\x00" * 100, 16, 16)
    with pytest.raises(ValueError, match="quant"):
        encode_jpeg(b"\x00" * 256, 16, 16, quant=0)


def test_dimension_bomb_rejected_before_allocation():
    """A tiny payload declaring a huge SOF0 must be rejected by the
    entropy-size bound (the PNG inflate-bomb guard, twinned) — never
    materialize n_blocks*64 coefficients from header-declared dims
    (review r12: 65528x65528 would allocate ~34 GB)."""
    blob = bytearray(encode_jpeg(_noise(16, 16), 16, 16))
    sof = blob.index(b"\xff\xc0")
    # SOF0 body: precision(1) height(2) width(2) — patch both to 65528
    struct.pack_into(">HH", blob, sof + 5, 65528, 65528)
    with pytest.raises(ValueError, match="entropy segment too small"):
        decode_jpeg(bytes(blob))


def test_oversubscribed_dht_is_value_error():
    """A DHT declaring more codes than the code space holds (Kraft
    violation) must raise ValueError, not IndexError in the LUT build
    (review r12)."""
    blob = bytearray(encode_jpeg(_noise(16, 16), 16, 16))
    dht = blob.index(b"\xff\xc4")
    # BITS starts at dht+5 (marker 2 + length 2 + Tc/Th 1): declare 3
    # one-bit codes — only 2 fit. Shrink the 3-bit count by the same
    # amount so the total code count (and huffval framing) is unchanged
    # and the Kraft check itself is what fires.
    blob[dht + 5] = 3
    blob[dht + 7] -= 3
    with pytest.raises(ValueError, match="oversubscribed"):
        decode_jpeg(bytes(blob))


def test_zrl_overflowing_block_is_value_error():
    """A ZRL landing past coefficient 63 must raise like the nonzero-
    coefficient overflow path, not silently accept a misread block
    (review r12). Built bit-exactly: DC size 0, then four ZRLs (only
    63 AC slots exist, 4*16 = 64 > 63)."""
    from bristle_spark.multimodal.jpeg import (
        _ENC_AC_CODES,
        _ENC_DC_CODES,
        _BitWriter,
    )

    good = encode_jpeg(_noise(8, 8), 8, 8)
    sos = good.index(b"\xff\xda")
    head = good[: sos + 2 + 8]  # everything through the SOS header
    bw = _BitWriter()
    code, length = _ENC_DC_CODES[0]
    bw.write(code, length)  # DC diff = 0
    code, length = _ENC_AC_CODES[0xF0]
    for _ in range(4):  # 4 ZRLs = 64 zero ACs, 1 past the block end
        bw.write(code, length)
    with pytest.raises(ValueError, match="AC run overflows"):
        decode_jpeg(head + bw.flush() + b"\xff\xd9")


def test_spark_jpeg_pipeline_end_to_end(spark):
    """attach_jpeg_payload -> the jpeg-grey8 decoder recovers exactly the
    block-constant pixels the hex-side oracle derives from md5(text)."""
    import hashlib

    from bristle_spark import multimodal

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "")], ["doc_id", "text"]
    )
    rows = multimodal.attach_jpeg_payload(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in rows] == [1, 2, 3]
    for r, text in zip(rows, ["alpha", "beta", ""]):
        blocks = hashlib.md5((text + "0").encode()).digest()[:4]
        assert bytes(r.payload)[:2] == b"\xff\xd8"
        assert _jpeg_decode(bytes(r.payload)) == _block_image(list(blocks))
        assert r.meta.width == 16 and r.meta.format == "jpeg-grey8"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 4),
    data=st.data(),
)
def test_constant_block_exactness_property(bw, bh, data):
    """Any grid of constant 8x8 blocks roundtrips byte-exactly — the
    full hex-oracle contract, not just the 16x16 fixture shape."""
    vals = data.draw(
        st.lists(st.integers(0, 255), min_size=bw * bh, max_size=bw * bh)
    )
    img = np.empty((8 * bh, 8 * bw), dtype=np.uint8)
    for b, v in enumerate(vals):
        img[8 * (b // bw) : 8 * (b // bw) + 8,
            8 * (b % bw) : 8 * (b % bw) + 8] = v
    px = img.tobytes()
    assert decode_jpeg(encode_jpeg(px, 8 * bw, 8 * bh)) == (8 * bw, 8 * bh, 1, px)


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_general_roundtrip_error_bound_property(data):
    """Unit-quant lossiness is bounded by coefficient rounding: worst
    case sum over 64 coefficients of 0.5 * |basis| < 8 grey levels."""
    w = 8 * data.draw(st.integers(1, 3))
    h = 8 * data.draw(st.integers(1, 3))
    px = bytes(data.draw(st.binary(min_size=w * h, max_size=w * h)))
    out = decode_jpeg(encode_jpeg(px, w, h))[3]
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(np.int64)
        - np.frombuffer(px, np.uint8).astype(np.int64)
    ).max()
    assert err <= 8, err


@settings(max_examples=40, deadline=None)
@given(blob=st.binary(max_size=200))
def test_arbitrary_bytes_never_crash_decoder(blob):
    """Garbage in -> ValueError, never an unhandled exception type."""
    for candidate in (blob, b"\xff\xd8" + blob):
        try:
            decode_jpeg(candidate)
        except ValueError:
            pass


# --------------------------------------------------- color (round 13)


def _mcu_rgb(seed: int, n: int = 2, mcu: int = 16) -> np.ndarray:
    rng = np.random.default_rng(seed)
    consts = rng.integers(0, 256, (n, n, 3), dtype=np.uint8)
    return np.repeat(np.repeat(consts, mcu, axis=0), mcu, axis=1)


def test_color_420_mcu_constant_exact():
    """The three-component exactness contract: an MCU-constant RGB
    image roundtrips to exactly ycbcr_to_rgb(rgb_to_ycbcr(rgb)) — the
    DCT/quant/entropy chain is bit-transparent, only the (replayable)
    integer color transforms touch the values."""
    from bristle_spark.multimodal.jpeg import (
        encode_jpeg_color,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    rgb = _mcu_rgb(7)
    w, h, c, px = decode_jpeg(encode_jpeg_color(rgb.tobytes(), 32, 32))
    assert (w, h, c) == (32, 32, 3)
    dec = np.frombuffer(px, np.uint8).reshape(32, 32, 3)
    assert (dec == ycbcr_to_rgb(rgb_to_ycbcr(rgb))).all()
    # and every MCU decodes constant
    for my in range(2):
        for mx in range(2):
            tile = dec[16 * my : 16 * my + 16, 16 * mx : 16 * mx + 16]
            assert (tile == tile[0, 0]).all()


def test_color_444_block_constant_exact():
    from bristle_spark.multimodal.jpeg import (
        encode_jpeg_color,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    rgb = _mcu_rgb(11, mcu=8)
    w, h, c, px = decode_jpeg(
        encode_jpeg_color(rgb.tobytes(), 16, 16, subsampling="444")
    )
    assert (w, h, c) == (16, 16, 3)
    dec = np.frombuffer(px, np.uint8).reshape(16, 16, 3)
    assert (dec == ycbcr_to_rgb(rgb_to_ycbcr(rgb))).all()


def test_color_420_lossy_noise_bounded_on_smooth_image():
    """A chroma-smooth gradient survives 4:2:0 within a small bound
    (luma untouched by subsampling; chroma varies slowly)."""
    from bristle_spark.multimodal.jpeg import encode_jpeg_color

    yy, xx = np.mgrid[0:32, 0:32]
    rgb = np.stack(
        [(4 * yy).astype(np.uint8), (4 * xx).astype(np.uint8),
         np.full((32, 32), 96, np.uint8)],
        axis=-1,
    )
    _, _, _, px = decode_jpeg(encode_jpeg_color(rgb.tobytes(), 32, 32))
    dec = np.frombuffer(px, np.uint8).reshape(32, 32, 3)
    err = np.abs(dec.astype(np.int64) - rgb.astype(np.int64)).max()
    assert err <= 12, err


def test_color_fixed_point_transforms_match_float_reference():
    """The integer fixed-point transforms track the T.871 float math
    within 1 LSB on every representable color (sampled grid)."""
    from bristle_spark.multimodal.jpeg import rgb_to_ycbcr, ycbcr_to_rgb

    g = np.arange(0, 256, 17, dtype=np.uint8)
    rgb = np.stack(np.meshgrid(g, g, g, indexing="ij"), axis=-1).reshape(-1, 3)
    ycc = rgb_to_ycbcr(rgb).astype(np.float64)
    r, gg, b = (rgb[:, i].astype(np.float64) for i in range(3))
    ref_y = 0.299 * r + 0.587 * gg + 0.114 * b
    ref_cb = np.minimum(255, 128 - 0.168736 * r - 0.331264 * gg + 0.5 * b)
    ref_cr = np.minimum(255, 128 + 0.5 * r - 0.418688 * gg - 0.081312 * b)
    assert np.abs(ycc[:, 0] - ref_y).max() <= 1.0
    assert np.abs(ycc[:, 1] - ref_cb).max() <= 1.0
    assert np.abs(ycc[:, 2] - ref_cr).max() <= 1.0
    back = ycbcr_to_rgb(rgb_to_ycbcr(rgb)).astype(np.int64)
    assert np.abs(back - rgb.astype(np.int64)).max() <= 2


def test_color_bad_inputs_rejected():
    from bristle_spark.multimodal.jpeg import encode_jpeg_color

    with pytest.raises(ValueError, match="multiples of 16"):
        encode_jpeg_color(b"\x00" * (24 * 24 * 3), 24, 24)
    with pytest.raises(ValueError, match="expected"):
        encode_jpeg_color(b"\x00" * 100, 32, 32)
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg_color(b"\x00" * (32 * 32 * 3), 32, 32, subsampling="422")


def test_color_422_sampling_rejected_by_decoder():
    """An unsupported sampling-factor combination (4:2:2) is a payload
    error, never a misread."""
    from bristle_spark.multimodal.jpeg import encode_jpeg_color

    blob = bytearray(encode_jpeg_color(_mcu_rgb(3).tobytes(), 32, 32))
    sof = bytes(blob).index(b"\xff\xc0")
    blob[sof + 11] = 0x21  # Y sampling 2x1
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(blob))


def test_color_greyscale_decoder_unchanged_on_grey_payloads():
    """The 1-component fast path still returns channels=1 (the graded
    m_jpeg_* keys' contract) after the multi-component generalization."""
    img = _block_image([10, 80, 160, 250])
    w, h, c, px = decode_jpeg(encode_jpeg(img, 16, 16))
    assert (w, h, c, px) == (16, 16, 1, img)
