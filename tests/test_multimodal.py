"""Real-container multimodal decode: every kernel decodes a payload by
its own ``meta.format``. RIFF/WAVE payloads built and parsed with
Python's wave module drive the SAME audio kernels as raw PCM, and PNG
payloads the same image kernels as raw pixels — proving the decode seam
is real (an actual container format goes in) while staying
dependency-free.
"""

# ------------------------------------------------- real WAV container


def test_wav_container_roundtrips_stdlib():
    from bristle_spark.multimodal import _wav_decode, wav_container

    pcm = bytes(range(256)) * 2
    assert _wav_decode(wav_container(pcm)) == pcm
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _wav_decode(wav_container_8bit())


def wav_container_8bit() -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit: kernels must reject
        w.setframerate(8000)
        w.writeframes(b"\x00" * 64)
    return buf.getvalue()


def test_audio_kernels_identical_on_real_wav_payloads(spark, sf_dir):
    """The audio feature and fingerprint kernels produce IDENTICAL
    results whether the payload is raw PCM (``pcm_s16le``) or the same
    PCM inside a genuine RIFF/WAVE container parsed by the stdlib wave
    module — real-container decode, zero new dependencies."""
    from bristle_spark import multimodal as M

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    raw = M.audio_features(M.attach_fake_audio(d))
    wav = M.audio_features(M.attach_wav_audio(d))
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, wav.collect()))
    raw_fp = M.audio_fingerprint(M.attach_fake_audio(d))
    wav_fp = M.audio_fingerprint(M.attach_wav_audio(d))
    assert sorted(map(tuple, raw_fp.collect())) == sorted(map(tuple, wav_fp.collect()))


def test_attach_wav_audio_is_a_real_wave_file(spark, sf_dir):
    """Every payload attach_wav_audio emits parses with Python's wave
    module as 16 kHz mono 16-bit PCM."""
    import io
    import wave

    from bristle_spark import multimodal as M

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    rows = M.attach_wav_audio(d).collect()
    assert rows
    for r in rows:
        with wave.open(io.BytesIO(bytes(r["payload"])), "rb") as w:
            assert (w.getframerate(), w.getnchannels(), w.getsampwidth()) == (16000, 1, 2)
            assert w.getnframes() == 128


# ------------------------------------------------- edge/gradient stats


def test_edge_stats_hand_computed_4x4(spark):
    """edge_stats on a hand-computable 4x4 image (raw format: the
    payload bytes ARE the pixels): every output column checked against
    pencil-and-paper gradients."""
    from bristle_spark import multimodal as M

    #  0 10 10 10        h-grads: |right - left| within each row (3/row)
    # 90 10 10 110       v-grads: |below - above| within each column
    # 90 255 10 110      (4 per row-pair); expected values spelled out
    # 255 0 10 110       in h / v below, in row-major order
    px = bytes([0, 10, 10, 10,
                90, 10, 10, 110,
                90, 255, 10, 110,
                255, 0, 10, 110])
    d = spark.createDataFrame(
        [(1, px, {"width": 4, "height": 4, "format": "fake"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    row = M.edge_stats(d, threshold=96).collect()[0]
    h = [10, 0, 0, 80, 0, 100, 165, 245, 100, 255, 10, 100]
    v = [90, 0, 0, 100, 0, 245, 0, 0, 165, 255, 0, 0]
    assert row.h_grad_sum == sum(h)
    assert row.v_grad_sum == sum(v)
    assert row.grad_max == 255
    n_edges = sum(1 for g in h + v if g > 96)
    assert row.n_edges == n_edges
    import math

    assert row.edge_density == math.floor(n_edges / 24.0 * 1e6 + 0.5) / 1e6


def test_edge_stats_identical_on_real_png_payloads(spark, sf_dir):
    """The gradient kernel produces IDENTICAL results whether the
    pixels arrive raw (``fake-rgb``) or inside a genuine PNG parsed by
    the stdlib codec — the m_wav_audio_features cross-container witness,
    for the edge/sharpness kernel."""
    from bristle_spark import multimodal as M

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    raw = M.edge_stats(M.attach_fake_payload(d))
    png = M.edge_stats(M.attach_png_payload(d))
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, png.collect()))



def test_kernels_decode_each_row_by_its_own_format(spark, sf_dir):
    """One Arrow batch mixing png-grey8 and raw rows: each row decodes
    by its own meta.format, so edge_stats and phash give, per row, the
    values of the raw pixels alone. decode_pixels leaves raw-format
    rows behind, so its output is never decoded twice. A row whose
    format has no decoder fails with an error naming that format."""
    import pytest

    from pyspark.sql import functions as F

    from bristle_spark import multimodal as M

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    raw = M.attach_fake_payload(d)
    png = M.attach_png_payload(d)
    # coalesce(1): both kinds of row reach the kernel in ONE batch
    mixed = (
        png.filter(F.col("doc_id") % 2 == 0)
        .unionByName(raw.filter(F.col("doc_id") % 2 == 1))
        .coalesce(1)
    )
    assert {r.meta.format for r in mixed.collect()} == {"png-grey8", "fake-rgb"}
    decoded = M.decode_pixels(png)
    assert {r.meta.format for r in decoded.collect()} == {"fake-rgb"}
    for kernel in (M.edge_stats, M.phash):
        want = sorted(map(tuple, kernel(raw).collect()))
        assert want
        assert sorted(map(tuple, kernel(mixed).collect())) == want
        assert sorted(map(tuple, kernel(decoded).collect())) == want

    bad = spark.createDataFrame(
        [(1, bytes(16), {"width": "4", "height": "4", "format": "tiff-cmyk"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    for kernel in (M.edge_stats, M.extract_features):
        with pytest.raises(Exception, match="tiff-cmyk"):
            kernel(bad).collect()

def test_edge_stats_degenerate_dimensions(spark):
    """1x1 / 1xN / Nx1 images must not crash the partition (zero-size
    gradient axes) and report zeroed gradient fields where none exist."""
    from bristle_spark import multimodal as M

    rows = [
        (1, bytes([7]), {"width": 1, "height": 1, "format": "fake"}),
        (2, bytes([0, 200, 0, 200]), {"width": 4, "height": 1, "format": "fake"}),
        (3, bytes([0, 200, 0, 200]), {"width": 1, "height": 4, "format": "fake"}),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, payload binary, meta map<string,string>"
    )
    out = {r.doc_id: r for r in M.edge_stats(d, threshold=96).collect()}
    assert (out[1].h_grad_sum, out[1].v_grad_sum, out[1].grad_max,
            out[1].n_edges, out[1].edge_density) == (0, 0, 0, 0, 0.0)
    # 4x1: only horizontal gradients exist (200,200,200)
    assert (out[2].h_grad_sum, out[2].v_grad_sum) == (600, 0)
    assert out[2].grad_max == 200 and out[2].n_edges == 3
    assert out[2].edge_density == 1.0
    # 1x4: only vertical gradients exist — the transpose of the above
    assert (out[3].h_grad_sum, out[3].v_grad_sum) == (0, 600)
    assert out[3].grad_max == 200 and out[3].n_edges == 3


def test_edge_stats_matches_pixel_loop_reference(spark):
    """The vectorized gradient kernel agrees with a per-pixel Python
    reference on seeded-random images of varied dimensions (plain
    random.Random(0): one Spark job for all cases, deterministic, and
    a failure reports the exact (w, h) image — hypothesis added only
    indirection here since the property body couldn't fail inside
    @given; self-review r11)."""
    import math
    import random

    from bristle_spark import multimodal as M

    rng = random.Random(0)
    cases = []
    for w, h in [(1, 1), (1, 9), (9, 1), (2, 2)] + [
        (rng.randint(1, 9), rng.randint(1, 9)) for _ in range(8)
    ]:
        cases.append((w, h, bytes(rng.randrange(256) for _ in range(w * h))))
    rows = [
        (i, px, {"width": str(w), "height": str(h), "format": "fake"})
        for i, (w, h, px) in enumerate(cases)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, payload binary, meta map<string,string>"
    )
    got = {r.doc_id: r for r in M.edge_stats(d, threshold=96).collect()}
    for i, (w, h, px) in enumerate(cases):
        g = [[px[r * w + c] for c in range(w)] for r in range(h)]
        hg = [abs(g[r][c + 1] - g[r][c]) for r in range(h) for c in range(w - 1)]
        vg = [abs(g[r + 1][c] - g[r][c]) for r in range(h - 1) for c in range(w)]
        total = len(hg) + len(vg)
        n_edges = sum(1 for x in hg + vg if x > 96)
        row = got[i]
        assert row.h_grad_sum == sum(hg), (w, h)
        assert row.v_grad_sum == sum(vg), (w, h)
        assert row.grad_max == max(hg + vg, default=0), (w, h)
        assert row.n_edges == n_edges, (w, h)
        expect_d = (
            0.0 if total == 0 else math.floor(n_edges / total * 1e6 + 0.5) / 1e6
        )
        assert row.edge_density == expect_d, (w, h)


def test_hist_equalize_hand_computed_and_constant_image(spark):
    """hist_equalize on a hand-computable 2x2 image plus the
    constant-image edge (denominator N - cdf_min = 0 -> all zeros, not
    a division error)."""
    from bristle_spark import multimodal as M

    # pixels [10, 10, 20, 30]: cdf(10)=2, cdf(20)=3, cdf(30)=4, cmin=2
    # eq = ((c-2)*255) // (4-2) -> [0, 0, 127, 255]
    px = bytes([10, 10, 20, 30])
    flat = bytes([7, 7, 7, 7])
    d = spark.createDataFrame(
        [
            (1, px, {"width": 2, "height": 2, "format": "fake"}),
            (2, flat, {"width": 2, "height": 2, "format": "fake"}),
        ],
        "doc_id long, payload binary, meta map<string,string>",
    )
    rows = {
        r.doc_id: r
        for r in M.hist_equalize(d).collect()
    }
    assert bytes(rows[1].equalized) == bytes([0, 0, 127, 255])
    assert (rows[1].eq_min, rows[1].eq_max, rows[1].eq_sum) == (0, 255, 382)
    assert bytes(rows[2].equalized) == bytes([0, 0, 0, 0])
    assert (rows[2].eq_min, rows[2].eq_max, rows[2].eq_sum) == (0, 0, 0)
