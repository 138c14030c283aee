"""Group M (multimodal) — oracle-backed queries exercising the
binary-column plumbing: Arrow-batched feature extraction, frame
sampling, resize, patchify, scene cuts, perceptual-hash dedup. The
md5-derived pixel payload is recomputable from hex strings SQL-side,
and binary outputs are emitted as lowercase hex so every oracle checks
full content (the pHash keys replay the 64-bit bit packing via
HUGEINT). Every image key decodes a REAL container: the m_png_* keys
run the stdlib PNG codec (multimodal/png.py), the m_jpeg_* keys the
stdlib ITU-T T.81 codec (multimodal/jpeg.py). No key picks a decoder:
each kernel decodes a payload by the container its builder wrote into
``meta.format``. The raw-payload originals (m_binary_features,
m_frame_sample, m_resize, m_phash_dedup, m_scene_cut, m_patchify) were
retired in round 13 (VERDICT r12 ask #3) after each was superseded by a
real-codec twin sharing the SAME oracle; ``attach_fake_payload`` (raw
``fake-rgb`` pixels) remains in bristle_spark/multimodal for
unit-testing the kernels without a codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bristle_spark import multimodal
from bristle_spark.catalog import load_table
from bristle_spark.registry import register


def _present(df: DataFrame, *cols: str) -> DataFrame:
    """Presentation sort with a shuffle shield for Python pipelines
    (r15, guide §2.4/§7.2).

    Every m_* feature frame used to end with a bare ``orderBy``: a
    global Sort requires range partitioning, and the range exchange
    first runs a SAMPLING job over its child to pick partition bounds,
    then runs the child AGAIN to write the shuffle files.  When the
    child is the zero-shuffle codec chain (scan -> mapInPandas x2),
    both executions pay the full decode — the entire Python kernel ran
    TWICE per query (measured: +0.75 s on a ~0.95 s pipeline at sf0.1;
    the phash/fingerprint keys are unaffected because their final
    aggregation exchange already shields the sort).

    The fix is one hash exchange of the NARROW feature frame between
    the kernels and the sort: the sampling job materializes that
    shuffle's map output once, and the range exchange's own map stage
    reuses the same shuffle files instead of re-running the codec.
    Honest at any scale — no cache, the extra exchange carries only the
    per-doc feature rows (a few hundred bytes each, orders of magnitude
    lighter than re-decoding payloads), and partition counts stay
    AQE-governed."""
    return df.repartition(*[F.col(c) for c in cols]).orderBy(*cols)


# Shared SQL: the fake payload's 256 bytes, recomputed hex-side (the
# payload is 16 chained md5 digests of the text, so DuckDB re-derives
# every byte independently of the Arrow binary path).
_BYTES_CTES = """
    h AS (
        SELECT doc_id, lang, md5(text || '0') || md5(text || '1') || md5(text || '2') || md5(text || '3') || md5(text || '4') || md5(text || '5') || md5(text || '6') || md5(text || '7') || md5(text || '8') || md5(text || '9') || md5(text || '10') || md5(text || '11') || md5(text || '12') || md5(text || '13') || md5(text || '14') || md5(text || '15') AS hx
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang, hx,
               list_transform(range(1, 257),
                   i -> CAST('0x' || substr(hx, 2*i - 1, 2) AS INT)) AS bytes
        FROM h
    )
"""

_BINARY_FEATURES_ORACLE = f"""
    WITH {_BYTES_CTES}
    SELECT doc_id, lang,
           CAST(256 AS BIGINT)                    AS n_bytes,
           round(list_sum(bytes) / 256.0, 6)      AS mean_byte,
           array_to_string(list_transform(range(0, 16),
               b -> CAST(len(list_filter(bytes, x -> x // 16 = b)) AS VARCHAR)), ',')
                                                  AS byte_hist
    FROM f
"""


@register("m_png_binary_features", oracle=_BINARY_FEATURES_ORACLE)
def m_png_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_binary_features driven through the REAL PNG codec (the round-12
    promotion: every fake-backend key gets a real-container twin): the
    same 256 hex-derivable pixels travel as a genuine Paeth/DEFLATE PNG
    and the byte-stats kernel decodes them with multimodal/png.py. The
    oracle is IDENTICAL to m_binary_features' — a correct decode must
    recover byte-identical pixels, so the unchanged hex-side derivation
    doubles as the codec's witness (any CRC/inflate/unfilter mistake is
    a hash mismatch).

    Scale shape: identical to m_binary_features — two partition-local
    mapInPandas stages (PNG wrap, decode+bincount), zero shuffles before
    the metadata join."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    feats = multimodal.extract_features(payloads)
    return (
        feats.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_bytes",
            F.round("mean_byte", 6).alias("mean_byte"),
            F.array_join(
                F.transform("byte_hist", lambda x: x.cast("string")), ","
            ).alias("byte_hist"),
        )
        .transform(_present, "doc_id")
    )


_FRAME_SAMPLE_ORACLE = f"""
    WITH {_BYTES_CTES}
    SELECT doc_id,
           CAST(4 AS BIGINT)                   AS n_frames,
           substr(hx, 1, 32)                   AS first_frame_hex,
           substr(hx, 8 * 32 + 1, 32)          AS third_frame_hex
    FROM f
"""


@register("m_png_frame_sample", oracle=_FRAME_SAMPLE_ORACLE)
def m_png_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_frame_sample through the real PNG codec: the payload is a
    genuine PNG, one mapInPandas stage decodes it back to the raw
    16-byte-frame buffer (multimodal.decode_pixels), and the frame
    sampling itself stays EXACTLY the JVM-side substring slicing of
    m_frame_sample — the canonical 100 TB split (decode once in Python,
    keep every slice stage in whole-stage codegen). Identical oracle:
    the sampled frames' hex must match the hex-side pixel derivation,
    so the codec and the slicer are witnessed together.

    Scale shape: two partition-local mapInPandas stages + JVM slicing,
    zero shuffles before the presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    pngs = multimodal.attach_png_payload(d)
    payloads = multimodal.decode_pixels(pngs)
    sampled = multimodal.sample_frames(payloads, every_nth=4)
    return sampled.select(
        "doc_id",
        F.size("sampled_frames").cast("bigint").alias("n_frames"),
        F.lower(F.hex(F.col("sampled_frames").getItem(0))).alias("first_frame_hex"),
        F.lower(F.hex(F.col("sampled_frames").getItem(2))).alias("third_frame_hex"),
    ).transform(_present, "doc_id")


_RESIZE_ORACLE = f"""
    WITH {_BYTES_CTES}
    SELECT doc_id,
           CAST(8 AS INT)      AS out_width,
           CAST(8 AS INT)      AS out_height,
           CAST(64 AS BIGINT)  AS n_bytes,
           array_to_string(list_transform(range(0, 64),
               k -> printf('%02x',
                   (  bytes[(k // 8) * 32 + (k % 8) * 2 + 1]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 2]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 17]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 18]) // 4)), '')
                               AS resized_hex
    FROM f
"""


PHASH_BANDS = 4  # 4 x 16-bit bands: banding is EXACT for Hamming <= 3
PHASH_MAX_HAMMING = 3


# The phash -> bands -> candidate-pairs -> Hamming verify pipeline in
# SQL, shared by every phash-dedup oracle; each oracle supplies its own
# payload derivation ending in a `pooled (doc_id, cells)` CTE of 64
# average-pool cells.
_PHASH_TAIL_SQL = """
    packed AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, 64), k ->
                   CASE WHEN cells[k + 1] > list_sum(cells) / 64.0
                        THEN CAST(1 AS HUGEINT) << (63 - k)
                        ELSE CAST(0 AS HUGEINT) END)) AS p
    FROM pooled
    ),
    ph AS (
        SELECT doc_id, p,
               CAST(CASE WHEN p >= CAST(1 AS HUGEINT) << 63
                         THEN p - (CAST(1 AS HUGEINT) << 64)
                         ELSE p END AS BIGINT) AS phash
        FROM packed
    ),
    bands AS (
        SELECT doc_id, phash, bj.b AS band_idx,
               CAST((p // (CAST(1 AS HUGEINT) << (16 * bj.b))) % 65536 AS BIGINT)
                   AS band_val
        FROM ph, (SELECT unnest(range(0, 4)) AS b) bj
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               x.phash AS pa, y.phash AS pb
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(pa, pb)) <= 3
"""

_PHASH_ORACLE = """
    WITH d AS (SELECT doc_id, text FROM documents),
    j AS (
        SELECT a.doc_id, b.text AS ctext
        FROM d a JOIN d b ON b.doc_id = a.doc_id - a.doc_id % 4
    ),
    h0 AS (SELECT doc_id, md5(ctext || '0') || md5(ctext || '1') || md5(ctext || '2') || md5(ctext || '3') || md5(ctext || '4') || md5(ctext || '5') || md5(ctext || '6') || md5(ctext || '7') || md5(ctext || '8') || md5(ctext || '9') || md5(ctext || '10') || md5(ctext || '11') || md5(ctext || '12') || md5(ctext || '13') || md5(ctext || '14') || md5(ctext || '15') AS hx0 FROM j),
    h AS (
        SELECT doc_id,
               substr(hx0, 1, 2 * (doc_id % 200))
               || printf('%02x', (doc_id % 4) * 63)
               || substr(hx0, 2 * (doc_id % 200) + 3, 512) AS hx
        FROM h0
    ),
    f AS (
        SELECT doc_id,
               list_transform(range(1, 257),
                   i -> CAST('0x' || substr(hx, 2*i - 1, 2) AS INT)) AS bytes
        FROM h
    ),
    pooled AS (
        SELECT doc_id,
               list_transform(range(0, 64), k ->
                   (  bytes[(k // 8) * 32 + (k % 8) * 2 + 1]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 2]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 17]
                    + bytes[(k // 8) * 32 + (k % 8) * 2 + 18]) / 4.0) AS cells
        FROM f
    ),
""" + _PHASH_TAIL_SQL


def _planted_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-near-dup corpus shared by the phash dedup keys:
    every run of 4 doc_ids shares one canonical text (broadcast join),
    so the payload derivation plants 4-cliques of near-identical
    images. Changing the run length here changes BOTH keys and the
    shared _PHASH_ORACLE must follow."""
    d = load_table(spark, sf_dir, "documents")
    canon = (F.col("doc_id") - F.col("doc_id") % 4).alias("canon_id")
    canon_text = d.select(
        F.col("doc_id").alias("canon_id"), F.col("text").alias("ctext")
    )
    return d.select("doc_id", canon).join(F.broadcast(canon_text), "canon_id")


def _phash_band_pairs(hashes: DataFrame) -> DataFrame:
    """4x16-bit LSH banding + bit_count(xor) verify over a phash frame
    (doc_id, phash) — shared by the fake-backend and real-PNG dedup
    keys; pigeonhole-exact for Hamming <= PHASH_MAX_HAMMING."""
    # r15: BOTH self-join sides consume the banded frame, and each
    # re-evaluation re-ran the entire upstream codec decode (the plan
    # carried two full attach->decode mapInPandas chains). Persist the
    # narrow (doc_id, phash) frame so the images decode ONCE — the
    # l_ann_ivfpq / l_dedup_semantic discipline applied to the codec
    # family's only multi-branch consumer.
    hashes = hashes.persist()
    bands = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        # bitwiseAND, not %: the top band of a signed
                        # 64-bit hash would go negative under % and
                        # silently miss candidate pairs (the simhash
                        # banding discipline, dedup.py)
                        F.shiftrightunsigned(F.col("phash"), 16 * j)
                        .bitwiseAND(F.lit((1 << 16) - 1))
                        .alias("band_val"),
                    )
                    for j in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", "b.band_idx", "b.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("pa"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("pb"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("bigint")
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@register("m_png_phash_dedup", oracle=_PHASH_ORACLE)
def m_png_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_phash_dedup driven through the REAL PNG codec: identical
    planted near-dups, identical banding and verify, identical oracle —
    but each payload is a genuine Paeth-filtered DEFLATEd PNG and the
    pHash kernel decodes it with the stdlib codec (multimodal/png.py).
    The one-byte decode noise moves to the PIXEL domain before encoding
    (a container cannot be byte-spliced without breaking chunk CRCs),
    which the fake-backend derivation also models, so _PHASH_ORACLE's
    hex-side replay is unchanged.

    Scale shape: identical to m_phash_dedup — banded candidate joins on
    (band_idx, band_val), never all-pairs; the codec adds a fixed
    per-payload cost inside the partition-local phash pass."""
    docs = _planted_near_dup_docs(spark, sf_dir)
    pngs = multimodal.attach_png_payload(docs, text_col="ctext", noise_from_key=True)
    hashes = multimodal.phash(pngs)
    return _phash_band_pairs(hashes)


_AUDIO_ORACLE = f"""
    WITH {_BYTES_CTES},
    s AS (
        SELECT doc_id,
               list_transform(range(1, 129), j ->
                   CASE WHEN bytes[2*j - 1] + 256 * bytes[2*j] >= 32768
                        THEN bytes[2*j - 1] + 256 * bytes[2*j] - 65536
                        ELSE bytes[2*j - 1] + 256 * bytes[2*j] END) AS v
        FROM f
    ),
    c AS (
        SELECT doc_id, ci.c AS chunk_idx,
               list_slice(v, ci.c * 32 + 1, ci.c * 32 + 32) AS w
        FROM s, (SELECT unnest(range(0, 4)) AS c) ci
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT)  AS chunk_idx,
           CAST(32 AS BIGINT)      AS n_samples,
           round(sqrt(list_sum(list_transform(w, x -> CAST(x AS DOUBLE) * x)) / 32.0), 6)
                                   AS rms,
           CAST(list_max(list_transform(w, x -> abs(x))) AS BIGINT) AS peak,
           round(len(list_filter(range(1, 32), i -> w[i] * w[i+1] < 0)) / 31.0, 6)
                                   AS zcr
    FROM c
"""


@register("m_audio_features", oracle=_AUDIO_ORACLE)
def m_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake PCM16 audio payload -> chunked RMS / peak / zero-crossing
    features (the mapInPandas audio front end: 128 samples per doc in 4
    windows of 32).

    Oracle-backed (round 7): DuckDB re-derives the little-endian int16
    samples from the hex-side payload and recomputes all three features
    per window — an independent check of the numpy tensor kernel
    (frombuffer '<i2' decode, windowing, RMS/peak/ZCR reductions)."""
    d = load_table(spark, sf_dir, "documents")
    audio = multimodal.attach_fake_audio(d)
    feats = multimodal.audio_features(audio, chunk_samples=32)
    return feats.select(
        "doc_id",
        "chunk_idx",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
        F.round("zcr", 6).alias("zcr"),
    ).transform(_present, "doc_id", "chunk_idx")


_AUDIO_FP_ORACLE = f"""
    WITH {_BYTES_CTES},
    s AS (
        SELECT doc_id,
               list_transform(range(1, 129), j ->
                   CASE WHEN bytes[2*j - 1] + 256 * bytes[2*j] >= 32768
                        THEN bytes[2*j - 1] + 256 * bytes[2*j] - 65536
                        ELSE bytes[2*j - 1] + 256 * bytes[2*j] END) AS v
        FROM f
    ),
    e AS (
        SELECT doc_id,
               list_transform(range(0, 16), w ->
                   list_sum(list_transform(list_slice(v, w * 8 + 1, w * 8 + 8),
                       x -> CAST(x AS BIGINT) * x))) AS en
        FROM s
    ),
    fp AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(1, 16),
                   w -> CASE WHEN en[w] > en[w + 1]
                             THEN (1 << (w - 1)) ELSE 0 END)) AS BIGINT) AS fp
        FROM e
    )
    SELECT fp,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(min(doc_id) AS BIGINT)  AS keeper,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM fp
    GROUP BY fp
    HAVING count(*) >= 2
"""


@register("m_audio_fingerprint", oracle=_AUDIO_FP_ORACLE)
def m_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint dedup: a Chromaprint-style 15-bit
    energy-comparison fingerprint per audio payload (16 int64-exact
    energy windows of 8 samples; each adjacent comparison is one bit),
    then keep-first per fingerprint group — the audio analog of
    l_prefix_dedup / m_phash_dedup, catching re-encoded or re-containered
    copies of the same recording that byte-hashing misses.

    Oracle-backed: DuckDB re-derives the int16 samples from the
    hex-side payload, recomputes the integer window energies, and packs
    the same bits — an implementation-independent check of the whole
    Arrow kernel (frombuffer decode, tensor windowing, bit packing).

    Scale shape: the fingerprint is partition-local ``mapInPandas``
    (vectorized, no per-row Python); the group step is ONE
    map-side-combinable aggregation on an 8-byte key — the
    l_prefix_dedup discipline; hot fingerprints reach the reducer only
    as count/min partials."""
    d = load_table(spark, sf_dir, "documents")
    audio = multimodal.attach_fake_audio(d)
    fps = multimodal.audio_fingerprint(audio)
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_SCENE_ORACLE = f"""
    WITH {_BYTES_CTES},
    d AS (
        SELECT doc_id,
               list_transform(range(0, 15), k ->
                   list_sum(list_transform(range(1, 17), i ->
                       abs(bytes[16*k + i] - bytes[16*(k+1) + i])))) AS diffs
        FROM f
    )
    SELECT doc_id,
           CAST(len(list_filter(diffs, x -> x > 1600)) AS BIGINT) AS n_cuts,
           coalesce(array_to_string(
               list_transform(
                   list_filter(range(0, 15), k -> diffs[k + 1] > 1600),
                   k -> CAST(k AS VARCHAR)), ','), '')             AS cut_idxs,
           CAST(list_max(diffs) AS BIGINT)                         AS max_diff
    FROM d
"""


@register("m_png_scene_cut", oracle=_SCENE_ORACLE)
def m_png_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_scene_cut through the real PNG codec: identical L1
    frame-difference kernel and identical integer-exact oracle, but the
    16-frame buffer arrives as a genuine PNG and the kernel decodes it
    with multimodal/png.py. Any codec mistake shifts a byte and breaks
    the integer diffs — the hex-side replay is the witness.

    Scale shape: identical to m_scene_cut — two partition-local
    mapInPandas stages (PNG wrap, decode+diff), zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    return multimodal.scene_cuts(payloads).transform(_present, "doc_id")


_PATCHIFY_ORACLE = f"""
    WITH {_BYTES_CTES},
    p AS (
        SELECT doc_id, r.k AS patch_id,
               list_transform(range(0, 16),
                   j -> bytes[((r.k // 4) * 4 + j // 4) * 16
                              + (r.k % 4) * 4 + (j % 4) + 1]) AS pb
        FROM f CROSS JOIN range(0, 16) r(k)
    )
    SELECT doc_id, CAST(patch_id AS INT) AS patch_id,
           array_to_string(list_transform(pb, b -> printf('%02x', b)), '')
               AS patch_hex,
           list_sum(pb) / 16.0 AS patch_mean
    FROM p
    ORDER BY doc_id, patch_id
"""


@register("m_png_patchify", oracle=_PATCHIFY_ORACLE)
def m_png_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_patchify through the real PNG codec: the ViT patch
    tokenization (4x4 grid, zero-copy reshape/transpose) runs on pixels
    decoded from a genuine PNG container instead of the fake backend.
    Identical oracle — every patch byte is re-derived hex-side, so the
    codec is witnessed through the full patch stream.

    Scale shape: identical to m_patchify — two partition-local
    mapInPandas stages, no shuffle; the patch stream inherits the
    scan's partitioning."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    patches = multimodal.patchify(payloads, patch=4)
    return patches.select(
        "doc_id",
        "patch_id",
        F.lower(F.hex("patch")).alias("patch_hex"),
        "patch_mean",
    ).transform(_present, "doc_id", "patch_id")


@register("m_wav_audio_features", oracle=_AUDIO_ORACLE)
def m_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m_audio_features pipeline driven through a REAL codec: the
    deterministic PCM is wrapped in a genuine RIFF/WAVE container
    (JVM-side constant-header concat) and the kernel decodes it with
    Python's stdlib ``wave`` module (format ``wav_pcm_s16le``) — no
    external dependency, actual container parsing in the hot path. The
    oracle is IDENTICAL to m_audio_features' (DuckDB re-derives the
    int16 samples from the hex side): a correct wav parse must strip
    exactly the 44-byte header and recover byte-identical PCM, so any
    header/framing mistake shows up as a hash mismatch.

    Scale shape: identical to m_audio_features — partition-local
    mapInPandas over Arrow batches, zero shuffles; the container parse
    adds a fixed per-payload cost inside the same batch loop."""
    d = load_table(spark, sf_dir, "documents")
    audio = multimodal.attach_wav_audio(d)
    feats = multimodal.audio_features(audio, chunk_samples=32)
    return feats.select(
        "doc_id",
        "chunk_idx",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        "peak",
        F.round("zcr", 6).alias("zcr"),
    ).transform(_present, "doc_id", "chunk_idx")


_PNG_PIXEL_STATS_ORACLE = f"""
    WITH {_BYTES_CTES}
    SELECT doc_id,
           CAST(16 AS INT)     AS width,
           CAST(16 AS INT)     AS height,
           CAST(256 AS BIGINT) AS n_pixels,
           list_sum(bytes) / 256.0 AS px_mean,
           CAST(list_min(bytes) AS INT) AS px_min,
           CAST(list_max(bytes) AS INT) AS px_max,
           hx AS px_hex
    FROM f
    ORDER BY doc_id
"""


@register("m_png_pixel_stats", oracle=_PNG_PIXEL_STATS_ORACLE)
def m_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image pipeline through a REAL codec (the m_wav_audio_features
    move for images, VERDICT r10 ask #3): the deterministic 256
    md5-derived pixels are encoded as a genuine 16x16 greyscale PNG —
    Paeth-filtered, fully DEFLATEd — and the kernel decodes it with the
    repo's stdlib codec (multimodal/png.py: chunk CRC verification,
    zlib inflate, all-five-filter scanline reconstruction). The decoded
    buffer is emitted as hex, so the oracle's independent hex-side
    pixel derivation verifies the encode->decode roundtrip BYTE-EXACT:
    any IDAT framing, inflate, or unfilter mistake is a hash mismatch.

    px_mean is sum/256 — a power-of-two division, exact in IEEE double
    on both sides. Scale shape: partition-local mapInPandas over Arrow
    batches end to end (payload wrap and decode+stats), zero shuffles —
    the same plan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    return multimodal.pixel_stats(payloads).transform(_present, "doc_id")


@register("m_png_resize", oracle=_RESIZE_ORACLE)
def m_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_resize driven through the real PNG codec: identical pooling
    kernel, identical oracle (the pixels are the same hex-derivable 256
    bytes — only the container differs), but the decode in the hot path
    is a genuine PNG parse (multimodal/png.py) instead of the fake
    backend. A correct decode must recover byte-identical pixels, so
    the unchanged _RESIZE_ORACLE doubles as the codec's witness.

    Scale shape: identical to m_resize — one partition-local
    mapInPandas pass, zero shuffles; the container parse adds a fixed
    per-payload cost inside the same batch loop."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    resized = multimodal.resize(payloads, out_width=8, out_height=8)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        F.length("resized").cast("bigint").alias("n_bytes"),
        F.lower(F.hex("resized")).alias("resized_hex"),
    ).transform(_present, "doc_id")


@register(
    "l_gzip_decode_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT)                  AS n_bytes,
           CAST(len(string_split(text, ' ')) AS BIGINT)  AS ws_tokens,
           md5(text)                                     AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def l_gzip_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-corpus ingestion through a REAL codec (the third
    stdlib-codec instance after WAV and PNG): every document travels as
    a genuine gzip member (deterministic mtime=0 container) and the
    kernel decompresses it with stdlib ``gzip`` — actual DEFLATE
    inflate + CRC32 trailer verification in the hot path, the shape a
    100 TB corpus arrives in (.jsonl.gz shards, WARC/WET members). The
    md5 witness of the DECOMPRESSED bytes is matched against DuckDB's
    md5 over the raw text side, so any container/inflate mistake is a
    hash mismatch; token counts follow the l_token_count single-space
    convention.

    Scale shape: two partition-local mapInPandas passes (compress-in,
    decode+stats), zero shuffles before the final presentation sort —
    identical plan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_gzip_payload(d)
    return multimodal.gzip_text_stats(payloads).transform(_present, "doc_id")


_AUGMENT_ORACLE = f"""
    WITH {_BYTES_CTES}
    SELECT doc_id,
           CAST(8 AS INT)     AS out_width,
           CAST(8 AS INT)     AS out_height,
           CAST(64 AS BIGINT) AS n_bytes,
           -- flip then center-crop: output (r, c) reads source row 4+r,
           -- source column 11-c (the flip mirrors 15-(4+c))
           array_to_string(list_transform(range(0, 64),
               k -> printf('%02x',
                   bytes[(4 + k // 8) * 16 + (11 - k % 8) + 1])), '')
               AS augmented_hex
    FROM f
    ORDER BY doc_id
"""


@register("m_png_augment", oracle=_AUGMENT_ORACLE)
def m_png_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-training augmentation through the real PNG codec:
    horizontal flip + 8x8 center crop over the decoded pixels — the
    deterministic eval-time transform pair of an image training
    pipeline (the random train-time variants differ only in a
    per-sample-seeded offset/flip coin). Pure index permutation, so the
    oracle re-derives every output byte from the hex-side pixel
    construction: output (r, c) = source pixel (4 + r, 11 - c).

    Scale shape: two partition-local mapInPandas stages (PNG wrap,
    decode + zero-copy flip/crop views), no shuffle — the augmented
    stream inherits the scan's partitioning and feeds the patchify /
    embedding stages without a repartition."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    aug = multimodal.augment(payloads, crop=8, flip=True)
    return aug.select(
        "doc_id",
        "out_width",
        "out_height",
        F.length("augmented").cast("bigint").alias("n_bytes"),
        F.lower(F.hex("augmented")).alias("augmented_hex"),
    ).transform(_present, "doc_id")


# The JPEG payload's hex-side derivation: four 8x8 constant blocks,
# block (by, bx) = byte 2*by+bx of md5(text || '0') — the one image
# family baseline JPEG roundtrips byte-exactly (DC-only spectra), so
# the decoded pixels are SQL-derivable (multimodal.attach_jpeg_payload).
_JPEG_CTES = """
    jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents),
    jpx AS (
        SELECT doc_id,
               list_transform(range(0, 256), k ->
                   CAST('0x' || substr(hx,
                       2 * (2 * ((k // 16) // 8) + ((k % 16) // 8)) + 1,
                       2) AS INT)) AS px
        FROM jb
    )
"""

_JPEG_PIXEL_STATS_ORACLE = f"""
    WITH {_JPEG_CTES}
    SELECT doc_id,
           CAST(16 AS INT)     AS width,
           CAST(16 AS INT)     AS height,
           CAST(256 AS BIGINT) AS n_pixels,
           list_sum(px) / 256.0 AS px_mean,
           CAST(list_min(px) AS INT) AS px_min,
           CAST(list_max(px) AS INT) AS px_max,
           array_to_string(list_transform(px, b -> printf('%02x', b)), '')
               AS px_hex
    FROM jpx
    ORDER BY doc_id
"""


@register("m_jpeg_pixel_stats", oracle=_JPEG_PIXEL_STATS_ORACLE)
def m_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image pipeline through a REAL baseline JPEG codec (VERDICT
    r11 ask #4 — the ML-preprocessing reality is JPEG): each payload is
    a genuine T.81 baseline sequential JPEG (SOI/DQT/SOF0/DHT/SOS
    markers, Annex-K Huffman entropy coding with 0xFF00 stuffing,
    differential DC prediction, unit quantization) and the kernel
    decodes it with the repo's stdlib codec (multimodal/jpeg.py). The
    image is four constant 8x8 blocks — the family baseline JPEG
    roundtrips BYTE-EXACTLY (DC-only spectra, integer coefficients) —
    so the decoded buffer's hex matches an independent SQL-side
    derivation and any marker/Huffman/IDCT mistake is a hash mismatch.

    px_mean is sum/256 — a power-of-two division, exact in IEEE double
    on both sides. Scale shape: two partition-local mapInPandas stages
    (JPEG wrap, decode+stats), zero shuffles — the same plan at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_payload(d)
    return multimodal.pixel_stats(payloads).transform(_present, "doc_id")


_JPEG_RESIZE_ORACLE = """
    WITH jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents)
    SELECT doc_id,
           CAST(8 AS INT)      AS out_width,
           CAST(8 AS INT)      AS out_height,
           CAST(64 AS BIGINT)  AS n_bytes,
           -- resized pixel (r=k//8, c=k%8) pools a 2x2 window inside
           -- ONE constant block, so it equals block byte
           -- 2*(r//4) + (c//4) of md5(text||'0')
           array_to_string(list_transform(range(0, 64),
               k -> substr(hx,
                   2 * (2 * ((k // 8) // 4) + ((k % 8) // 4)) + 1, 2)), '')
               AS resized_hex
    FROM jb
    ORDER BY doc_id
"""


@register("m_jpeg_resize", oracle=_JPEG_RESIZE_ORACLE)
def m_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The average-pool resize kernel fed by the real JPEG codec: 16x16
    block-constant JPEG -> decode (multimodal/jpeg.py) -> 8x8 pool.
    Every 2x2 pool window lies inside one constant block, so the pooled
    pixel equals the block constant exactly and the oracle re-derives
    the full resized buffer from the hex side — a second, independent
    witness of the decode path through a different kernel.

    Scale shape: identical to m_png_resize — two partition-local
    mapInPandas stages, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_payload(d)
    resized = multimodal.resize(payloads, out_width=8, out_height=8)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        F.length("resized").cast("bigint").alias("n_bytes"),
        F.lower(F.hex("resized")).alias("resized_hex"),
    ).transform(_present, "doc_id")


_JPEG_PHASH_ORACLE = """
    WITH d AS (SELECT doc_id, text FROM documents),
    j AS (
        SELECT a.doc_id, b.text AS ctext
        FROM d a JOIN d b ON b.doc_id = a.doc_id - a.doc_id % 4
    ),
    jb AS (SELECT doc_id, md5(ctext || '0') AS hx FROM j),
    blk AS (
        SELECT doc_id,
               list_transform(range(0, 4), bi ->
                   CASE WHEN bi = doc_id % 4
                        THEN (CAST('0x' || substr(hx, 2 * bi + 1, 2) AS INT)
                              + 1 + doc_id % 7) % 256
                        ELSE CAST('0x' || substr(hx, 2 * bi + 1, 2) AS INT)
                   END) AS bc
        FROM jb
    ),
    -- 2x2 average-pool cell (r = k // 8, c = k %% 8) lies inside ONE
    -- constant 8x8 block, so it equals block constant 2*(r//4) + (c//4)
    pooled AS (
        SELECT doc_id,
               list_transform(range(0, 64), k ->
                   CAST(bc[2 * ((k // 8) // 4) + ((k % 8) // 4) + 1]
                        AS DOUBLE)) AS cells
        FROM blk
    ),
""" + _PHASH_TAIL_SQL


@register("m_jpeg_phash_dedup", oracle=_JPEG_PHASH_ORACLE)
def m_jpeg_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m_phash_dedup driven through the REAL baseline JPEG codec:
    planted 4-clique near-dups (canonical text per run of 4 doc_ids),
    keyed decode noise, 4x16-bit banding, bit_count(xor) verify — the
    m_png_phash_dedup pattern with multimodal/jpeg.py doing the decode.
    The noise moves to the BLOCK-CONSTANT domain (block doc_id %% 4
    shifts by 1 + doc_id %% 7): a baseline JPEG roundtrips byte-exactly
    only while each 8x8 block is constant, so this is the JPEG analog
    of the PNG key's pixel-domain noise, and the oracle re-derives
    every pooled cell from the perturbed block constants.

    Scale shape: identical to m_phash_dedup — banded candidate joins on
    (band_idx, band_val), never all-pairs; the codec adds a fixed
    per-payload cost inside the partition-local phash pass."""
    docs = _planted_near_dup_docs(spark, sf_dir)
    jpgs = multimodal.attach_jpeg_payload(docs, text_col="ctext", noise_from_key=True)
    hashes = multimodal.phash(jpgs)
    return _phash_band_pairs(hashes)


from bristle_spark.multimodal.jpeg import (  # noqa: E402
    YCC_FWD_CB,
    YCC_FWD_CR,
    YCC_FWD_Y,
    YCC_INV_B,
    YCC_INV_G,
    YCC_INV_R,
)

_JPEG_RGB_ORACLE = f"""
    WITH jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents),
    mc AS (
        SELECT doc_id, m.k AS mcu_idx,
               CAST('0x' || substr(hx, 6 * m.k + 1, 2) AS BIGINT) AS r0,
               CAST('0x' || substr(hx, 6 * m.k + 3, 2) AS BIGINT) AS g0,
               CAST('0x' || substr(hx, 6 * m.k + 5, 2) AS BIGINT) AS b0
        FROM jb CROSS JOIN range(0, 4) m(k)
    ),
    -- forward integer fixed-point RGB -> YCbCr: the coefficients are
    -- SPLICED from jpeg.YCC_FWD_* (one source, review r13); every
    -- numerator is pre-biased positive, so // is the same floor
    -- division in DuckDB BIGINT and numpy int64
    ycc AS (
        SELECT doc_id, mcu_idx,
               ({YCC_FWD_Y[0]} * r0 + {YCC_FWD_Y[1]} * g0 + {YCC_FWD_Y[2]} * b0 + {YCC_FWD_Y[3]}) // 65536 AS y,
               LEAST(255, ({YCC_FWD_CB[0]} * r0 + {YCC_FWD_CB[1]} * g0 + {YCC_FWD_CB[2]} * b0 + {YCC_FWD_CB[3]}) // 65536) AS cb,
               LEAST(255, ({YCC_FWD_CR[0]} * r0 + {YCC_FWD_CR[1]} * g0 + {YCC_FWD_CR[2]} * b0 + {YCC_FWD_CR[3]}) // 65536) AS cr
        FROM mc
    )
    -- inverse chain (jpeg.YCC_INV_*); the DCT roundtrip of the
    -- MCU-constant planes is exact, so decoded YCbCr == encoded YCbCr
    SELECT doc_id,
           CAST(mcu_idx AS INT) AS mcu_idx,
           CAST(LEAST(255, GREATEST(0,
               y + ({YCC_INV_R[0]} * (cr - 128) + 32768 + {YCC_INV_R[1]}) // 65536 - {YCC_INV_R[2]}))
               AS BIGINT) AS r,
           CAST(LEAST(255, GREATEST(0,
               y - (({YCC_INV_G[0]} * (cb - 128) + {YCC_INV_G[1]} * (cr - 128) + 32768
                     + {YCC_INV_G[2]}) // 65536 - {YCC_INV_G[3]}))) AS BIGINT) AS g,
           CAST(LEAST(255, GREATEST(0,
               y + ({YCC_INV_B[0]} * (cb - 128) + 32768 + {YCC_INV_B[1]}) // 65536 - {YCC_INV_B[2]}))
               AS BIGINT) AS b,
           CAST(1 AS BIGINT) AS n_colors
    FROM ycc
    ORDER BY doc_id, mcu_idx
"""


@register("m_jpeg_rgb_stats", oracle=_JPEG_RGB_ORACLE)
def m_jpeg_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color statistics through the REAL 4:2:0 color JPEG codec
    (VERDICT r12 ask #5 — the ML-curation reality is 3-component
    4:2:0, not greyscale): each document carries a genuine baseline
    YCbCr JPEG whose four 16x16 MCUs are constant colors
    (multimodal.attach_jpeg_rgb_payload), and the kernel decodes it —
    3-component SOF0, interleaved MCU entropy decode with per-component
    DC predictors and the Annex-K CHROMA Huffman tables, per-component
    dequant/IDCT, chroma upsampling, integer fixed-point YCbCr->RGB —
    then emits per-MCU channel minima and the distinct-color count.

    Full-content witness: over MCU-constant fixtures a decode wrong in
    ANY pixel either moves a channel min or pushes n_colors above 1,
    and the oracle re-derives the exact decoded constants hex-side by
    replaying the integer color chain (the constant-block exactness
    contract extended to three components — the forward and inverse
    transforms are pure BIGINT expressions with pre-biased-positive
    numerators, identical under DuckDB // and numpy int64 //).

    Scale shape: two partition-local mapInPandas stages (color-JPEG
    wrap, decode+stats), zero shuffles before the presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_rgb_payload(d)
    return multimodal.rgb_mcu_stats(payloads, mcu=16).transform(_present, "doc_id", "mcu_idx")


def _sgn_sql(e: str) -> str:
    """The checker sign vector s = (+,-,-,+,+,-,-,+) as SQL over an
    index expression in 0..7 — the (4,4) DCT-II basis sign pattern
    shared with attach_jpeg_checker_payload."""
    return f"(CASE WHEN ({e}) IN (0, 3, 4, 7) THEN 1 ELSE -1 END)"


_JPEG_CHROMA_AC_ORACLE = f"""
    WITH jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents),
    par AS (
        SELECT doc_id,
               list_transform(range(0, 4), b ->
                   64 + CAST('0x' || substr(hx, 4 * b + 1, 2) AS BIGINT) % 128) AS ymid,
               list_transform(range(0, 4), b ->
                   1 + CAST('0x' || substr(hx, 4 * b + 3, 2) AS BIGINT) % 63) AS yamp,
               64 + CAST('0x' || substr(hx, 17, 2) AS BIGINT) % 128 AS cbmid,
               1 + CAST('0x' || substr(hx, 19, 2) AS BIGINT) % 63 AS cbamp,
               64 + CAST('0x' || substr(hx, 21, 2) AS BIGINT) % 128 AS crmid,
               1 + CAST('0x' || substr(hx, 23, 2) AS BIGINT) % 63 AS cramp
        FROM jb
    ),
    -- pixel (x, y) of luma block k (raster order, k = 2*by + bx):
    -- Y from the block's own checker; chroma sampled at the 2x2-
    -- subsampled grid (u = 4*(k%2) + x//2, v = 4*(k//2) + y//2) —
    -- decode upsamples by replication, so this IS the decoded chroma
    px AS (
        SELECT doc_id, b.k AS block_idx,
               ymid[b.k + 1] + yamp[b.k + 1]
                   * {_sgn_sql('p.x')} * {_sgn_sql('q.y')} AS yv,
               cbmid + cbamp * {_sgn_sql('4 * (b.k % 2) + p.x // 2')}
                             * {_sgn_sql('4 * (b.k // 2) + q.y // 2')} AS cbv,
               crmid + cramp * {_sgn_sql('4 * (b.k % 2) + p.x // 2')}
                             * {_sgn_sql('4 * (b.k // 2) + q.y // 2')} AS crv
        FROM par CROSS JOIN range(0, 4) b(k)
                 CROSS JOIN range(0, 8) p(x)
                 CROSS JOIN range(0, 8) q(y)
    ),
    -- inverse integer color chain (jpeg.YCC_INV_*, spliced — one
    -- source with the kernel); per-plane checker roundtrip is exact,
    -- so decoded YCbCr == planted YCbCr
    rgb AS (
        SELECT doc_id, block_idx,
               LEAST(255, GREATEST(0, yv
                   + ({YCC_INV_R[0]} * (crv - 128) + 32768 + {YCC_INV_R[1]}) // 65536
                   - {YCC_INV_R[2]})) AS r,
               LEAST(255, GREATEST(0, yv
                   - (({YCC_INV_G[0]} * (cbv - 128) + {YCC_INV_G[1]} * (crv - 128)
                       + 32768 + {YCC_INV_G[2]}) // 65536 - {YCC_INV_G[3]}))) AS g,
               LEAST(255, GREATEST(0, yv
                   + ({YCC_INV_B[0]} * (cbv - 128) + 32768 + {YCC_INV_B[1]}) // 65536
                   - {YCC_INV_B[2]})) AS b
        FROM px
    )
    SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
           CAST(min(r) AS BIGINT) AS r_min, CAST(max(r) AS BIGINT) AS r_max,
           CAST(sum(r) AS BIGINT) AS r_sum,
           CAST(min(g) AS BIGINT) AS g_min, CAST(max(g) AS BIGINT) AS g_max,
           CAST(sum(g) AS BIGINT) AS g_sum,
           CAST(min(b) AS BIGINT) AS b_min, CAST(max(b) AS BIGINT) AS b_max,
           CAST(sum(b) AS BIGINT) AS b_sum
    FROM rgb
    GROUP BY doc_id, block_idx
    ORDER BY doc_id, block_idx
"""


@register("m_jpeg_chroma_ac", oracle=_JPEG_CHROMA_AC_ORACLE)
def m_jpeg_chroma_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color JPEG decode with NONZERO AC in EVERY component (VERDICT
    r14 ask #3 — composes the m_jpeg_ac_stats checker with the
    m_jpeg_rgb_stats 4:2:0 color path): each document carries a 16x16
    one-MCU baseline JPEG built directly in YCbCr space
    (multimodal.attach_jpeg_ycc_checker_payload) whose four luma
    blocks AND both chroma blocks are 2x2 checkers, so the interleaved
    scan decodes six AC-bearing blocks per MCU — ZRL runs,
    magnitude/extend and EOB through BOTH the Annex-K luma and CHROMA
    AC Huffman tables, with all three DC predictors advancing.  A
    chroma AC decode bug was previously invisible hex-side (the rgb
    key's chroma is DC-only); here it moves a channel sum.

    The kernel (multimodal.rgb_block_stats) emits per-(doc, luma
    block) min/max/sum of each RGB channel; the oracle re-derives
    every one of the 256 decoded pixels from the text hex — planted
    checker YCbCr, replicated-upsample chroma, exact integer
    ycbcr_to_rgb — and aggregates the same stats.

    Scale shape: two partition-local mapInPandas stages (YCbCr wrap,
    decode+stats), zero compute shuffles before the presentation
    sort."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_ycc_checker_payload(d)
    return multimodal.rgb_block_stats(payloads).transform(_present, "doc_id", "block_idx")


_JPEG_AC_ORACLE = """
    WITH jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents),
    blk AS (
        SELECT doc_id, b.k AS block_idx,
               64 + (CAST('0x' || substr(hx, 4 * b.k + 1, 2) AS BIGINT) % 128) AS mid,
               1 + (CAST('0x' || substr(hx, 4 * b.k + 3, 2) AS BIGINT) % 63) AS amp
        FROM jb CROSS JOIN range(0, 4) b(k)
    )
    SELECT doc_id,
           CAST(block_idx AS INT) AS block_idx,
           CAST(mid - amp AS BIGINT) AS px_min,
           CAST(mid + amp AS BIGINT) AS px_max,
           CAST(64 * mid AS BIGINT) AS px_sum,
           CAST(amp AS BIGINT) AS amp,
           CAST(mid AS BIGINT) AS mid,
           CAST(1 AS INT) AS checker_exact
    FROM blk
    ORDER BY doc_id, block_idx
"""


@register("m_jpeg_ac_stats", oracle=_JPEG_AC_ORACLE)
def m_jpeg_ac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block statistics through the REAL baseline JPEG codec over
    fixtures with NONZERO AC coefficients (VERDICT r13 ask #5 — the
    MCU-constant exactness contract witnesses only the DC path; this
    key witnesses the AC entropy machinery hex-side): each document
    carries a genuine JPEG whose four 8x8 blocks are 2x2 checkers
    ``mid + amp * s(x)s(y)`` (multimodal.attach_jpeg_checker_payload).
    The checker is the (4,4) DCT-II basis pattern, so every block's
    unit-quant spectrum is exactly {DC = 8*(mid-128), AC(4,4) = 8*amp}
    and the roundtrip is bit-exact — but decoding it REQUIRES the full
    T.81 F.1.2 AC path: two ZRL codes (the coefficient sits at zigzag
    position 39), a run-6 AC Huffman code, magnitude/extend of the
    amplitude bits, and EOB, per block, per image.

    Full-content witness: a decode wrong in ANY pixel moves
    px_min/px_max/px_sum or zeroes checker_exact; an AC path that
    drops the coefficient decodes a constant block and shows amp = 0 —
    the oracle re-derives (mid, amp) from the text hex and demands the
    exact checker reconstruction.

    Scale shape: two partition-local mapInPandas stages (checker-JPEG
    wrap, decode+block stats), zero shuffles before the presentation
    sort — identical plan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_checker_payload(d)
    return multimodal.checker_block_stats(payloads).transform(
        _present, "doc_id", "block_idx"
    )


EDGE_T = 96

_EDGE_ORACLE = f"""
    WITH {_BYTES_CTES},
    g AS (
        SELECT doc_id,
               list_transform(range(0, 240), k ->
                   abs(bytes[16 * (k // 15) + (k % 15) + 2]
                       - bytes[16 * (k // 15) + (k % 15) + 1])) AS hg,
               list_transform(range(0, 240), k ->
                   abs(bytes[16 * (k // 16) + (k % 16) + 17]
                       - bytes[16 * (k // 16) + (k % 16) + 1])) AS vg
        FROM f
    )
    SELECT doc_id,
           CAST(list_sum(hg) AS BIGINT) AS h_grad_sum,
           CAST(list_sum(vg) AS BIGINT) AS v_grad_sum,
           CAST(greatest(list_max(hg), list_max(vg)) AS INT) AS grad_max,
           CAST(len(list_filter(hg, x -> x > {EDGE_T}))
                + len(list_filter(vg, x -> x > {EDGE_T})) AS BIGINT) AS n_edges,
           floor((len(list_filter(hg, x -> x > {EDGE_T}))
                  + len(list_filter(vg, x -> x > {EDGE_T})))
                 / 480.0 * 1000000 + 0.5) / 1000000 AS edge_density
    FROM g
    ORDER BY doc_id
"""


@register("m_png_edge_density", oracle=_EDGE_ORACLE)
def m_png_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient/sharpness scoring through the real PNG codec: decode
    every 16x16 greyscale PNG (multimodal/png.py — CRC check, inflate,
    all-five-filter unfilter) and reduce both neighbor-difference
    fields to exact integer L1 sums, the max gradient, and the count of
    gradients above {EDGE_T} — the blur filter an image-curation
    pipeline runs before perceptual dedup (sharp images carry signal;
    near-solid ones filter out).

    Oracle-backed byte-exact: gradients are integer |byte - byte|, so
    DuckDB re-derives all 480 of them per image from the hex-side pixel
    construction; a decode that recovers anything but the exact pixels
    hash-mismatches. edge_density rounds half-up at 6dp with the rN
    IEEE-double formula on both sides.

    Scale shape: two partition-local mapInPandas stages (PNG wrap,
    decode+gradients) with whole-tensor numpy reductions, zero shuffles
    before the presentation sort — identical plan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    return multimodal.edge_stats(payloads, threshold=EDGE_T).transform(_present, "doc_id")


_HIST_EQ_ORACLE = f"""
    WITH {_BYTES_CTES},
    px AS (
        SELECT f.doc_id, r.i AS idx, f.bytes[r.i] AS b
        FROM f CROSS JOIN range(1, 257) r(i)
    ),
    cdf0 AS (
        SELECT doc_id, idx, b,
               CAST(rank() OVER (PARTITION BY doc_id ORDER BY b) +
                    count(*) OVER (PARTITION BY doc_id, b) - 1 AS BIGINT) AS c
        FROM px
    ),
    cdf AS (
        SELECT doc_id, idx, c,
               CAST(min(c) OVER (PARTITION BY doc_id) AS BIGINT) AS cmin
        FROM cdf0
    ),
    m AS (
        SELECT doc_id, idx,
               CASE WHEN cmin = 256 THEN 0
                    ELSE ((c - cmin) * 255) // (256 - cmin) END AS eq
        FROM cdf
    )
    SELECT doc_id,
           string_agg(printf('%02x', eq), '' ORDER BY idx) AS eq_hex,
           CAST(min(eq) AS INT) AS eq_min,
           CAST(max(eq) AS INT) AS eq_max,
           CAST(sum(eq) AS BIGINT) AS eq_sum
    FROM m GROUP BY doc_id
    ORDER BY doc_id
"""


@register("m_png_hist_equalize", oracle=_HIST_EQ_ORACLE)
def m_png_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram equalization through the REAL PNG codec: each 16x16
    image decoded from its genuine PNG container maps every pixel
    through its own CDF (new = ((cdf(v) − cdf_min)·255) // (N −
    cdf_min), floor) — the classic contrast normalization in front of
    feature extraction, and the first m_* kernel whose OUTPUT depends
    on the image's full value DISTRIBUTION rather than local pixel
    neighborhoods (stats, pooling, gradients, patches), so it
    exercises the per-image bincount/cumsum path.

    Oracle-backed at full byte granularity: DuckDB re-derives the CDF
    with rank-window arithmetic over the hex-side pixels and replays
    every output byte — a rounding or off-by-one in the kernel's
    integer mapping breaks the hash.  Scale shape: two partition-local
    mapInPandas stages (PNG wrap, decode+equalize), zero shuffles; the
    equalized buffer lands as binary, never exploded."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_payload(d)
    eq = multimodal.hist_equalize(payloads)
    return eq.select(
        "doc_id",
        F.lower(F.hex("equalized")).alias("eq_hex"),
        "eq_min",
        "eq_max",
        "eq_sum",
    ).transform(_present, "doc_id")


_WAV_TRIM_ORACLE = f"""
    WITH {_BYTES_CTES},
    pads AS (
        SELECT doc_id, bytes,
               16 + CAST('0x' || substr(md5_pad, 1, 2) AS BIGINT) % 64 AS lead_pad,
               16 + CAST('0x' || substr(md5_pad, 3, 2) AS BIGINT) % 64 AS trail_pad
        FROM (SELECT doc_id, bytes, md5(text || 'pad') AS md5_pad
              FROM f JOIN documents USING (doc_id))
    ),
    sig AS (
        SELECT doc_id, lead_pad, trail_pad,
               list_concat(
                   list_transform(range(0, CAST(lead_pad AS INT)), x -> CAST(0 AS BIGINT)),
                   list_concat(
                       list_transform(range(1, 129), j ->
                           CAST(CASE WHEN bytes[2*j - 1] + 256 * bytes[2*j] >= 32768
                                THEN bytes[2*j - 1] + 256 * bytes[2*j] - 65536
                                ELSE bytes[2*j - 1] + 256 * bytes[2*j] END AS BIGINT)),
                       list_transform(range(0, CAST(trail_pad AS INT)), x -> CAST(0 AS BIGINT))))
               AS v
        FROM pads
    ),
    runs AS (
        SELECT doc_id, v,
               COALESCE(list_position(list_transform(v, x -> x <> 0), true) - 1,
                        len(v)) AS lead,
               COALESCE(list_position(list_transform(list_reverse(v), x -> x <> 0), true) - 1,
                        0) AS trail
        FROM sig
    ),
    trimmed AS (
        SELECT doc_id, v, lead, trail,
               v[CAST(lead + 1 AS INT):CAST(len(v) - trail AS INT)] AS w
        FROM runs
    )
    SELECT doc_id,
           CAST(len(v) AS BIGINT) AS n_total,
           CAST(lead AS BIGINT) AS lead_zeros,
           CAST(trail AS BIGINT) AS trail_zeros,
           CAST(len(w) AS BIGINT) AS n_trimmed,
           COALESCE(floor(sqrt(list_sum(list_transform(w, x -> CAST(x AS DOUBLE) * x))
                      / CAST(len(w) AS DOUBLE)) * 1000000 + 0.5) / 1000000,
                    0.0) AS rms_trimmed,
           -- COALESCE to 0 on an all-zero signal (len(w)=0): the
           -- kernel emits rms=0.0/peak=0 there, and the edge case must
           -- be defined identically on both sides (ADVICE r14)
           COALESCE(CAST(list_max(list_transform(w, x -> abs(x))) AS BIGINT),
                    CAST(0 AS BIGINT)) AS peak_trimmed
    FROM trimmed
    ORDER BY doc_id
"""


@register("m_wav_silence_trim", oracle=_WAV_TRIM_ORACLE)
def m_wav_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trimming through the REAL WAV codec over VARIABLE-length
    containers: each document's payload plants 16-79 leading and
    trailing zero samples around the 128 md5-derived int16 samples
    (multimodal.attach_wav_padded — per-row ``wave`` encode, so the
    RIFF chunk-size fields actually vary), and the kernel decodes the
    container and reports the longest all-zero prefix/suffix plus the
    trimmed span's length, RMS, and peak — the VAD-style preprocessing
    an audio curation pipeline runs before feature extraction.

    Full-content witness: the oracle re-derives the padded sample list
    hex-side and computes the TRUE zero runs over the whole list, so a
    decoder that mis-parses the varying data size, drops frames, or
    mis-aligns the int16 stride hash-mismatches; signal samples that
    happen to be zero adjacent to the planted pad extend the run
    identically on both sides. The trimmed RMS rounds half-up at 6dp
    from an exact integer sum of squares (one division + one
    IEEE-exact sqrt).

    Scale shape: two partition-local mapInPandas stages (variable-
    length wav wrap, decode+trim), zero shuffles before the
    presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    audio = multimodal.attach_wav_padded(d)
    return multimodal.wav_trim_stats(audio).transform(_present, "doc_id")


_JPEG_REGION_ORACLE = """
    WITH jb AS (SELECT doc_id, md5(text || '0') AS hx FROM documents),
    b AS (
        SELECT doc_id,
               CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS b0,
               CAST('0x' || substr(hx, 3, 2) AS BIGINT) AS b1,
               CAST('0x' || substr(hx, 5, 2) AS BIGINT) AS b2,
               CAST('0x' || substr(hx, 7, 2) AS BIGINT) AS b3
        FROM jb
    ),
    -- block adjacency graph of the 2x2 constant-block grid (raster
    -- order: 0 1 / 2 3; no diagonal edges under 4-connectivity).
    -- Equality is transitive, so the only reachable edge counts are
    -- 0, 1, 2 and 4 — and regions = blocks - edges + cycles, where
    -- the lone possible cycle is the full square (all four equal).
    e AS (
        SELECT doc_id, b0, b1, b2, b3,
               CAST(b0 = b1 AS INT) + CAST(b0 = b2 AS INT)
                   + CAST(b1 = b3 AS INT) + CAST(b2 = b3 AS INT) AS edges,
               (b0 = b1 AND b2 = b3) OR (b0 = b2 AND b1 = b3) AS two_pairs
        FROM b
    )
    SELECT doc_id,
           CAST(4 - edges + CASE WHEN edges = 4 THEN 1 ELSE 0 END AS BIGINT)
               AS n_regions,
           CAST(len(list_distinct([b0, b1, b2, b3])) AS BIGINT)
               AS n_distinct_values,
           CAST(64 * CASE WHEN edges = 4 THEN 4
                          WHEN edges = 2 AND two_pairs THEN 2
                          WHEN edges = 2 THEN 3
                          WHEN edges = 1 THEN 2
                          ELSE 1 END AS BIGINT) AS largest_region_px
    FROM e
    ORDER BY doc_id
"""


@register("m_jpeg_region_count", oracle=_JPEG_REGION_ORACLE)
def m_jpeg_region_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-region statistics through the REAL baseline JPEG
    codec: decode each block-constant 16x16 payload and run TRUE
    per-pixel 4-connectivity connected components
    (multimodal.region_count — batched min-label propagation, no
    diagonals), emitting region count, distinct intensity count, and
    the largest region's pixel area — the blob/region counter of a
    document-layout front end.

    The fixture family makes the kernel hex-witnessable: constant
    blocks reduce per-pixel CC to the 2x2 block adjacency graph, whose
    regions the oracle derives in closed form (regions = 4 - edges +
    the full-square cycle; equality transitivity makes edge count 3
    unreachable).  Distinct VALUES vs connected REGIONS diverge
    exactly when equal blocks touch only diagonally — md5 byte
    collisions plant those cases (~1/256 per adjacent pair), so a
    kernel that shortcut counted distinct colors, or merged diagonal
    neighbors (8-connectivity), hash-mismatches on real rows.

    Scale shape: two partition-local mapInPandas stages (JPEG wrap,
    decode+CC over whole-batch tensors), zero compute shuffles before
    the presentation sort; the propagation loop runs
    O(component diameter) whole-tensor numpy ops per batch."""
    d = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_jpeg_payload(d)
    return multimodal.region_count(payloads).transform(
        _present, "doc_id"
    )


_WAV_RESAMPLE_ORACLE = f"""
    WITH {_BYTES_CTES},
    sig AS (
        SELECT doc_id,
               list_transform(range(1, 129), j ->
                   CAST(CASE WHEN bytes[2*j - 1] + 256 * bytes[2*j] >= 32768
                        THEN bytes[2*j - 1] + 256 * bytes[2*j] - 65536
                        ELSE bytes[2*j - 1] + 256 * bytes[2*j] END AS BIGINT)) AS v
        FROM f
    ),
    res AS (
        SELECT doc_id,
               -- round-half-up pair mean in FLOOR semantics: numpy //
               -- floors but DuckDB // TRUNCATES on negatives, so the
               -- numerator is pre-biased positive by one divisor
               -- multiple (the YCbCr fixed-point device): a+b+1 >=
               -- -65535, +65536 makes it > 0, -32768 restores
               list_transform(range(0, 64), i ->
                   (v[2*i + 1] + v[2*i + 2] + 1 + 65536) // 2 - 32768) AS o
        FROM sig
    ),
    le AS (
        SELECT doc_id, o,
               list_transform(o, x -> ((x % 65536) + 65536) % 65536) AS u
        FROM res
    )
    SELECT doc_id,
           array_to_string(list_transform(u, x ->
               printf('%02x%02x', x % 256, x // 256)), '') AS pcm_hex,
           CAST(128 AS BIGINT) AS n_in,
           CAST(64 AS BIGINT) AS n_out,
           floor(sqrt(list_sum(list_transform(o, x -> CAST(x AS DOUBLE) * x))
                      / 64.0) * 1000000 + 0.5) / 1000000 AS rms_out
    FROM le
    ORDER BY doc_id
"""


@register("m_wav_resample", oracle=_WAV_RESAMPLE_ORACLE)
def m_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-rate halving through the REAL WAV codec
    (multimodal.wav_resample_half): decode the genuine RIFF/WAVE
    payload, average adjacent PCM16 pairs with round-half-up integer
    math, re-wrap at 8 kHz — the normalization step an audio corpus
    runs before features/fingerprinting, completing the WAV family
    (decode -> features -> fingerprint -> silence trim -> resample).

    Full-content witness: the oracle re-derives EVERY output sample
    from the text hex (little-endian int16 decode, (a+b+1)//2 floor
    mean — DuckDB // floors exactly like numpy integer division on
    negatives — then back to LE bytes) and compares the whole
    resampled PCM buffer hex-exactly, plus the r6 RMS.

    Scale shape: two partition-local mapInPandas stages (WAV wrap,
    decode+decimate over whole-batch tensors), zero compute shuffles
    before the presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    wavs = multimodal.attach_wav_audio(d)
    res = multimodal.wav_resample_half(wavs)
    return res.select(
        "doc_id",
        # hex of the resampled PCM (container stripped: bytes 44+)
        F.lower(F.hex(F.expr("substring(payload, 45, 128)"))).alias("pcm_hex"),
        "n_in",
        "n_out",
        "rms_out",
    ).transform(_present, "doc_id")
