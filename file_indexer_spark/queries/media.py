"""Multimodal assets (m, x): image, audio and video signals and cross-modal
duplicate assets."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir, land_tables
from file_indexer_spark.operators import crossmodal as xm
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import multimodal as mm
from file_indexer_spark.operators.multimodal import SILENCE_PEAK as _m7_thr
from file_indexer_spark.queries.shared import _DD7_PAIRS_CTES
from file_indexer_spark.registry_core import ORACLES, _land_arrivals, register
from file_indexer_spark.tables import load_table


@register(
    "m1_binary_metadata",
    """
    SELECT source, COUNT(*) AS n_blobs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS distinct_digests
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def m1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.binary_metadata(load_table(spark, sf_dir, "documents"))


@register(
    "m2_media_decode",
    """
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(4 + doc_id % 13 AS INTEGER) END AS width,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(3 + doc_id % 7 AS INTEGER) END AS height,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 4 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS payload_bytes,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'truncated header'
                ELSE NULL END AS decode_error
    FROM documents
    ORDER BY media_id
    """,
)
def m2_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: binary → typed metadata through the real mapInPandas decode
    stage (Arrow batches, error column instead of task failure). The
    blob corpus is derived deterministically from documents, so the
    DuckDB oracle recomputes every decoded field — including both error
    classes — straight from doc_id/text without touching binaries."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.decode_media(media).orderBy("media_id")


@register(
    "m2b_ppm_decode",
    """
    -- real-codec gate: the engine decodes spec-valid binary PPM (P6)
    -- blobs with a pure-Python parser; the oracle recomputes every
    -- field from the deterministic doc_id derivation.
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 8 AS INTEGER) END AS width,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 5 AS INTEGER) END AS height,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(3 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST((1 + doc_id % 8) * (1 + doc_id % 5) * 3 AS BIGINT)
           END AS payload_bytes,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'not a PPM'
                WHEN doc_id % 5 = 0 THEN 'truncated payload'
                ELSE NULL END AS decode_error
    FROM documents
    ORDER BY media_id
    """,
)
def m2b_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2b: REAL image decode — binary PPM (P6) blobs parsed by the
    pure-Python spec decoder (``multimodal._decode_ppm``) through the
    same mapInPandas/DECODED_SCHEMA contract as m2. Three error classes
    (null blob, wrong magic, truncated raster) are data, not failures."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.decode_image_real(media).orderBy("media_id")


@register(
    "m3_frame_sampling",
    """
    -- documents.text is pure ASCII in the driver's testdata (asserted:
    -- octet_length(encode(text)) == length(text) at every sf), so
    -- VARCHAR slicing/md5 here equals the engine's byte slicing/md5.
    WITH blobs AS (
        SELECT doc_id AS media_id, text AS payload
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 7 <> 0
    ),
    nums AS (  -- bounded frame-index domain (DuckDB's generate_series
               -- can't take lateral column args); 4096 frames covers
               -- 128 KB payloads, far above any documents row
        SELECT CAST(range AS BIGINT) AS i FROM range(0, 4096, 2)
    ),
    frames AS (
        SELECT b.media_id, CAST(n.i AS INTEGER) AS frame_index,
               substring(b.payload, CAST(1 + n.i * 32 AS BIGINT), 32) AS frame
        FROM blobs b JOIN nums n ON n.i < length(b.payload) // 32
    )
    SELECT media_id, frame_index,
           md5(frame) AS frame_md5,
           CAST(length(frame) AS BIGINT) AS frame_len
    FROM frames
    ORDER BY media_id, frame_index
    """,
)
def m3_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: 1→N frame explosion (every 2nd 32-byte frame of each payload)
    through the mapInPandas sampling stage — partition-local, no shuffle.
    Frames are compared by md5+length so the oracle diff never ships raw
    binaries through the canonicalizer."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(load_table(spark, sf_dir, "documents"))
    frames = mm.sample_frames(media, frame_size=32, every_k=2)
    return frames.select(
        "media_id",
        "frame_index",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").cast("long").alias("frame_len"),
    ).orderBy("media_id", "frame_index")


@register(
    "m4_media_features",
    """
    -- The featurizer's cross-engine-checkable contract: exact null
    -- classes (null/truncated blobs -> null vector), fixed dimension,
    -- and unit L2 norm (sum of squares rounds to 1.0 at 4 dp for any
    -- non-degenerate float32 unit vector). The chunk-mean VALUES are
    -- pinned by tests/test_multimodal.py and by flowing the embeddings
    -- through the similarity operators.
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(64 AS INTEGER) END AS dim,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(1.0 AS DOUBLE) END AS sq_norm
    FROM documents
    ORDER BY media_id
    """,
)
def m4_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(load_table(spark, sf_dir, "documents"))
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x), 4).alias(
            "sq_norm"
        ),
    ).orderBy("media_id")


@register(
    "m5_media_resize",
    """
    -- Nearest-neighbor 2x2 resize of the FAKE_MEDIA_FORMAT corpus,
    -- hash-checked at the pixel level: the oracle re-derives each
    -- sampled pixel straight from documents.text (pure ASCII, so
    -- VARCHAR slicing == byte slicing) and md5s the same 4-pixel
    -- payload the engine re-encodes.
    WITH m AS (
        SELECT doc_id AS media_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 7  AS h,
               1 + doc_id % 4  AS c,
               text AS t,
               CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 'undecodable'
                    WHEN length(text) <
                         (4 + doc_id % 13) * (3 + doc_id % 7) * (1 + doc_id % 4)
                         THEN 'payload/geometry mismatch'
                    ELSE NULL END AS resize_error
        FROM documents
    )
    SELECT media_id,
           resize_error,
           CASE WHEN resize_error IS NULL THEN md5(
                    substring(t, ((0 * w + 0) * c) + 1, c)
                 || substring(t, ((0 * w + (w // 2)) * c) + 1, c)
                 || substring(t, (((h // 2) * w + 0) * c) + 1, c)
                 || substring(t, (((h // 2) * w + (w // 2)) * c) + 1, c))
           END AS pixels_md5,
           CASE WHEN resize_error IS NULL THEN CAST(12 + 4 * c AS BIGINT)
           END AS blob_len
    FROM m
    ORDER BY media_id
    """,
)
def m5_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: resize stage gate — blobs through the partition-local
    mapInPandas nearest-neighbor downsample, compared by md5 of the
    re-encoded pixel payload (bytes 13.. of the output blob) so the
    pixel-sampling arithmetic itself is oracle-checked, not just the
    error taxonomy."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(load_table(spark, sf_dir, "documents"))
    resized = mm.resize_media(media, target_width=2, target_height=2)
    return resized.select(
        "media_id",
        "resize_error",
        F.md5(F.expr("substring(content, 13)")).alias("pixels_md5"),
        F.octet_length("content").cast("long").alias("blob_len"),
    ).orderBy("media_id")


# shared by m6 (per-image aHash) and m6b (the duplicate groups over it)
_M6_CTES = """base AS (
        SELECT doc_id, text, length(text) AS L,
               1 + doc_id % 8 AS w, 1 + doc_id % 5 AS h
        FROM documents),
    valid AS (
        SELECT doc_id, w, h, w * h AS n,
               list_transform(range(0, w * h), i ->
                   ascii(substr(text, CAST(((3 * i) % L) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST(((3 * i + 1) % L) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST(((3 * i + 2) % L) + 1 AS BIGINT), 1))
               ) AS grays
        FROM base
        WHERE doc_id % 11 <> 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0),
    tot AS (SELECT *, list_sum(grays) AS total FROM valid),
    hashed AS (
        SELECT doc_id, w, h, n,
               list_sum(list_transform(range(0, least(n, 63)), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * n >= total
                        THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)) AS ahash
        FROM tot)"""


@register(
    "m6_image_ahash",
    f"""
    -- Perceptual average-hash from DECODED PPM pixels: grayscale =
    -- integer r+g+b per pixel, bit i set iff gray_i * n >= total
    -- (integer-exact "above mean"), LSB-first in raster order. The
    -- oracle recomputes every bit from the fixture derivation
    -- (raster byte j = text byte j mod len — ASCII-asserted corpus).
    WITH {_M6_CTES}
    SELECT doc_id AS media_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(n AS INTEGER) AS n_pixels, CAST(ahash AS BIGINT) AS ahash,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM hashed
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'not a PPM'
                ELSE 'truncated payload' END
    FROM documents WHERE doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0
    ORDER BY media_id
    """,
)
def m6_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 (gate-legacy fingerprint — the API default is the canonical
    ahash64, see m6c): codec-free perceptual image fingerprinting over
    the REAL decoded PPM corpus at native resolution. Integer-exact
    bits, so the approximate-perception operator is still hash-gated."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.image_ahash_legacy63(media).orderBy("media_id")


@register(
    "m6b_image_dup_groups",
    f"""
    -- Perceptual duplicate groups: images sharing (w, h, ahash) — the
    -- reference's checksum duplicate-groups shape (J2) on image
    -- content; min media_id is the canonical keeper.
    WITH {_M6_CTES}
    SELECT CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(ahash AS BIGINT) AS ahash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(doc_id) AS canonical_media_id
    FROM hashed GROUP BY w, h, ahash HAVING COUNT(*) >= 2
    ORDER BY width, height, ahash
    """,
)
def m6b_image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6b (gate-legacy grouping — the API default groups on ahash64,
    see m6d): image duplicate groups over the native-resolution aHash
    fingerprints — one hash-shuffle on the (w, h, ahash) key, J2's
    groups shape on perceptual image content."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.image_duplicate_groups_legacy63(media)


# shared by m6c (canonical per-image hash) and m6d (the resolution-
# invariant duplicate groups over it).  The oracle recomputes the 8x8
# lattice hash ONCE per document from base geometry: a pixel-replicated
# upscale samples the identical source pixels (((a*s)//8)//s == a//8),
# so both the base row and the scaled-copy row carry the same 64 bits.
_M6C_CTES = """base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 5 AS w0, 4 + doc_id % 3 AS h0,
               2 + doc_id % 2 AS s
        FROM documents),
    pix AS (  -- lattice source-pixel index per grid cell (ty*8+tx)
        SELECT doc_id, text, L, w0, h0, s,
               list_transform(range(0, 64), i ->
                   ((i // 8) * h0 // 8) * w0 + ((i % 8) * w0 // 8)) AS pidx
        FROM base),
    g AS (
        -- greatest(L, 1) mirrors the engine's empty-text guard
        -- (raw or b'\\x00'): substr past an empty text is '' and
        -- ascii('') = 0, exactly the tiled zero byte
        SELECT doc_id, w0, h0, s,
               list_transform(pidx, p ->
                   ascii(substr(text, CAST((3 * p) % greatest(L, 1) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST((3 * p + 1) % greatest(L, 1) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST((3 * p + 2) % greatest(L, 1) + 1 AS BIGINT), 1))
               ) AS grays
        FROM pix),
    tot AS (SELECT *, list_sum(grays) AS total FROM g),
    hashed AS (  -- two 32-bit words dodge the signed-BIGINT bit-63 cap
        SELECT doc_id, w0, h0, s,
               CAST(list_sum(list_transform(range(0, 32), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * 64 >= total
                        THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS lo,
               CAST(list_sum(list_transform(range(32, 64), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * 64 >= total
                        THEN (1::BIGINT << CAST(i - 32 AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS hi
        FROM tot),
    fp AS (
        SELECT doc_id * 2 AS media_id, CAST(w0 AS INTEGER) AS width,
               CAST(h0 AS INTEGER) AS height,
               printf('%08x%08x', hi, lo) AS ahash64
        FROM hashed
        UNION ALL
        SELECT doc_id * 2 + 1, CAST(w0 * s AS INTEGER),
               CAST(h0 * s AS INTEGER), printf('%08x%08x', hi, lo)
        FROM hashed)"""


@register(
    "m6c_image_ahash_canonical",
    f"""
    -- Canonical 8x8 aHash: nearest-neighbor lattice pooling (m5's
    -- resize rule) + integer above-mean bits, full 64 bits as a hex
    -- string.  Resolution-invariant BY FLOOR-DIV IDENTITY, so the
    -- oracle computes one hash per doc and both the base and the
    -- pixel-replicated scaled copy carry it.
    WITH {_M6C_CTES}
    SELECT media_id, width, height, ahash64,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM fp ORDER BY media_id
    """,
)
def m6c_image_ahash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6c: canonical resolution-invariant perceptual hash — the m5
    fixed-grid pooling composed into m6, 64 full bits as hex (clears
    the 63-pixel signed-long cap the round-5 verdict flagged). Gated on
    the mixed-resolution fixture where every doc ships a base image AND
    a 2x/3x pixel-replicated copy: the pair MUST collide, and does,
    bit-exactly in both engines."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_multires_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.image_ahash_canonical(media).orderBy("media_id")


@register(
    "m6d_image_dup_groups_canonical",
    f"""
    -- Resolution-invariant duplicate groups: key is ahash64 ALONE
    -- (scaled copies land in one group — the fix for m6b's
    -- same-resolution-only grouping).
    WITH {_M6C_CTES}
    SELECT ahash64, CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(media_id) AS canonical_media_id
    FROM fp GROUP BY ahash64 HAVING COUNT(*) >= 2
    ORDER BY ahash64
    """,
)
def m6d_image_dup_groups_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6d: m6b's grouping re-gated on the canonical fingerprint —
    every base/scaled pair groups together across resolutions; one
    hash-shuffle on the 16-char key."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_multires_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.image_duplicate_groups_canonical(media)


# shared by m7 (frame energy) and m7b (silence spans): recompute every
# int16 sample from the doc_id derivation — sample i = (text byte
# (i mod L) - 96) x (1 on quiet frames, 64 on loud), energy = exact
# integer sum of squares per 160-sample frame.
_M7_SAMPLE = (
    "(ascii(substr(text, CAST(i % L + 1 AS BIGINT), 1)) - 96) * "
    "(CASE WHEN ((i // 160) + doc_id) % 3 = 0 THEN 1 ELSE 64 END)"
)
_M7_CTES = f"""base AS (
        SELECT doc_id, text, length(text) AS L, 4 + doc_id % 4 AS nf
        FROM documents
        WHERE doc_id % 9 <> 0 AND doc_id % 13 <> 0 AND doc_id % 7 <> 0),
    frames AS (
        SELECT doc_id, u.f AS frame_idx, u.energy, u.peak FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, nf), f -> {{
                       'f': CAST(f AS INTEGER),
                       'energy': CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT),
                       'peak': CAST(list_max(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> abs({_M7_SAMPLE}))) AS INTEGER)}})) AS u
            FROM base))"""


@register(
    "m7_audio_frame_energy",
    f"""
    -- Per-frame audio energy/peak from DECODED PCM16 samples: integer
    -- sum of squares per 160-sample frame (exact in BIGINT), peak
    -- |sample|; three decode-error classes propagate as rows.
    WITH {_M7_CTES}
    SELECT doc_id AS media_id, frame_idx, energy, peak,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM frames
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL,
           CASE WHEN doc_id % 9 = 0 THEN 'null content'
                WHEN doc_id % 13 = 0 THEN 'not PCM1'
                ELSE 'truncated payload' END
    FROM documents WHERE doc_id % 9 = 0 OR doc_id % 13 = 0 OR doc_id % 7 = 0
    ORDER BY media_id, frame_idx
    """,
)
def m7_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: the audio-modality analog of m2b/m6 — a REAL container
    format (magic + u32 count + int16 LE samples) decoded by a spec
    parser, vectorized frame analysis (energy, peak) where the blobs
    sit, errors as data. Integer-exact, so the oracle recomputes every
    frame from the derivation."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.audio_frame_energy(media).orderBy("media_id", "frame_idx")


@register(
    "m7b_silence_spans",
    f"""
    -- Contiguous silent-frame extents (peak < {_m7_thr}): gaps-and-islands
    -- over each clip's quiet frames.
    WITH {_M7_CTES},
    quiet AS (
        SELECT doc_id, frame_idx FROM frames WHERE peak < {_m7_thr}),
    flagged AS (
        SELECT doc_id, frame_idx,
               CASE WHEN frame_idx > coalesce(lag(frame_idx) OVER
                        (PARTITION BY doc_id ORDER BY frame_idx), -10) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM quiet),
    islands AS (
        SELECT doc_id, frame_idx,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)
    SELECT doc_id AS media_id,
           CAST(MIN(frame_idx) AS BIGINT) AS span_start,
           CAST(MAX(frame_idx) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM islands GROUP BY doc_id, island
    ORDER BY media_id, span_start
    """,
)
def m7b_silence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7b: silence/trim extents per clip — the dd9 gaps-and-islands
    shape applied to the audio modality; one narrow shuffle of the
    quiet-frame subset."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.silence_spans(media)


@register(
    "m7c_audio_dup_groups",
    f"""
    -- Perceptual audio duplicate groups: per-clip energy-envelope
    -- fingerprint (per-frame integer energy quantized to bit_length,
    -- '-'-joined in frame order) grouped J2-style. The oracle
    -- recomputes EVERY frame energy from the sample derivation;
    -- length(bin(E)) is bit_length for E > 0.
    WITH {_M7_CTES},
    env AS (
        SELECT doc_id,
               array_to_string(list_transform(energies, E ->
                   CAST((CASE WHEN E = 0 THEN 0
                              ELSE length(bin(E)) END) AS VARCHAR)), '-')
                   AS envelope
        FROM (
            SELECT doc_id,
                   list_transform(range(0, nf), f ->
                       CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT)
                   ) AS energies
            FROM base) t)
    SELECT envelope, CAST(COUNT(*) AS BIGINT) AS n_clips,
           MIN(doc_id) AS canonical_media_id
    FROM env GROUP BY envelope HAVING COUNT(*) >= 2
    ORDER BY envelope
    """,
)
def m7c_audio_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7c: audio perceptual duplicate groups (modality symmetry with
    m6d) — loudness-envelope fingerprint, decode partition-local, one
    hash-shuffle on the fingerprint key."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.audio_duplicate_groups(media)


@register(
    "m8_video_shot_cuts",
    """
    -- Shot-boundary detection from DECODED video frames: per
    -- consecutive-frame pair the integer SAD (sum of absolute pixel
    -- diffs) and the cut flag; scenes change every 3 frames in the
    -- fixture so intra-scene SAD is exactly 0. The oracle recomputes
    -- every pixel from the doc_id derivation.
    WITH base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    sads AS (
        SELECT doc_id, u.f AS frame_idx, u.sad FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, nf), f -> {
                       'f': CAST(f AS INTEGER),
                       'sad': CAST(list_sum(list_transform(range(0, w * h), p ->
                           abs(ascii(substr(text,
                                   CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                             - ascii(substr(text,
                                   CAST((((f - 1) // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                           ))) AS BIGINT)})) AS u
            FROM base))
    SELECT doc_id AS media_id, frame_idx, sad, sad >= 1 AS is_cut,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM sads
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL,
           CASE WHEN doc_id % 17 = 0 THEN 'null content' ELSE 'not VID1' END
    FROM documents WHERE doc_id % 17 = 0 OR doc_id % 19 = 0
    ORDER BY media_id, frame_idx
    """,
)
def m8_video_shot_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: the VIDEO-modality temporal operator — a codec-free
    container (magic + frame count/geometry + grayscale rasters)
    decoded where the blobs sit, vectorized inter-frame SAD, cut flags
    at scene changes; errors as rows. Completes the modality set
    (image m2b/m5/m6*, audio m7*, video m3 sampling + this temporal
    structure pass) with every one hash-gated."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.video_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.video_shot_boundaries(media).orderBy("media_id", "frame_idx")


@register(
    "m8b_video_keyframes",
    """
    -- Keyframe extraction: the first frame of every shot (frame 0 +
    -- each SAD-detected cut), md5-fingerprinted raster. The oracle
    -- recomputes BOTH the cut set and every fingerprint byte from the
    -- derivation (ASCII corpus: chr() concatenation's UTF-8 equals
    -- the raster bytes).
    WITH base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    sads AS (
        SELECT doc_id, u.f AS frame_idx, u.sad FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, nf), f -> {
                       'f': CAST(f AS INTEGER),
                       'sad': CAST(list_sum(list_transform(range(0, w * h), p ->
                           abs(ascii(substr(text,
                                   CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                             - ascii(substr(text,
                                   CAST((((f - 1) // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                           ))) AS BIGINT)})) AS u
            FROM base)),
    keys AS (
        SELECT doc_id, 0 AS frame_idx FROM base
        UNION ALL
        SELECT doc_id, frame_idx FROM sads WHERE sad >= 1),
    numbered AS (
        SELECT doc_id, frame_idx,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY frame_idx) - 1 AS INTEGER)
                   AS scene_idx
        FROM keys)
    SELECT n.doc_id AS media_id, n.scene_idx,
           CAST(n.frame_idx AS INTEGER) AS frame_idx,
           md5(array_to_string(list_transform(range(0, b.w * b.h), p ->
               chr(ascii(substr(b.text,
                   CAST(((n.frame_idx // 3) * 31 + p) % b.L + 1 AS BIGINT),
                   1)))), '')) AS frame_md5
    FROM numbered n JOIN base b ON n.doc_id = b.doc_id
    ORDER BY media_id, scene_idx
    """,
)
def m8b_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8b: one representative frame per shot — m8's cut table driving
    the m3-style sampler, fingerprints hash-gated bit-for-bit."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.video_media_from_docs(load_table(spark, sf_dir, "documents"))
    return mm.video_keyframes(media)


@register(
    "x1_cross_modal_dup_assets",
    f"""
    -- x1: duplicate-asset groups across ALL modalities in one J2-shaped
    -- table with A13 wasted-unit accounting per group. Each branch is
    -- the already-hash-gated derivation of its modality's fingerprint
    -- (dd7 components / m6c ahash64 / m7c envelope / m8b frame md5s),
    -- grouped and unioned; all accounting integer-exact.
    WITH RECURSIVE
    {_DD7_PAIRS_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        WHERE e.dst <> r.src
    ),
    labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    assigned AS (
        SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    text_groups AS (
        SELECT 'text' AS modality, cluster_id::VARCHAR AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               cluster_id AS canonical_asset_id,
               'chars' AS unit,
               CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)
                    AS BIGINT) AS wasted_units
        FROM assigned GROUP BY cluster_id HAVING COUNT(*) >= 2),
    {_M6C_CTES},
    image_groups AS (
        SELECT 'image' AS modality, ahash64 AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(media_id) AS canonical_asset_id,
               'pixels' AS unit,
               CAST(SUM(width * height)
                    - min_by(width * height, media_id) AS BIGINT)
                   AS wasted_units
        FROM fp GROUP BY ahash64 HAVING COUNT(*) >= 2),
    a_base AS (
        SELECT doc_id, text, length(text) AS L, 4 + doc_id % 4 AS nf
        FROM documents
        WHERE doc_id % 9 <> 0 AND doc_id % 13 <> 0 AND doc_id % 7 <> 0),
    a_env AS (
        SELECT doc_id, nf,
               array_to_string(list_transform(energies, E ->
                   CAST((CASE WHEN E = 0 THEN 0
                              ELSE length(bin(E)) END) AS VARCHAR)), '-')
                   AS envelope
        FROM (
            SELECT doc_id, nf,
                   list_transform(range(0, nf), f ->
                       CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT)
                   ) AS energies
            FROM a_base) t),
    audio_groups AS (
        SELECT 'audio' AS modality, envelope AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(doc_id) AS canonical_asset_id,
               'samples' AS unit,
               CAST(SUM(nf * 160) - min_by(nf * 160, doc_id) AS BIGINT)
                   AS wasted_units
        FROM a_env GROUP BY envelope HAVING COUNT(*) >= 2),
    v_base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    v_fp AS (
        SELECT doc_id, nf * w * h AS n_pixels,
               printf('%dx%d:', w, h) || array_to_string(
                   list_transform(range(0, nf), f ->
                       md5(array_to_string(list_transform(range(0, w * h), p ->
                           chr(ascii(substr(text,
                               CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT),
                               1)))), ''))), '-') AS fingerprint
        FROM v_base),
    video_groups AS (
        SELECT 'video' AS modality, fingerprint AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(doc_id) AS canonical_asset_id,
               'pixels' AS unit,
               CAST(SUM(n_pixels) - min_by(n_pixels, doc_id) AS BIGINT)
                   AS wasted_units
        FROM v_fp GROUP BY fingerprint HAVING COUNT(*) >= 2)
    SELECT * FROM text_groups
    UNION ALL SELECT * FROM image_groups
    UNION ALL SELECT * FROM audio_groups
    UNION ALL SELECT * FROM video_groups
    ORDER BY modality, group_key
    """,
)
def x1_cross_modal_dup_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: the cross-modal duplicate-asset report — dd7 text
    components, m6d image groups, m7c audio groups, and whole-video
    fingerprint groups in ONE table with wasted-unit accounting (A13
    corpus-wide). Each branch keeps its own 100 TB shape; the union
    adds no cross-modality shuffle."""
    return xm.duplicate_assets(load_table(spark, sf_dir, "documents"))


# x2 shares x1's oracle verbatim: the materialized path must produce
# the IDENTICAL report (the hash gate proves the decode/report split is
# lossless through a parquet round-trip).
@register("x2_dup_assets_materialized", ORACLES["x1_cross_modal_dup_assets"])
def x2_dup_assets_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: x1 via the compute-once pattern — materialize each
    modality's narrow fingerprint/member table to parquet (at 100 TB:
    decode every blob exactly once per corpus snapshot), then run the
    report phase over the parquet re-reads only. The report never
    touches a blob; incremental re-runs and per-modality audits reuse
    the same tables."""
    docs = load_table(spark, sf_dir, "documents")
    base, _ = gate_workdir("fis_x2")
    # round-13: the four modality member tables are independent decode
    # lineages (the text branch's internal checkpoints are private to
    # it) — land them as overlapped driver-thread jobs (guide §2.6)
    mats = land_tables(spark, xm.fingerprint_tables(docs), base)
    return xm.duplicate_assets_from_tables(mats)


# x3 shares x1's oracle VERBATIM: after appending an ingest batch to
# the materialized fingerprint state (media rows decoded from the batch
# blobs only; text clusters refreshed through the stored LSH index),
# the report over the stored tables must equal x1 recomputed over the
# full corpus — the hash gate proves the append is lossless.
@register("x3_dup_assets_append", ORACLES["x1_cross_modal_dup_assets"])
def x3_dup_assets_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: cross-modal fingerprint APPEND — completes the compute-once
    family's symmetry (ANN has sim12, dedup has dd12/dd13). The ingest
    batch (doc_id % 10 == 7) decodes only its own blobs; its media
    member rows are parquet APPENDS, the text members are refreshed via
    the stored band index (dd12 probe + dd13 refresh) into a fresh
    version, and the report re-runs over re-reads — the base corpus is
    never re-decoded or re-signed."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_x3")

    def p(name: str) -> str:
        return os.path.join(workdir, name)

    # one landing per table, in this order: the text members and the
    # index tables share the base corpus's shingle checkpoint
    state0 = xm.fingerprint_state(base)
    state0["text_members/v0"] = state0.pop("text_members")
    stored: dict[str, DataFrame] = {}
    for name in ("image_members", "audio_members", "video_members",
                 "lsh_bands", "lsh_shingle_sets", "text_members/v0"):
        stored |= land_tables(spark, {name: state0[name]}, workdir)
    stored["text_members"] = stored.pop("text_members/v0")
    # text refresh consumes the PRE-append index state; land it first
    refreshed = xm.fingerprint_state_append(stored, new)["text_members"]
    text_v1 = land_tables(spark, {"text_members/v1": refreshed}, workdir)
    # media + index: batch-only slices, appended to the stored dirs
    xm._image_members(new).write.mode("append").parquet(p("image_members"))
    xm._audio_members(new).write.mode("append").parquet(p("audio_members"))
    xm._video_members(new).write.mode("append").parquet(p("video_members"))
    batch_lsh = dd.lsh_index_tables(new)
    batch_lsh["bands"].write.mode("append").parquet(p("lsh_bands"))
    batch_lsh["shingle_sets"].write.mode("append").parquet(p("lsh_shingle_sets"))

    return xm.duplicate_assets_from_tables(
        {
            "text_members": text_v1["text_members/v1"],
            "image_members": spark.read.parquet(p("image_members")),
            "audio_members": spark.read.parquet(p("audio_members")),
            "video_members": spark.read.parquet(p("video_members")),
        }
    )


# x4 shares x1's oracle VERBATIM: after draining a 3-arrival
# chronological stream through the foreachBatch cross-modal ingest
# (batch media decoded batch-locally; text clusters refreshed through
# the stored LSH index), the report over the stored member tables must
# equal x1 recomputed over the full corpus — the streaming rendition
# of x2/x3, closing the family's symmetry with st13/sim13.
@register("x4_streaming_crossmodal_ingest", ORACLES["x1_cross_modal_dup_assets"])
def x4_streaming_crossmodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: cross-modal fingerprint ingestion AT STREAM TIME — documents
    plus their derived media arrive chronologically in three
    micro-batches; each batch appends per-row-pure media member rows
    (its own blobs only), probes + refreshes the text clusters (dd12 →
    dd13), and lands its LSH rows — every write a replay-idempotent
    per-version dir. The gate drains the stream and returns the
    duplicate-asset report from the stored tables alone."""
    import os

    from file_indexer_spark.streaming import crossmodal as sxm

    base, _ = gate_workdir("fis_x4")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    c1, c2 = int(hi * 8 // 10), int(hi * 9 // 10)
    cols = ["doc_id", "text", "n_chars"]
    _land_arrivals(
        src,
        [
            docs.filter(F.col("doc_id") <= c1).select(*cols),
            docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)).select(*cols),
            docs.filter(F.col("doc_id") > c2).select(*cols),
        ],
    )
    stream = sxm.read_docs_stream(spark, src, max_files_per_trigger=1)
    sxm.ingest_crossmodal_stream(spark, stream, state, ckpt)
    return sxm.duplicate_assets_report(spark, state)
