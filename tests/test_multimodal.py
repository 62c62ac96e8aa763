"""Multimodal plumbing: decode and frame-sample stages over the fake
media format (real codecs are stubbed; the Spark-side contract is what
these tests pin down)."""

from __future__ import annotations

import pytest

from file_indexer_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image/fake", mm.encode_fake_media(640, 480, 3, b"x" * 100)),
        (2, "image/fake", mm.encode_fake_media(32, 32, 1, b"")),
        (3, "video/fake", mm.encode_fake_media(16, 16, 3, b"abcdefgh" * 4)),  # 8 frames of 4B
        (4, "image/fake", b"\x01\x02"),  # truncated header
        (5, "image/fake", None),  # null content
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_decode_media_schema_and_values(media):
    out = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert len(out) == 5
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (640, 480, 3)
    assert out[1]["payload_bytes"] == 100
    assert out[1]["decode_error"] is None
    assert out[2]["payload_bytes"] == 0
    assert out[4]["decode_error"] == "truncated header"
    assert out[4]["width"] is None
    assert out[5]["decode_error"] == "null content"


def test_decode_is_distributed_not_collected(media):
    # mapInPandas keeps the declared schema through Catalyst
    df = mm.decode_media(media.repartition(4))
    assert [f.name for f in df.schema.fields] == [f.name for f in mm.DECODED_SCHEMA.fields]
    assert df.filter("decode_error IS NULL").count() == 3


def test_sample_frames_every_other(media):
    frames = mm.sample_frames(media.filter("media_id = 3"), frame_size=4, every_k=2).collect()
    # 32-byte payload / 4 = 8 frames, every 2nd => indices 0,2,4,6
    assert [r["frame_index"] for r in sorted(frames, key=lambda r: r["frame_index"])] == [0, 2, 4, 6]
    by_idx = {r["frame_index"]: bytes(r["frame"]) for r in frames}
    assert by_idx[0] == b"abcd"
    assert by_idx[2] == b"abcd"  # payload repeats every 8 bytes


def test_ppm_parser_full_spec():
    """Pure-Python P6 parser: happy path, header comments, error
    classes. This is the REAL-format decode gate (no codec library
    required) backing m2b."""
    ok = mm.encode_ppm(2, 3, bytes(range(18)))
    assert mm._decode_ppm(ok) == (2, 3, 3, 18, None)
    # comments anywhere in the header, per the netpbm spec
    commented = b"P6\n# a comment\n2 # inline\n3\n# last\n255\n" + bytes(range(18))
    assert mm._decode_ppm(commented) == (2, 3, 3, 18, None)
    # trailing junk after the raster is ignored (reader takes w*h*3)
    assert mm._decode_ppm(ok + b"junk") == (2, 3, 3, 18, None)
    assert mm._decode_ppm(None)[-1] == "null content"
    assert mm._decode_ppm(b"\xff\xd8\xff")[-1] == "not a PPM"
    assert mm._decode_ppm(b"P6\n2 3\n")[-1] == "bad header"
    assert mm._decode_ppm(b"P6\n2 x\n255\n")[-1] == "bad header"
    assert mm._decode_ppm(b"P6\n0 3\n255\n")[-1] == "bad geometry"
    assert mm._decode_ppm(b"P6\n2 3\n65535\n" + bytes(36))[-1] == "unsupported maxval"
    assert mm._decode_ppm(mm.encode_ppm(2, 3, bytes(17)))[-1] == "truncated payload"


def test_decode_image_real_over_ppm_corpus(spark):
    """decode_image_real runs the real parser through the mapInPandas
    contract: metadata for valid PPMs, error rows for the rest."""
    src = spark.createDataFrame(
        [
            (1, "image", mm.encode_ppm(4, 2, bytes(24))),
            (2, "image", None),
            (3, "image", b"GIF89a not supported here"),
            (4, "image", mm.encode_ppm(3, 3, bytes(10))),
        ],
        mm.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in mm.decode_image_real(src).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (4, 2, 3)
    assert out[1]["payload_bytes"] == 24 and out[1]["decode_error"] is None
    assert out[2]["decode_error"] == "null content"
    assert out[3]["decode_error"] == "not a PPM"
    assert out[4]["decode_error"] == "truncated payload"


def test_resize_media_geometry_and_errors(spark):
    # 4x4x1 image with payload 0..15: nearest-neighbor to 2x2 picks
    # pixels (0,0),(0,2),(2,0),(2,2) = bytes 0,2,8,10
    src = spark.createDataFrame(
        [
            (1, "image/fake", mm.encode_fake_media(4, 4, 1, bytes(range(16)))),
            (2, "image/fake", b"\x00"),  # undecodable
            (3, "image/fake", mm.encode_fake_media(4, 4, 3, b"xy")),  # short payload
        ],
        mm.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in mm.resize_media(src, 2, 2).collect()}
    blob = bytes(out[1]["content"])
    w, h, c = mm.FAKE_HEADER.unpack_from(blob)
    assert (w, h, c) == (2, 2, 1)
    assert blob[mm.FAKE_HEADER.size:] == bytes([0, 2, 8, 10])
    assert out[1]["resize_error"] is None
    assert out[2]["content"] is None and out[2]["resize_error"] == "undecodable"
    assert out[3]["resize_error"] == "payload/geometry mismatch"


def test_extract_features_unit_norm_and_schema(media):
    import math

    out = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    assert len(out) == 5
    v = out[1]["embedding"]
    assert len(v) == mm.FEATURE_DIM
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    assert out[5]["embedding"] is None  # null blob -> null vector
    # deterministic: same blob, same vector
    again = {r["media_id"]: r for r in mm.extract_features(media).collect()}
    assert again[1]["embedding"] == v


def test_extracted_features_feed_similarity_ops(spark):
    """The multimodal featurizer's output is embeddings-table shaped:
    it must flow into the similarity operators unchanged."""
    from file_indexer_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    blobs = spark.createDataFrame(
        [(i, "image/fake", mm.encode_fake_media(8, 8, 1, bytes([i * 7 % 250 + 1] * 64) + bytes(range(i + 1))))
         for i in range(30)],
        mm.MEDIA_SCHEMA,
    )
    emb = mm.extract_features(blobs).select(
        F.col("media_id").alias("vec_id"), "embedding"
    ).filter(F.col("embedding").isNotNull())
    top = sim.cosine_topk(emb, queries=emb.filter("vec_id < 2"), k=3).collect()
    assert {r["query_id"] for r in top} == {0, 1}
    assert all(1 <= r["rank"] <= 3 for r in top)


def test_image_ahash_legacy63_semantics(spark):
    """m6 (gate-legacy): bit i set iff pixel i's integer gray (r+g+b)
    is at or above the image mean; uniform images hash to all-ones;
    identical rasters with identical dims share the hash; errors
    propagate as rows."""
    # 2x2 image: pixels gray-sums 3, 3, 300, 3 -> only pixel 2 above
    # mean (309/4); bits LSB-first -> 0b0100
    raster = bytes([1, 1, 1, 1, 1, 1, 100, 100, 100, 1, 1, 1])
    rows = [
        (1, "image", mm.encode_ppm(2, 2, raster)),
        (2, "image", mm.encode_ppm(2, 2, bytes([7] * 12))),   # uniform
        (3, "image", mm.encode_ppm(2, 2, raster)),            # dup of 1
        (4, "image", b"\xff\xd8 nope"),
        (5, "image", None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in mm.image_ahash_legacy63(media).collect()}
    assert got[1]["ahash"] == 0b0100 and got[1]["n_pixels"] == 4
    assert got[2]["ahash"] == 0b1111, "uniform image: every bit at mean"
    assert got[3]["ahash"] == got[1]["ahash"], "identical rasters collide"
    assert got[4]["decode_error"] == "not a PPM"
    assert got[5]["decode_error"] == "null content"
    assert got[4]["ahash"] is None


def test_canonical_ahash_resolution_invariance(spark):
    """m6c contract: a pixel-replicated upscale produces the IDENTICAL
    64-bit fingerprint (floor-div lattice identity), distinct images
    produce distinct fingerprints, and the hex column is 16 chars with
    no signed-long truncation (an image whose top-left lattice cells
    are bright sets high bits)."""
    import random

    rng = random.Random(42)
    base_w, base_h = 5, 4
    raster = bytes(rng.randrange(256) for _ in range(base_w * base_h * 3))

    def upscale(w, h, r, s):
        out = bytearray()
        for y in range(h * s):
            for x in range(w * s):
                p = (y // s) * w + (x // s)
                out += r[3 * p : 3 * p + 3]
        return bytes(out)

    other = bytes(rng.randrange(256) for _ in range(base_w * base_h * 3))
    rows = [
        (1, "image", mm.encode_ppm(base_w, base_h, raster)),
        (2, "image", mm.encode_ppm(base_w * 2, base_h * 2, upscale(base_w, base_h, raster, 2))),
        (3, "image", mm.encode_ppm(base_w * 3, base_h * 3, upscale(base_w, base_h, raster, 3))),
        (4, "image", mm.encode_ppm(base_w, base_h, other)),
        # all-bright image: every bit at mean -> hash ffffffffffffffff,
        # impossible under the old 63-bit signed-long cap
        (5, "image", mm.encode_ppm(2, 2, bytes([200] * 12))),
        (6, "image", None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in mm.image_ahash_canonical(media).collect()}
    assert got[1]["ahash64"] == got[2]["ahash64"] == got[3]["ahash64"], (
        "scaled copies must collide"
    )
    assert got[4]["ahash64"] != got[1]["ahash64"], "distinct images must not"
    assert len(got[1]["ahash64"]) == 16
    assert got[5]["ahash64"] == "f" * 16, "full 64 bits, no signed cap"
    assert got[6]["decode_error"] == "null content"

    groups = mm.image_duplicate_groups_canonical(media).collect()
    trio = [g for g in groups if g["ahash64"] == got[1]["ahash64"]]
    assert len(trio) == 1 and trio[0]["n_images"] == 3
    assert trio[0]["canonical_media_id"] == 1


def test_default_image_api_is_canonical(spark):
    """The operator API defaults steer to the canonical fingerprint
    (round-6 verdict #4): image_ahash returns ahash64 rows and
    image_duplicate_groups groups scaled copies together — the legacy
    63-bit path only answers under its explicit _legacy63 name."""
    raster = bytes(range(60))  # 5x4 RGB

    def upscale(w, h, r, s):
        out = bytearray()
        for y in range(h * s):
            for x in range(w * s):
                p = (y // s) * w + (x // s)
                out += r[3 * p : 3 * p + 3]
        return bytes(out)

    rows = [
        (1, "image", mm.encode_ppm(5, 4, raster)),
        (2, "image", mm.encode_ppm(10, 8, upscale(5, 4, raster, 2))),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    hashed = mm.image_ahash(media)
    assert "ahash64" in hashed.columns, "default fingerprint must be canonical"
    groups = mm.image_duplicate_groups(media).collect()
    assert len(groups) == 1 and groups[0]["n_images"] == 2, (
        "default grouping must be resolution-invariant"
    )


def test_multires_fixture_tolerates_empty_text(spark):
    """ADVICE r6: an empty doc text must yield spec-valid PPMs (the
    b'\\x00' guard), hashing to the all-ones fingerprint in BOTH the
    engine and the oracle's greatest(L,1) arithmetic — never a
    decode-error row."""
    docs = spark.createDataFrame([(3, ""), (4, "abc")], "doc_id long, text string")
    media = mm.ppm_multires_media_from_docs(docs)
    got = {r["media_id"]: r for r in mm.image_ahash_canonical(media).collect()}
    assert len(got) == 4
    assert all(r["decode_error"] is None for r in got.values())
    # all-zero raster: every gray at the (zero) mean -> all 64 bits set
    assert got[6]["ahash64"] == got[7]["ahash64"] == "f" * 16


def test_audio_frame_energy_semantics(spark):
    """m7: integer-exact per-frame energy/peak on a crafted clip; error
    classes propagate as rows (D6)."""
    import numpy as np

    quiet = np.full(mm.AUDIO_FRAME, 3, dtype="<i2")
    loud = np.full(mm.AUDIO_FRAME, -1000, dtype="<i2")
    clip = np.concatenate([quiet, loud])
    rows = [
        (1, "audio", mm.encode_pcm(clip)),
        (2, "audio", b"RIFF nope"),
        (3, "audio", None),
        # header promises 320 samples, payload has 160 -> truncated
        (4, "audio", mm.PCM_MAGIC + (320).to_bytes(4, "little") + quiet.tobytes()),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = mm.audio_frame_energy(media).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in got}
    assert by_key[(1, 0)]["energy"] == 9 * mm.AUDIO_FRAME
    assert by_key[(1, 0)]["peak"] == 3
    assert by_key[(1, 1)]["energy"] == 1_000_000 * mm.AUDIO_FRAME
    assert by_key[(1, 1)]["peak"] == 1000
    errs = {r["media_id"]: r["decode_error"] for r in got if r["decode_error"]}
    assert errs == {2: "not PCM1", 3: "null content", 4: "truncated payload"}


def test_audio_partial_trailing_frame_truncates_not_crashes(spark):
    """A structurally valid PCM1 clip whose sample count is NOT a frame
    multiple must analyze its whole frames and drop the tail — never
    raise in the executor (m7 and the m7c envelope both)."""
    import numpy as np

    clip = np.full(mm.AUDIO_FRAME + 40, 3, dtype="<i2")  # 1 frame + tail
    media = spark.createDataFrame(
        [(1, "audio", mm.encode_pcm(clip))], mm.MEDIA_SCHEMA
    )
    got = mm.audio_frame_energy(media).collect()
    assert [(r["frame_idx"], r["energy"], r["decode_error"]) for r in got] == [
        (0, 9 * mm.AUDIO_FRAME, None)
    ]
    env = mm.audio_envelope(media).collect()
    assert env[0]["n_frames"] == 1 and env[0]["decode_error"] is None


def test_silence_spans_islands(spark):
    """m7b: quiet frames 0,1 and 3 form two extents; an all-loud clip
    yields none."""
    import numpy as np

    q = np.full(mm.AUDIO_FRAME, 5, dtype="<i2")      # peak 5 < 100
    l = np.full(mm.AUDIO_FRAME, 500, dtype="<i2")    # loud
    clip1 = np.concatenate([q, q, l, q])
    clip2 = np.concatenate([l, l])
    media = spark.createDataFrame(
        [(1, "audio", mm.encode_pcm(clip1)), (2, "audio", mm.encode_pcm(clip2))],
        mm.MEDIA_SCHEMA,
    )
    spans = [
        (r["media_id"], r["span_start"], r["span_end"], r["n_frames"])
        for r in mm.silence_spans(media).collect()
    ]
    assert spans == [(1, 0, 1, 2), (1, 3, 3, 1)]


def test_video_shot_boundaries_semantics(spark):
    """m8: SAD is exact per consecutive pair; identical frames give 0
    (no cut), changed frames flag a cut; error classes are rows."""
    f_a = bytes([10] * 12)
    f_b = bytes([10] * 11 + [13])   # SAD 3 vs f_a
    rows = [
        (1, "video", mm.encode_video(4, 3, [f_a, f_a, f_b])),
        (2, "video", b"AVI? nope"),
        (3, "video", None),
        (4, "video", mm.VID_MAGIC + (99).to_bytes(4, "little") * 3),  # truncated
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = mm.video_shot_boundaries(media).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in got}
    assert by_key[(1, 1)]["sad"] == 0 and by_key[(1, 1)]["is_cut"] is False
    assert by_key[(1, 2)]["sad"] == 3 and by_key[(1, 2)]["is_cut"] is True
    errs = {r["media_id"]: r["decode_error"] for r in got if r["decode_error"]}
    assert errs == {2: "not VID1", 3: "null content", 4: "truncated payload"}


def test_video_keyframes_one_per_shot(spark):
    """m8b: frame 0 plus each cut frame, scene-numbered; identical
    shots share fingerprints across clips; undecodable blobs skipped."""
    import hashlib

    f_a = bytes([10] * 12)
    f_b = bytes([99] * 12)
    rows = [
        # shots: [a,a] [b] [a] -> keyframes 0, 2, 3
        (1, "video", mm.encode_video(4, 3, [f_a, f_a, f_b, f_a])),
        (2, "video", None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = mm.video_keyframes(media).collect()
    assert [(r["media_id"], r["scene_idx"], r["frame_idx"]) for r in got] == [
        (1, 0, 0), (1, 1, 2), (1, 2, 3),
    ]
    md5s = [r["frame_md5"] for r in got]
    assert md5s[0] == md5s[2] == hashlib.md5(f_a).hexdigest()
    assert md5s[1] == hashlib.md5(f_b).hexdigest()


def test_audio_envelope_groups_by_loudness_shape(spark):
    """m7c: clips with the same per-frame loudness SHAPE (equal energy
    bit_lengths frame-for-frame) group; a clip with a different shape
    doesn't; sample-level detail below the coarse quantization doesn't
    split a group; decode errors are excluded."""
    import numpy as np

    def clip(levels, tweak=0):
        # one frame per level: fill with a constant amplitude whose
        # energy bit_length lands exactly on the requested level
        samples = []
        for lv in levels:
            if lv == 0:
                samples += [0] * mm.AUDIO_FRAME
            else:
                # energy = 160*a^2; choose a so bit_length(160*a^2)=lv
                a = 1
                while (160 * (a + 1) * (a + 1)).bit_length() <= lv:
                    a += 1
                assert (160 * a * a).bit_length() == lv, (lv, a)
                samples += [a + (tweak if a > 2 else 0)] + [a] * (mm.AUDIO_FRAME - 1)
        return mm.encode_pcm(samples)

    rows = [
        (1, "audio", clip([10, 20, 10])),
        (2, "audio", clip([10, 20, 10])),          # exact duplicate
        (3, "audio", clip([20, 10, 20])),          # different shape
        (4, "audio", clip([10, 20, 10], tweak=-1)),  # sub-quantum tweak
        (5, "audio", None),                          # decode error
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    env = {r["media_id"]: r for r in mm.audio_envelope(media).collect()}
    assert env[1]["envelope"] == "10-20-10" and env[1]["n_frames"] == 3
    assert env[5]["decode_error"] == "null content"

    groups = mm.audio_duplicate_groups(media).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["envelope"] == "10-20-10" and g["canonical_media_id"] == 1
    # the sub-quantum tweak must NOT split the group (coarse contract)
    assert g["n_clips"] == 3


def test_cross_modal_duplicate_assets_planted(spark):
    """x1 on a crafted corpus: doc ids 23 and 83 are congruent mod
    every fixture geometry knob (diff 60 = lcm of 5,3,4,2) and clear
    every error-class modulus, so identical text must duplicate in ALL
    FOUR modalities; doc 1 is unique everywhere. Checks group keys
    stay namespaced by modality and the wasted-unit accounting."""
    from file_indexer_spark.operators import crossmodal as xm

    text = ("the quick brown fox jumps over the lazy dog again and "
            "again because near duplicate detection needs shingles ") * 2
    other = ("completely different content about distributed query "
             "engines and columnar storage layouts for training data ") * 2
    docs = spark.createDataFrame(
        [(23, text, len(text)), (83, text, len(text)), (1, other, len(other))],
        "doc_id long, text string, n_chars long",
    )
    rows = xm.duplicate_assets(docs).collect()
    by_mod = {}
    for r in rows:
        by_mod.setdefault(r["modality"], []).append(r)
    assert set(by_mod) == {"text", "image", "audio", "video"}

    (t,) = by_mod["text"]
    assert t["n_assets"] == 2 and t["canonical_asset_id"] == 23
    assert t["unit"] == "chars" and t["wasted_units"] == len(text)

    # base + 3x-scaled copy of BOTH docs share one canonical ahash
    # (doc 1's own base/scaled pair forms its separate 2-asset group —
    # the resolution-invariance working as designed)
    assert sorted(g["n_assets"] for g in by_mod["image"]) == [2, 4]
    (i,) = [g for g in by_mod["image"] if g["n_assets"] == 4]
    assert i["canonical_asset_id"] == 46  # 2*23
    w0, h0, s = 4 + 23 % 5, 4 + 23 % 3, 2 + 23 % 2
    per_doc = w0 * h0 + (w0 * s) * (h0 * s)
    assert i["unit"] == "pixels"
    assert i["wasted_units"] == 2 * per_doc - w0 * h0  # all but one base

    (a,) = by_mod["audio"]
    assert a["n_assets"] == 2 and a["canonical_asset_id"] == 23
    nf = 4 + 23 % 4
    assert a["unit"] == "samples" and a["wasted_units"] == nf * mm.AUDIO_FRAME

    (v,) = by_mod["video"]
    assert v["n_assets"] == 2 and v["canonical_asset_id"] == 23
    w, h, vnf = 4 + 23 % 3, 3 + 23 % 2, 6 + 23 % 5
    assert v["unit"] == "pixels" and v["wasted_units"] == vnf * w * h


def test_x2_report_phase_never_touches_blobs(spark, tmp_path):
    """x2's contract: after the fingerprint tables are materialized,
    the report phase runs entirely JVM-side over narrow parquet —
    no Python eval (= no decode) anywhere in its plan — and returns
    the identical report x1 computes from raw docs."""
    from file_indexer_spark.operators import crossmodal as xm
    from tests import plan_inspect as pi

    text = ("the quick brown fox jumps over the lazy dog again and "
            "again because near duplicate detection needs shingles ") * 2
    other = ("completely different content about distributed query "
             "engines and columnar storage layouts for training data ") * 2
    docs = spark.createDataFrame(
        [(23, text, len(text)), (83, text, len(text)), (1, other, len(other))],
        "doc_id long, text string, n_chars long",
    )
    mats = {}
    for name, df in xm.fingerprint_tables(docs).items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        mats[name] = spark.read.parquet(path)
    report = xm.duplicate_assets_from_tables(mats)
    plan = pi.simple_plan(report)
    assert "EvalPython" not in plan, plan
    expected = sorted(tuple(r) for r in xm.duplicate_assets(docs).collect())
    assert sorted(tuple(r) for r in report.collect()) == expected


def test_x3_append_introduces_duplicate_of_existing_asset(spark, tmp_path):
    """x3: an ingest batch carrying a copy (doc 83) of an asset already
    in the stored state (doc 23, congruent mod every fixture knob) must
    surface as a duplicate group in EVERY modality after the append —
    and the post-append report must equal x1 recomputed from scratch
    over base ∪ batch. The batch's decode is batch-only by
    construction (the media builders only see the batch frame)."""
    from file_indexer_spark.operators import crossmodal as xm

    text = ("the quick brown fox jumps over the lazy dog again and "
            "again because near duplicate detection needs shingles ") * 2
    other = ("completely different content about distributed query "
             "engines and columnar storage layouts for training data ") * 2
    schema = "doc_id long, text string, n_chars long"
    base = spark.createDataFrame([(23, text, len(text)), (1, other, len(other))], schema)
    batch = spark.createDataFrame([(83, text, len(text))], schema)

    mats = {}
    for name, df in xm.fingerprint_state(base).items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        mats[name] = spark.read.parquet(path)
    appended = xm.fingerprint_state_append(mats, batch)
    report = sorted(
        tuple(r) for r in xm.duplicate_assets_from_tables(appended).collect()
    )
    scratch = sorted(
        tuple(r) for r in xm.duplicate_assets(base.unionByName(batch)).collect()
    )
    assert report == scratch
    by_mod = {}
    for r in xm.duplicate_assets_from_tables(appended).collect():
        by_mod.setdefault(r["modality"], []).append(r)
    assert set(by_mod) == {"text", "image", "audio", "video"}
    (t,) = by_mod["text"]
    assert t["n_assets"] == 2 and t["canonical_asset_id"] == 23
